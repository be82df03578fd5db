"""LLM-training-data pipeline queries (SURVEY.md §2 block C) on
``documents`` and ``embeddings``.

Oracle parity notes: every regex/hash formula is written identically for
Spark (Java regex) and DuckDB (RE2) — the patterns used are in the common
subset. Cosines are computed in float64 on both sides (embeddings cast
from float32 first) so rounding at 6 decimals is stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pygeoapi_ingestor_spark.functions.storage import corpus_artifact
from pygeoapi_ingestor_spark.operators import dedup, multimodal, similarity, text
from pygeoapi_ingestor_spark.sources.readers import (
    local_table,
    read_documents as _docs,
    read_embeddings as _emb,
)

JACCARD_THRESHOLD = 0.1
TOPK = 5
N_QUERY_VECS = 5


# ---------------------------------------------------------------------------
# Corpus artifacts (functions/storage.corpus_artifact owns their lifetime;
# callers re-fetch through these accessors per use)
# ---------------------------------------------------------------------------


def shared_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's verified near-dup edge table, built once per
    (session, sf_dir): MinHash+LSH candidates -> exact-Jaccard verify at
    threshold 0.6 (the exact pipeline of ``dedup.lsh_verified_pairs``),
    materialized so every graph consumer reads the same artifact.
    Columns: doc_a, doc_b, n_common, size_a, size_b, jaccard, keep_id."""
    return corpus_artifact("vp", spark, sf_dir, _build_verified_pairs)


def _build_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.lsh_verified_pairs(
        _docs(spark, sf_dir), id_col="doc_id", text_col="text",
        threshold=0.6,
    ).localCheckpoint()  # eager: one build, blocks pinned


def shared_kmeans_cents(spark: SparkSession, sf_dir: str):
    """The corpus's trained k-means centroids (KMEANS_PARAMS), built
    once per (session, sf_dir) — the TRAIN-ONCE artifact every consumer
    (census, silhouette, IVF lists, balanced sample, source mix) reads.
    State is k x dim ints on the driver; consumers re-derive assignments
    with ONE projection (similarity.kmeans_assign_int8). Deterministic
    training means the shared run is bit-identical to what each key
    trained standalone, so every unrolled-CTE oracle is unchanged."""
    return corpus_artifact("km", spark, sf_dir, _build_kmeans_cents)


def _build_kmeans_cents(spark: SparkSession, sf_dir: str):
    cents, _ = similarity.kmeans_fit_int8(
        _emb(spark, sf_dir), "vec_id", "embedding", **KMEANS_PARAMS
    )
    return cents


def shared_rocchio_cents(spark: SparkSession, sf_dir: str):
    """The corpus's per-label Rocchio centroids, built once per
    (session, sf_dir) — the same train-once artifact as
    ``shared_kmeans_cents`` (VERDICT r10 item 1b: rebuilding it per
    invocation was a 48x constant factor on ``centroid_classify``).
    State is n_labels x dim ints on the driver; consumers classify with
    ONE projection (similarity.rocchio_classify_int8)."""
    return corpus_artifact("rc", spark, sf_dir, _build_rocchio_cents)


def _build_rocchio_cents(spark: SparkSession, sf_dir: str):
    return similarity.rocchio_fit_int8(
        _emb(spark, sf_dir), "embedding", "label", dim=64
    )


def shared_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The components fixpoint over ``shared_verified_pairs`` — built
    the same way (cluster once; census/policy tables read the labels).
    Returns (node, comp)."""
    return corpus_artifact("cc", spark, sf_dir, _build_dup_components)


def _build_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # connected_components returns its final (eager) localCheckpoint
    return dedup.connected_components(
        shared_verified_pairs(spark, sf_dir), a_col="doc_a", b_col="doc_b"
    )


def shared_ann_gt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k ground truth on the fixed-K smallest-md5
    query sample — the EVAL-ONCE artifact of the index-acceptance
    family (r12): ann_recall_eval / pq_recall_eval / ivf_recall_eval /
    ivf_probe_sweep / matryoshka_recall_eval all grade their candidate
    lists against this exact same (query_id, neighbor_id) set. In
    production the ground-truth labels are computed once per corpus
    snapshot and every index evaluation reads them. Deterministic, so
    every consumer's unrolled-CTE oracle is unchanged."""
    return corpus_artifact("anngt", spark, sf_dir, _build_ann_gt)


def _build_ann_gt(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    qids = _ann_query_ids(spark, sf_dir)
    q = e.filter(F.col("vec_id").isin(qids))
    return similarity.cosine_topk(
        e, q, id_col="vec_id", vec_col="embedding",
        query_id_col="vec_id", query_vec_col="embedding", k=TOPK,
        dim=64,
    ).select("query_id", "neighbor_id").localCheckpoint()  # eager: K·n pass


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_exact(_docs(spark, sf_dir), id_col="doc_id", text_col="text")


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact-Jaccard verification kernel over a bounded window of documents:
    # all-pairs shingle joins are quadratic in shingle document-frequency,
    # so the exact op runs on a capped window; at scale, candidate pairs
    # come from dedup_minhash_lsh and this kernel verifies them.
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 500)
    pairs = dedup.ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text",
        threshold=JACCARD_THRESHOLD,
    )
    return pairs.select(
        "doc_a", "doc_b", "n_common", "size_a", "size_b",
        F.round("jaccard", 6).alias("jaccard"),
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs with the engine-neutral md5 shingle
    hash (60-bit double hashing, mask-rotated) so the DuckDB oracle
    rebuilds the full signature -> banding -> bucket-join pipeline and
    the check is a value-hash gate, not rows-only."""
    pairs = dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir), id_col="doc_id", text_col="text",
        shingle_hash="md5",
    )
    return pairs.select("doc_a", "doc_b", F.round("est_jaccard", 6).alias("est_jaccard"))


def q_dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'dedup my corpus' action end to end, uncapped: MinHash+LSH
    candidates -> exact Jaccard verify on candidates only -> verified
    pairs + keep decision. The oracle is the exact-Jaccard pair set at
    the same threshold.

    CORPUS-DEPENDENT EQUALITY (accepted, documented risk): LSH recall at
    the 0.6 threshold is probabilistic (~0.67 for a pair at exactly
    j=0.6 with 32 hashes / 8 bands), so oracle equality holds because
    this corpus's true near-dups sit at jaccard >= 0.9 (recall ~1-3e-5)
    and nothing else comes near the threshold. A regenerated dataset
    with a borderline pair in the steep-recall region would make the
    hash gate fail WITHOUT a repo regression — check the pair's jaccard
    before debugging the operator."""
    pairs = shared_verified_pairs(spark, sf_dir)
    return pairs.select(
        "doc_a", "doc_b", "n_common", "size_a", "size_b",
        F.round("jaccard", 6).alias("jaccard"), "keep_id",
    )


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup CLUSTERS: verified near-dup pairs grouped into connected
    components (iterative min-label propagation — the one genuinely
    iterative algorithm in the catalog, driver-coordinated rounds with
    checkpointed lineage). Oracle: transitive closure as a recursive
    CTE over the same verified pair set. Reads the verify-once shared
    artifacts (``shared_dup_components``), so a repeat run — or a later
    graph consumer — re-reads the materialized fixpoint instead of
    re-verifying the corpus."""
    comps = shared_dup_components(spark, sf_dir)
    return comps.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with the engine-neutral md5 token hash so
    the DuckDB oracle rebuilds every signature bit (per-bit weighted
    sums -> sign bits -> 16-bit band buckets -> hamming gate) and the
    check is a full value-hash gate, not rows-only."""
    return dedup.simhash_near_pairs(
        _docs(spark, sf_dir), id_col="doc_id", text_col="text",
        token_hash="md5",
    )


ECP_PARAMS = {"dim": 64, "n_planes": 16, "bands": 8, "seed": 7}


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via the BUCKETED plan: hyperplane
    band signatures -> within-bucket join -> exact cosine gate (no
    cartesian pair join anywhere; see dedup.embedding_cosine_pairs_bucketed
    for the recall curve). The oracle embeds the same literal md5-derived
    plane matrix, so the bucketing is mirrored bit-for-bit and the check
    stays a full value-hash gate."""
    e = _emb(spark, sf_dir).filter(F.col("vec_id") < 1000)
    pairs = dedup.embedding_cosine_pairs_bucketed(
        e, id_col="vec_id", vec_col="embedding", threshold=0.4, **ECP_PARAMS
    )
    return pairs.select("doc_a", "doc_b", F.round("cosine", 6).alias("cosine"))


def q_sim_search_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    out = similarity.cosine_topk(
        e, q, id_col="vec_id", vec_col="embedding",
        query_id_col="vec_id", query_vec_col="embedding", k=TOPK,
        dim=64,
    )
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    out = similarity.ivf_topk(
        e, q, id_col="vec_id", vec_col="embedding",
        query_id_col="vec_id", query_vec_col="embedding",
        k=TOPK, n_probe=4,
    )
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_sim_search_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN top-k via hyperplane LSH. Uses the engine-neutral
    md5 plane matrix (similarity.md5_signature) so the DuckDB oracle
    embeds the same literal weights and reproduces bucketing — and
    therefore the approximate result set — bit-for-bit; the check is a
    full value-hash gate, not rows-only."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    out = similarity.lsh_topk(
        e, q, id_col="vec_id", vec_col="embedding",
        query_id_col="vec_id", query_vec_col="embedding",
        dim=64, k=TOPK, n_planes=8, use_md5_planes=True,
    )
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text.lang_id(_docs(spark, sf_dir), text_col="text")
    return out.select("doc_id", "lang", "lang_pred")


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text.quality_features(_docs(spark, sf_dir), text_col="text")
    return out.select(
        "doc_id",
        "ws_tokens",
        F.round("alpha_ratio", 6).alias("alpha_ratio"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("upper_ratio", 6).alias("upper_ratio"),
        F.round("stop_density", 6).alias("stop_density"),
        F.round("quality_score", 6).alias("quality_score"),
    )


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text.token_counts(_docs(spark, sf_dir), text_col="text")
    return out.select("doc_id", "ws_tokens", "regex_tokens")


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text.fingerprint(_docs(spark, sf_dir), text_col="text")
    return out.select("doc_id", "fingerprint")


def q_dedup_keep_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup a user actually runs: keep one document per fingerprint
    (smallest id) and return the surviving corpus rows."""
    docs = _docs(spark, sf_dir)
    keep = dedup.dedup_exact(docs, id_col="doc_id", text_col="text").select(
        F.col("keep_id").alias("doc_id")
    )
    return docs.join(keep, "doc_id", "left_semi").select(
        "doc_id", "lang", "source", "n_chars"
    )


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate: documents whose composite score clears a threshold
    (the filter stage of a training-data pipeline)."""
    scored = text.quality_features(_docs(spark, sf_dir), text_col="text")
    return scored.filter(F.col("quality_score") >= 0.65).select(
        "doc_id", F.round("quality_score", 6).alias("quality_score")
    )


def q_corpus_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token statistics per source: totals, means, and
    interpolated percentiles of per-document token counts. Percentiles
    via the bucket drill-down — a source's documents are unbounded at
    corpus scale, so the buffering aggregate is out."""
    from pyspark import StorageLevel

    from pygeoapi_ingestor_spark.functions import ranks

    # the drill-down branches its input ~6 ways; the regex token count
    # is the expensive part — materialize the narrow counted projection
    counted = text.token_counts(_docs(spark, sf_dir), text_col="text").select(
        "source", "doc_id", "regex_tokens"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    base = counted.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("regex_tokens").cast("bigint").alias("total_tokens"),
        F.round(F.sum("regex_tokens").cast("double") / F.count(F.lit(1)), 6).alias("avg_tokens"),
    )
    pcts = ranks.exact_percentiles(
        counted.select("source", "doc_id", F.col("regex_tokens").cast("double").alias("_t")),
        series_cols=["source"], value_col="_t",
        ps=[0.5, 0.95], tiebreak_cols=["doc_id"],
    )
    wide = pcts.groupBy("source").agg(
        F.round(F.min(F.when(F.col("p") == 0.5, F.col("pct"))), 6).alias("p50_tokens"),
        F.round(F.min(F.when(F.col("p") == 0.95, F.col("pct"))), 6).alias("p95_tokens"),
    )
    return base.join(wide, "source")


# per-source sampling rates for corpus mixing — a config artifact in a
# real pipeline (kept literal so the oracle embeds the same table)
MIX_WEIGHTS = {f"src{i}": (0.25, 0.5, 0.75, 1.0)[i % 4] for i in range(20)}
MIX_DEFAULT = 0.5
PACK_BUDGET = 2048
DECON_NGRAM = 8
# terms live in this corpus; email/ipv4 exercise the same mechanic on
# PII shapes (unit-tested on synthetic strings — the corpus has none)
SCRUB_QUERY_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "blocklist": r"\b(spark|hash|merge)\b",
}


def q_corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus mixing: keep each document with
    its source's configured rate, decided by a content-stable uniform
    draw u = md5(doc_id)[0:8] / 2^32 — reproducible across engines and
    re-runs (no rand()), one broadcast join against the weights table.
    The sampling step every multi-source training mix runs."""
    docs = _docs(spark, sf_dir)
    # 20-entry config as a literal map expression: pure projection, no
    # dim-table materialization or broadcast needed at this size (a
    # thousands-row weights table would be a broadcast-joined DataFrame
    # instead — see thresholds.categorize_by_table for that pattern)
    weight_map = F.create_map(
        *[F.lit(x) for kv in MIX_WEIGHTS.items() for x in kv]
    )
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") / F.lit(4294967296.0)
    )
    return (
        docs.withColumn(
            "rate",
            F.coalesce(weight_map.getItem(F.col("source")), F.lit(MIX_DEFAULT)),
        )
        .withColumn("u", u)
        .filter(F.col("u") < F.col("rate"))
        .select("doc_id", "source", "rate", F.round("u", 6).alias("u"))
    )


def q_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: drop every training document sharing
    any 8-gram with the held-out set (doc_id % 97 == 0 stands in for the
    eval benchmark). Shingle semi-join — cost bounded by shared-shingle
    pairs, never |train| x |eval|. Near-duplicates of eval documents are
    exactly what this catches."""
    docs = _docs(spark, sf_dir)
    is_eval = F.col("doc_id") % 97 == 0
    sh = dedup.shingles(docs, id_col="doc_id", text_col="text", n=DECON_NGRAM)
    eval_sh = sh.join(
        docs.filter(is_eval).select(F.col("doc_id").alias("doc")), "doc", "left_semi"
    ).select("shingle").distinct()
    contaminated = (
        sh.join(eval_sh, "shingle", "left_semi").select("doc").distinct()
    )
    train = docs.filter(~is_eval)
    clean = train.join(
        contaminated.select(F.col("doc").alias("doc_id")), "doc_id", "left_anti"
    )
    return clean.select("doc_id", "lang", "source")


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length packing: documents stream into token-budget bins
    per source (contiguous greedy packing by doc_id order — bin id =
    floor(preceding-token-total / budget)). The running total uses the
    chunked cumulative sum, so the 20-value source key never collapses
    the scan into 20 sorted tasks."""
    from pygeoapi_ingestor_spark.operators import temporal

    counted = text.token_counts(_docs(spark, sf_dir), text_col="text").select(
        "doc_id", "source", "regex_tokens"
    )
    cum = temporal.chunked_cumulative_sum(
        counted, series_cols=["source"], order_cols=["doc_id"],
        value_col="regex_tokens", chunk_col=(F.col("doc_id") - F.col("doc_id") % 100),
        out_col="cum_tokens",
    )
    bin_id = F.floor(
        (F.col("cum_tokens") - F.col("regex_tokens")) / F.lit(float(PACK_BUDGET))
    ).cast("bigint")
    return (
        cum.withColumn("bin_id", bin_id)
        .groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("regex_tokens").cast("bigint").alias("bin_tokens"),
        )
    )


def q_text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII / blocklist scrub: count and redact pattern hits, fingerprint
    the scrubbed text (the redaction stage of a training-data pipeline).
    Patterns sit in the Java-regex ∩ RE2 subset so the oracle replays
    them verbatim."""
    out = text.scrub(
        _docs(spark, sf_dir), text_col="text", patterns=SCRUB_QUERY_PATTERNS
    )
    return out.select(
        "doc_id", "n_email", "n_ipv4", "n_blocklist",
        F.md5("scrubbed").alias("scrubbed_md5"),
    )


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.attach_payload(_docs(spark, sf_dir), id_col="doc_id", text_col="text")
    decoded = multimodal.extract_metadata(media)
    return decoded.select("media_id", "media_type", "width", "height", "n_frames", "sha256")


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 embedding quantization: per-vector symmetric scale +
    quantized codes, verified via a digest of the code array plus
    summary stats (scalar outputs keep the hash gate engine-neutral).
    Quantization is a pure projection — the 100 TB path rewrites the
    vector table at 4-8x compression with zero shuffles.

    r14 (guide §4.2): one Arrow pass via ``quantize_int8_np`` (bit
    parity with the JVM ``quantize_int8`` expression is pinned by
    test). The previous projection evaluated the interpreted quantize
    ``transform`` FOUR times per row (digest / sum / max / min — HOF
    expressions get no common-subexpression elimination) plus a 64-step
    interpreted sum fold; measured ~4 s noop at bench SF for a 10k-row
    projection. NULL and empty embeddings keep the JVM-expression
    semantics (scale 1.0, digest md5 of the empty string, NULL max/min;
    the sum is NULL for a NULL vector and 0 for an empty one)."""
    import hashlib

    import numpy as np

    from pygeoapi_ingestor_spark.operators.similarity import (
        quantize_int8_np,
        stack_vectors,
    )
    from pygeoapi_ingestor_spark.session import ensure_package_on_executors

    ensure_package_on_executors(spark)
    # no spread_if_narrow: the kernel is memory-bandwidth-bound
    # (~µs/row), so fanning a narrow local input out to core-count
    # partitions costs more in Python-worker round trips than the whole
    # quantization; production inputs arrive pre-partitioned and never
    # needed the spread
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    _empty_md5 = hashlib.md5(b"").hexdigest()

    def _round6_half_up(x: float) -> float:
        # twin of Spark's round(double, 6): BigDecimal.valueOf(x) (the
        # shortest decimal repr — Python's repr uses the same shortest-
        # roundtrip algorithm) quantized HALF_UP (np.round would tie
        # half-to-even; the collections sink uses the same Decimal twin)
        import decimal as _dec

        return float(
            _dec.Decimal(repr(x)).quantize(
                _dec.Decimal("0.000001"), rounding=_dec.ROUND_HALF_UP
            )
        )

    schema = (
        "vec_id bigint, q_scale double, q_digest string, "
        "q_sum bigint, q_max int, q_min int"
    )

    def quant(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            out = {
                "vec_id": pdf["vec_id"].to_numpy(),
                "q_scale": np.full(n, 1.0),
                "q_digest": np.full(n, _empty_md5, dtype=object),
                "q_sum": np.full(n, np.nan),
                "q_max": np.full(n, np.nan),
                "q_min": np.full(n, np.nan),
            }
            vecs = pdf["embedding"]
            lens = np.fromiter(
                (-1 if v is None else len(v) for v in vecs), dtype=np.int64, count=n
            )
            # an empty vector quantizes to the empty array: its sum is 0,
            # its max/min NULL, the scale and digest the defaults
            out["q_sum"][lens == 0] = 0
            # vectors may be ragged in general: one stack per length
            # (every corpus has a single one)
            for dim in np.unique(lens[lens > 0]):
                ok, vm = stack_vectors(vecs, dim)
                idx = np.nonzero(ok)[0]
                q, scale = quantize_int8_np(vm)
                out["q_scale"][idx] = [_round6_half_up(s) for s in scale]
                out["q_sum"][idx] = q.sum(axis=1)
                out["q_max"][idx] = q.max(axis=1)
                out["q_min"][idx] = q.min(axis=1)
                out["q_digest"][idx] = [
                    hashlib.md5(",".join(map(str, row)).encode()).hexdigest()
                    for row in q
                ]
            yield pd.DataFrame(out)

    return e.mapInPandas(quant, schema=schema)


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over the multimodal pipeline: payload -> Arrow
    decode (stub) -> mapInPandas frame explode, every 10th frame per
    video. The per-frame fingerprint is text-derived, so even this
    two-UDF-stage pipeline keeps a full value-hash oracle."""
    media = multimodal.attach_payload(_docs(spark, sf_dir), id_col="doc_id", text_col="text")
    decoded = multimodal.extract_metadata(media)
    frames = multimodal.sample_frames(decoded)
    return frames.select("media_id", "frame_idx", "frame_sha256")


def q_multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL codec on the hash gate: synthesize an id-derived P6/PPMV
    payload per document, decode it back with the stdlib codec
    (operators/multimodal.py real_decode + decode_image_pixels), and
    emit only DECODED facts. The oracle replays the generator formulas
    symbolically, so hash equality certifies the distributed
    encode->decode round trip bit-exactly — the codec path is no longer
    tests-only (r7 verdict item 7)."""
    return multimodal.synthesize_decode_roundtrip(
        _docs(spark, sf_dir), id_col="doc_id"
    )


def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-family repetition/diversity quality signals (top n-gram
    fraction, duplicated-2gram fraction, type-token ratio) per document
    — the word/n-gram rules from Rae et al. 2021 App. A; the line-based
    siblings are degenerate on this single-line corpus."""
    out = text.repetition_metrics(
        _docs(spark, sf_dir), id_col="doc_id", text_col="text"
    )
    return out.select(
        F.col("doc").alias("doc_id"), "n_words", "distinct_word_ratio",
        "top_word_frac", "top_2gram_frac", "dup_2gram_frac",
    )


def q_sim_search_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k over int8-quantized vectors: the search path of
    a compressed index (embedding_quantize_int8 is the storage path).
    Scales cancel in cosine, so scoring is exact integer dot products —
    deterministic across engines, full value-hash gate."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    out = similarity.cosine_topk_int8(
        e, q, id_col="vec_id", vec_col="embedding",
        query_id_col="vec_id", query_vec_col="embedding", k=TOPK,
        dim=EMB_DIM,
    )
    return out.select(
        "query_id", "neighbor_id",
        F.round("cosine_q", 6).alias("cosine_q"), "rank",
    )


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style span dedup: every distinct 10-word chunk survives only
    at its first corpus position; documents reassemble from surviving
    chunks (fully-duplicated docs vanish). The digest column value-gates
    the rebuilt text itself."""
    return dedup.span_dedup(
        _docs(spark, sf_dir), id_col="doc_id", text_col="text"
    )


def q_sim_search_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN path end to end: k-means-trained inverted
    lists (kmeans_fit_int8), integer-distance assignment and probing on
    quantized vectors, exact double cosine within the probed lists. The
    oracle replays the identical training run via the shared unrolled
    CTE chain, so train -> index -> probe -> score is one value-hash
    gate."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    out = similarity.ivf_topk_trained(
        e, q, id_col="vec_id", vec_col="embedding",
        query_id_col="vec_id", query_vec_col="embedding",
        k=TOPK, n_clusters=KMEANS_PARAMS["k"], iters=KMEANS_PARAMS["iters"],
        cents=shared_kmeans_cents(spark, sf_dir),
    )
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


KMEANS_PARAMS = {"k": 8, "iters": 3, "dim": 64}


def q_kmeans_clusters_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic integer k-means (Lloyd) over int8-quantized
    embeddings — the trained-centroid build for IVF inverted lists,
    value-hash-gated END TO END: init (md5 order), every assignment
    (integer distances, ties to lowest cid), every centroid update
    (exact integer sums, floor means) and the final inertia are exact
    integer arithmetic, so the UNROLLED-iteration SQL twin reproduces
    the whole training run bit-for-bit. Output: per-cluster size,
    inertia, and centroid L1 checksum (pins the centroid values). Reads
    the train-once shared centroids (shared_kmeans_cents) and re-derives
    the assignment with one projection — bit-identical to training
    in-place (deterministic Lloyd), so the unrolled oracle is unchanged."""
    from pygeoapi_ingestor_spark.operators import similarity

    emb = _emb(spark, sf_dir)
    cents = shared_kmeans_cents(spark, sf_dir)
    assigned = similarity.kmeans_assign_int8(
        emb, "vec_id", "embedding", cents
    )
    l1_map = F.create_map(
        *[
            F.lit(v)
            for cid, cv in cents
            for v in (cid, sum(abs(x) for x in cv))
        ]
    )
    return (
        assigned.groupBy(F.col("cluster").cast("int").alias("cluster"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("sq_dist").cast("bigint").alias("inertia"),
        )
        .withColumn(
            "centroid_l1", F.element_at(l1_map, F.col("cluster")).cast("bigint")
        )
    )


def _kmeans_cte(k: int, iters: int, dim: int) -> tuple[list, str]:
    """Shared unrolled-Lloyd CTE chain (see _kmeans_oracle_sql): returns
    (with_parts, final_centroid_cte_name) so both the training oracle
    and the trained-IVF search oracle replay the identical run."""

    quant = f"""
q AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
           x -> CAST(round(x * 127.0 /
                (CASE WHEN list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y))) > 0
                      THEN list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y)))
                      ELSE 1.0 END), 0) AS INTEGER)) AS qv
  FROM embeddings
),
init AS (
  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid
  FROM (SELECT vec_id FROM q ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {k})
),
c0 AS (SELECT init.cid, q.qv AS cv FROM init JOIN q USING (vec_id))
"""
    dist = (
        "CAST(list_sum(list_transform(list_zip(q.qv, c.cv),"
        " s -> CAST((s[1] - s[2]) AS BIGINT) * (s[1] - s[2]))) AS BIGINT)"
    )
    parts = [quant]
    prev = "c0"
    for t in range(1, iters + 1):
        parts.append(f"""
p{t} AS (
  SELECT q.vec_id, q.qv, c.cid, {dist} AS d
  FROM q CROSS JOIN {prev} c
),
a{t} AS (
  SELECT vec_id, qv, cid, d FROM p{t}
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
),
s{t} AS (
  SELECT cid, i, CAST(sum(qv[i]) AS BIGINT) AS s, count(*) AS n
  FROM a{t} CROSS JOIN generate_series(1, {dim}) t(i)
  GROUP BY cid, i
),
cv{t} AS (
  SELECT cid, list(CAST(floor(CAST(s AS DOUBLE) / n) AS INTEGER) ORDER BY i) AS cv
  FROM s{t} GROUP BY cid
),
c{t} AS (
  SELECT p.cid, COALESCE(u.cv, p.cv) AS cv
  FROM {prev} p LEFT JOIN cv{t} u USING (cid)
)""")
        prev = f"c{t}"
    return parts, prev


def _ivf_trained_oracle_sql() -> str:
    """Trained-IVF search twin: the SAME unrolled k-means chain, then
    integer-distance assignment of every vector, integer-distance probe
    lists per query (rn <= n_probe), and exact double cosine within the
    probed lists only — mirroring ivf_topk_trained stage for stage."""
    parts, prev = _kmeans_cte(
        KMEANS_PARAMS["k"], KMEANS_PARAMS["iters"], KMEANS_PARAMS["dim"]
    )
    dist = (
        "CAST(list_sum(list_transform(list_zip(q.qv, c.cv),"
        " s -> CAST((s[1] - s[2]) AS BIGINT) * (s[1] - s[2]))) AS BIGINT)"
    )
    final = f"""
ed AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
aa AS (
  SELECT q.vec_id, c.cid AS cluster FROM q CROSS JOIN {prev} c
  QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY {dist}, c.cid) = 1
),
probes AS (
  SELECT q.vec_id AS query_id, c.cid AS cluster FROM q CROSS JOIN {prev} c
  WHERE q.vec_id < {N_QUERY_VECS}
  QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY {dist}, c.cid) <= 3
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_dot_product(av.v, qv.v) /
             (sqrt(list_dot_product(av.v, av.v)) * sqrt(list_dot_product(qv.v, qv.v)))
             AS cosine
  FROM aa a JOIN probes p ON a.cluster = p.cluster
  JOIN ed av ON av.vec_id = a.vec_id
  JOIN ed qv ON qv.vec_id = p.query_id
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine,
       CAST(rnk AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id ASC) AS rnk
  FROM scored
) WHERE rnk <= {TOPK}
"""
    return "WITH " + ",".join(parts) + "," + final


def _kmeans_oracle_sql() -> str:
    """DuckDB twin of kmeans_fit_int8: the SAME quantization expression
    as the embedding_quantize_int8 oracle, the SAME md5-order init, and
    each Lloyd iteration unrolled as assign (QUALIFY row_number over
    (dist, cid)) -> per-dimension integer sums (generate_series
    indexing) -> floor means, with empty clusters carrying the previous
    centroid. All-integer arithmetic makes the replay exact."""
    parts, prev = _kmeans_cte(
        KMEANS_PARAMS["k"], KMEANS_PARAMS["iters"], KMEANS_PARAMS["dim"]
    )
    dist = (
        "CAST(list_sum(list_transform(list_zip(q.qv, c.cv),"
        " s -> CAST((s[1] - s[2]) AS BIGINT) * (s[1] - s[2]))) AS BIGINT)"
    )
    final = f"""
pf AS (
  SELECT q.vec_id, c.cid, {dist} AS d
  FROM q CROSS JOIN {prev} c
),
af AS (
  SELECT vec_id, cid, d FROM pf
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
),
chk AS (
  SELECT cid, CAST(list_sum(list_transform(cv, x -> abs(x))) AS BIGINT) AS centroid_l1
  FROM {prev}
)
SELECT af.cid AS cluster, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(af.d) AS BIGINT) AS inertia, chk.centroid_l1
FROM af JOIN chk USING (cid)
GROUP BY af.cid, chk.centroid_l1
"""
    return "WITH " + ",".join(parts) + "," + final


def q_docs_top_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document selection (keep the best k docs per source —
    the 'top documents per domain' curation stage): distributed top-k
    via bucketed row_number, so a skewed mega-domain never sorts in one
    task the way a plain per-source window would."""
    from pygeoapi_ingestor_spark.functions import ranks

    docs = _docs(spark, sf_dir).withColumn(
        "_neg_chars", -F.col("n_chars")
    )
    rn = ranks.bucketed_row_number(
        docs, series_cols=["source"], value_col="_neg_chars",
        tiebreak_cols=["doc_id"], out_col="_rn", count_col="_cnt",
    )
    return rn.filter(F.col("_rn") <= 3).select(
        "source",
        F.col("_rn").cast("int").alias("rank"),
        "doc_id",
        "n_chars",
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking (size 40, stride 30): the
    context-window preparation stage of a training/retrieval pipeline.
    Pure generate — no shuffle; the chunk fingerprint is the join key
    downstream span-dedup/decontamination stages use."""
    out = text.chunk_documents(
        _docs(spark, sf_dir), id_col="doc_id", text_col="text"
    )
    return out.select(
        F.col("doc").alias("doc_id"), "chunk_index", "start_token",
        "n_tokens", "chunk_fp",
    )


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary mining: global top-20 word 2-grams by total
    occurrences (+doc frequency) — the boilerplate/template detection
    pass. One gram shuffle; top-k plans as TakeOrdered, no global
    sort."""
    return text.top_ngrams(
        _docs(spark, sf_dir), id_col="doc_id", text_col="text"
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: screen the NEW batch (doc_id % 5 == 4 — a
    deterministic 20% split at any sf) against the EXISTING corpus
    (the rest) with a directional LSH bucket join — never corpus x
    corpus — then exact-Jaccard verify. The oracle is the exact
    directional Jaccard pair set at the same 0.6 threshold; the same
    corpus-dependent LSH-recall caveat as dedup_lsh_verified applies
    (this corpus's true dups sit at j >= 0.9 where banding recall ~ 1)."""
    docs = _docs(spark, sf_dir)
    out = dedup.minhash_lsh_incremental(
        corpus=docs.filter(F.col("doc_id") % 5 != 4),
        batch=docs.filter(F.col("doc_id") % 5 == 4),
        id_col="doc_id", text_col="text",
    )
    return out.select(
        "doc_id", "is_dup", "n_matches", "dup_of",
        F.round("best_jaccard", 6).alias("best_jaccard"),
    )


LLM_QUERIES = {
    "chunk_documents": q_chunk_documents,
    "top_ngrams": q_top_ngrams,
    "dedup_incremental_lsh": q_dedup_incremental,
    "dedup_exact": q_dedup_exact,
    "docs_top_per_source": q_docs_top_per_source,
    "kmeans_clusters_int8": q_kmeans_clusters_int8,
    "dedup_spans": q_dedup_spans,
    "sim_search_ivf_trained": q_sim_search_ivf_trained,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_lsh_verified": q_dedup_lsh_verified,
    "dedup_components": q_dedup_components,
    "dedup_simhash": q_dedup_simhash,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "sim_search_cosine_topk": q_sim_search_cosine_topk,
    "sim_search_ivf": q_sim_search_ivf,
    "sim_search_lsh": q_sim_search_lsh,
    "sim_search_int8": q_sim_search_int8,
    "repetition_metrics": q_repetition_metrics,
    "lang_id_heuristic": q_lang_id,
    "text_quality_score": q_text_quality,
    "token_count": q_token_count,
    "doc_fingerprint": q_doc_fingerprint,
    "dedup_keep_corpus": q_dedup_keep_corpus,
    "quality_filter": q_quality_filter,
    "corpus_token_stats": q_corpus_token_stats,
    "corpus_mix_sample": q_corpus_mix_sample,
    "decontaminate_ngram": q_decontaminate_ngram,
    "pack_sequences": q_pack_sequences,
    "text_scrub": q_text_scrub,
    "multimodal_meta": q_multimodal_meta,
    "multimodal_frames": q_multimodal_frames,
    "multimodal_decode_real": q_multimodal_decode_real,
    "embedding_quantize_int8": q_embedding_quantize,
}

def _ecp_oracle_sql() -> str:
    """DuckDB twin of the bucketed embedding-cosine dedup: the SAME
    literal +/-1 plane matrix (similarity.md5_plane_weights) with the
    projection written as an explicit left-associated sum, so the sign
    bits — and therefore the band buckets — are bit-identical to the
    Spark plan's strict left fold."""
    from pygeoapi_ingestor_spark.operators.similarity import md5_plane_weights

    dim = ECP_PARAMS["dim"]
    n_planes = ECP_PARAMS["n_planes"]
    bands = ECP_PARAMS["bands"]
    rows_per_band = n_planes // bands
    weights = md5_plane_weights(dim, n_planes, ECP_PARAMS["seed"])

    def proj(p: int) -> str:
        terms = " + ".join(
            f"v[{d + 1}]*({weights[p][d]:.1f})" for d in range(dim)
        )
        return f"(0.0 + {terms})"

    k_exprs = []
    for b in range(bands):
        bits = " + ".join(
            f"{1 << r}*(CASE WHEN {proj(b * rows_per_band + r)} > 0 THEN 1 ELSE 0 END)"
            for r in range(rows_per_band)
        )
        k_exprs.append(f"({bits}) AS k{b}")
    or_clause = " OR ".join(f"a.k{b} = b.k{b}" for b in range(bands))
    cos = (
        "list_dot_product(va, vb) / "
        "(sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb)))"
    )
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < 1000
        ), sig AS (
            SELECT vec_id, v, {", ".join(k_exprs)} FROM e
        ), cand AS (
            SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
                   a.v AS va, b.v AS vb
            FROM sig a JOIN sig b
              ON a.vec_id < b.vec_id AND ({or_clause})
        )
        SELECT doc_a, doc_b, round({cos}, 6) AS cosine
        FROM cand WHERE {cos} >= 0.4
    """


def _cosine_topk_oracle_sql(
    query_pred: str = "vec_id < 5",
    vec_expr: str = "CAST(embedding AS DOUBLE[])",
) -> str:
    """DuckDB twin of the brute-force cosine top-k; ``query_pred``
    selects the query subset (standalone key: first ids; the recall
    eval passes the md5 sample draw); ``vec_expr`` the vector column
    expression (the matryoshka eval passes a prefix slice)."""
    return f"""
        WITH e AS (SELECT vec_id, {vec_expr} AS v FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE {query_pred}),
        scored AS (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   list_dot_product(e.v, q.qv) /
                       (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)))
                       AS cosine
            FROM e CROSS JOIN q
            WHERE e.vec_id <> q.query_id
        )
        SELECT query_id, neighbor_id, round(cosine, 6) AS cosine,
               CAST(rnk AS INTEGER) AS rank
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, neighbor_id ASC) AS rnk
            FROM scored
        ) WHERE rnk <= 5
    """


def _ivf_topk_oracle_sql(query_pred: str = "vec_id < 5", n_probe: int = 4) -> str:
    """DuckDB twin of ivf_topk (16 lowest-id centroids, ``n_probe``
    probes): ``query_pred`` selects the query subset (standalone key:
    first ids; the recall eval passes the fixed-K md5 sample — inside
    the probes scope the bare ``vec_id`` resolves to the query side,
    cents columns are renamed). ``n_probe`` parameterizes the probe
    count for the ivf_probe_sweep tuning-curve key."""
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cents AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
        assign AS (
            SELECT vec_id, v, cid AS cluster FROM (
                SELECT e.vec_id, e.v, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY list_distance(e.v, c.cv) ASC, c.cid ASC) AS rn
                FROM e CROSS JOIN cents c
            ) WHERE rn = 1
        ),
        probes AS (
            SELECT query_id, qv, cid AS cluster FROM (
                SELECT q.vec_id AS query_id, q.v AS qv, c.cid,
                       row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY list_distance(q.v, c.cv) ASC, c.cid ASC) AS rn
                FROM e q CROSS JOIN cents c WHERE {query_pred}
            ) WHERE rn <= {n_probe}
        ),
        scored AS (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   list_dot_product(a.v, p.qv) /
                       (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(p.qv, p.qv)))
                       AS cosine
            FROM assign a JOIN probes p ON a.cluster = p.cluster
            WHERE a.vec_id <> p.query_id
        )
        SELECT query_id, neighbor_id, round(cosine, 6) AS cosine,
               CAST(rnk AS INTEGER) AS rank
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, neighbor_id ASC) AS rnk
            FROM scored
        ) WHERE rnk <= 5
    """


def _lsh_topk_oracle_sql(query_pred: str = "vec_id < 5") -> str:
    """DuckDB twin of the md5-plane LSH top-k: the same literal +/-1
    plane matrix with left-associated projections, full-signature
    equi-join buckets, then cosine row_number top-k (cosine via
    list_dot_product — the exact construction proven cross-engine by
    sim_search_cosine_topk). ``query_pred`` selects the query subset
    (the standalone key keeps the first-ids set; the recall eval passes
    the md5 sample draw)."""
    from pygeoapi_ingestor_spark.operators.similarity import md5_plane_weights

    dim, n_planes = 64, 8
    weights = md5_plane_weights(dim, n_planes, 7)

    def proj(p: int) -> str:
        terms = " + ".join(
            f"v[{d + 1}]*({weights[p][d]:.1f})" for d in range(dim)
        )
        return f"(0.0 + {terms})"

    sig = " + ".join(
        f"{1 << p}*(CASE WHEN {proj(p)} > 0 THEN 1 ELSE 0 END)"
        for p in range(n_planes)
    )
    cos = (
        "list_dot_product(e.v, q.v) / "
        "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.v, q.v)))"
    )
    return f"""
        WITH emb AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), sig AS (
            SELECT vec_id, v, ({sig}) AS sg FROM emb
        ), q AS (
            SELECT * FROM sig WHERE {query_pred}
        ), scored AS (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   {cos} AS cosine
            FROM sig e JOIN q ON e.sg = q.sg AND e.vec_id <> q.vec_id
        )
        SELECT query_id, neighbor_id, round(cosine, 6) AS cosine,
               CAST(rnk AS INTEGER) AS rank
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, neighbor_id ASC) AS rnk
            FROM scored
        ) WHERE rnk <= 5
    """


def _simhash_oracle_sql(bucket_cap: int = 500) -> str:
    """DuckDB twin of the md5-token SimHash near-pair pipeline. The
    64-bit token hash is rebuilt as (low 60 bits, top nibble) so no
    intermediate exceeds BIGINT range (DuckDB shifts overflow-check,
    unlike Spark's wrapping bit-ops); per-bit weighted sums, sign bits,
    four 16-bit band buckets, pigeonhole band join with the SAME
    over-full-bucket cap as the operator (window count per band value,
    a band only matches when its bucket holds <= bucket_cap docs),
    hamming <= 3 gate — mirroring operators/dedup.py
    simhash/simhash_near_pairs."""
    lo = "(('0x' || substr(md5(w), 1, 15))::BIGINT)"
    nib = "(('0x' || substr(md5(w), 16, 1))::BIGINT)"

    def bit(i: int) -> str:
        if i < 60:
            return f"(({lo} >> {i}) & 1)"
        return f"(({nib} >> {i - 60}) & 1)"

    s_cols = ", ".join(
        f"sum({bit(i)} * cnt) AS s{i}" for i in range(64)
    )
    band_exprs = ", ".join(
        "("
        + " + ".join(
            f"{1 << r}*(CASE WHEN 2*s{b * 16 + r} > tot THEN 1 ELSE 0 END)"
            for r in range(16)
        )
        + f") AS b{b}"
        for b in range(4)
    )
    or_clause = " OR ".join(
        f"(a.b{i} = b.b{i} AND a.n{i} <= {bucket_cap})" for i in range(4)
    )
    n_cols = ", ".join(
        f"count(*) OVER (PARTITION BY b{i}) AS n{i}" for i in range(4)
    )
    ham = " + ".join(
        f"bit_count(xor(a.b{i}::BIGINT, b.b{i}::BIGINT))" for i in range(4)
    )
    return rf"""
        WITH words_t AS (
            SELECT doc_id,
                   list_filter(
                       string_split_regex(
                           lower(regexp_replace(text, '[^A-Za-z0-9\s]', ' ', 'g')),
                           '\s+'),
                       w -> w <> '') AS words
            FROM documents
        ), tok AS (
            SELECT doc_id AS doc, w, count(*) AS cnt
            FROM (SELECT doc_id, unnest(words) AS w FROM words_t)
            GROUP BY 1, 2
        ), agg AS (
            SELECT doc, sum(cnt) AS tot, {s_cols}
            FROM tok GROUP BY doc
        ), sig0 AS (
            SELECT doc, {band_exprs} FROM agg
        ), sig AS (
            SELECT doc, b0, b1, b2, b3, {n_cols} FROM sig0
        )
        SELECT a.doc AS doc_a, b.doc AS doc_b,
               CAST(({ham}) AS INTEGER) AS hamming
        FROM sig a JOIN sig b ON a.doc < b.doc AND ({or_clause})
        WHERE ({ham}) <= 3
    """


def _minhash_lsh_oracle_sql() -> str:
    """DuckDB twin of the md5-shingle MinHash+LSH candidate pipeline:
    the same two 60-bit hex cuts, the same mask-then-shift 60-bit
    rotations (every intermediate < 2**60, so DuckDB's overflow-checked
    shifts and Spark's wrapping shifts agree), 32 per-doc mins, md5 band
    buckets, pigeonhole bucket join, and the matching-position estimate
    — mirroring operators/dedup.py minhash_signatures/minhash_lsh_pairs."""
    num_hashes, bands = 32, 8
    rows_per_band = num_hashes // bands
    h1 = "(('0x' || substr(md5(shingle), 1, 15))::BIGINT)"
    h2 = "(('0x' || substr(md5(shingle), 17, 15))::BIGINT)"

    def rotl60(x: str, r: int) -> str:
        mask = (1 << (60 - r)) - 1
        return f"((({x} & {mask}) << {r}) | ({x} >> {60 - r}))"

    mins = ", ".join(
        f"min(xor({h1}, {rotl60(h2, (7 * i + 1) % 60)})) AS h{i}"
        for i in range(num_hashes)
    )
    buckets = ", ".join(
        "md5(concat_ws(',', "
        + ", ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band))
        + f")) AS mb{b}"
        for b in range(bands)
    )
    or_clause = " OR ".join(f"a.mb{b} = b.mb{b}" for b in range(bands))
    est = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(num_hashes)
    )
    return _shingle_cte() + f"""
        , sig AS (
            SELECT doc, {mins} FROM sh GROUP BY doc
        ), banded AS (
            SELECT *, {buckets} FROM sig
        )
        SELECT a.doc AS doc_a, b.doc AS doc_b,
               round(({est}) / 32.0, 6) AS est_jaccard
        FROM banded a JOIN banded b ON a.doc < b.doc AND ({or_clause})
    """


_STOP_RE = r"\b(the|and|is|of|to|in|that|it)\b"

def _shingle_cte(where: str = "", n: int = 3) -> str:
    return rf"""
WITH words_t AS (
    SELECT doc_id,
           list_filter(
               string_split_regex(
                   lower(regexp_replace(text, '[^A-Za-z0-9\s]', ' ', 'g')),
                   '\s+'),
               w -> w <> '') AS words
    FROM documents {where}
), sh AS (
    SELECT doc_id AS doc, unnest(list_distinct(
               list_transform(
                   range(1, greatest(len(words) - {n - 1}, 0) + 1),
                   i -> array_to_string(words[i:i+{n - 1}], ' ')))) AS shingle
    FROM words_t
)
"""


_SHINGLE_CTE = _shingle_cte("WHERE doc_id < 500")

LLM_ORACLES = {
    "chunk_documents": r"""
        WITH w AS (
            SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
            FROM documents WHERE length(trim(text)) > 0
        ), s AS (
            SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks), 30)) AS st
            FROM w WHERE len(toks) > 0
        )
        SELECT doc_id,
               CAST((st - 1) / 30 AS INTEGER) AS chunk_index,
               CAST(st AS BIGINT) AS start_token,
               CAST(len(toks[st:least(st + 39, len(toks))]) AS BIGINT) AS n_tokens,
               md5(array_to_string(toks[st:least(st + 39, len(toks))], ' ')) AS chunk_fp
        FROM s
    """,
    "top_ngrams": r"""
        WITH words_t AS (
            SELECT doc_id,
                   list_filter(
                       string_split_regex(
                           lower(regexp_replace(text, '[^A-Za-z0-9\s]', ' ', 'g')),
                           '\s+'),
                       w -> w <> '') AS words
            FROM documents
        ), g AS (
            SELECT doc_id AS doc,
                   unnest(list_transform(
                       generate_series(1, len(words) - 1),
                       i -> words[i] || ' ' || words[i + 1])) AS ngram
            FROM words_t WHERE len(words) >= 2
        )
        SELECT ngram,
               CAST(count(*) AS BIGINT) AS total_count,
               CAST(count(DISTINCT doc) AS BIGINT) AS doc_freq
        FROM g GROUP BY 1
        ORDER BY total_count DESC, ngram ASC LIMIT 20
    """,
    # directional exact-Jaccard twin of the incremental LSH screen
    # (corpus-dependent recall caveat — see q_dedup_incremental)
    "dedup_incremental_lsh": _shingle_cte() + """
        , sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY 1),
        inter AS (
            SELECT b.doc AS new_doc, a.doc AS corpus_doc, count(*) AS n_common
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc % 5 <> 4 AND b.doc % 5 = 4
            GROUP BY 1, 2
        ), ver AS (
            SELECT new_doc, corpus_doc,
                   n_common / (sa.n_sh + sb.n_sh - n_common) AS j
            FROM inter
            JOIN sizes sa ON sa.doc = corpus_doc
            JOIN sizes sb ON sb.doc = new_doc
            WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.6
        ), agg AS (
            SELECT new_doc,
                   CAST(count(*) AS BIGINT) AS n_matches,
                   CAST(min(corpus_doc) AS BIGINT) AS dup_of,
                   max(j) AS bj
            FROM ver GROUP BY 1
        )
        SELECT d.doc_id,
               agg.new_doc IS NOT NULL AS is_dup,
               coalesce(agg.n_matches, 0) AS n_matches,
               agg.dup_of,
               round(agg.bj, 6) AS best_jaccard
        FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 4) d
        LEFT JOIN agg ON agg.new_doc = d.doc_id
    """,
    "kmeans_clusters_int8": _kmeans_oracle_sql(),
    "sim_search_ivf_trained": _ivf_trained_oracle_sql(),
    "dedup_spans": r"""
        WITH w AS (
            SELECT doc_id,
                   string_split_regex(trim(text), '\s+') AS words
            FROM documents
        ), c AS (
            SELECT doc_id,
                   list_transform(
                       generate_series(0, CAST(greatest(ceil(len(words) / 10.0), 1) AS INTEGER) - 1),
                       i -> array_to_string(list_slice(words, i * 10 + 1, i * 10 + 10), ' ')
                   ) AS chunks
            FROM w
        ), e AS (
            SELECT doc_id AS doc,
                   generate_subscripts(chunks, 1) - 1 AS idx,
                   unnest(chunks) AS chunk
            FROM c
        ), kept AS (
            SELECT doc, idx, chunk FROM e
            QUALIFY row_number() OVER (PARTITION BY chunk ORDER BY doc, idx) = 1
        ), rebuilt AS (
            SELECT doc, CAST(count(*) AS BIGINT) AS n_kept,
                   md5(string_agg(chunk, ' ' ORDER BY idx)) AS dedup_digest
            FROM kept GROUP BY doc
        )
        SELECT c.doc_id, CAST(len(c.chunks) AS BIGINT) AS n_spans,
               r.n_kept, r.dedup_digest
        FROM c JOIN rebuilt r ON c.doc_id = r.doc
    """,

    "docs_top_per_source": """
        SELECT source, CAST(rn AS INTEGER) AS rank, doc_id, n_chars
        FROM (SELECT source, doc_id, n_chars,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY n_chars DESC, doc_id) AS rn
              FROM documents)
        WHERE rn <= 3
    """,
    "repetition_metrics": r"""
        WITH words_t AS (
            SELECT doc_id,
                   list_filter(
                       string_split_regex(
                           lower(regexp_replace(text, '[^A-Za-z0-9\s]', ' ', 'g')),
                           '\s+'),
                       w -> w <> '') AS words
            FROM documents
        ), w AS (
            SELECT doc_id AS doc, unnest(words) AS w FROM words_t
        ), g AS (
            SELECT doc_id AS doc,
                   unnest(list_transform(
                       generate_series(1, len(words) - 1),
                       i -> words[i] || ' ' || words[i + 1])) AS g
            FROM words_t
        ), wc AS (
            SELECT doc, w, count(*) AS c FROM w GROUP BY 1, 2
        ), ws AS (
            SELECT doc, sum(c) AS nw, max(c) AS topw, count(*) AS dw
            FROM wc GROUP BY 1
        ), gc AS (
            SELECT doc, g, count(*) AS c FROM g GROUP BY 1, 2
        ), gs AS (
            SELECT doc, sum(c) AS ng, max(c) AS topg,
                   sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dupg
            FROM gc GROUP BY 1
        )
        SELECT ws.doc AS doc_id,
               CAST(nw AS BIGINT) AS n_words,
               round(dw / nw, 6) AS distinct_word_ratio,
               round(topw / nw, 6) AS top_word_frac,
               round(topg / ng, 6) AS top_2gram_frac,
               round(dupg / ng, 6) AS dup_2gram_frac
        FROM ws LEFT JOIN gs ON ws.doc = gs.doc
    """,
    "sim_search_int8": """
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), scaled AS (
            SELECT vec_id,
                   CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
                        THEN list_max(list_transform(v, x -> abs(x)))
                        ELSE 1.0 END AS s,
                   v
            FROM e
        ), quant AS (
            SELECT vec_id,
                   list_transform(v, x -> CAST(round(x * 127.0 / s, 0) AS INTEGER)) AS q
            FROM scaled
        ), qr AS (
            SELECT * FROM quant WHERE vec_id < 5
        ), scored AS (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   list_dot_product(e.q, q.q) /
                       (sqrt(list_dot_product(e.q, e.q)) * sqrt(list_dot_product(q.q, q.q)))
                       AS cosine_q
            FROM quant e CROSS JOIN qr q
            WHERE e.vec_id <> q.vec_id
        )
        SELECT query_id, neighbor_id, round(cosine_q, 6) AS cosine_q,
               CAST(rnk AS INTEGER) AS rank
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY cosine_q DESC, neighbor_id ASC) AS rnk
            FROM scored
        ) WHERE rnk <= 5
    """,
    "sim_search_lsh": _lsh_topk_oracle_sql(),
    "dedup_simhash": _simhash_oracle_sql(),
    "dedup_minhash_lsh": _minhash_lsh_oracle_sql(),
    "dedup_exact": """
        SELECT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint,
               CAST(min(doc_id) AS BIGINT) AS keep_id,
               CAST(count(*) AS BIGINT) AS n_dupes
        FROM documents GROUP BY 1
    """,
    "dedup_ngram_jaccard": _SHINGLE_CTE + """
        , sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY 1),
        inter AS (
            SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_common
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               CAST(n_common AS BIGINT) AS n_common,
               CAST(sa.n_sh AS BIGINT) AS size_a,
               CAST(sb.n_sh AS BIGINT) AS size_b,
               round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc = doc_a
        JOIN sizes sb ON sb.doc = doc_b
        WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.1
    """,
    # exact-Jaccard twin of the LSH-composed pipeline: equal because this
    # corpus's near-dups sit at j >= 0.9, far above the 0.6 threshold
    # (corpus-dependent — see q_dedup_lsh_verified docstring)
    "dedup_lsh_verified": _shingle_cte() + """
        , sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY 1),
        inter AS (
            SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_common
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               CAST(n_common AS BIGINT) AS n_common,
               CAST(sa.n_sh AS BIGINT) AS size_a,
               CAST(sb.n_sh AS BIGINT) AS size_b,
               round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard,
               CAST(least(doc_a, doc_b) AS BIGINT) AS keep_id
        FROM inter
        JOIN sizes sa ON sa.doc = doc_a
        JOIN sizes sb ON sb.doc = doc_b
        WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.6
    """,
    # transitive closure of the verified near-dup graph as a recursive
    # CTE — the SQL twin of the iterative min-label propagation
    "dedup_components": _shingle_cte().replace("WITH words_t", "WITH RECURSIVE words_t") + """
        , sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY 1),
        inter AS (
            SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_common
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
            GROUP BY 1, 2
        ),
        vpairs AS (
            SELECT doc_a, doc_b
            FROM inter
            JOIN sizes sa ON sa.doc = doc_a
            JOIN sizes sb ON sb.doc = doc_b
            WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.6
        ),
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM vpairs
            UNION SELECT doc_b, doc_a FROM vpairs
        ),
        reach(node, lbl) AS (
            SELECT DISTINCT a, a FROM edges
            UNION
            SELECT e.a, r.lbl FROM reach r JOIN edges e ON e.b = r.node
        )
        SELECT CAST(node AS BIGINT) AS doc_id,
               CAST(min(lbl) AS BIGINT) AS component
        FROM reach GROUP BY node
    """,
    "dedup_embedding_cosine": _ecp_oracle_sql(),
    "sim_search_cosine_topk": _cosine_topk_oracle_sql(),
    "lang_id_heuristic": f"""
        WITH hits AS (
            SELECT doc_id, lang,
                   len(regexp_extract_all(lower(text), '\\b(the|and|is|of|to|in|that|it)\\b')) AS h_en,
                   len(regexp_extract_all(lower(text), '\\b(der|die|und|das|ist|nicht|ein|zu)\\b')) AS h_de,
                   len(regexp_extract_all(lower(text), '\\b(le|la|et|les|des|est|une|que)\\b')) AS h_fr,
                   len(regexp_extract_all(lower(text), '\\b(el|la|los|las|es|una|que|para)\\b')) AS h_es
            FROM documents
        )
        SELECT doc_id, lang,
               CASE WHEN h_en = best AND best > 0 THEN 'en'
                    WHEN h_de = best AND best > 0 THEN 'de'
                    WHEN h_fr = best AND best > 0 THEN 'fr'
                    WHEN h_es = best AND best > 0 THEN 'es'
                    ELSE 'und' END AS lang_pred
        FROM (SELECT *, greatest(h_en, h_de, h_fr, h_es) AS best FROM hits)
    """,
    "text_quality_score": r"""
        WITH feats AS (
            SELECT doc_id,
                   length(text) AS n_chars,
                   length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
                   length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
                   length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper,
                   len(string_split_regex(trim(text), '\s+')) AS n_ws,
                   len(regexp_extract_all(lower(text), '\b(the|and|is|of|to|in|that|it)\b')) AS n_stop
            FROM documents
        ), ratios AS (
            SELECT doc_id,
                   CAST(n_ws AS BIGINT) AS ws_tokens,
                   CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END AS alpha_ratio,
                   CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
                   CASE WHEN n_alpha > 0 THEN n_upper / n_alpha ELSE 0.0 END AS upper_ratio,
                   CASE WHEN n_ws > 0 THEN n_stop / n_ws ELSE 0.0 END AS stop_density
            FROM feats
        )
        SELECT doc_id, ws_tokens,
               round(alpha_ratio, 6) AS alpha_ratio,
               round(punct_ratio, 6) AS punct_ratio,
               round(upper_ratio, 6) AS upper_ratio,
               round(stop_density, 6) AS stop_density,
               round(0.4 * alpha_ratio
                     + 0.3 * least(stop_density * 2, 1.0)
                     + 0.2 * (1.0 - least(upper_ratio * 2, 1.0))
                     + 0.1 * (1.0 - least(punct_ratio * 5, 1.0)), 6) AS quality_score
        FROM ratios
    """,
    "token_count": r"""
        SELECT doc_id,
               CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
                   AS regex_tokens
        FROM documents
    """,
    "doc_fingerprint": """
        SELECT doc_id,
               md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint
        FROM documents
    """,
    "dedup_keep_corpus": """
        WITH keep AS (
            SELECT min(doc_id) AS doc_id
            FROM documents
            GROUP BY md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
        )
        SELECT d.doc_id, d.lang, d.source, d.n_chars
        FROM documents d JOIN keep USING (doc_id)
    """,
    "quality_filter": r"""
        WITH feats AS (
            SELECT doc_id,
                   length(text) AS n_chars,
                   length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
                   length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
                   length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper,
                   len(string_split_regex(trim(text), '\s+')) AS n_ws,
                   len(regexp_extract_all(lower(text), '\b(the|and|is|of|to|in|that|it)\b')) AS n_stop
            FROM documents
        ), ratios AS (
            SELECT doc_id,
                   CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END AS alpha_ratio,
                   CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
                   CASE WHEN n_alpha > 0 THEN n_upper / n_alpha ELSE 0.0 END AS upper_ratio,
                   CASE WHEN n_ws > 0 THEN n_stop / n_ws ELSE 0.0 END AS stop_density
            FROM feats
        ), scored AS (
            SELECT doc_id,
                   0.4 * alpha_ratio
                   + 0.3 * least(stop_density * 2, 1.0)
                   + 0.2 * (1.0 - least(upper_ratio * 2, 1.0))
                   + 0.1 * (1.0 - least(punct_ratio * 5, 1.0)) AS quality_score
            FROM ratios
        )
        SELECT doc_id, round(quality_score, 6) AS quality_score
        FROM scored WHERE quality_score >= 0.65
    """,
    "corpus_token_stats": r"""
        WITH counted AS (
            SELECT source,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                       AS regex_tokens
            FROM documents
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(regex_tokens) AS BIGINT) AS total_tokens,
               round(CAST(sum(regex_tokens) AS DOUBLE) / count(*), 6) AS avg_tokens,
               round(quantile_cont(regex_tokens, 0.5), 6) AS p50_tokens,
               round(quantile_cont(regex_tokens, 0.95), 6) AS p95_tokens
        FROM counted GROUP BY source
    """,
    # IVF is deterministic (centroids = 16 lowest-id vectors), so the whole
    # assign -> probe -> rank pipeline has an exact SQL twin
    "sim_search_ivf": _ivf_topk_oracle_sql(),
    "corpus_mix_sample": f"""
        WITH weights(source, rate) AS (VALUES
            {", ".join(f"('{s}', {r!r})" for s, r in MIX_WEIGHTS.items())}),
        d AS (
            SELECT doc_id, documents.source,
                   coalesce(CAST(w.rate AS DOUBLE), {MIX_DEFAULT!r}) AS rate,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                       / 4294967296.0 AS u
            FROM documents LEFT JOIN weights w ON documents.source = w.source
        )
        SELECT doc_id, source, rate, round(u, 6) AS u
        FROM d WHERE u < rate
    """,
    "decontaminate_ngram": _shingle_cte(n=DECON_NGRAM) + """
        , eval_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc % 97 = 0),
        contaminated AS (
            SELECT DISTINCT doc FROM sh JOIN eval_sh USING (shingle)
        )
        SELECT doc_id, lang, source FROM documents
        WHERE doc_id % 97 <> 0
          AND doc_id NOT IN (SELECT doc FROM contaminated)
    """,
    "pack_sequences": rf"""
        WITH counted AS (
            SELECT doc_id, source,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                        AS BIGINT) AS regex_tokens
            FROM documents
        ), cum AS (
            SELECT source, doc_id, regex_tokens,
                   sum(regex_tokens) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
            FROM counted
        )
        SELECT source,
               CAST(floor((cum_tokens - regex_tokens) / {float(PACK_BUDGET)!r}) AS BIGINT)
                   AS bin_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(regex_tokens) AS BIGINT) AS bin_tokens
        FROM cum GROUP BY 1, 2
    """,
    "text_scrub": f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{SCRUB_QUERY_PATTERNS["email"]}'))
                    AS BIGINT) AS n_email,
               CAST(len(regexp_extract_all(text, '{SCRUB_QUERY_PATTERNS["ipv4"]}'))
                    AS BIGINT) AS n_ipv4,
               CAST(len(regexp_extract_all(text, '{SCRUB_QUERY_PATTERNS["blocklist"]}'))
                    AS BIGINT) AS n_blocklist,
               md5(regexp_replace(
                       regexp_replace(
                           regexp_replace(text,
                               '{SCRUB_QUERY_PATTERNS["email"]}', '[REDACTED]', 'g'),
                           '{SCRUB_QUERY_PATTERNS["ipv4"]}', '[REDACTED]', 'g'),
                       '{SCRUB_QUERY_PATTERNS["blocklist"]}', '[REDACTED]', 'g'))
                   AS scrubbed_md5
        FROM documents
    """,
    "embedding_quantize_int8": """
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), scaled AS (
            SELECT vec_id,
                   CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
                        THEN list_max(list_transform(v, x -> abs(x)))
                        ELSE 1.0 END AS q_scale,
                   v
            FROM e
        ), quant AS (
            SELECT vec_id, q_scale,
                   list_transform(v, x -> CAST(round(x * 127.0 / q_scale, 0) AS INTEGER)) AS q
            FROM scaled
        )
        SELECT vec_id, round(q_scale, 6) AS q_scale,
               md5(array_to_string(q, ',')) AS q_digest,
               CAST(list_sum(q) AS BIGINT) AS q_sum,
               CAST(list_max(q) AS INTEGER) AS q_max,
               CAST(list_min(q) AS INTEGER) AS q_min
        FROM quant
    """,
    # the two-UDF-stage frame pipeline replayed symbolically: n_frames
    # from the payload sha (decode stub), every-10th index explode for
    # video, text-derived per-frame fingerprint
    "multimodal_decode_real": """
        SELECT doc_id AS media_id,
               CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'video' END
                 AS media_kind,
               CAST(4 + doc_id % 13 AS INT) AS width,
               CAST(3 + doc_id % 7 AS INT) AS height,
               CAST(CASE WHEN doc_id % 2 = 0 THEN 1
                    ELSE 1 + doc_id % 5 END AS INT) AS n_frames,
               CAST(doc_id % 256 AS DOUBLE) AS mean_r
        FROM documents
    """,
    "multimodal_frames": """
        WITH m AS (
            SELECT doc_id AS media_id,
                   CASE WHEN doc_id % 3 = 0 THEN 'image'
                        WHEN doc_id % 3 = 1 THEN 'audio'
                        ELSE 'video' END AS media_type,
                   sha256(text) AS sha
            FROM documents
        ), meta AS (
            SELECT media_id, media_type, sha,
                   CASE WHEN media_type = 'video'
                        THEN 1 + CAST('0x' || substr(sha, 5, 2) AS INTEGER) % 120
                        ELSE 1 END AS nf
            FROM m
        ), frames AS (
            SELECT media_id, sha,
                   unnest(CASE WHEN media_type = 'video' THEN range(0, nf, 10)
                               ELSE [CAST(0 AS BIGINT)] END) AS f
            FROM meta
        )
        SELECT media_id, CAST(f AS INTEGER) AS frame_idx,
               sha256(sha || ':' || CAST(f AS VARCHAR)) AS frame_sha256
        FROM frames
    """,
    # the decode STUB derives dimensions from the payload sha256, which is
    # SQL-expressible — so even the stubbed multimodal path gets a full
    # value-hash gate on its plumbing (ids, types, dims, digests)
    "multimodal_meta": """
        WITH m AS (
            SELECT doc_id AS media_id,
                   CASE WHEN doc_id % 3 = 0 THEN 'image'
                        WHEN doc_id % 3 = 1 THEN 'audio'
                        ELSE 'video' END AS media_type,
                   sha256(text) AS sha
            FROM documents
        )
        SELECT media_id, media_type,
               CAST(64 + CAST('0x' || substr(sha, 1, 2) AS INTEGER) % 192 AS INTEGER) AS width,
               CAST(64 + CAST('0x' || substr(sha, 3, 2) AS INTEGER) % 192 AS INTEGER) AS height,
               CAST(CASE WHEN media_type = 'image' THEN 1
                         ELSE 1 + CAST('0x' || substr(sha, 5, 2) AS INTEGER) % 120 END
                    AS INTEGER) AS n_frames,
               sha AS sha256
        FROM m
    """,
}


# ---------------------------------------------------------------------------
# round-4 additions: reference-corpus dedup, TF-IDF vocabulary, char
# entropy, BPE merge counts, ANN recall evaluation
# ---------------------------------------------------------------------------


def q_dedup_against_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus dedup: drop every candidate document whose normalized
    content fingerprint already exists in a reference corpus (doc_id % 10
    == 0 stands in for the already-ingested corpus). One fingerprint
    shuffle + a left-anti join on the md5 key — the canonical "don't
    re-train on what you already have" pass; at 100 TB the anti-join
    shuffles fingerprints only, never text."""
    docs = text.fingerprint(_docs(spark, sf_dir), text_col="text")
    is_ref = F.col("doc_id") % 10 == 0
    ref_fp = docs.filter(is_ref).select("fingerprint")
    return (
        docs.filter(~is_ref)
        .join(ref_fp, "fingerprint", "left_anti")
        .select("doc_id", "source", "lang")
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characteristic vocabulary per source via TF-IDF (each source is
    one IDF 'document'): the domain-profiling pass of corpus curation.
    Ranking runs through the bucketed distributed row_number."""
    return text.tfidf_top_terms(
        _docs(spark, sf_dir), group_col="source", text_col="text"
    )


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character entropy (quality/perplexity proxy)."""
    return text.char_entropy(
        _docs(spark, sf_dir), id_col="doc_id", text_col="text"
    )


def q_bigram_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top BPE merge candidates (most frequent intra-word char pairs)."""
    return text.bigram_merge_counts(
        _docs(spark, sf_dir), text_col="text"
    )


# ann_recall_eval's query set: the ANN_QUERY_K vectors with the
# smallest keyed-md5 draw — a deterministic, unbiased, FIXED-SIZE
# sample instead of the first-k ids. Fixed K keeps the brute-force
# ground truth O(K·n) however large the corpus grows (a fraction-based
# draw would scale the eval with n); the sample size rides in every
# output row.
ANN_QUERY_K = 32
_ANN_U_SQL = (
    "CAST(('0x' || substr(md5('annq:' || CAST(vec_id AS VARCHAR)), 1, 8))"
    " AS BIGINT)"
)
_ANN_QUERY_SQL = (
    f"vec_id IN (SELECT vec_id FROM embeddings ORDER BY {_ANN_U_SQL}, vec_id"
    f" LIMIT {ANN_QUERY_K})"
)


def _ann_query_ids(spark: SparkSession, sf_dir: str) -> list[int]:
    e = _emb(spark, sf_dir)
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("annq:"), F.col("vec_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    rows = (
        e.select("vec_id", u.alias("_u"))
        .orderBy("_u", "vec_id")
        .limit(ANN_QUERY_K)
        .collect()
    )
    return [r["vec_id"] for r in rows]


def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality evaluation: recall@k of the hyperplane-LSH index
    against brute-force ground truth, per query — the acceptance gate
    every ANN deployment needs before swapping the exact path out.
    Ground truth runs on the fixed-K smallest-md5 query sample (r6
    verdict item 3): cost is K·n — constant as the corpus grows — and
    n_queries rides in the output. Both sides are deterministic, so
    even the approximate side is value-hash-gated."""
    e = _emb(spark, sf_dir)
    qids = _ann_query_ids(spark, sf_dir)
    q = e.filter(F.col("vec_id").isin(qids))
    gt = shared_ann_gt(spark, sf_dir)  # eval-once artifact (r12)
    cand = similarity.lsh_topk(
        e, q, id_col="vec_id", vec_col="embedding",
        query_id_col="vec_id", query_vec_col="embedding",
        dim=64, k=TOPK, n_planes=8, use_md5_planes=True,
    )
    hits = gt.select("query_id", "neighbor_id").join(
        cand.select("query_id", "neighbor_id").withColumn("_hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    per_query = hits.groupBy("query_id").agg(
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint").alias("n_hits"),
        F.round(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("double")
            / F.lit(float(TOPK)),
            6,
        ).alias("recall_at_k"),
    )
    # the sample ids are already a driver-side list; a count() aggregate
    # branch + crossJoin would re-scan embeddings for a known constant
    return per_query.withColumn(
        "n_queries", F.lit(len(qids)).cast("bigint")
    )


_WORDS_CTE = r"""
    WITH words_t AS (
        SELECT doc_id, source,
               list_filter(
                   string_split_regex(
                       lower(regexp_replace(text, '[^A-Za-z0-9\s]', ' ', 'g')),
                       '\s+'),
                   w -> w <> '') AS words
        FROM documents
    )
"""

LLM_QUERIES.update(
    {
        "dedup_against_reference": q_dedup_against_reference,
        "tfidf_top_terms": q_tfidf_top_terms,
        "char_entropy": q_char_entropy,
        "bigram_merges": q_bigram_merges,
        "ann_recall_eval": q_ann_recall_eval,
    }
)

LLM_ORACLES.update(
    {
        "dedup_against_reference": """
            WITH fp AS (
                SELECT doc_id, source, lang,
                       md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
                         AS f
                FROM documents
            )
            SELECT doc_id, source, lang FROM fp
            WHERE doc_id % 10 <> 0
              AND f NOT IN (SELECT f FROM fp WHERE doc_id % 10 = 0)
        """,
        "tfidf_top_terms": _WORDS_CTE + """
            , tok AS (SELECT source AS grp, unnest(words) AS w FROM words_t),
            tf AS (
                SELECT grp, w, CAST(count(*) AS BIGINT) AS tf
                FROM tok GROUP BY 1, 2
            ),
            dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
            ng AS (SELECT count(DISTINCT grp) AS ng FROM tf),
            scored AS (
                SELECT grp, w, tf,
                       CAST(tf AS DOUBLE)
                         * ln((SELECT CAST(ng AS DOUBLE) FROM ng)
                              / CAST(df AS DOUBLE)) AS score
                FROM tf JOIN dfreq USING (w)
            ),
            ranked AS (
                SELECT grp, w, tf, score,
                       row_number() OVER (PARTITION BY grp
                                          ORDER BY score DESC, w ASC) AS rn
                FROM scored
            )
            SELECT grp AS source, CAST(rn AS INT) AS rank, w AS term, tf,
                   round(score, 6) AS score
            FROM ranked WHERE rn <= 5
        """,
        "char_entropy": """
            WITH chars AS (
                SELECT doc_id, unnest(string_split(text, '')) AS c
                FROM documents
            ), counts AS (
                SELECT doc_id, c, CAST(count(*) AS BIGINT) AS cnt
                FROM chars GROUP BY 1, 2
            ), agg AS (
                SELECT doc_id, sum(cnt) AS n,
                       sum(CAST(cnt AS DOUBLE) * log2(CAST(cnt AS DOUBLE)))
                         AS clog
                FROM counts GROUP BY 1
            )
            SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
                   round(log2(CAST(n AS DOUBLE)) - clog / CAST(n AS DOUBLE), 6)
                     AS entropy_bits
            FROM agg
        """,
        "bigram_merges": _WORDS_CTE + """
            , w_rows AS (
                SELECT unnest(words) AS w FROM words_t
            ), pairs AS (
                SELECT unnest(list_transform(
                           generate_series(1, length(w) - 1),
                           i -> substr(w, i, 2))) AS pair
                FROM w_rows WHERE length(w) >= 2
            )
            SELECT pair, CAST(count(*) AS BIGINT) AS pair_count
            FROM pairs GROUP BY 1
            ORDER BY pair_count DESC, pair ASC LIMIT 20
        """,
    }
)

# recall oracle composes the two operator oracle GENERATORS with the
# md5 query-sample predicate substituted for the standalone first-ids
# set — nested WITH inside a parenthesized subquery is valid DuckDB —
# so the evaluation twin stays in lockstep with whatever those
# operators' oracles say
LLM_ORACLES["ann_recall_eval"] = f"""
    WITH gt AS (SELECT * FROM ({_cosine_topk_oracle_sql(_ANN_QUERY_SQL)})),
         cand AS (SELECT * FROM ({_lsh_topk_oracle_sql(_ANN_QUERY_SQL)})),
         nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries
                FROM embeddings WHERE {_ANN_QUERY_SQL})
    SELECT gt.query_id,
           CAST(count(cand.neighbor_id) AS BIGINT) AS n_hits,
           round(count(cand.neighbor_id) / {float(TOPK)}, 6) AS recall_at_k,
           (SELECT n_queries FROM nq) AS n_queries
    FROM gt LEFT JOIN cand
      ON gt.query_id = cand.query_id AND gt.neighbor_id = cand.neighbor_id
    GROUP BY gt.query_id
"""


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) positioned fingerprints over the corpus — the
    local-similarity detector between whole-doc hashing (misses partial
    overlap) and all-grams storage (overpays ~(w+1)/2 x)."""
    return dedup.winnow_fingerprints(
        _docs(spark, sf_dir), id_col="doc_id", text_col="text"
    )


LLM_QUERIES["winnow_fingerprints"] = q_winnow_fingerprints

LLM_ORACLES["winnow_fingerprints"] = r"""
WITH words_t AS (
    SELECT doc_id,
           list_filter(
               string_split_regex(
                   lower(regexp_replace(text, '[^A-Za-z0-9\s]', ' ', 'g')),
                   '\s+'),
               w -> w <> '') AS words
    FROM documents
), g0 AS (
    SELECT doc_id AS doc,
           unnest(list_transform(
               range(1, greatest(len(words) - 3, 0) + 1),
               i -> struct_pack(pos := i - 1,
                                g := array_to_string(words[i:i+3], ' '))))
             AS s
    FROM words_t
), grams AS (
    SELECT doc, s.pos AS pos,
           (('0x' || substr(md5(s.g), 1, 15))::BIGINT) AS gram_hash,
           lpad(substr(md5(s.g), 1, 15), 15, '0')
             || lpad(CAST(s.pos AS VARCHAR), 8, '0') AS key
    FROM g0
), winm AS (
    SELECT doc, pos, gram_hash, key,
           min(key) OVER (PARTITION BY doc ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS wmin,
           count(*) OVER (PARTITION BY doc ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS wn
    FROM grams
), sel AS (
    SELECT DISTINCT doc, wmin AS key FROM winm WHERE wn = 5
)
SELECT g.doc, g.pos, g.gram_hash
FROM grams g JOIN sel USING (doc, key)
"""


def q_sim_search_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k over the embeddings table — the
    compressed-index scan completing the ANN family (int8 flat /
    LSH buckets / IVF lists / trained IVF / PQ codes)."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    return similarity.pq_adc_topk(
        e, q, id_col="vec_id", vec_col="embedding",
        query_id_col="vec_id", query_vec_col="embedding",
        k=TOPK,
    )


LLM_QUERIES["sim_search_pq_adc"] = q_sim_search_pq_adc


def _pq_adc_oracle_sql(
    m_subs: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    k: int = 5,
    query_pred: str = "vec_id < 5",
) -> str:
    """DuckDB twin of pq_adc_topk: same quantization, the same md5-draw
    codebook, per-subspace integer distances written as explicit 8-term
    sums, codes via (d, j) row_number argmin, ADC via code-table join.
    ``query_pred`` selects the query subset (standalone key: first ids;
    the recall eval passes the fixed-K md5 sample)."""
    sub = dim // m_subs
    terms = " + ".join(
        f"(v.q[{sub}*mm.m+{t}] - s.sq[{sub}*mm.m+{t}])"
        f"*(v.q[{sub}*mm.m+{t}] - s.sq[{sub}*mm.m+{t}])"
        for t in range(1, sub + 1)
    )
    return f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), scaled AS (
    SELECT vec_id,
           CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
                THEN list_max(list_transform(v, x -> abs(x)))
                ELSE 1.0 END AS q_scale, v
    FROM e
), quant AS (
    SELECT vec_id,
           list_transform(v, x -> CAST(round(x * 127.0 / q_scale, 0) AS INTEGER)) AS q
    FROM scaled
), seeds0 AS (
    SELECT vec_id, q FROM quant
    ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {n_codes}
), seeds AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, q AS sq FROM seeds0
), ms AS (SELECT unnest(range(0, {m_subs})) AS m),
cdist AS (
    SELECT v.vec_id, mm.m, s.j, ({terms}) AS d
    FROM quant v, seeds s, ms mm
), codes AS (
    SELECT vec_id, m, j AS code FROM (
        SELECT vec_id, m, j,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS rn
        FROM cdist) WHERE rn = 1
), qtab AS (
    SELECT vec_id AS query_id, m, j, d FROM cdist WHERE {query_pred}
), adc AS (
    SELECT t.query_id, c.vec_id AS neighbor_id, sum(t.d) AS adc_dist
    FROM codes c JOIN qtab t ON t.m = c.m AND t.j = c.code
    WHERE c.vec_id <> t.query_id
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, CAST(adc_dist AS BIGINT) AS adc_dist,
       CAST(rn AS INT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_dist, neighbor_id) AS rn
      FROM adc) WHERE rn <= {k}
"""


LLM_ORACLES["sim_search_pq_adc"] = _pq_adc_oracle_sql()


def q_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC index acceptance — the compressed-scan sibling of
    ann_recall_eval, on the SAME fixed-K smallest-md5 query sample so
    the two index families' recall numbers are directly comparable:
    recall@k of the ADC ranking vs brute-force cosine ground truth per
    query, n_queries in every row. Cost is K·n on both sides; both
    sides are deterministic, so the whole row is value-hash-gated."""
    e = _emb(spark, sf_dir)
    qids = _ann_query_ids(spark, sf_dir)
    q = e.filter(F.col("vec_id").isin(qids))
    gt = shared_ann_gt(spark, sf_dir)  # eval-once artifact (r12)
    cand = similarity.pq_adc_topk(
        e, q, id_col="vec_id", vec_col="embedding",
        query_id_col="vec_id", query_vec_col="embedding",
        k=TOPK,
    )
    hits = gt.select("query_id", "neighbor_id").join(
        cand.select("query_id", "neighbor_id").withColumn("_hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    per_query = hits.groupBy("query_id").agg(
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint").alias("n_hits"),
        F.round(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("double")
            / F.lit(float(TOPK)),
            6,
        ).alias("recall_at_k"),
    )
    return per_query.withColumn("n_queries", F.lit(len(qids)).cast("bigint"))


LLM_QUERIES["pq_recall_eval"] = q_pq_recall_eval

LLM_ORACLES["pq_recall_eval"] = f"""
    WITH gt AS (SELECT * FROM ({_cosine_topk_oracle_sql(_ANN_QUERY_SQL)})),
         cand AS (SELECT * FROM ({_pq_adc_oracle_sql(query_pred=_ANN_QUERY_SQL)})),
         nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries
                FROM embeddings WHERE {_ANN_QUERY_SQL})
    SELECT gt.query_id,
           CAST(count(cand.neighbor_id) AS BIGINT) AS n_hits,
           round(count(cand.neighbor_id) / {float(TOPK)}, 6) AS recall_at_k,
           (SELECT n_queries FROM nq) AS n_queries
    FROM gt LEFT JOIN cand
      ON gt.query_id = cand.query_id AND gt.neighbor_id = cand.neighbor_id
    GROUP BY gt.query_id
"""


def q_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index acceptance — completes the per-index-family recall
    trio (LSH C34, PQ-ADC C65, IVF here) on the SAME fixed-K
    smallest-md5 query sample: recall@k of the 16-list/4-probe IVF
    ranking vs brute-force cosine ground truth per query, n_queries in
    every row. Deterministic centroids => value-hash-gated."""
    e = _emb(spark, sf_dir)
    qids = _ann_query_ids(spark, sf_dir)
    q = e.filter(F.col("vec_id").isin(qids))
    gt = shared_ann_gt(spark, sf_dir)  # eval-once artifact (r12)
    cand = similarity.ivf_topk(
        e, q, id_col="vec_id", vec_col="embedding",
        query_id_col="vec_id", query_vec_col="embedding",
        k=TOPK, n_probe=4,
    )
    hits = gt.select("query_id", "neighbor_id").join(
        cand.select("query_id", "neighbor_id").withColumn("_hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    per_query = hits.groupBy("query_id").agg(
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint").alias("n_hits"),
        F.round(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("double")
            / F.lit(float(TOPK)),
            6,
        ).alias("recall_at_k"),
    )
    return per_query.withColumn("n_queries", F.lit(len(qids)).cast("bigint"))


LLM_QUERIES["ivf_recall_eval"] = q_ivf_recall_eval

LLM_ORACLES["ivf_recall_eval"] = f"""
    WITH gt AS (SELECT * FROM ({_cosine_topk_oracle_sql(_ANN_QUERY_SQL)})),
         cand AS (SELECT * FROM ({_ivf_topk_oracle_sql(_ANN_QUERY_SQL)})),
         nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries
                FROM embeddings WHERE {_ANN_QUERY_SQL})
    SELECT gt.query_id,
           CAST(count(cand.neighbor_id) AS BIGINT) AS n_hits,
           round(count(cand.neighbor_id) / {float(TOPK)}, 6) AS recall_at_k,
           (SELECT n_queries FROM nq) AS n_queries
    FROM gt LEFT JOIN cand
      ON gt.query_id = cand.query_id AND gt.neighbor_id = cand.neighbor_id
    GROUP BY gt.query_id
"""


def q_dedup_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard similarity join via PPJoin prefix
    filtering — the lossless exact-dedup sibling of the MinHash screen
    (candidates only from globally-rare prefix shingles; no recall
    loss, no caps). The oracle is the BRUTE-FORCE exact join: equality
    of results is precisely the PPJoin losslessness guarantee."""
    return dedup.ppjoin_pairs(
        _docs(spark, sf_dir), id_col="doc_id", text_col="text",
    )


LLM_QUERIES["dedup_ppjoin"] = q_dedup_ppjoin

LLM_ORACLES["dedup_ppjoin"] = _shingle_cte() + """
    , sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(sa.n_sh AS BIGINT) AS size_a,
           CAST(sb.n_sh AS BIGINT) AS size_b,
           round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc = doc_a
    JOIN sizes sb ON sb.doc = doc_b
    WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.6
"""


def q_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label QA via nearest-centroid re-classification: the confusion
    matrix of stored labels vs centroid-predicted labels over the
    embeddings table (off-diagonal mass = mislabeled / boundary docs).
    The Rocchio centroids are a train-once shared artifact
    (shared_rocchio_cents) — classification is one projection + one
    tiny groupBy; the corpus is aggregated once per (session, corpus),
    not per report."""
    out = similarity.rocchio_classify_int8(
        _emb(spark, sf_dir), id_col="vec_id", vec_col="embedding",
        label_col="label", cents=shared_rocchio_cents(spark, sf_dir),
    )
    return out.groupBy(
        F.col("label").cast("int").alias("label"),
        F.col("predicted").cast("int").alias("predicted"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))


LLM_QUERIES["centroid_classify"] = q_centroid_classify

LLM_ORACLES["centroid_classify"] = """
WITH e AS (
    SELECT vec_id, CAST(label AS INT) AS label,
           CAST(embedding AS DOUBLE[]) AS v
    FROM embeddings
), scaled AS (
    SELECT vec_id, label,
           CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
                THEN list_max(list_transform(v, x -> abs(x)))
                ELSE 1.0 END AS q_scale, v
    FROM e
), quant AS (
    SELECT vec_id, label,
           list_transform(v, x -> CAST(round(x * 127.0 / q_scale, 0) AS INTEGER)) AS q
    FROM scaled
), dd AS (SELECT unnest(range(0, 64)) AS d),
sums AS (
    SELECT label, dd.d AS d, sum(q[dd.d + 1]) AS s, count(*) AS n
    FROM quant, dd GROUP BY 1, 2
), cents AS (
    SELECT label AS clabel,
           list(CAST(floor(CAST(s AS DOUBLE) / n) AS INTEGER) ORDER BY d) AS cv
    FROM sums GROUP BY label
), dist AS (
    SELECT v.vec_id, v.label, c.clabel,
           sum(CAST((v.q[dd.d + 1] - c.cv[dd.d + 1])
                    * (v.q[dd.d + 1] - c.cv[dd.d + 1]) AS BIGINT)) AS sq
    FROM quant v, cents c, dd
    GROUP BY 1, 2, 3
), pred AS (
    SELECT vec_id, label, clabel AS predicted FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY sq, clabel) AS rn
        FROM dist) WHERE rn = 1
)
SELECT CAST(label AS INT) AS label, CAST(predicted AS INT) AS predicted,
       CAST(count(*) AS BIGINT) AS n
FROM pred GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Round 5 (continuation): corpus curation completions — deterministic
# train/val/test splitting, graded contamination scoring, and a bigram
# LM quality score (the CCNet-style perplexity proxy).
# ---------------------------------------------------------------------------

SPLIT_TRAIN, SPLIT_VAL = 0.8, 0.9


def q_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split with per-(source, split)
    accounting — the reproducible 80/10/10 partition every training run
    needs. The draw is the same content-stable md5 uniform used by
    corpus_mix_sample (no rand(), re-runs and engines agree), so a
    document's split NEVER changes as the corpus grows — the property
    that keeps eval sets uncontaminated across corpus versions.
    Pure projection + one small aggregation; no join, no skew.
    """
    docs = _docs(spark, sf_dir)
    u = (
        F.conv(F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("bigint") / F.lit(4294967296.0)
    )
    split = (
        F.when(u < SPLIT_TRAIN, "train").when(u < SPLIT_VAL, "val").otherwise("test")
    )
    return (
        docs.select("source", split.alias("split"), "n_chars")
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.col("n_chars").cast("bigint")).cast("bigint").alias("chars_total"),
        )
    )


LLM_QUERIES["stratified_split"] = q_stratified_split

LLM_ORACLES["stratified_split"] = f"""
WITH d AS (
    SELECT source, n_chars,
           CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) / 4294967296.0 AS u
    FROM documents
)
SELECT source,
       CASE WHEN u < {SPLIT_TRAIN} THEN 'train'
            WHEN u < {SPLIT_VAL} THEN 'val' ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS chars_total
FROM d GROUP BY 1, 2
"""


def q_contamination_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded benchmark contamination: for every training document, the
    fraction of its distinct 8-grams that appear anywhere in the
    held-out set (doc_id % 97 == 0) — the scored generalization of
    decontaminate_ngram's binary drop, used to set an overlap threshold
    instead of dropping on any single shared phrase.

    Shingle left-semi-scored join: cost is bounded by shared-shingle
    pairs (the eval shingle set broadcasts when small, shuffles on the
    gram key otherwise); documents with fewer than 8 words have no
    8-grams and are reported with n_grams = 0 via the doc left join.
    """
    docs = _docs(spark, sf_dir)
    is_eval = F.col("doc_id") % 97 == 0
    sh = dedup.shingles(docs, id_col="doc_id", text_col="text", n=DECON_NGRAM)
    eval_sh = sh.join(
        docs.filter(is_eval).select(F.col("doc_id").alias("doc")), "doc", "left_semi"
    ).select("shingle").distinct()
    scored = (
        sh.join(eval_sh.withColumn("hit_flag", F.lit(1)), "shingle", "left")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("hit_flag") == 1, 1).otherwise(0)).cast("bigint").alias("n_hit"),
        )
    )
    train = docs.filter(~is_eval).select("doc_id", "source")
    return (
        train.join(scored.withColumnRenamed("doc", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0))
                / F.greatest(F.col("n_grams").cast("double"), F.lit(1.0)),
                6,
            ).alias("contamination"),
        )
    )


LLM_QUERIES["contamination_score"] = q_contamination_score

LLM_ORACLES["contamination_score"] = _shingle_cte(n=DECON_NGRAM) + """
, eval_sh AS (
    SELECT DISTINCT shingle FROM sh WHERE doc % 97 = 0
), scored AS (
    SELECT sh.doc, CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit
    FROM sh LEFT JOIN eval_sh e ON sh.shingle = e.shingle
    GROUP BY 1
)
SELECT d.doc_id, d.source,
       CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(s.n_hit, 0) AS BIGINT) AS n_hit,
       round(coalesce(s.n_hit, 0)
             / greatest(CAST(coalesce(s.n_grams, 0) AS DOUBLE), 1.0), 6)
           AS contamination
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc
WHERE d.doc_id % 97 <> 0
"""


def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality score (the CCNet/KenLM-style
    perplexity proxy): train add-one-smoothed bigram probabilities on
    the corpus itself, then score every document by its mean bigram log
    probability — low scores flag gibberish, high scores flag boilerplate.

    All counts are exact integers; ln appears once per distinct
    (doc, bigram) and is count-weighted into the per-doc mean (the
    char_entropy summation shape). The count join keys on the bigram —
    Zipf-skewed by construction ("of the"), which AQE's skew-join split
    handles since it is a plain equi-join; per-doc state is two numbers.

    r14 (guide §2.4, the shingles() precedent): adjacent pairs are
    built INSIDE the token array (transform over start indices with
    O(1) element_at) instead of posexplode + lead window — the window
    shuffled EVERY token occurrence on doc before a single count
    existed. Pair content and order are identical, so every count (and
    the oracle hash) is unchanged; the tokenize->pairs stage is now a
    pure projection.
    """
    from pygeoapi_ingestor_spark.session import spread_if_narrow

    docs = _docs(spark, sf_dir)
    words = text.norm_words("text")
    toks = spread_if_narrow(
        docs.select(F.col("doc_id").alias("doc"), "text")
    ).select("doc", words.alias("_ws"))
    bg = toks.select(
        "doc",
        # adjacent pairs as arrays_zip of the two shifted slices —
        # single native array ops (no per-element lambda interpretation,
        # which measured ~1.5x slower than even the window shuffle)
        F.explode(
            F.arrays_zip(
                F.slice(F.col("_ws"), 1, F.greatest(F.size("_ws") - 1, F.lit(0))),
                F.slice(F.col("_ws"), 2, F.greatest(F.size("_ws") - 1, F.lit(0))),
            )
        ).alias("_p"),
    ).select(
        "doc",
        F.col("_p").getField("0").alias("w1"),
        F.col("_p").getField("1").alias("w2"),
    )
    from pyspark import StorageLevel

    # the per-(doc, bigram) counts feed three branches (corpus counts,
    # prefix counts, and the final score join) — materialize once
    # instead of recomputing the tokenize + pair build per branch.
    # Same cache contract as the other index artifacts.
    doc_bg = bg.groupBy("doc", "w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("m")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    corpus_bg = doc_bg.groupBy("w1", "w2").agg(F.sum("m").cast("bigint").alias("cb"))
    prefix = corpus_bg.groupBy("w1").agg(F.sum("cb").cast("bigint").alias("c1"))
    vocab = toks.select(F.explode("_ws").alias("w1")).distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("v")
    )
    term = F.log((F.col("cb") + 1).cast("double") / (F.col("c1") + F.col("v")).cast("double"))
    return (
        doc_bg.join(corpus_bg, ["w1", "w2"])
        .join(prefix, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc")
        .agg(
            F.sum("m").cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum(F.col("m").cast("double") * term) / F.sum("m"), 6
            ).alias("avg_logp"),
        )
        .select(F.col("doc").alias("doc_id"), "n_bigrams", "avg_logp")
    )


LLM_QUERIES["bigram_lm_score"] = q_bigram_lm_score

LLM_ORACLES["bigram_lm_score"] = r"""
WITH words_t AS (
    SELECT doc_id,
           list_filter(
               string_split_regex(
                   lower(regexp_replace(text, '[^A-Za-z0-9\s]', ' ', 'g')),
                   '\s+'),
               w -> w <> '') AS words
    FROM documents
), bg AS (
    SELECT doc_id AS doc,
           unnest(list_transform(range(1, len(words)),
                                 i -> words[i] || ' ' || words[i + 1])) AS pair
    FROM words_t WHERE len(words) >= 2
), doc_bg AS (
    SELECT doc, pair, CAST(count(*) AS BIGINT) AS m FROM bg GROUP BY 1, 2
), corpus_bg AS (
    SELECT pair, CAST(sum(m) AS BIGINT) AS cb FROM doc_bg GROUP BY 1
), prefix AS (
    SELECT split_part(pair, ' ', 1) AS w1, CAST(sum(cb) AS BIGINT) AS c1
    FROM corpus_bg GROUP BY 1
), vocab AS (
    SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
    FROM (SELECT unnest(words) AS w FROM words_t)
)
SELECT doc_bg.doc AS doc_id,
       CAST(sum(m) AS BIGINT) AS n_bigrams,
       round(sum(CAST(m AS DOUBLE)
                 * ln(CAST(cb + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE)))
             / sum(m), 6) AS avg_logp
FROM doc_bg
JOIN corpus_bg USING (pair)
JOIN prefix ON split_part(doc_bg.pair, ' ', 1) = prefix.w1
CROSS JOIN vocab
GROUP BY 1
"""


SEMDEDUP_K = 16  # clusters (deterministic lowest-id "centroids")
SEMDEDUP_TAU = 0.4  # cosine cut (synthetic-embedding near-dup range)
MIX_ALPHA = 0.7  # temperature exponent for source re-weighting


def q_semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) semantic dedup: cluster the
    embedding space, then drop, within each cluster only, every vector
    that has a lower-id neighbor above the cosine cut. Clustering turns
    the quadratic all-pairs cosine into per-cluster pairs — the exact
    scale trick the paper uses (k clusters ⇒ ~n²/k comparisons, and the
    per-cluster join shuffles on the cluster key).

    Assignment mirrors ivf_topk's deterministic build (lowest-id vectors
    as centroids, argmin as a pure projection — no shuffle); the oracle
    replays centroid choice, assignment, and the drop rule relationally.
    """
    import numpy as np

    from pygeoapi_ingestor_spark.operators.similarity import (
        _seq_sq_dists,
        cosine_scores,
        seq_dot_pair,
        seq_norm,
        stack_vectors,
    )
    from pygeoapi_ingestor_spark.session import (
        ensure_package_on_executors,
        spread_if_narrow,
    )

    ensure_package_on_executors(spark)
    e = _emb(spark, sf_dir)
    cent_rows = (
        e.select("vec_id", "embedding").orderBy("vec_id").limit(SEMDEDUP_K).collect()
    )
    ok, c_mat = stack_vectors([r["embedding"] for r in cent_rows], EMB_DIM)
    c_ids = np.asarray([int(r["vec_id"]) for r in cent_rows], dtype=np.int64)
    bc = spark.sparkContext.broadcast((c_ids[ok], c_mat, c_ids[:1]))
    id_t = dict(e.dtypes)["vec_id"]
    schema = f"vec_id {id_t}, embedding array<double>, cluster {id_t}"

    # Stage 1 — assignment, ONE Arrow pass (nearest centroid by
    # sequential-accumulation squared distance, first-occurrence argmin
    # over cid-ordered columns = the array_min(struct(d, cid)) tie-break
    # and the oracle's (list_distance, cid) ordering). Replaces the r12
    # unpacked-scalar self-join formulation entirely: no 64-wide codegen
    # unit (the fresh-session janino compile tax), no wide-alias
    # projection for constraint propagation to choke on — the Arrow
    # stages are leaves to Catalyst, so the plan analyzes instantly on
    # VANILLA sessions with no persist barrier, and nothing is rebuilt
    # per invocation. A malformed vector's (or malformed centroid's)
    # distances are all NULL, which order last: the vector joins the
    # lowest-id centroid's cluster, as in the oracle.
    def assign(batches):
        import numpy as np

        cids_, cm_, first_ = bc.value
        for pdf in batches:
            ok, vm = stack_vectors(pdf["embedding"], EMB_DIM)
            if not len(cids_):
                ok[:] = False
            cluster = np.full(len(pdf), first_[0] if len(first_) else 0)
            if ok.any():
                cluster[ok] = cids_[np.argmin(_seq_sq_dists(vm, cm_), axis=1)]
            pdf = pdf.copy()
            pdf["cluster"] = cluster
            yield pdf

    assigned = spread_if_narrow(e.select("vec_id", "embedding")).mapInPandas(
        assign, schema=schema
    )

    # Stage 2 — the within-cluster drop rule as ONE grouped Arrow kernel
    # (the per-cluster pair join's cogroup twin): each cluster's members
    # arrive together, the pairwise cosine matrix computes vectorized
    # (sequential seq_* accumulation — bit-identical to the scalar chain
    # and list_dot_product), and kept flags emit directly — no pair
    # materialization, no distinct, no final left join. A vector is
    # dropped iff SOME lower-id member of its cluster has cosine >= tau:
    # a NaN cosine compares true (NaN orders above every number), a
    # zero-norm or malformed vector's NULL cosine never does.
    def drop_rule(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id")
        ok, vm = stack_vectors(pdf["embedding"], EMB_DIM)
        nrm = seq_norm(vm)
        kept_ok = np.ones(len(vm), dtype=bool)
        # block the probe axis so the (block x members) matrix stays
        # bounded however large one cluster gets
        block = max(1, 4_194_304 // max(1, len(vm)))
        for s in range(0, len(vm), block):
            cos, keep = cosine_scores(
                seq_dot_pair(vm[s : s + block], vm),
                nrm[s : s + block, None] * nrm[None, :],
            )
            hit = keep & ((cos >= SEMDEDUP_TAU) | np.isnan(cos))
            # rows are the block (potential lower-id u), columns all
            # members v: u drops v iff u < v and cos >= tau
            for i in range(hit.shape[0]):
                gi = s + i
                kept_ok[gi + 1 :] &= ~hit[i, gi + 1 :]
        kept = np.ones(len(pdf), dtype=bool)
        kept[ok] = kept_ok
        return pd.DataFrame(
            {"vec_id": pdf["vec_id"].to_numpy(), "cluster": pdf["cluster"].to_numpy(),
             "kept": kept}
        )

    return (
        assigned.groupBy("cluster")
        .applyInPandas(drop_rule, schema=f"vec_id {id_t}, cluster {id_t}, kept boolean")
        .select("vec_id", F.col("cluster").cast("int").alias("cluster"), "kept")
    )


LLM_QUERIES["semdedup_clusters"] = q_semdedup_clusters

LLM_ORACLES["semdedup_clusters"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT {SEMDEDUP_K}),
assign AS (
    SELECT vec_id, v, cid AS cluster FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_distance(e.v, c.cv) ASC, c.cid ASC) AS rn
        FROM e CROSS JOIN cents c
    ) WHERE rn = 1
),
dropped AS (
    SELECT DISTINCT b.vec_id AS v
    FROM assign a JOIN assign b
      ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
          >= {SEMDEDUP_TAU}
)
SELECT a.vec_id, CAST(a.cluster AS INT) AS cluster,
       d.v IS NULL AS kept
FROM assign a LEFT JOIN dropped d ON a.vec_id = d.v
"""


def q_source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source re-weighting (the multinomial
    p_s^α mix of multilingual/multi-source training runs): per-source
    token shares raised to α, reported relative to the heaviest source.

    The relative normalization (w_s / max w) deliberately replaces the
    usual Σw denominator: max over identical float sets is
    order-independent in every engine, while a float Σ across sources
    is summation-order territory — same hash-gate reasoning as the
    exact-decimal money sums. Two tiny aggregations; the token count
    per doc is the whitespace tokenizer shared with corpus_token_stats.
    """
    docs = _docs(spark, sf_dir)
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    per_source = (
        docs.select("source", toks.alias("t"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("t").cast("bigint").alias("tokens"),
        )
    )
    totals = per_source.agg(
        F.sum("tokens").cast("bigint").alias("total")
    )
    w = F.pow(F.col("tokens").cast("double") / F.col("total"), MIX_ALPHA)
    weighted = per_source.crossJoin(F.broadcast(totals)).withColumn("w", w)
    wmax = weighted.agg(F.max("w").alias("wmax"))
    return (
        weighted.crossJoin(F.broadcast(wmax))
        .select(
            "source", "n_docs", "tokens",
            F.round(F.col("tokens").cast("double") / F.col("total"), 6).alias("frac"),
            F.round(F.col("w") / F.col("wmax"), 6).alias("rel_weight"),
        )
    )


LLM_QUERIES["source_mix_weights"] = q_source_mix_weights

LLM_ORACLES["source_mix_weights"] = rf"""
WITH per_source AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
               AS tokens
    FROM documents GROUP BY 1
), tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total FROM per_source),
weighted AS (
    SELECT source, n_docs, tokens,
           CAST(tokens AS DOUBLE) / total AS frac,
           pow(CAST(tokens AS DOUBLE) / total, {MIX_ALPHA}) AS w
    FROM per_source CROSS JOIN tot
), mx AS (SELECT max(w) AS wmax FROM weighted)
SELECT source, n_docs, tokens, round(frac, 6) AS frac,
       round(w / wmax, 6) AS rel_weight
FROM weighted CROSS JOIN mx
"""


EMB_DIM_EXPECTED = 64


def q_embedding_qa_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table QA gate (run before any index build): per label,
    vector counts, wrong-dimension rows, zero/near-zero vectors, and the
    norm distribution (mean/min/max). A broken embedder ships as NaNs,
    zeros, or truncated vectors — this is the acceptance check.

    Determinism: each vector's norm is rounded to 6dp FIRST and summed
    as DECIMAL(18,6), so the per-label mean is an exact sum of exact
    terms (order-independent in both engines) — the same trick as the
    exact money sums, applied to a derived float. Pure projection + one
    aggregate; no joins, no shuffle beyond the label rollup.
    """
    e = _emb(spark, sf_dir)
    norm = F.sqrt(
        F.aggregate(F.col("embedding"), F.lit(0.0), lambda acc, v: acc + v * v)
    )
    base = e.select(
        F.col("label").cast("int").alias("label"),
        F.size("embedding").alias("dim"),
        F.round(norm, 6).cast("decimal(18,6)").alias("nrm"),
    )
    return base.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum((F.col("dim") != EMB_DIM_EXPECTED).cast("bigint"))
        .cast("bigint")
        .alias("n_bad_dim"),
        F.sum((F.col("nrm") < 1e-6).cast("bigint")).cast("bigint").alias("n_zero"),
        F.round(
            F.sum("nrm").cast("double") / F.count(F.lit(1)), 6
        ).alias("norm_mean"),
        F.round(F.min("nrm").cast("double"), 6).alias("norm_min"),
        F.round(F.max("nrm").cast("double"), 6).alias("norm_max"),
    )


LLM_QUERIES["embedding_qa_stats"] = q_embedding_qa_stats

LLM_ORACLES["embedding_qa_stats"] = f"""
WITH e AS (
    SELECT CAST(label AS INT) AS label,
           len(embedding) AS dim,
           CAST(round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                            CAST(embedding AS DOUBLE[]))), 6)
                AS DECIMAL(18,6)) AS nrm
    FROM embeddings
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(CASE WHEN dim <> {EMB_DIM_EXPECTED} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_bad_dim,
       CAST(sum(CASE WHEN nrm < 1e-6 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       round(CAST(sum(nrm) AS DOUBLE) / count(*), 6) AS norm_mean,
       round(CAST(min(nrm) AS DOUBLE), 6) AS norm_min,
       round(CAST(max(nrm) AS DOUBLE), 6) AS norm_max
FROM e GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Round 5 (continuation 2): corpus-health rollups (duplication rate,
# n-gram novelty), containment dedup, and random-projection reduction.
# ---------------------------------------------------------------------------


def q_dup_rate_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication health rollup: how much of each source is
    exact-duplicate text, and how much of it duplicates ACROSS sources —
    the dashboard number a corpus owner watches after every crawl
    (dup-rate spikes mean a broken feed; cross-source dups mean mirror
    sites).

    One fingerprint shuffle (group sizes + distinct-source counts per
    fingerprint), broadcast back onto the per-doc table, one rollup on
    source. Fingerprints shuffle, never text; all counts exact BIGINT.
    """
    docs = text.fingerprint(_docs(spark, sf_dir), text_col="text")
    fp_stats = docs.groupBy("fingerprint").agg(
        F.count(F.lit(1)).cast("bigint").alias("fp_n"),
        F.countDistinct("source").cast("bigint").alias("fp_sources"),
    )
    joined = docs.select("doc_id", "source", "fingerprint").join(
        fp_stats, "fingerprint"
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("fp_n") > 1, 1).otherwise(0)).cast("bigint").alias("n_dup"),
        F.sum(F.when(F.col("fp_sources") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_cross_source"),
        F.round(
            F.sum(F.when(F.col("fp_n") > 1, 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("dup_rate"),
    )


LLM_QUERIES["dup_rate_per_source"] = q_dup_rate_per_source

LLM_ORACLES["dup_rate_per_source"] = """
WITH fp AS (
    SELECT doc_id, source,
           md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint
    FROM documents
), fps AS (
    SELECT fingerprint, CAST(count(*) AS BIGINT) AS fp_n,
           CAST(count(DISTINCT source) AS BIGINT) AS fp_sources
    FROM fp GROUP BY 1
)
SELECT f.source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN s.fp_n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       CAST(sum(CASE WHEN s.fp_sources > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_cross_source,
       round(sum(CASE WHEN s.fp_n > 1 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS dup_rate
FROM fp f JOIN fps s ON f.fingerprint = s.fingerprint
GROUP BY 1
"""


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    8-grams whose FIRST corpus occurrence (min doc_id, the ingest-order
    stand-in) is the doc itself — the running "is this crawl adding
    anything new" curve; novelty collapsing toward 0 is the signal to
    stop crawling a source.

    Two bounded shuffles: grams -> min-doc attribution (keyed on the
    gram hash — uniform, skew-free), then join back and re-group per
    doc. Counts exact; docs with <8 words carry n_grams = 0.
    """
    docs = _docs(spark, sf_dir)
    sh = dedup.shingles(docs, id_col="doc_id", text_col="text", n=DECON_NGRAM)
    first = sh.groupBy("shingle").agg(F.min("doc").alias("first_doc"))
    scored = (
        sh.join(first, "shingle")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("first_doc") == F.col("doc"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return (
        docs.select("doc_id", "source")
        .join(scored.withColumnRenamed("doc", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
            F.round(
                F.coalesce(F.col("n_novel"), F.lit(0))
                / F.greatest(F.col("n_grams").cast("double"), F.lit(1.0)),
                6,
            ).alias("novelty"),
        )
    )


LLM_QUERIES["ngram_novelty"] = q_ngram_novelty

LLM_ORACLES["ngram_novelty"] = _shingle_cte(n=DECON_NGRAM) + """
, first AS (
    SELECT shingle, min(doc) AS first_doc FROM sh GROUP BY 1
), scored AS (
    SELECT sh.doc, CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN f.first_doc = sh.doc THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel
    FROM sh JOIN first f ON sh.shingle = f.shingle
    GROUP BY 1
)
SELECT d.doc_id, d.source,
       CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(s.n_novel, 0) AS BIGINT) AS n_novel,
       round(coalesce(s.n_novel, 0)
             / greatest(CAST(coalesce(s.n_grams, 0) AS DOUBLE), 1.0), 6)
           AS novelty
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc
"""


CONTAIN_SNIPPET_WORDS = 20


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup: find documents whose ENTIRE (normalized) word
    sequence appears contiguously inside a longer document — quoted
    reposts, snippet pages, syndication stubs. Exact-dup and
    near-dup passes both miss this shape (Jaccard of a 20-word snippet
    vs its 500-word source is ~0.04).

    Corpus = documents plus a derived snippet per (doc_id % 7 == 0) doc
    (its first CONTAIN_SNIPPET_WORDS words, id offset +100000) so the
    containment relation is non-trivially populated in both engines.
    Candidate generation is LOSSLESS pruning, not all-pairs: if A is
    contained in B then EVERY 8-gram of A — in particular its globally
    rarest one — is also in B, so candidates come from equi-joining each
    contained-candidate's rarest gram (min document frequency, gram text
    tie-break) against the full gram table, longer docs only. The exact
    gate then checks ' '||words(B)||' ' contains ' '||words(A)||' ' on
    the normalized strings. Grams shuffle; full text moves only for
    verify pairs. Docs under 8 words have no gram and exit the screen.
    """
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    words = text.norm_words("text")
    base = docs.select("doc_id", words.alias("ws"))
    snippets = base.filter(
        (F.col("doc_id") % 7 == 0) & (F.size("ws") >= CONTAIN_SNIPPET_WORDS)
    ).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.slice("ws", 1, CONTAIN_SNIPPET_WORDS).alias("ws"),
    )
    corpus = base.unionByName(snippets).select(
        "doc_id",
        F.size("ws").cast("bigint").alias("n_words"),
        F.concat_ws(" ", F.col("ws")).alias("norm"),
    )
    # the gram table feeds THREE consumers (df counts, the rarest-gram
    # window, and the candidate join's b-side); persist it as an index
    # artifact or Catalyst rebuilds the tokenize+window chain per use
    # (same cache contract as the LSH signature/PPJoin token tables —
    # bench/scheduler clearCache frees it between jobs)
    sh = dedup.shingles(
        corpus.withColumnRenamed("norm", "text"), id_col="doc_id", text_col="text",
        n=DECON_NGRAM,
    ).persist()
    df_counts = sh.groupBy("shingle").agg(
        F.countDistinct("doc").cast("bigint").alias("df")
    )
    with_df = sh.join(df_counts, "shingle")
    w = Window.partitionBy("doc").orderBy("df", "shingle")
    rarest = (
        with_df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("doc").alias("a_id"), "shingle")
    )
    cand = rarest.join(
        sh.select(F.col("doc").alias("b_id"), "shingle"), "shingle"
    ).filter(F.col("a_id") != F.col("b_id")).select("a_id", "b_id").distinct()
    a = corpus.select(
        F.col("doc_id").alias("a_id"),
        F.col("n_words").alias("a_words"),
        F.col("norm").alias("a_norm"),
    )
    b = corpus.select(
        F.col("doc_id").alias("b_id"),
        F.col("n_words").alias("b_words"),
        F.col("norm").alias("b_norm"),
    )
    verified = (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .filter(F.col("b_words") > F.col("a_words"))
        .filter(
            F.instr(
                F.concat(F.lit(" "), F.col("b_norm"), F.lit(" ")),
                F.concat(F.lit(" "), F.col("a_norm"), F.lit(" ")),
            )
            > 0
        )
    )
    return verified.select(
        F.col("a_id").alias("contained_id"),
        F.col("b_id").alias("container_id"),
        F.col("a_words").alias("contained_words"),
        F.col("b_words").alias("container_words"),
    )


LLM_QUERIES["dedup_containment"] = q_dedup_containment

# the oracle is the brute-force twin (all length-ordered pairs, exact
# contains gate) — the same oracle relationship dedup_ppjoin uses: the
# Spark side must find EXACTLY the pairs the unpruned quadratic scan finds
LLM_ORACLES["dedup_containment"] = rf"""
WITH base AS (
    SELECT doc_id,
           list_filter(
               string_split_regex(
                   lower(regexp_replace(text, '[^A-Za-z0-9\s]', ' ', 'g')),
                   '\s+'),
               w -> w <> '') AS ws
    FROM documents
), snippets AS (
    SELECT doc_id + 100000 AS doc_id, ws[1:{CONTAIN_SNIPPET_WORDS}] AS ws
    FROM base
    WHERE doc_id % 7 = 0 AND len(ws) >= {CONTAIN_SNIPPET_WORDS}
), corpus AS (
    SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
           array_to_string(ws, ' ') AS norm
    FROM (SELECT * FROM base UNION ALL SELECT * FROM snippets)
)
SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
       a.n_words AS contained_words, b.n_words AS container_words
FROM corpus a JOIN corpus b
  ON b.n_words > a.n_words
WHERE a.n_words >= 8
  AND position(' ' || a.norm || ' ' IN ' ' || b.norm || ' ') > 0
"""


EMB_DIM = 64
RP_PLANES = 8


def _rp_proj_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, q_scale, p0..p7, q2) in ONE Arrow pass — int8
    quantization (``quantize_int8_np``, bit-parity with the JVM
    ``quantize_int8`` expression pinned by test) followed by the 8
    integer RP dots and the squared norm as an exact int64 matmul
    (integer sums are order-free, so no fold-order dance). Replaces
    8 interpreted zip_with/aggregate folds + 1 transform fold per row
    (r13: the last interpreted-HOF family in the catalog's warm set).

    A null / wrong-length vector is a NULL vector (``stack_vectors``):
    its row keeps the JVM expressions' answer — scale 1.0, NULL
    projections and NULL q2 — which the rrf fusion's norm gate drops."""
    import numpy as np

    from pygeoapi_ingestor_spark.operators.similarity import (
        fill_ok,
        quantize_int8_np,
        stack_vectors,
    )
    from pygeoapi_ingestor_spark.session import ensure_package_on_executors

    ensure_package_on_executors(spark)
    w_np = np.array(
        similarity.md5_plane_weights(EMB_DIM, RP_PLANES, seed=11),
        dtype=np.int64,
    )
    bc_w = spark.sparkContext.broadcast(w_np)
    e = _emb(spark, sf_dir).select("vec_id", "embedding")

    def proj(batches):
        import numpy as np
        import pandas as pd

        w_ = bc_w.value
        for pdf in batches:
            ok, vm = stack_vectors(pdf["embedding"], EMB_DIM)
            q, scale = quantize_int8_np(vm)
            pm = q @ w_.T
            out = {
                "vec_id": pdf["vec_id"].to_numpy(),
                "q_scale": np.ones(len(pdf)),
            }
            out["q_scale"][ok] = scale
            for p in range(RP_PLANES):
                out[f"p{p}"] = fill_ok(ok, pm[:, p])
            out["q2"] = fill_ok(ok, (q * q).sum(axis=1))
            yield pd.DataFrame(out)

    schema = "vec_id bigint, q_scale double, " + ", ".join(
        f"p{p} bigint" for p in range(RP_PLANES)
    ) + ", q2 bigint"
    return e.mapInPandas(proj, schema=schema)


def q_embedding_rp_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection (Achlioptas sign-matrix) dimensionality
    reduction of the embedding table to RP_PLANES components, plus the
    Johnson-Lindenstrauss norm-preservation QA ratio — the cheap
    front-end that shrinks a 64-d corpus to 8-d for coarse clustering
    and visualization.

    Exactness across engines: vectors are first int8-quantized
    (deterministic rounding), the +/-1 plane matrix is the engine-neutral
    md5 draw, and each projection is an INTEGER dot product — exact in any
    summation order, so the hash gate closes without float-order tricks.
    Pure projection: no shuffle, no join; quantization + dots run in the
    shared Arrow kernel (``_rp_proj_frame``), the JL rollup is a scalar
    expression over its integer outputs.
    """
    projected = _rp_proj_frame(spark, sf_dir)
    p2 = None
    for p in range(RP_PLANES):
        term = F.col(f"p{p}") * F.col(f"p{p}")
        p2 = term if p2 is None else p2 + term
    return projected.select(
        "vec_id",
        F.round("q_scale", 6).alias("q_scale"),
        *[F.col(f"p{p}") for p in range(RP_PLANES)],
        F.when(
            F.col("q2") > 0,
            F.round(
                p2.cast("double") / (F.lit(float(RP_PLANES)) * F.col("q2")), 6
            ),
        ).alias("jl_ratio"),
    )


LLM_QUERIES["embedding_rp_reduce"] = q_embedding_rp_reduce


def _rp_reduce_oracle_sql() -> str:
    from pygeoapi_ingestor_spark.operators.similarity import md5_plane_weights

    weights = md5_plane_weights(EMB_DIM, RP_PLANES, seed=11)

    def proj(p: int) -> str:
        terms = " + ".join(
            f"q[{d + 1}]*({int(weights[p][d])})" for d in range(EMB_DIM)
        )
        return f"CAST({terms} AS BIGINT)"

    proj_sql = ", ".join(f"{proj(p)} AS p{p}" for p in range(RP_PLANES))
    p2 = " + ".join(f"p{p}*p{p}" for p in range(RP_PLANES))
    return f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), scaled AS (
    SELECT vec_id,
           CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
                THEN list_max(list_transform(v, x -> abs(x)))
                ELSE 1.0 END AS q_scale,
           v
    FROM e
), quant AS (
    SELECT vec_id, q_scale,
           list_transform(v, x -> CAST(round(x * 127.0 / q_scale, 0) AS INTEGER)) AS q
    FROM scaled
), projected AS (
    SELECT vec_id, round(q_scale, 6) AS q_scale, {proj_sql},
           CAST(list_sum(list_transform(q, x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS q2
    FROM quant
)
SELECT vec_id, q_scale, {", ".join(f"p{p}" for p in range(RP_PLANES))},
       CASE WHEN q2 > 0
            THEN round(CAST({p2} AS DOUBLE) / ({RP_PLANES}.0 * q2), 6)
       END AS jl_ratio
FROM projected
"""


LLM_ORACLES["embedding_rp_reduce"] = _rp_reduce_oracle_sql()


FH_DIM = 16


def q_feature_hash_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing (hashing-trick) document vectors: every token
    occurrence hashes to one of FH_DIM buckets with a +/-1 sign, giving
    a fixed-width sparse vector per document without any vocabulary
    build — the no-training embedding used for cheap clustering and as
    the classifier input of a quality-gate bootstrap.

    Engine-neutral hashing: bucket = first-8-hex of md5(token) mod
    FH_DIM, sign = 9th hex nibble's low bit — both reproducible in any
    SQL dialect. Exact integer bucket sums; the sparse vector is
    digested in bucket order so the hash gate covers every component.
    One shuffle on (doc, bucket) (map-side combinable), one re-group
    per doc; tokens shuffle as integers, never text.
    """
    docs = _docs(spark, sf_dir)
    words = text.norm_words("text")
    tok = docs.select(F.col("doc_id"), F.explode(words).alias("w"))
    h8 = F.conv(F.substring(F.md5(F.col("w")), 1, 8), 16, 10).cast("bigint")
    sign = F.when(
        F.conv(F.substring(F.md5(F.col("w")), 9, 1), 16, 10).cast("int") % 2 == 1,
        F.lit(1),
    ).otherwise(F.lit(-1))
    comps = (
        tok.select("doc_id", (h8 % FH_DIM).cast("int").alias("bucket"), sign.alias("s"))
        .groupBy("doc_id", "bucket")
        .agg(F.sum("s").cast("bigint").alias("val"))
        .filter(F.col("val") != 0)
    )
    vec = comps.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("nnz"),
        F.sum(F.col("val") * F.col("val")).cast("bigint").alias("l2sq"),
        F.md5(
            F.concat_ws(
                ",",
                F.sort_array(
                    F.collect_list(
                        F.concat_ws(":", F.col("bucket").cast("string"), F.col("val"))
                    )
                ),
            )
        ).alias("vec_digest"),
    )
    return (
        docs.select("doc_id", "source")
        .join(vec, "doc_id", "left")
        .select(
            "doc_id", "source",
            F.coalesce("nnz", F.lit(0)).cast("bigint").alias("nnz"),
            F.coalesce("l2sq", F.lit(0)).cast("bigint").alias("l2sq"),
            F.coalesce("vec_digest", F.lit("")).alias("vec_digest"),
        )
    )


LLM_QUERIES["feature_hash_vectors"] = q_feature_hash_vectors

# the digest concatenates "bucket:val" in LEXICOGRAPHIC bucket-string
# order (sort_array over strings) — mirrored with ORDER BY the string
LLM_ORACLES["feature_hash_vectors"] = rf"""
WITH tok AS (
    SELECT doc_id,
           unnest(list_filter(
               string_split_regex(
                   lower(regexp_replace(text, '[^A-Za-z0-9\s]', ' ', 'g')),
                   '\s+'),
               w -> w <> '')) AS w
    FROM documents
), hashed AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(w), 1, 8))::BIGINT % {FH_DIM} AS INT) AS bucket,
           CASE WHEN ('0x' || substr(md5(w), 9, 1))::INT % 2 = 1
                THEN 1 ELSE -1 END AS s
    FROM tok
), comps AS (
    SELECT doc_id, bucket, CAST(sum(s) AS BIGINT) AS val
    FROM hashed GROUP BY 1, 2
    HAVING sum(s) <> 0
), vec AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS nnz,
           CAST(sum(val * val) AS BIGINT) AS l2sq,
           md5(string_agg(bucket || ':' || val, ','
                          ORDER BY bucket || ':' || val)) AS vec_digest
    FROM comps GROUP BY 1
)
SELECT d.doc_id, d.source,
       CAST(coalesce(v.nnz, 0) AS BIGINT) AS nnz,
       CAST(coalesce(v.l2sq, 0) AS BIGINT) AS l2sq,
       coalesce(v.vec_digest, '') AS vec_digest
FROM documents d LEFT JOIN vec v ON d.doc_id = v.doc_id
"""


def q_minhash_accuracy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator acceptance: for every LSH candidate pair, the
    signature-estimated Jaccard next to the EXACT shingle Jaccard and
    the absolute error — the dedup-index counterpart of ann_recall_eval
    (before trusting the banding config on a new corpus, measure how
    far the 32-hash estimate strays on real pairs).

    Exact side touches candidate pairs only; every count is integer,
    the two ratios and the error are the only floats. r13 (the item-7
    ppjoin pattern): the shingle intersection is ONE codegen
    ``size(array_intersect(...))`` per candidate over per-doc distinct
    shingle arrays — replacing the explode-by-tokens join + pair
    re-aggregation (three shuffles whose row count was candidates ×
    shingles) — and sizes ride the same arrays, so the separate sizes
    aggregate + two extra joins are gone. Every candidate doc has
    shingles by construction (its signature exists), so the inner
    array joins keep exactly the rows the old left-join + inner sizes
    joins kept, and n_common = 0 falls out of an empty intersection
    instead of the old coalesce. Oracle unchanged: the candidate-oracle
    SQL joined to the shingle-intersection CTEs.
    """
    sh = dedup.shingles(_docs(spark, sf_dir), id_col="doc_id", text_col="text", n=3)
    cand = dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir), id_col="doc_id", text_col="text",
        shingle_hash="md5", shingles_df=sh,
    )
    from pyspark import StorageLevel

    per_doc = sh.groupBy("doc").agg(
        F.collect_list("shingle").alias("_arr")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    pa = per_doc.select(
        F.col("doc").alias("doc_a"), F.col("_arr").alias("_ta"),
        F.size("_arr").cast("bigint").alias("size_a"),
    )
    pb = per_doc.select(
        F.col("doc").alias("doc_b"), F.col("_arr").alias("_tb"),
        F.size("_arr").cast("bigint").alias("size_b"),
    )
    n_common = F.size(F.array_intersect("_ta", "_tb")).cast("bigint")
    exact = (
        F.col("n_common")
        / (F.col("size_a") + F.col("size_b") - F.col("n_common")).cast("double")
    )
    return (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .withColumn("n_common", n_common)
        .select(
            "doc_a", "doc_b", "n_common", "size_a", "size_b",
            F.round("est_jaccard", 6).alias("est_jaccard"),
            F.round(exact, 6).alias("jaccard"),
            F.round(F.abs(F.col("est_jaccard") - exact), 6).alias("abs_err"),
        )
    )


LLM_QUERIES["minhash_accuracy_eval"] = q_minhash_accuracy_eval


def _minhash_accuracy_oracle_sql() -> str:
    cand = _minhash_lsh_oracle_sql()
    return _shingle_cte() + f"""
, sizes AS (
    SELECT doc, CAST(count(*) AS BIGINT) AS n_shingles FROM sh GROUP BY 1
), inter AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, CAST(count(*) AS BIGINT) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
    GROUP BY 1, 2
), cand AS (
    SELECT * FROM ({cand}) c
)
SELECT c.doc_a, c.doc_b,
       CAST(coalesce(i.n_common, 0) AS BIGINT) AS n_common,
       sa.n_shingles AS size_a, sb.n_shingles AS size_b,
       round(c.est_jaccard, 6) AS est_jaccard,
       round(coalesce(i.n_common, 0)
             / CAST(sa.n_shingles + sb.n_shingles - coalesce(i.n_common, 0)
                    AS DOUBLE), 6) AS jaccard,
       round(abs(c.est_jaccard
                 - coalesce(i.n_common, 0)
                   / CAST(sa.n_shingles + sb.n_shingles - coalesce(i.n_common, 0)
                          AS DOUBLE)), 6) AS abs_err
FROM cand c
LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
JOIN sizes sa ON c.doc_a = sa.doc
JOIN sizes sb ON c.doc_b = sb.doc
"""


LLM_ORACLES["minhash_accuracy_eval"] = _minhash_accuracy_oracle_sql()


def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID acceptance gate: confusion matrix of the heuristic
    predictor against the labeled ``lang`` column, with per-actual-lang
    recall — the QA step before trusting lang_id_heuristic to route a
    multilingual corpus (the langid twin of centroid_classify's
    label-QA confusion matrix).

    One projection (the stopword hit counts) + one tiny groupBy on the
    (actual, predicted) pair; recall derives from a broadcast per-lang
    total. All counts exact; recall is the one rounded float.
    """
    pred = text.lang_id(_docs(spark, sf_dir), text_col="text")
    matrix = pred.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    totals = pred.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_actual")
    )
    return matrix.join(F.broadcast(totals), "lang").select(
        "lang", "lang_pred", "n", "n_actual",
        F.round(F.col("n") / F.col("n_actual").cast("double"), 6).alias("share"),
    )


LLM_QUERIES["lang_id_confusion"] = q_lang_id_confusion

LLM_ORACLES["lang_id_confusion"] = r"""
WITH hits AS (
    SELECT doc_id, lang,
           len(regexp_extract_all(lower(text), '\b(the|and|is|of|to|in|that|it)\b')) AS h_en,
           len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|nicht|ein|zu)\b')) AS h_de,
           len(regexp_extract_all(lower(text), '\b(le|la|et|les|des|est|une|que)\b')) AS h_fr,
           len(regexp_extract_all(lower(text), '\b(el|la|los|las|es|una|que|para)\b')) AS h_es
    FROM documents
), pred AS (
    SELECT doc_id, lang,
           CASE WHEN h_en = best AND best > 0 THEN 'en'
                WHEN h_de = best AND best > 0 THEN 'de'
                WHEN h_fr = best AND best > 0 THEN 'fr'
                WHEN h_es = best AND best > 0 THEN 'es'
                ELSE 'und' END AS lang_pred
    FROM (SELECT *, greatest(h_en, h_de, h_fr, h_es) AS best FROM hits)
), matrix AS (
    SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
    FROM pred GROUP BY 1, 2
), totals AS (
    SELECT lang, CAST(count(*) AS BIGINT) AS n_actual FROM pred GROUP BY 1
)
SELECT m.lang, m.lang_pred, m.n, t.n_actual,
       round(m.n / CAST(t.n_actual AS DOUBLE), 6) AS share
FROM matrix m JOIN totals t ON m.lang = t.lang
"""


def q_token_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the token distributions of two
    corpus halves (doc_id parity stands in for crawl A vs crawl B) —
    the distribution-shift monitor for text intake, the token-level twin
    of psi_drift_daily's numeric PSI.

    Add-one smoothing over the shared vocabulary keeps both
    distributions strictly positive; counts are exact integers and each
    token's JS term is rounded then DECIMAL-summed so the reduction is
    order-independent (ln's last-ulp is the only cross-engine freedom,
    buried 9 digits below the rounding scale). One shuffle on the token
    key (Zipf head handled by AQE skew split), single-row output.
    """
    docs = _docs(spark, sf_dir)
    words = text.norm_words("text")
    tok = docs.select((F.col("doc_id") % 2).alias("half"), F.explode(words).alias("w"))
    counts = tok.groupBy("w").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("bigint").alias("ca"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("bigint").alias("cb"),
    )
    totals = counts.agg(
        F.count(F.lit(1)).cast("bigint").alias("v"),
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    j = counts.crossJoin(F.broadcast(totals))
    p = (F.col("ca") + 1).cast("double") / (F.col("na") + F.col("v")).cast("double")
    q = (F.col("cb") + 1).cast("double") / (F.col("nb") + F.col("v")).cast("double")
    m = (p + q) / F.lit(2.0)
    term = (
        F.lit(0.5) * p * F.log(p / m) + F.lit(0.5) * q * F.log(q / m)
    )
    return j.agg(
        F.first("v").alias("vocab"),
        F.first("na").alias("tokens_a"),
        F.first("nb").alias("tokens_b"),
        F.round(
            F.sum(F.round(term, 12).cast("decimal(24,12)")).cast("double"), 6
        ).alias("js_divergence"),
    )


LLM_QUERIES["token_js_divergence"] = q_token_js_divergence

LLM_ORACLES["token_js_divergence"] = r"""
WITH tok AS (
    SELECT doc_id % 2 AS half,
           unnest(list_filter(
               string_split_regex(
                   lower(regexp_replace(text, '[^A-Za-z0-9\s]', ' ', 'g')),
                   '\s+'),
               w -> w <> '')) AS w
    FROM documents
), counts AS (
    SELECT w,
           CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
           CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
    FROM tok GROUP BY 1
), totals AS (
    SELECT CAST(count(*) AS BIGINT) AS v,
           CAST(sum(ca) AS BIGINT) AS na,
           CAST(sum(cb) AS BIGINT) AS nb
    FROM counts
), terms AS (
    SELECT t.v, t.na, t.nb,
           CAST(round(
               0.5 * ((ca + 1) / CAST(na + v AS DOUBLE))
                   * ln(((ca + 1) / CAST(na + v AS DOUBLE))
                        / (((ca + 1) / CAST(na + v AS DOUBLE)
                            + (cb + 1) / CAST(nb + v AS DOUBLE)) / 2.0))
             + 0.5 * ((cb + 1) / CAST(nb + v AS DOUBLE))
                   * ln(((cb + 1) / CAST(nb + v AS DOUBLE))
                        / (((ca + 1) / CAST(na + v AS DOUBLE)
                            + (cb + 1) / CAST(nb + v AS DOUBLE)) / 2.0)),
               12) AS DECIMAL(24,12)) AS term
    FROM counts c CROSS JOIN totals t
)
SELECT min(v) AS vocab, min(na) AS tokens_a, min(nb) AS tokens_b,
       round(CAST(sum(term) AS DOUBLE), 6) AS js_divergence
FROM terms
"""


BM25_TERMS = ("data", "model", "system", "time")
BM25_K1, BM25_B, BM25_TOPK = 1.2, 0.75, 15


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval over the corpus for a fixed term query — the
    lexical search scoring every corpus tool needs (dedup triage,
    eval-set mining, "find documents about X" curation).

    Everything before the score is exact integers: per-doc term
    frequencies (only query terms survive the filter, so the shuffle
    carries |docs| x |query| rows at most), document frequencies, and
    token lengths; N and avgdl ride a broadcast 1-row aggregate. The
    Robertson idf and tf saturation are identical IEEE expressions in
    both engines; top-k is TakeOrdered on (score desc, doc_id) — never
    a global sort.
    """
    docs = _docs(spark, sf_dir)
    words = text.norm_words("text")
    tok = docs.select("doc_id", words.alias("ws")).select(
        "doc_id", F.size("ws").cast("bigint").alias("dl"), F.explode("ws").alias("w")
    )
    hits = tok.filter(F.col("w").isin(*BM25_TERMS))
    tf = hits.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf"),
        F.first("dl").alias("dl"),
    )
    df_t = tf.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    totals = docs.select("doc_id", words.alias("ws")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size("ws")).cast("bigint").alias("total_len"),
    )
    j = tf.join(F.broadcast(df_t), "w").crossJoin(F.broadcast(totals))
    avgdl = F.col("total_len").cast("double") / F.col("n_docs")
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    sat = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / avgdl)
    )
    scored = j.select("doc_id", (idf * sat).alias("term_score"))
    agg = scored.groupBy("doc_id").agg(
        F.sum("term_score").alias("score"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
    )
    return (
        agg.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(BM25_TOPK)
        .select("doc_id", "n_terms_hit", F.round("score", 6).alias("score"))
    )


LLM_QUERIES["bm25_topk"] = q_bm25_topk

LLM_ORACLES["bm25_topk"] = rf"""
WITH base AS (
    SELECT doc_id,
           list_filter(
               string_split_regex(
                   lower(regexp_replace(text, '[^A-Za-z0-9\s]', ' ', 'g')),
                   '\s+'),
               w -> w <> '') AS ws
    FROM documents
), tok AS (
    SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, unnest(ws) AS w FROM base
), tf AS (
    SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf, min(dl) AS dl
    FROM tok WHERE w IN {BM25_TERMS!r}
    GROUP BY 1, 2
), df_t AS (
    SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
), totals AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(ws)) AS BIGINT) AS total_len
    FROM base
), scored AS (
    SELECT tf.doc_id,
           ln((t.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * (tf.tf * ({BM25_K1} + 1))
             / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                + {BM25_B} * tf.dl / (CAST(t.total_len AS DOUBLE) / t.n_docs)))
               AS term_score
    FROM tf JOIN df_t d ON tf.w = d.w CROSS JOIN totals t
), agg AS (
    SELECT doc_id, sum(term_score) AS score,
           CAST(count(*) AS BIGINT) AS n_terms_hit
    FROM scored GROUP BY 1
)
SELECT doc_id, n_terms_hit, round(score, 6) AS score
FROM agg ORDER BY score DESC, doc_id ASC LIMIT {BM25_TOPK}
"""


RRF_K, RRF_LIST, RRF_OUT = 60, 20, 10


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrievers over the same query set:
    the exact-cosine ranking and the 8-d random-projection (compressed)
    ranking, fused as Σ 1/(RRF_K + rank) — the standard hybrid-search
    combiner (in production the second list is typically the BM25
    lexical ranking; here both retrievers are self-contained over the
    embeddings table so the whole fusion stays value-hash oracled).

    Ranks come from per-query row_number windows over deterministic
    scores (exact integer dots for the compressed side); the fusion is
    a full outer join of two top-RRF_LIST lists — cost bounded by
    queries x list length, independent of corpus size once the
    retrievers have pruned.
    """
    from pyspark.sql import Window

    e = _emb(spark, sf_dir)
    cos = similarity.cosine_topk(
        e, e.filter(F.col("vec_id") < N_QUERY_VECS),
        id_col="vec_id", vec_col="embedding",
        query_id_col="vec_id", query_vec_col="embedding", k=RRF_LIST, dim=64,
    ).select("query_id", "neighbor_id", F.col("rank").alias("r1"))

    # compressed retriever (r13 rewrite): the corpus side's 8 integer RP
    # projections come from the shared Arrow kernel (one pass, no
    # interpreted folds, no persist barrier); the QUERY side is 5 rows
    # by construction, so its projections are computed on the driver
    # with the same numpy kernel and shipped as a local relation — the
    # kernel never runs twice and the 5-row parquet read happens once
    # at build. Scoring is 8 scalar bigint products per pair — pure
    # whole-stage codegen, exact integer arithmetic (identical values
    # to the folds it replaces, in any order).
    import numpy as np

    from pygeoapi_ingestor_spark.operators.similarity import (
        quantize_int8_np,
        stack_vectors,
    )

    pa = _rp_proj_frame(spark, sf_dir).select(
        F.col("vec_id").alias("neighbor_id"),
        *[F.col(f"p{p}") for p in range(RP_PLANES)],
    )
    qrows = (
        e.filter(F.col("vec_id") < N_QUERY_VECS)
        .select("vec_id", "embedding")
        .collect()
    )
    ok, qv = stack_vectors([r[1] for r in qrows], EMB_DIM)
    w_np = np.array(
        similarity.md5_plane_weights(EMB_DIM, RP_PLANES, seed=11),
        dtype=np.int64,
    )
    qp = quantize_int8_np(qv)[0] @ w_np.T
    qids = [int(r[0]) for r, o in zip(qrows, ok) if o]
    pq = local_table(
        spark,
        [(qid, *[int(x) for x in qp[i]]) for i, qid in enumerate(qids)],
        "query_id bigint, " + ", ".join(
            f"q{p} bigint" for p in range(RP_PLANES)
        ),
    )
    dot = None
    na = None
    nb = None
    for p in range(RP_PLANES):
        d_t = F.col(f"p{p}") * F.col(f"q{p}")
        a_t = F.col(f"p{p}") * F.col(f"p{p}")
        b_t = F.col(f"q{p}") * F.col(f"q{p}")
        dot = d_t if dot is None else dot + d_t
        na = a_t if na is None else na + a_t
        nb = b_t if nb is None else nb + b_t
    scored = (
        pa.crossJoin(F.broadcast(pq))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("_d", dot)
        .withColumn("_na", na)
        .withColumn("_nb", nb)
        .filter((F.col("_na") > 0) & (F.col("_nb") > 0))
        .withColumn(
            "sim8",
            F.col("_d").cast("double")
            / (F.sqrt(F.col("_na").cast("double")) * F.sqrt(F.col("_nb").cast("double"))),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim8").desc(), F.col("neighbor_id").asc()
    )
    rp_rank = scored.withColumn("r2", F.row_number().over(w)).filter(
        F.col("r2") <= RRF_LIST
    ).select("query_id", "neighbor_id", "r2")

    fused = cos.join(rp_rank, ["query_id", "neighbor_id"], "full_outer").select(
        "query_id", "neighbor_id",
        (
            F.coalesce(1.0 / (F.lit(RRF_K) + F.col("r1")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("r2")), F.lit(0.0))
        ).alias("rrf"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("neighbor_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= RRF_OUT)
        .select(
            "query_id", "neighbor_id",
            F.round("rrf", 6).alias("rrf"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


LLM_QUERIES["rrf_fusion"] = q_rrf_fusion


def _rrf_oracle_sql() -> str:
    weights = similarity.md5_plane_weights(EMB_DIM, RP_PLANES, seed=11)

    def proj(p: int) -> str:
        terms = " + ".join(f"q[{d + 1}]*({int(weights[p][d])})" for d in range(EMB_DIM))
        return f"CAST({terms} AS BIGINT) AS p{p}"

    proj_sql = ", ".join(proj(p) for p in range(RP_PLANES))
    dot = " + ".join(f"a.p{p} * b.p{p}" for p in range(RP_PLANES))
    na = " + ".join(f"a.p{p} * a.p{p}" for p in range(RP_PLANES))
    nb = " + ".join(f"b.p{p} * b.p{p}" for p in range(RP_PLANES))
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cosq AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERY_VECS}),
cos_scored AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           list_dot_product(e.v, q.qv) /
               (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)))
               AS cosine
    FROM e CROSS JOIN cosq q WHERE e.vec_id <> q.query_id
),
cos_rank AS (
    SELECT query_id, neighbor_id, rnk AS r1 FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id ASC) AS rnk
        FROM cos_scored
    ) WHERE rnk <= {RRF_LIST}
),
scaled AS (
    SELECT vec_id,
           CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
                THEN list_max(list_transform(v, x -> abs(x))) ELSE 1.0 END AS s,
           v
    FROM e
),
quant AS (
    SELECT vec_id,
           list_transform(v, x -> CAST(round(x * 127.0 / s, 0) AS INTEGER)) AS q
    FROM scaled
),
proj AS (SELECT vec_id, {proj_sql} FROM quant),
rp_scored AS (
    SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
           CAST({dot} AS DOUBLE)
           / (sqrt(CAST({na} AS DOUBLE)) * sqrt(CAST({nb} AS DOUBLE))) AS sim8
    FROM proj a CROSS JOIN proj b
    WHERE b.vec_id < {N_QUERY_VECS} AND a.vec_id <> b.vec_id
      AND ({na}) > 0 AND ({nb}) > 0
),
rp_rank AS (
    SELECT query_id, neighbor_id, rnk AS r2 FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY sim8 DESC, neighbor_id ASC) AS rnk
        FROM rp_scored
    ) WHERE rnk <= {RRF_LIST}
),
fused AS (
    SELECT coalesce(c.query_id, r.query_id) AS query_id,
           coalesce(c.neighbor_id, r.neighbor_id) AS neighbor_id,
           coalesce(1.0 / ({RRF_K} + c.r1), 0.0)
           + coalesce(1.0 / ({RRF_K} + r.r2), 0.0) AS rrf
    FROM cos_rank c FULL OUTER JOIN rp_rank r
      ON c.query_id = r.query_id AND c.neighbor_id = r.neighbor_id
)
SELECT query_id, neighbor_id, round(rrf, 6) AS rrf, CAST(rnk AS INT) AS rank
FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY rrf DESC, neighbor_id ASC) AS rnk
    FROM fused
) WHERE rnk <= {RRF_OUT}
"""


LLM_ORACLES["rrf_fusion"] = _rrf_oracle_sql()


VOCAB_CUTS = (100, 1000)


def q_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the fraction of all token occurrences
    covered by the top-V word types, for each V in VOCAB_CUTS — the
    sizing diagnostic behind tokenizer/vocab decisions (how big must V
    be before OOV rate is acceptable), and a Zipf-sanity check on any
    new corpus.

    Counts are exact; the global frequency ranking runs through the
    bucketed distributed row_number (functions/ranks) over a constant
    group key — at vocabulary scale (millions of types) a plain
    window's single-partition sort is exactly the collapse that
    machinery exists to avoid. Ranks order by (-count, word), so ties
    are deterministic.
    """
    from pygeoapi_ingestor_spark.functions import ranks

    docs = _docs(spark, sf_dir)
    words = text.norm_words("text")
    counts = (
        docs.select(F.explode(words).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .withColumn("_g", F.lit(0))
        .withColumn("neg", -F.col("cnt"))
    )
    ranked = ranks.bucketed_row_number(
        counts, ["_g"], "neg", ["w"], out_col="rn", count_col="n_types"
    )
    cuts = ranked.select(
        "cnt", "rn", "n_types",
        F.explode(F.array(*[F.lit(v) for v in VOCAB_CUTS])).alias("v"),
    )
    total = counts.agg(F.sum("cnt").cast("bigint").alias("total"))
    agg = cuts.groupBy("v").agg(
        F.first("n_types").cast("bigint").alias("n_types"),
        F.sum(F.when(F.col("rn") <= F.col("v"), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("covered"),
    )
    return agg.crossJoin(F.broadcast(total)).select(
        F.col("v").cast("int").alias("v"),
        "n_types",
        "covered",
        "total",
        F.round(F.col("covered") / F.col("total").cast("double"), 6).alias("coverage"),
    )


LLM_QUERIES["vocab_coverage_curve"] = q_vocab_coverage_curve

LLM_ORACLES["vocab_coverage_curve"] = rf"""
WITH tok AS (
    SELECT unnest(list_filter(
               string_split_regex(
                   lower(regexp_replace(text, '[^A-Za-z0-9\s]', ' ', 'g')),
                   '\s+'),
               w -> w <> '')) AS w
    FROM documents
), counts AS (
    SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1
), ranked AS (
    SELECT cnt,
           row_number() OVER (ORDER BY cnt DESC, w ASC) AS rn,
           count(*) OVER () AS n_types
    FROM counts
), total AS (
    SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts
)
SELECT CAST(v.v AS INT) AS v,
       CAST(min(n_types) AS BIGINT) AS n_types,
       CAST(sum(CASE WHEN rn <= v.v THEN cnt ELSE 0 END) AS BIGINT) AS covered,
       min(t.total) AS total,
       round(sum(CASE WHEN rn <= v.v THEN cnt ELSE 0 END)
             / CAST(min(t.total) AS DOUBLE), 6) AS coverage
FROM ranked CROSS JOIN (VALUES {", ".join(f"({v})" for v in VOCAB_CUTS)}) v(v)
CROSS JOIN total t
GROUP BY v.v
"""


TRIPLET_ANCHORS = 25


def q_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training triplet mining over the labeled embedding
    table: for each anchor, the HARDEST NEGATIVE (most-similar vector
    with a different label) and the EASIEST POSITIVE (least-similar
    vector sharing the label), plus the triplet margin — the batch
    miner that feeds metric-learning / embedding-finetune pipelines,
    and a labeling-QA signal (negative margins = label noise).

    Anchors collect to the driver (bounded sample, the
    `cosine_topk_scan` precedent) and ONE Arrow kernel scores each
    corpus batch against the anchor matrix with the same sequential
    left-fold accumulation the zip_with/aggregate expressions used
    (`seq_dot_row`/`seq_norm` — bit-identical cosines), emitting one
    batch-local extreme pair per anchor; the JVM combines partials with
    the same max/min STRUCT aggregates as before (extremes are a
    monoid, so partial-then-final equals the old all-rows aggregate
    exactly). Edge rows follow the kernel harness
    (``similarity.stack_vectors``): malformed vectors and zero-norm
    pairs drop from rankings, a NaN cosine ranks above every number as
    in the oracle; and NULL labels are excluded from both the negative
    and positive candidate sets, matching the three-valued logic of the
    replaced ``F.when(c_label != a_label)`` / ``(c_label == a_label)``
    JVM expressions (a NULL-label anchor emits nothing).
    """
    from pygeoapi_ingestor_spark.operators.similarity import (
        cosine_scores,
        empty_batch,
        seq_dot_row,
        seq_norm,
        stack_vectors,
        topk_order,
    )
    from pygeoapi_ingestor_spark.session import ensure_package_on_executors

    ensure_package_on_executors(spark)
    e = _emb(spark, sf_dir)
    arows = (
        e.filter(F.col("vec_id") < TRIPLET_ANCHORS)
        .select("vec_id", "embedding", "label")
        .collect()
    )
    ok, am = stack_vectors([r[1] for r in arows], EMB_DIM)
    arows = [r for r, o in zip(arows, ok) if o]
    aids = [int(r[0]) for r in arows]
    albl = [r[2] for r in arows]
    bc = spark.sparkContext.broadcast((aids, albl, am, seq_norm(am)))
    lbl_t = dict(e.dtypes)["label"]
    schema = (
        f"anchor_id bigint, a_label {lbl_t}, hn_cos double, "
        "hn_nid bigint, ep_cos double, ep_pid bigint"
    )

    def extremes(batches):
        import numpy as np
        import pandas as pd

        aids_, albl_, am_, an_ = bc.value
        for pdf in batches:
            ok, vm = stack_vectors(pdf["c_vec"], EMB_DIM)
            if not len(aids_) or not len(vm):
                yield empty_batch(schema)
                continue
            ids = pdf["cand_id"].to_numpy()[ok]
            lbl = pdf["c_label"].to_numpy()[ok]
            # NULL-label candidates never match either side of the old
            # three-valued F.when comparisons — mask them up front
            lbl_ok = ~pd.isnull(lbl)
            nrm = seq_norm(vm)
            out = {c: [] for c in ("anchor_id", "a_label", "hn_cos",
                                   "hn_nid", "ep_cos", "ep_pid")}
            for j, aid in enumerate(aids_):
                if pd.isnull(albl_[j]):
                    # NULL-label anchor: both label comparisons are
                    # NULL under 3VL — no candidates on either side
                    continue
                cos, keep = cosine_scores(seq_dot_row(vm, am_[j]), nrm * an_[j])
                sel = (ids != aid) & lbl_ok & keep
                neg = np.nonzero(sel & (lbl != albl_[j]))[0]
                pos = np.nonzero(sel & (lbl == albl_[j]))[0]
                if not len(neg) and not len(pos):
                    continue
                hn_c = hn_i = ep_c = ep_i = None
                if len(neg):
                    # max cosine, lowest id on ties
                    w = neg[topk_order(ids[neg], cos[neg], 1)[0]]
                    hn_c, hn_i = cos[w], int(ids[w])
                if len(pos):
                    # min cosine, lowest id on ties
                    w = pos[topk_order(ids[pos], cos[pos], 1, desc=False)[0]]
                    ep_c, ep_i = cos[w], int(ids[w])
                for c, v in zip(out, (aid, albl_[j], hn_c, hn_i, ep_c, ep_i)):
                    out[c].append(v)
            yield pd.DataFrame(out)

    partials = e.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_vec"),
        F.col("label").alias("c_label"),
    ).mapInPandas(extremes, schema=schema)
    # the Arrow boundary turns a NaN cosine into NULL: restore it where
    # the pair exists, so NaN orders above every cosine as in the oracle
    for c, i in (("hn_cos", "hn_nid"), ("ep_cos", "ep_pid")):
        partials = partials.withColumn(
            c, F.when(F.col(i).isNotNull(), F.coalesce(c, F.lit(float("nan"))))
        )
    agg = partials.groupBy("anchor_id", "a_label").agg(
        F.max(
            F.when(
                F.col("hn_cos").isNotNull() | F.col("hn_nid").isNotNull(),
                F.struct(F.col("hn_cos").alias("cosine"), (-F.col("hn_nid")).alias("nid")),
            )
        ).alias("hn"),
        F.min(
            F.when(
                F.col("ep_cos").isNotNull() | F.col("ep_pid").isNotNull(),
                F.struct(F.col("ep_cos").alias("cosine"), F.col("ep_pid").alias("pid")),
            )
        ).alias("ep"),
    )
    # a training triplet needs BOTH a positive and a negative: anchors
    # with a singleton label (no positive) or a corpus-wide label (no
    # negative) drop out — the oracle's inner joins do the same
    agg = agg.filter(F.col("hn").isNotNull() & F.col("ep").isNotNull())
    return agg.select(
        "anchor_id",
        F.col("a_label").alias("label"),
        (-F.col("hn.nid")).cast("bigint").alias("hardest_neg_id"),
        F.round("hn.cosine", 6).alias("hardest_neg_cos"),
        F.col("ep.pid").cast("bigint").alias("easiest_pos_id"),
        F.round("ep.cosine", 6).alias("easiest_pos_cos"),
        F.round(F.col("ep.cosine") - F.col("hn.cosine"), 6).alias("margin"),
    )


LLM_QUERIES["triplet_mining"] = q_triplet_mining

# extremes mirror the struct orderings exactly: hardest negative =
# lexicographically max (cosine, -id) over different-label candidates
# (greatest cosine, smallest id on ties); easiest positive = min
# (cosine, id) over same-label candidates
LLM_ORACLES["triplet_mining"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
anchors AS (
    SELECT vec_id AS anchor_id, v AS a_vec, label AS a_label
    FROM e WHERE vec_id < {TRIPLET_ANCHORS}
), scored AS (
    SELECT a.anchor_id, a.a_label, c.vec_id AS cand_id, c.label AS c_label,
           list_dot_product(c.v, a.a_vec)
           / (sqrt(list_dot_product(c.v, c.v))
              * sqrt(list_dot_product(a.a_vec, a.a_vec))) AS cosine
    FROM e c CROSS JOIN anchors a
    WHERE c.vec_id <> a.anchor_id
), hn AS (
    SELECT anchor_id, cand_id, cosine FROM (
        SELECT *, row_number() OVER (PARTITION BY anchor_id
                      ORDER BY cosine DESC, cand_id ASC) AS rn
        FROM scored WHERE c_label <> a_label
    ) WHERE rn = 1
), ep AS (
    SELECT anchor_id, cand_id, cosine FROM (
        SELECT *, row_number() OVER (PARTITION BY anchor_id
                      ORDER BY cosine ASC, cand_id ASC) AS rn
        FROM scored WHERE c_label = a_label
    ) WHERE rn = 1
)
SELECT a.anchor_id, a.a_label AS label,
       CAST(h.cand_id AS BIGINT) AS hardest_neg_id,
       round(h.cosine, 6) AS hardest_neg_cos,
       CAST(p.cand_id AS BIGINT) AS easiest_pos_id,
       round(p.cosine, 6) AS easiest_pos_cos,
       round(p.cosine - h.cosine, 6) AS margin
FROM (SELECT DISTINCT anchor_id, a_label FROM scored) a
JOIN hn h ON a.anchor_id = h.anchor_id
JOIN ep p ON a.anchor_id = p.anchor_id
"""


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card: the one-row-per-source summary a corpus
    release ships (docs, token totals/means, English share by the
    heuristic langid, exact-dup rate) — the stats block of a HF-style
    dataset card, assembled in ONE pass per signal family and joined on
    the tiny source key.

    Each input signal reuses the audited operator arithmetic (token
    counts, lang_id argmax, fingerprint groups); counts exact, the
    three ratios are the only floats.
    """
    docs = _docs(spark, sf_dir)
    counted = text.token_counts(docs, text_col="text")
    pred = text.lang_id(docs, text_col="text")
    fp = text.fingerprint(docs, text_col="text")
    fp_sizes = fp.groupBy("fingerprint").agg(
        F.count(F.lit(1)).cast("bigint").alias("fp_n")
    )
    base = counted.select("doc_id", "source", "ws_tokens").join(
        pred.select("doc_id", "lang_pred"), "doc_id"
    ).join(
        fp.select("doc_id", "fingerprint").join(fp_sizes, "fingerprint"),
        "doc_id",
    )
    return base.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("ws_tokens").cast("bigint").alias("total_tokens"),
        F.round(
            F.sum("ws_tokens").cast("double") / F.count(F.lit(1)), 4
        ).alias("mean_tokens"),
        F.round(
            F.sum(F.when(F.col("lang_pred") == "en", 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("en_share"),
        F.round(
            F.sum(F.when(F.col("fp_n") > 1, 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("dup_rate"),
    )


LLM_QUERIES["dataset_card"] = q_dataset_card

LLM_ORACLES["dataset_card"] = r"""
WITH counted AS (
    SELECT doc_id, source,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws_tokens
    FROM documents
), hits AS (
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '\b(the|and|is|of|to|in|that|it)\b')) AS h_en,
           len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|nicht|ein|zu)\b')) AS h_de,
           len(regexp_extract_all(lower(text), '\b(le|la|et|les|des|est|une|que)\b')) AS h_fr,
           len(regexp_extract_all(lower(text), '\b(el|la|los|las|es|una|que|para)\b')) AS h_es
    FROM documents
), pred AS (
    SELECT doc_id,
           CASE WHEN h_en = best AND best > 0 THEN 'en'
                WHEN h_de = best AND best > 0 THEN 'de'
                WHEN h_fr = best AND best > 0 THEN 'fr'
                WHEN h_es = best AND best > 0 THEN 'es'
                ELSE 'und' END AS lang_pred
    FROM (SELECT *, greatest(h_en, h_de, h_fr, h_es) AS best FROM hits)
), fp AS (
    SELECT doc_id,
           md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint
    FROM documents
), fps AS (
    SELECT fingerprint, CAST(count(*) AS BIGINT) AS fp_n FROM fp GROUP BY 1
)
SELECT c.source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(c.ws_tokens) AS BIGINT) AS total_tokens,
       round(CAST(sum(c.ws_tokens) AS DOUBLE) / count(*), 4) AS mean_tokens,
       round(sum(CASE WHEN p.lang_pred = 'en' THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS en_share,
       round(sum(CASE WHEN s.fp_n > 1 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS dup_rate
FROM counted c
JOIN pred p ON c.doc_id = p.doc_id
JOIN fp f ON c.doc_id = f.doc_id
JOIN fps s ON f.fingerprint = s.fingerprint
GROUP BY 1
"""


PMI_MIN_COUNT, PMI_TOPK = 5, 20


def q_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-k adjacent word pairs by pointwise mutual
    information, min-count filtered — the phrase detector
    (word2vec-style "new_york" merging) and the lexical sibling of
    lift_cooccurrence's basket lift.

    PMI = ln(N·c_ab / (c_a·c_b)) over exact integer counts (adjacency
    pairs built inside the token array, unigrams from one explode), so
    the only float is a single deterministic ln per surviving pair.
    Min-count prunes the Zipf tail BEFORE the unigram joins; top-k is
    TakeOrdered on (pmi, pair) — no global sort.

    r14 (guide §2.4): the adjacency pairs previously came from
    posexplode + a lead window that shuffled every token occurrence on
    doc; they are now a transform over the token array's start indices
    (identical pairs, identical counts — the bigram_lm_score/shingles
    rewrite), and the total-token count folds to sum(size(words)) — a
    pure scan aggregate. Zero exchanges before the count aggregations.
    """
    from pygeoapi_ingestor_spark.session import spread_if_narrow

    docs = _docs(spark, sf_dir)
    words = text.norm_words("text")
    toks = spread_if_narrow(
        docs.select(F.col("doc_id").alias("doc"), "text")
    ).select("doc", words.alias("_ws"))
    uni = toks.select(F.explode("_ws").alias("w1")).groupBy("w1").agg(
        F.count(F.lit(1)).cast("bigint").alias("c1")
    )
    n_tok = toks.agg(
        F.coalesce(F.sum(F.size("_ws").cast("bigint")), F.lit(0))
        .cast("bigint").alias("n")
    )
    pairs = (
        toks.select(
            # same arrays_zip-of-shifted-slices pair build as
            # q_bigram_lm_score — native array ops, no per-element
            # lambda interpretation
            F.explode(
                F.arrays_zip(
                    F.slice(
                        F.col("_ws"), 1,
                        F.greatest(F.size("_ws") - 1, F.lit(0)),
                    ),
                    F.slice(
                        F.col("_ws"), 2,
                        F.greatest(F.size("_ws") - 1, F.lit(0)),
                    ),
                )
            ).alias("_p")
        )
        .select(
            F.col("_p").getField("0").alias("w1"),
            F.col("_p").getField("1").alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cab"))
        .filter(F.col("cab") >= PMI_MIN_COUNT)
    )
    ub = uni.select(F.col("w1").alias("w2"), F.col("c1").alias("c2"))
    scored = (
        pairs.join(uni, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(n_tok))
        .withColumn(
            "pmi",
            F.log(
                F.col("n").cast("double") * F.col("cab")
                / (F.col("c1").cast("double") * F.col("c2"))
            ),
        )
    )
    return (
        scored.orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(PMI_TOPK)
        .select("w1", "w2", "cab", "c1", "c2", F.round("pmi", 6).alias("pmi"))
    )


LLM_QUERIES["cooccurrence_pmi"] = q_cooccurrence_pmi

LLM_ORACLES["cooccurrence_pmi"] = rf"""
WITH words_t AS (
    SELECT doc_id,
           list_filter(
               string_split_regex(
                   lower(regexp_replace(text, '[^A-Za-z0-9\s]', ' ', 'g')),
                   '\s+'),
               w -> w <> '') AS ws
    FROM documents
), tok AS (
    SELECT doc_id AS doc, unnest(ws) AS w1,
           generate_subscripts(ws, 1) AS pos
    FROM words_t
), uni AS (
    SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM tok GROUP BY 1
), n_tok AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
pairs AS (
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS cab FROM (
        SELECT doc, w1,
               lead(w1) OVER (PARTITION BY doc ORDER BY pos) AS w2
        FROM tok
    ) WHERE w2 IS NOT NULL
    GROUP BY 1, 2
    HAVING count(*) >= {PMI_MIN_COUNT}
)
SELECT p.w1, p.w2, p.cab, u1.c1, u2.c1 AS c2,
       round(ln(CAST(t.n AS DOUBLE) * p.cab
                / (CAST(u1.c1 AS DOUBLE) * u2.c1)), 6) AS pmi
FROM pairs p
JOIN uni u1 ON p.w1 = u1.w1
JOIN uni u2 ON p.w2 = u2.w1
CROSS JOIN n_tok t
ORDER BY ln(CAST(t.n AS DOUBLE) * p.cab / (CAST(u1.c1 AS DOUBLE) * u2.c1)) DESC,
         p.w1 ASC, p.w2 ASC
LIMIT {PMI_TOPK}
"""


KNN_OUT_K, KNN_OUT_TOP = 5, 20


def q_embedding_knn_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-distance outliers in embedding space: each vector's mean
    cosine distance to its KNN_OUT_K nearest neighbors (EXACT, all
    pairs), top KNN_OUT_TOP reported — the "these embeddings are
    off-manifold" screen that catches mislabeled, corrupted, or
    out-of-domain items before they poison curation (the unsupervised
    sibling of triplet_mining's label-based margins).

    Scale lessons baked in (r10-r13): the interpreted 64-d array fold
    ran 61s at sf0.1; an 8/24-plane RP prefilter recovered only half
    the true top outliers on near-uniform embeddings (measured, then
    rejected); the r12 unpacked-64-scalar-column codegen formulation
    hit ~2s warm but paid a ~25s fresh-session whole-stage-codegen
    (janino) compile on the 64-wide generated methods — the r12 bench
    artifact's biggest cross-session variance item. This formulation is
    the Arrow-batched numpy kernel instead: the corpus matrix (this
    EXACT all-pairs twin is acceptance-scale by contract — the sf1+
    path is knn_outliers_ivf) broadcasts once, ONE mapInPandas pass
    scores each batch block against it with the sequential seq_*
    kernels (bit-identical to the scalar chain and the oracle's
    left-fold), and each row's kNN mean emits directly — no crossJoin
    shuffle, no window, no persist, no generated code to compile.
    """
    import numpy as np

    from pygeoapi_ingestor_spark.operators.similarity import (
        cosine_scores,
        empty_batch,
        seq_dot_pair,
        seq_norm,
        stack_vectors,
        topk_order,
    )
    from pygeoapi_ingestor_spark.session import (
        ensure_package_on_executors,
        spread_if_narrow,
    )

    ensure_package_on_executors(spark)
    e = _emb(spark, sf_dir)
    rows = e.select("vec_id", "embedding").collect()
    ok, all_vm = stack_vectors([r[1] for r in rows], EMB_DIM)
    all_ids = np.asarray([r[0] for r, o in zip(rows, ok) if o], dtype=np.int64)
    order = np.argsort(all_ids)
    all_ids, all_vm = all_ids[order], all_vm[order]
    bc = spark.sparkContext.broadcast((all_ids, all_vm, seq_norm(all_vm)))
    id_t = dict(e.dtypes)["vec_id"]
    schema = f"vec_id {id_t}, knn_dist double"

    def knn_mean(batches):
        import numpy as np
        import pandas as pd

        ids_, vm_, nrm_ = bc.value
        for pdf in batches:
            ok, am = stack_vectors(pdf["embedding"], EMB_DIM)
            if not len(am) or not len(ids_):
                yield empty_batch(schema)
                continue
            a_ids = pdf["vec_id"].to_numpy()[ok]
            an = seq_norm(am)
            out_i, out_d = [], []
            block = max(1, 4_194_304 // len(ids_))
            for s in range(0, len(am), block):
                cos, keep = cosine_scores(
                    seq_dot_pair(am[s : s + block], vm_),
                    an[s : s + block, None] * nrm_[None, :],
                )
                for i in range(len(cos)):
                    row_id = a_ids[s + i]
                    cand = np.nonzero(keep[i] & (ids_ != row_id))[0]
                    if not len(cand):
                        continue
                    # neighbor rank = (dist asc, ib asc), the window's
                    # tie-break; then the ascending-rank sequential sum
                    # from 0.0 — the oracle's ordered-list aggregate
                    dist = 1.0 - cos[i][cand]
                    knn = dist[topk_order(ids_[cand], dist, KNN_OUT_K, desc=False)]
                    acc = 0.0
                    for d in knn:
                        acc = acc + d
                    out_i.append(row_id)
                    out_d.append(acc / len(knn))
            yield pd.DataFrame({"vec_id": out_i, "knn_dist": out_d})

    scored = spread_if_narrow(e.select("vec_id", "embedding")).mapInPandas(
        knn_mean, schema=schema
    )
    # the kernel emits no NULL distance: a NULL is a NaN the Arrow
    # boundary masked, restored so it orders first as in the oracle
    knn_dist = F.coalesce("knn_dist", F.lit(float("nan")))
    return (
        scored.orderBy(knn_dist.desc(), F.col("vec_id").asc())
        .limit(KNN_OUT_TOP)
        .select("vec_id", F.round(knn_dist, 6).alias("knn_dist"))
    )


LLM_QUERIES["embedding_knn_outliers"] = q_embedding_knn_outliers


def _knn_outlier_oracle_sql() -> str:
    """Brute-force twin: identical scalar-arithmetic cosine (the
    component sums associate left-to-right in ascending index order in
    both engines), (dist, id) neighbor ranking, neighbors averaged in
    ascending rank order."""
    dot = " + ".join(f"a.v[{i + 1}] * b.v[{i + 1}]" for i in range(EMB_DIM))
    nrm = " + ".join(f"v[{i + 1}] * v[{i + 1}]" for i in range(EMB_DIM))
    return f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           sqrt({nrm}) AS nrm
    FROM embeddings
), pairs AS (
    SELECT a.vec_id AS ia, b.vec_id AS ib,
           1.0 - ({dot}) / (a.nrm * b.nrm) AS dist
    FROM e a CROSS JOIN e b WHERE a.vec_id <> b.vec_id
), ranked AS (
    SELECT ia, dist,
           row_number() OVER (PARTITION BY ia ORDER BY dist, ib) AS rn
    FROM pairs
), knn AS (
    SELECT ia AS vec_id, list(dist ORDER BY rn) AS ds
    FROM ranked WHERE rn <= {KNN_OUT_K}
    GROUP BY ia
)
SELECT vec_id,
       round(list_aggregate(ds, 'sum') / len(ds), 6) AS knn_dist
FROM knn
ORDER BY list_aggregate(ds, 'sum') / len(ds) DESC, vec_id ASC
LIMIT {KNN_OUT_TOP}
"""


LLM_ORACLES["embedding_knn_outliers"] = _knn_outlier_oracle_sql()


KNN_IVF_CLUSTERS, KNN_IVF_PROBE = 32, 8


def _ivf_n_clusters(n: int) -> int:
    """IVF list count that actually holds the n^1.5 promise: ceil(sqrt
    (n)) clusters, floored at the original 32. With the cluster count
    PINNED, candidate work is n^2/c — the r9 sf3 scale point measured
    the bend (5.4x cost for 3x data); with c = sqrt(n) both the assign
    pass (n*c dots) and the list scoring (n^2*probe/c) are ~n^1.5.
    The oracle mirrors the formula via
    ``LIMIT (SELECT greatest(32, ceil(sqrt(count(*)))) ...)`` — ceil of
    an IEEE sqrt is identical in both engines (no round-half ambiguity),
    so the centroid set stays bit-identical."""
    import math

    return max(KNN_IVF_CLUSTERS, math.ceil(math.sqrt(n)))


_IVF_CENT_LIMIT_SQL = (
    f"(SELECT CAST(greatest({KNN_IVF_CLUSTERS}, ceil(sqrt(count(*)))) "
    "AS BIGINT) FROM ivf_e)"
)


def q_knn_outliers_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe kNN-distance outlier screen: the IVF candidate-list
    variant embedding_knn_outliers' docstring promises — mean cosine
    distance to the k nearest vectors among the n_probe nearest
    inverted lists, no all-pairs pass anywhere (candidate work is
    n²·probe/clusters ≈ n^1.5 with √n clusters; one cluster-keyed
    equi-join instead of a crossJoin). The exact pass stays beside it
    as the small-scale oracle twin; knn_outliers_recall measures their
    top-N agreement."""
    e = _emb(spark, sf_dir)
    out = similarity.ivf_knn_outliers(
        e, id_col="vec_id", vec_col="embedding",
        dim=EMB_DIM, k=KNN_OUT_K, n_clusters=_ivf_n_clusters(e.count()),
        n_probe=KNN_IVF_PROBE, top_n=KNN_OUT_TOP,
    )
    return out.select("vec_id", F.round("knn_dist", 6).alias("knn_dist"))


LLM_QUERIES["knn_outliers_ivf"] = q_knn_outliers_ivf


def _knn_ivf_cte(probe_pred: str = "TRUE") -> str:
    """Shared oracle CTE chain for the IVF kNN outlier score: centroid
    assignment mirrors sim_search_ivf's oracle (lowest-id centroids,
    (distance, cid) tie-break), the kNN mean mirrors the exact pass's
    rank-ordered list sum. ``probe_pred`` restricts which vectors get
    scored (the operator's query_pred twin); candidate lists stay
    full."""
    dot = " + ".join(f"a.v[{i + 1}] * p.qv[{i + 1}]" for i in range(EMB_DIM))
    return f"""
ivf_e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ivf_cents AS (SELECT vec_id AS cid, v AS cv FROM ivf_e ORDER BY vec_id LIMIT {_IVF_CENT_LIMIT_SQL}),
ivf_assign AS (
    SELECT vec_id, v, cid AS cluster FROM (
        SELECT ie.vec_id, ie.v, c.cid,
               row_number() OVER (PARTITION BY ie.vec_id
                   ORDER BY list_distance(ie.v, c.cv) ASC, c.cid ASC) AS rn
        FROM ivf_e ie CROSS JOIN ivf_cents c
    ) WHERE rn = 1
),
ivf_probes AS (
    SELECT vec_id AS qid, v AS qv, cid AS cluster FROM (
        SELECT ie.vec_id, ie.v, c.cid,
               row_number() OVER (PARTITION BY ie.vec_id
                   ORDER BY list_distance(ie.v, c.cv) ASC, c.cid ASC) AS rn
        FROM ivf_e ie CROSS JOIN ivf_cents c
        WHERE {probe_pred}
    ) WHERE rn <= {KNN_IVF_PROBE}
),
ivf_cand AS (
    SELECT p.qid AS ia, a.vec_id AS ib,
           1.0 - ({dot}) /
               (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(p.qv, p.qv)))
               AS dist
    FROM ivf_assign a JOIN ivf_probes p ON a.cluster = p.cluster
    WHERE a.vec_id <> p.qid
),
ivf_ranked AS (
    SELECT ia, dist,
           row_number() OVER (PARTITION BY ia ORDER BY dist, ib) AS rn
    FROM ivf_cand
),
ivf_knn AS (
    SELECT ia AS vec_id, list(dist ORDER BY rn) AS ds
    FROM ivf_ranked WHERE rn <= {KNN_OUT_K}
    GROUP BY ia
    HAVING count(*) >= {KNN_OUT_K}
),
ivf_top AS (
    SELECT vec_id,
           round(list_aggregate(ds, 'sum') / len(ds), 6) AS knn_dist
    FROM ivf_knn
    ORDER BY list_aggregate(ds, 'sum') / len(ds) DESC, vec_id ASC
    LIMIT {KNN_OUT_TOP}
)"""


LLM_ORACLES["knn_outliers_ivf"] = (
    "WITH " + _knn_ivf_cte() + "\nSELECT vec_id, knn_dist FROM ivf_top"
)


# the acceptance rows' ground truth runs on a deterministic FIXED-SIZE
# md5 sample: the K vectors with the smallest keyed-md5 draw (vec_id
# tie-break). A fraction-based draw would keep the exact pass quadratic
# (f·n² at corpus scale); the K-smallest form makes ground truth O(K·n)
# — constant eval cost as the corpus grows — while staying
# deterministic and engine-reproducible. Sample size is reported in the
# output row so the acceptance evidence carries its own n.
KNN_SAMPLE_K = 256
_KNN_U_SQL = (
    "CAST(('0x' || substr(md5('knnrecall:' || CAST(vec_id AS VARCHAR)), 1, 8))"
    " AS BIGINT)"
)
_KNN_SAMPLE_IDS_SQL = (
    f"SELECT vec_id FROM embeddings ORDER BY {_KNN_U_SQL}, vec_id"
    f" LIMIT {KNN_SAMPLE_K}"
)


def _knn_sample_ids(spark: SparkSession, sf_dir: str) -> list[int]:
    """The K-smallest-draw member list — O(K) driver state (the
    literal-centroid precedent), compiled into an isin() predicate so
    both the exact filter and the IVF probe restriction stay row-local
    scan predicates."""
    e = _emb(spark, sf_dir)
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("knnrecall:"), F.col("vec_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    rows = (
        e.select("vec_id", u.alias("_u"))
        .orderBy("_u", "vec_id")
        .limit(KNN_SAMPLE_K)
        .collect()
    )
    return [r["vec_id"] for r in rows]


def _exact_knn_scores_sampled(
    spark: SparkSession, sf_dir: str, sample_ids: list[int]
) -> DataFrame:
    """Exact kNN-distance scores for the md5-drawn sample only: K·n
    pair work, not the exact twin's n². Scoring runs as ONE
    Arrow-batched mapInPandas stage (the r8 lesson from the cosine
    ground truth: at any SF the flattened scalar-chain crossJoin pays
    more in JIT compile + wide-row shuffle than evaluation costs) that
    emits only the batch-local k smallest per query — selection is a
    monoid, so the global window over per-batch winners is the exact
    ranking while the shuffle carries K·k rows per batch. Distances
    accumulate sequentially (similarity.seq_dot_row/seq_norm) over
    exactly-widened float64 —
    the SAME left-associated double rounding as the scalar chain it
    replaces and as q_embedding_knn_outliers, so the two still agree
    bit-for-bit on shared vectors (property-pinned), and the ordered-sum
    mean convention is unchanged."""
    e = _emb(spark, sf_dir)
    qids, qm = similarity.collect_query_vectors(
        e.filter(F.col("vec_id").isin(sample_ids)), "vec_id", "embedding", EMB_DIM
    )
    src = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_vec")
    )
    knn = similarity.cosine_topk_scan(
        src, EMB_DIM, KNN_OUT_K, qids, qm, "bigint", distance=True
    )
    return similarity.knn_mean(knn, "query_id").select(
        F.col("query_id").alias("vec_id"), "knn_dist"
    )


def q_knn_outliers_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acceptance row for the IVF outlier screen (r6 verdict item 3):
    |top-N(exact) ∩ top-N(ivf)| and the implied recall, computed WITHIN
    the fixed-K md5 sample — exact ground truth costs K·n (constant
    eval cost at corpus scale, not a corpus-fraction quadratic), the
    IVF side probes only the sampled queries, and both rankings
    restrict to the sample so the overlap is apples-to-apples.
    n_sample rides in the output row."""
    e = _emb(spark, sf_dir)
    sample_ids = _knn_sample_ids(spark, sf_dir)
    # n_sample is the drawn id list itself (a sampled vector with a
    # malformed or zero-norm embedding has no score but is sampled).
    # Persist the tiny top frame: it feeds two of the final aggregate
    # branches, and without the barrier Catalyst re-runs the whole
    # sampled FMA pass per branch.
    exact_top = (
        _exact_knn_scores_sampled(spark, sf_dir, sample_ids).orderBy(F.col("knn_dist").desc(), F.col("vec_id").asc())
        .limit(KNN_OUT_TOP)
        .select("vec_id")
        .persist()
    )
    approx_top = similarity.ivf_knn_outliers(
        e, id_col="vec_id", vec_col="embedding",
        dim=EMB_DIM, k=KNN_OUT_K, n_clusters=_ivf_n_clusters(e.count()),
        n_probe=KNN_IVF_PROBE, top_n=KNN_OUT_TOP,
        query_pred=lambda c: c.isin(sample_ids),
    ).select("vec_id")
    hit = exact_top.join(approx_top, "vec_id")
    return (
        exact_top.agg(F.count(F.lit(1)).cast("bigint").alias("n_top"))
        .crossJoin(hit.agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap")))
        .select(
            F.lit(len(sample_ids)).cast("bigint").alias("n_sample"),
            "n_top",
            "n_overlap",
            # an empty sample has no recall (the oracle's x / 0 is NULL)
            F.round(F.try_divide("n_overlap", "n_top"), 6).alias("recall"),
        )
    )


LLM_QUERIES["knn_outliers_recall"] = q_knn_outliers_recall


def _knn_recall_oracle_sql() -> str:
    """Sampled twin: exact CTEs restricted to the fixed-K md5 sample on
    the query side, IVF probes restricted the same way, both top lists
    ranked within the sample."""
    dot = " + ".join(f"a.v[{i + 1}] * b.v[{i + 1}]" for i in range(EMB_DIM))
    nrm = " + ".join(f"v[{i + 1}] * v[{i + 1}]" for i in range(EMB_DIM))
    return f"""
WITH smp_ids AS ({_KNN_SAMPLE_IDS_SQL}),
e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           sqrt({nrm}) AS nrm
    FROM embeddings
), smp AS (
    SELECT e.* FROM e JOIN smp_ids USING (vec_id)
), pairs AS (
    SELECT a.vec_id AS ia, b.vec_id AS ib,
           1.0 - ({dot}) / (a.nrm * b.nrm) AS dist
    FROM smp a CROSS JOIN e b WHERE a.vec_id <> b.vec_id
), ranked AS (
    SELECT ia, dist,
           row_number() OVER (PARTITION BY ia ORDER BY dist, ib) AS rn
    FROM pairs
), knn AS (
    SELECT ia AS vec_id, list(dist ORDER BY rn) AS ds
    FROM ranked WHERE rn <= {KNN_OUT_K}
    GROUP BY ia
),
exact_top AS (
    SELECT vec_id
    FROM knn
    ORDER BY list_aggregate(ds, 'sum') / len(ds) DESC, vec_id ASC
    LIMIT {KNN_OUT_TOP}
),
{_knn_ivf_cte(probe_pred="vec_id IN (SELECT vec_id FROM smp_ids)").lstrip()}
SELECT (SELECT CAST(count(*) AS BIGINT) FROM smp) AS n_sample,
       (SELECT CAST(count(*) AS BIGINT) FROM exact_top) AS n_top,
       (SELECT CAST(count(*) AS BIGINT)
        FROM exact_top JOIN ivf_top USING (vec_id)) AS n_overlap,
       round((SELECT count(*) FROM exact_top JOIN ivf_top USING (vec_id))
             * 1.0 / (SELECT count(*) FROM exact_top), 6) AS recall
"""


LLM_ORACLES["knn_outliers_recall"] = _knn_recall_oracle_sql()


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonicalization: within each exact-duplicate
    group (normalized-content fingerprint), keep the HIGHEST-quality
    member instead of dedup_exact's lowest id — what a curation
    pipeline actually ships when near-identical pages differ in
    boilerplate (the composite quality score ranks them; ties break to
    the smallest doc_id so the choice is deterministic).

    One projection computes fingerprint + quality features, one window
    rank per fingerprint picks the canonical doc — a single shuffle on
    the fingerprint, same scale shape as dedup_exact. Emits one row
    per group with the kept doc, its quality, and the group size.
    """
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    scored = text.quality_features(
        text.fingerprint(d, "text", out_col="fingerprint"), text_col="text"
    ).select("doc_id", "fingerprint", "quality_score")
    w = Window.partitionBy("fingerprint").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    sizes = scored.groupBy("fingerprint").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "fingerprint",
            F.col("doc_id").alias("keep_id"),
            F.round("quality_score", 6).alias("best_quality"),
        )
    )
    return best.join(sizes, "fingerprint")


LLM_QUERIES["dedup_keep_best"] = q_dedup_keep_best

def _quality_cte(feat_cols: str = "", carry: str = "") -> str:
    """ONE source of truth for the composite-quality oracle SQL (the
    operators/text.py quality_features twin): ``feat_cols`` adds extra
    SELECT expressions to the feats CTE, ``carry`` propagates columns
    by name into scored — so consumers extend the shared fragment
    instead of pasting a diverging copy of the weight formula."""
    return rf"""
feats AS (
    SELECT doc_id,
           md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint{feat_cols},
           length(text) AS n_chars,
           length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
           length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
           length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper,
           len(string_split_regex(trim(text), '\s+')) AS n_ws,
           len(regexp_extract_all(lower(text), '\b(the|and|is|of|to|in|that|it)\b')) AS n_stop
    FROM documents
), scored AS (
    SELECT doc_id, fingerprint{carry},
           0.4 * (CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END)
           + 0.3 * least((CASE WHEN n_ws > 0 THEN n_stop / n_ws ELSE 0.0 END) * 2, 1.0)
           + 0.2 * (1.0 - least((CASE WHEN n_alpha > 0 THEN n_upper / n_alpha ELSE 0.0 END) * 2, 1.0))
           + 0.1 * (1.0 - least((CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END) * 5, 1.0))
               AS quality_score
    FROM feats
)"""


_QUALITY_CTE = _quality_cte()

LLM_ORACLES["dedup_keep_best"] = (
    "WITH " + _QUALITY_CTE + """
, ranked AS (
    SELECT fingerprint, doc_id, quality_score,
           row_number() OVER (PARTITION BY fingerprint
               ORDER BY quality_score DESC, doc_id ASC) AS rn,
           count(*) OVER (PARTITION BY fingerprint) AS n_members
    FROM scored
)
SELECT fingerprint, doc_id AS keep_id,
       round(quality_score, 6) AS best_quality,
       CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1
"""
)


# per-source token budget for the budgeted-selection key: sized so the
# cutoff engages at every test SF (per-source totals are ~1.3k tokens
# at sf0.01 and ~13.5k at sf0.1)
TOKEN_BUDGET_PER_SOURCE = 800


def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted data selection — the curation step that picks WHICH
    documents fill a fixed per-source token budget: rank each source's
    documents by composite quality (ties to the smaller doc_id), take
    the best until the running regex-token total exceeds the budget.
    This is the greedy quality-under-budget mix every targeted training
    run needs between filtering (quality_filter) and mixing
    (corpus_mix_sample / source_mix_weights): those control PROPORTIONS,
    this controls the absolute token spend per source.

    One projection computes quality + token count, one window pass per
    source does rank + exact BIGINT running sum — a single shuffle on
    the source key, no joins. Output is per-source accounting (kept
    docs, kept tokens, the quality cutoff where the budget ran out), so
    the result is small and stable at any corpus size.
    """
    from pyspark.sql import Window

    d = text.quality_features(_docs(spark, sf_dir), text_col="text")
    counted = text.token_counts(d, text_col="text").select(
        "doc_id", "source", "quality_score", "regex_tokens"
    )
    w = Window.partitionBy("source").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    running = counted.withColumn(
        "_cum", F.sum("regex_tokens").over(w)
    )
    kept = running.withColumn(
        "_keep", F.col("_cum") <= F.lit(TOKEN_BUDGET_PER_SOURCE)
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("_keep").cast("bigint")).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("_keep"), F.col("regex_tokens")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("tokens_kept"),
        F.sum("regex_tokens").cast("bigint").alias("tokens_total"),
        F.round(
            F.min(F.when(F.col("_keep"), F.col("quality_score"))), 6
        ).alias("cutoff_quality"),
    )


LLM_QUERIES["token_budget_select"] = q_token_budget_select

LLM_ORACLES["token_budget_select"] = "WITH " + _quality_cte(
    feat_cols=(
        r", source, len(regexp_extract_all(text,"
        r" '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS regex_tokens"
    ),
    carry=", source, regex_tokens",
) + rf"""
, running AS (
    SELECT source, doc_id, quality_score, regex_tokens,
           sum(regex_tokens) OVER (PARTITION BY source
               ORDER BY quality_score DESC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    FROM scored
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN cum <= {TOKEN_BUDGET_PER_SOURCE} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
       CAST(sum(CASE WHEN cum <= {TOKEN_BUDGET_PER_SOURCE} THEN regex_tokens ELSE 0 END) AS BIGINT)
           AS tokens_kept,
       CAST(sum(regex_tokens) AS BIGINT) AS tokens_total,
       round(min(CASE WHEN cum <= {TOKEN_BUDGET_PER_SOURCE} THEN quality_score END), 6)
           AS cutoff_quality
FROM running GROUP BY source
"""


def q_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus release diff — the per-source added/removed/changed/
    unchanged accounting (with token deltas) a corpus version bump
    publishes alongside the data (the tabular form of
    sinks/versioned.py's manifest story, as an analytic query).

    Two snapshots derive deterministically from the documents table so
    the diff semantics are oracle-checkable: v1 drops doc_id % 7 == 0,
    v2 drops doc_id % 5 == 0 and EDITS the text of doc_id % 3 == 0
    (suffix append — changes the normalized fingerprint). The diff is
    ONE full-outer equi-join on doc_id (colocated under bucketing, the
    dedup_exact scale shape) comparing content fingerprints; per-source
    per-status rollup with exact BIGINT token sums.
    """
    docs = _docs(spark, sf_dir).select("doc_id", "source", "text")
    v1 = text.fingerprint(
        docs.filter(F.col("doc_id") % 7 != 0), "text", out_col="fp"
    ).select(
        "doc_id", "source", F.col("fp").alias("fp1"),
        F.size(
            F.regexp_extract_all(
                F.col("text"), F.lit(text.TOKEN_REGEX), F.lit(0)
            )
        ).cast("bigint").alias("tok1"),
    )
    edited = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.col("text"), F.lit(" [v2 errata note]")),
    ).otherwise(F.col("text"))
    v2 = text.fingerprint(
        docs.filter(F.col("doc_id") % 5 != 0).withColumn("text", edited),
        "text",
        out_col="fp",
    ).select(
        F.col("doc_id").alias("doc_id2"), F.col("source").alias("source2"),
        F.col("fp").alias("fp2"),
        F.size(
            F.regexp_extract_all(
                F.col("text"), F.lit(text.TOKEN_REGEX), F.lit(0)
            )
        ).cast("bigint").alias("tok2"),
    )
    j = v1.join(v2, F.col("doc_id") == F.col("doc_id2"), "full_outer")
    status = (
        F.when(F.col("doc_id").isNull(), F.lit("added"))
        .when(F.col("doc_id2").isNull(), F.lit("removed"))
        .when(F.col("fp1") != F.col("fp2"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(
            F.coalesce(F.col("source"), F.col("source2")).alias("source"),
            status.alias("status"),
            F.coalesce(F.col("tok1"), F.lit(0)).alias("tok1"),
            F.coalesce(F.col("tok2"), F.lit(0)).alias("tok2"),
        )
        .groupBy("source", "status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("tok1").cast("bigint").alias("tokens_v1"),
            F.sum("tok2").cast("bigint").alias("tokens_v2"),
            F.sum(F.col("tok2") - F.col("tok1")).cast("bigint").alias("token_delta"),
        )
    )


LLM_QUERIES["corpus_snapshot_diff"] = q_corpus_snapshot_diff

LLM_ORACLES["corpus_snapshot_diff"] = r"""
WITH v1 AS (
    SELECT doc_id, source,
           md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp1,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS tok1
    FROM documents WHERE doc_id % 7 <> 0
), v2src AS (
    SELECT doc_id, source,
           CASE WHEN doc_id % 3 = 0 THEN text || ' [v2 errata note]'
                ELSE text END AS text
    FROM documents WHERE doc_id % 5 <> 0
), v2 AS (
    SELECT doc_id AS doc_id2, source AS source2,
           md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp2,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS tok2
    FROM v2src
), j AS (
    SELECT coalesce(v1.source, v2.source2) AS source,
           CASE WHEN v1.doc_id IS NULL THEN 'added'
                WHEN v2.doc_id2 IS NULL THEN 'removed'
                WHEN v1.fp1 <> v2.fp2 THEN 'changed'
                ELSE 'unchanged' END AS status,
           coalesce(v1.tok1, 0) AS tok1,
           coalesce(v2.tok2, 0) AS tok2
    FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id2
)
SELECT source, status,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tok1) AS BIGINT) AS tokens_v1,
       CAST(sum(tok2) AS BIGINT) AS tokens_v2,
       CAST(sum(tok2 - tok1) AS BIGINT) AS token_delta
FROM j GROUP BY 1, 2
"""


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12 multimodal resize on the hash gate (r8 verdict item 7): the
    Arrow-batched resize pass over the decoded media table. Geometry is
    the production aspect-preserving plan (scale = target/max(w,h),
    banker's-rounded like Python's round); only the pixel re-encode is
    the stub. The stub dims are sha-derived like multimodal_meta's, so
    the oracle replays the whole two-UDF-stage pipeline symbolically —
    DuckDB's round_even mirrors Python round bit-for-bit on the same
    IEEE doubles."""
    media = multimodal.attach_payload(
        _docs(spark, sf_dir), id_col="doc_id", text_col="text"
    )
    decoded = multimodal.extract_metadata(media)
    resized = multimodal.resize_media(decoded)
    return resized.select(
        "media_id", "media_type", "width", "height",
        "resized_width", "resized_height",
    )


LLM_QUERIES["multimodal_resize"] = q_multimodal_resize

LLM_ORACLES["multimodal_resize"] = """
    WITH m AS (
        SELECT doc_id AS media_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS media_type,
               sha256(text) AS sha
        FROM documents
    ),
    dims AS (
        SELECT media_id, media_type,
               CAST(64 + CAST('0x' || substr(sha, 1, 2) AS INTEGER) % 192
                    AS INTEGER) AS width,
               CAST(64 + CAST('0x' || substr(sha, 3, 2) AS INTEGER) % 192
                    AS INTEGER) AS height
        FROM m
    )
    SELECT media_id, media_type, width, height,
           CAST(greatest(1, round_even(width * (128.0 / greatest(width, height)), 0))
                AS INTEGER) AS resized_width,
           CAST(greatest(1, round_even(height * (128.0 / greatest(width, height)), 0))
                AS INTEGER) AS resized_height
    FROM dims
"""


# ---------------------------------------------------------------------------
# Round-10 additions
# ---------------------------------------------------------------------------


def q_simhash_accuracy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash estimator acceptance: every hamming<=3 near-pair next to
    its EXACT shingle Jaccard — the simhash twin of
    ``minhash_accuracy_eval`` (before trusting the 64-bit fingerprint's
    hamming gate on a new corpus, measure what similarity a 0-3 bit
    distance actually corresponds to there). Closes the one dedup
    family that had no acceptance row.

    Exact side touches the gated pairs only (the JVM array_intersect
    verify kernel); hamming and all counts integer, the jaccard the
    only rounded float. Oracle: the full simhash oracle as a subquery
    joined to the shingle-intersection CTEs."""
    pairs = dedup.simhash_near_pairs(
        _docs(spark, sf_dir), id_col="doc_id", text_col="text",
        token_hash="md5",
    )
    sh = dedup.shingles(_docs(spark, sf_dir), id_col="doc_id", text_col="text", n=3)
    counts = dedup.exact_jaccard_counts(pairs, sh)
    return (
        pairs.join(counts, ["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            "hamming",
            "n_common",
            "size_a",
            "size_b",
            F.round(
                F.col("n_common")
                / (
                    F.col("size_a") + F.col("size_b") - F.col("n_common")
                ).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


LLM_QUERIES["simhash_accuracy_eval"] = q_simhash_accuracy_eval


def _simhash_accuracy_oracle_sql() -> str:
    return _shingle_cte() + f"""
, sizes AS (
    SELECT doc, CAST(count(*) AS BIGINT) AS n_shingles FROM sh GROUP BY 1
), inter AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, CAST(count(*) AS BIGINT) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
    GROUP BY 1, 2
), sim AS (
    SELECT * FROM ({_simhash_oracle_sql()}) s
)
SELECT c.doc_a, c.doc_b, c.hamming,
       CAST(coalesce(i.n_common, 0) AS BIGINT) AS n_common,
       sa.n_shingles AS size_a, sb.n_shingles AS size_b,
       round(coalesce(i.n_common, 0)
             / CAST(sa.n_shingles + sb.n_shingles - coalesce(i.n_common, 0)
                    AS DOUBLE), 6) AS jaccard
FROM sim c
LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
JOIN sizes sa ON c.doc_a = sa.doc
JOIN sizes sb ON c.doc_b = sb.doc
"""


LLM_ORACLES["simhash_accuracy_eval"] = _simhash_accuracy_oracle_sql()


MATRYOSHKA_DIM = 16


def q_matryoshka_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka / prefix-truncation acceptance: recall@k of cosine
    top-k computed on the FIRST 16 of 64 embedding dimensions against
    the full-dimension ground truth, on the fixed-K md5 query sample —
    the eval run before shipping truncated embeddings (matryoshka
    representation learning serves prefix slices to cut index memory
    4x; whether that trade is safe is an empirical property of the
    embedding, and this row measures it). Both sides are exact
    deterministic top-k (prefix slicing is a projection, not an
    index), so the row is fully value-hash-gated; cost is K·n like
    every recall row — constant in corpus growth."""
    e = _emb(spark, sf_dir)
    qids = _ann_query_ids(spark, sf_dir)
    q = e.filter(F.col("vec_id").isin(qids))
    gt = shared_ann_gt(spark, sf_dir)  # eval-once artifact (r12)
    e16 = e.withColumn("embedding", F.slice("embedding", 1, MATRYOSHKA_DIM))
    q16 = q.withColumn("embedding", F.slice("embedding", 1, MATRYOSHKA_DIM))
    approx = similarity.cosine_topk(
        e16, q16, id_col="vec_id", vec_col="embedding",
        query_id_col="vec_id", query_vec_col="embedding", k=TOPK,
        dim=MATRYOSHKA_DIM,
    )
    hits = gt.select("query_id", "neighbor_id").join(
        approx.select("query_id", "neighbor_id").withColumn("_hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    per_query = hits.groupBy("query_id").agg(
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint").alias("n_hits"),
        F.round(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("double")
            / F.lit(float(TOPK)),
            6,
        ).alias("recall_at_k"),
    )
    return per_query.withColumn(
        "prefix_dim", F.lit(MATRYOSHKA_DIM).cast("int")
    )


LLM_QUERIES["matryoshka_recall_eval"] = q_matryoshka_recall_eval

LLM_ORACLES["matryoshka_recall_eval"] = f"""
    WITH gt AS (SELECT * FROM ({_cosine_topk_oracle_sql(_ANN_QUERY_SQL)})),
         cand AS (SELECT * FROM ({_cosine_topk_oracle_sql(
             _ANN_QUERY_SQL,
             vec_expr=f"CAST(embedding AS DOUBLE[])[1:{MATRYOSHKA_DIM}]",
         )}))
    SELECT gt.query_id,
           CAST(count(cand.neighbor_id) AS BIGINT) AS n_hits,
           round(count(cand.neighbor_id) / {float(TOPK)}, 6) AS recall_at_k,
           CAST({MATRYOSHKA_DIM} AS INTEGER) AS prefix_dim
    FROM gt LEFT JOIN cand
      ON gt.query_id = cand.query_id AND gt.neighbor_id = cand.neighbor_id
    GROUP BY gt.query_id
"""
