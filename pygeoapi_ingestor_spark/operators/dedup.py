"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Training-data-pipeline extensions (SURVEY.md §2 C-block). All variants
are built from DataFrame primitives; hashes use Spark built-ins
(``xxhash64``, ``md5``) so signatures are deterministic and the hot path
never leaves the JVM.

Scale notes:
- exact dedup: one shuffle on the fingerprint.
- n-gram Jaccard: shingle explode -> (shingle) join restricted to shared
  shingles, so cost is sum over shingles of pair counts, not n^2.
- MinHash+LSH: signature via groupBy min over seeded xxhash64; candidate
  generation shuffles on (band, band_signature) only — the classic
  banding trick bounds the self-join to same-bucket pairs.
- SimHash: 64-bit sign-aggregated hash, near-dup = same value in any of
  4 16-bit bands (hamming-adjacent buckets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pygeoapi_ingestor_spark.functions.storage import free_local_ckpt
from pygeoapi_ingestor_spark.operators.text import fingerprint


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on the normalized fingerprint; keeps the smallest id
    per group and reports the group size."""
    fp = fingerprint(df, text_col, out_col="fingerprint")
    return fp.groupBy("fingerprint").agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_dupes"),
    )


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document (lowercased, alnum words).

    Shuffle-free formulation: grams are built INSIDE the token array —
    ``transform`` over the valid start indices with O(1) ``element_at``
    lookups (linear in words·n, unlike the O(words²) naive
    slice-inside-transform), deduped per document with
    ``array_distinct``, then exploded. The r12 version posexploded the
    tokens and rebuilt grams with ``lead`` windows over (doc, pos) and a
    global dropDuplicates — TWO full shuffles of every token occurrence
    that this projection removes from every shingle consumer (guide
    §2.4); callers pass unique-id document tables, so per-array
    distinct == the old per-(doc, shingle) distinct.
    """
    from pygeoapi_ingestor_spark.operators.text import norm_words
    from pygeoapi_ingestor_spark.session import spread_if_narrow

    # the projection is shuffle-free, so a single-file local input would
    # otherwise tokenize on ONE task all the way to the first downstream
    # exchange; spread_if_narrow is a no-op on production inputs that
    # already have >= core-count partitions
    tok = spread_if_narrow(
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_t"))
    ).select("doc", norm_words("_t").alias("_ws"))
    n_starts = F.size("_ws") - (n - 1)
    grams = F.transform(
        # sequence(1, k) DESCENDS when k < 1 — guard short docs to empty
        F.when(n_starts > 0, F.sequence(F.lit(1), n_starts)).otherwise(
            F.array().cast("array<int>")
        ),
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("_ws"), i + j) for j in range(n)]
        ),
    )
    return tok.select(
        "doc", F.explode(F.array_distinct(grams)).alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.5
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard similarity.

    Pairs only materialize for documents sharing >=1 shingle; Jaccard =
    |intersection| / (|A| + |B| - |intersection|).
    """
    sh = shingles(df, id_col, text_col, n=3)
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).cast("bigint").alias("n_shingles"))

    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    # no broadcast hint: `sizes` has one row per document (unbounded at
    # corpus scale); forcing it into the driver/broadcast path would OOM.
    # AQE still auto-broadcasts when the table is actually small.
    pairs = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return pairs.select("doc_a", "doc_b", "n_common", "size_a", "size_b", "jaccard")


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    shingle_hash: str = "xxhash64",
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per document from two base hash passes per
    shingle, derived as h_i = h1 XOR rotl(h2, i) — a double-hashing
    variant with only bitwise ops, so it stays overflow-free under ANSI
    mode and inside whole-stage codegen. 2 hash evaluations instead of
    ``num_hashes``; one explode + one groupBy bounded by
    (doc x distinct shingles).

    ``shingle_hash="md5"`` swaps xxhash64 for two 60-bit values cut from
    the shingle's md5 hex — an engine-neutral source a SQL oracle can
    rebuild — and rotates within the 60-bit ring via mask-then-shift so
    no intermediate exceeds 2**60 (DuckDB's shift overflow-checks;
    Spark's wraps — staying under the bound keeps both identical).

    ``shingles_df`` lets a caller that ALSO needs the shingle table
    (e.g. the exact-verify stage) pass a persisted one in, so the
    costliest stage of the pipeline — tokenize + lead-window + distinct
    over every token occurrence — runs once, not per consumer."""
    sh = shingles_df if shingles_df is not None else shingles(
        df, id_col, text_col, n=3
    )
    if shingle_hash == "md5":
        hex_ = F.md5(F.col("shingle"))
        h1 = F.conv(F.substring(hex_, 1, 15), 16, 10).cast("long")
        h2 = F.conv(F.substring(hex_, 17, 15), 16, 10).cast("long")
        width = 60
    else:
        h1 = F.xxhash64(F.col("shingle"))
        h2 = F.xxhash64(F.col("shingle"), F.lit(1))
        width = 64
    sh = sh.select("doc", h1.alias("_h1"), h2.alias("_h2"))
    id_t = dict(df.dtypes)[id_col] if shingles_df is None else dict(
        shingles_df.dtypes
    )["doc"]

    # r13: the h_i = h1 XOR rotl(h2, 7i+1) family and the per-doc mins
    # run in an Arrow numpy kernel (guide §4.2) instead of num_hashes
    # shift/or/xor aggregate expressions — the 32-wide agg tree was
    # ~0.7 s/side of per-invocation JVM work at bench SF and a slice of
    # the fresh-session codegen tax. Bit parity: identical uint64
    # shifts (the 60-bit ring masks exactly as the JVM expression did),
    # and the per-doc min is taken on the int64 REINTERPRETATION of the
    # rotated value — the same signed min Spark's min(long) computes;
    # per-batch partial mins combine under the JVM min() aggregate, so
    # cross-batch order is irrelevant.
    _nh, _w = num_hashes, width

    def _sig_batches(batches):
        import numpy as np
        import pandas as pd

        cols = ["doc"] + [f"m{i}" for i in range(_nh)]
        rs = [(7 * i + 1) % _w for i in range(_nh)]
        for pdf in batches:
            if not len(pdf):
                continue
            h1v = pdf["_h1"].to_numpy(dtype=np.int64).view(np.uint64)
            h2v = pdf["_h2"].to_numpy(dtype=np.int64).view(np.uint64)
            data = {"doc": pdf["doc"].to_numpy()}
            for i in range(_nh):
                r = rs[i]
                if r == 0:
                    rot = h2v
                elif _w == 64:
                    rot = (h2v << np.uint64(r)) | (h2v >> np.uint64(64 - r))
                else:
                    mask = np.uint64((1 << (_w - r)) - 1)
                    rot = ((h2v & mask) << np.uint64(r)) | (
                        h2v >> np.uint64(_w - r)
                    )
                data[f"m{i}"] = (h1v ^ rot).view(np.int64)
            g = (
                pd.DataFrame(data, columns=cols)
                .groupby("doc", sort=False, as_index=False)
                .min()
            )
            yield g[cols]

    partials = sh.mapInPandas(
        _sig_batches,
        schema=f"doc {id_t}, " + ", ".join(f"m{i} bigint" for i in range(_nh)),
    )
    sig = partials.groupBy("doc").agg(
        *[F.min(f"m{i}").alias(f"h{i}") for i in range(num_hashes)]
    )
    return sig.select(
        "doc", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("signature")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_hash: str = "xxhash64",
    shingles_df: DataFrame | None = None,
    with_est: bool = True,
) -> DataFrame:
    """LSH banding: split the 32-hash signature into 8 bands, bucket by
    (band_id, band_hash), emit candidate pairs sharing any bucket.

    Returns distinct (doc_a, doc_b) candidates with their estimated
    Jaccard (fraction of matching signature positions).

    ``with_est=False`` (the verified-pipeline path, where the exact
    kernel re-scores every candidate anyway) keeps the 8·bigint
    signature array OUT of the band explode and the pair join — the
    bucket rows shrink to (doc, band, bucket) and the join output to
    bare id pairs, which is what the band-key shuffle actually needs.

    ``with_est=True`` computes the estimate IN the join projection —
    BEFORE the distinct — so the dedup shuffle moves 24-byte
    (doc_a, doc_b, est) tuples instead of pair rows dragging both
    2x32-bigint signature arrays (~536 B/row; at the
    derived sf3's 23M pre-distinct candidates that array freight was
    the dominant shuffle). A pair caught by k bands re-evaluates the
    32-element zip_with k times — trivially cheaper JVM work than
    shuffling the arrays once. est is identical for every duplicate of
    a pair, so dropDuplicates on (doc_a, doc_b) is unaffected.
    """
    sig = minhash_signatures(
        df, id_col, text_col, num_hashes=32,
        shingle_hash=shingle_hash, shingles_df=shingles_df,
    )
    banded = _banded(sig, 32, 8)
    if not with_est:
        banded = banded.drop("signature")
    a = banded.alias("a")
    b = banded.alias("b")
    joined = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.doc") < F.col("b.doc")),
    )
    if not with_est:
        return joined.select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
        ).dropDuplicates(["doc_a", "doc_b"])
    est = F.size(
        F.filter(
            F.zip_with("a.signature", "b.signature", lambda x, y: x == y),
            lambda m: m,
        )
    ) / F.lit(32.0)
    return joined.select(
        F.col("a.doc").alias("doc_a"),
        F.col("b.doc").alias("doc_b"),
        est.alias("est_jaccard"),
    ).dropDuplicates(["doc_a", "doc_b"])


def _banded(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Explode a signature df (doc, signature) into LSH band-bucket rows
    (doc, signature, band, bucket)."""
    rows_per_band = num_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col("signature")[b * rows_per_band + r].cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return sig.select("doc", "signature", F.explode(band_structs).alias("bb")).select(
        "doc", "signature", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def embedding_cosine_pairs(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-space near-duplicate pairs: all (a, b) with cosine
    similarity >= threshold.

    Brute-force self-join kept JVM-side (zip_with/aggregate dot
    products). At scale, pre-bucket both sides with
    ``similarity.hyperplane_signature`` or IVF cluster ids and join
    within buckets — same scoring expression, candidate set shrunk from
    n^2 to the bucket sizes.
    """
    from pygeoapi_ingestor_spark.operators.similarity import _dot, _norm, _safe_denom

    base = embeddings.select(
        F.col(id_col).alias("doc"),
        F.col(vec_col).alias("vec"),
        (_norm(F.col(vec_col))).alias("nrm"),
    )
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(b, F.col("a.doc") < F.col("b.doc"))
    cos = _dot(F.col("a.vec"), F.col("b.vec")) / _safe_denom(F.col("a.nrm") * F.col("b.nrm"))
    return (
        pairs.withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            "cosine",
        )
    )


def exact_jaccard_counts(
    cand: DataFrame,
    sh_a: DataFrame,
    sh_b: DataFrame | None = None,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Exact shingle-set intersection counts restricted to candidate
    pairs — the verify stage of every LSH dedup pipeline, fully JVM-side.

    Formulation history (each step measured at the derived sf1, ~5.4M
    candidates): (1) joining candidates against the exploded
    (doc, shingle) table on both sides and counting matching shingle
    STRINGS — ~40s for the verify of 338k true pairs, interpreted and
    string-heavy; (2) r9: per-doc sorted xxhash64 arrays joined to each
    pair, intersected in an Arrow mapInPandas numpy kernel — the
    per-pair ``np.asarray`` conversion over 2x5.4M small arrays kept
    ~60s of interpreter/Arrow-transfer cost in the hot path; (3) now:
    the SAME per-doc hash arrays intersected by the built-in
    ``size(array_intersect(...))`` — whole-stage codegen, zero Python,
    zero Arrow transfer. Measured 74.4s -> 11.3s on identical inputs
    and identical output. The remaining cost is the candidate x array
    join shuffle, which is the honest linear-in-candidates price of
    exact verification and partitions cleanly at any scale.

    Collision caveat (unchanged): two DIFFERENT shingles hashing equal
    within one pair's union would overcount n_common by 1 — P ~
    u^2/2^65 for a union of u shingles (~2e-13 at u=2000), negligible
    against the value-hash gate. ``size_a``/``size_b`` count shingle
    STRINGS (separate agg), not hashes, so they are collision-free.

    Returns (a_col, b_col, n_common, size_a, size_b); Jaccard and
    thresholding stay in the caller so the division's rounding is
    unchanged.
    """

    def toks(sh):
        return sh.groupBy("doc").agg(
            F.collect_list(F.xxhash64("shingle")).alias("_toks"),
            F.count(F.lit(1)).cast("bigint").alias("_sz"),
        )

    ta = toks(sh_a)
    tb = ta if sh_b is None else toks(sh_b)
    return (
        cand.select(a_col, b_col)
        .join(
            ta.select(
                F.col("doc").alias(a_col),
                F.col("_toks").alias("_ta"),
                F.col("_sz").alias("size_a"),
            ),
            a_col,
        )
        .join(
            tb.select(
                F.col("doc").alias(b_col),
                F.col("_toks").alias("_tb"),
                F.col("_sz").alias("size_b"),
            ),
            b_col,
        )
        .select(
            a_col,
            b_col,
            F.size(F.array_intersect("_ta", "_tb")).cast("bigint").alias(
                "n_common"
            ),
            "size_a",
            "size_b",
        )
    )


def lsh_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """The production dedup pipeline, end to end: MinHash+LSH candidate
    generation -> exact n-gram Jaccard verification restricted to the
    candidate pairs -> verified near-dup pairs with a keep decision.

    This is the composition a user actually runs over a corpus: the
    banding shuffle bounds candidate generation, and the exact kernel
    (which is quadratic standalone) only ever touches candidate pairs —
    cost is |candidates| x shingles/doc, linear in corpus size for a
    bounded duplication rate. With the default 32-hash / 8-band
    construction, pairs at jaccard >= 0.5 are captured w.p.
    1-(1-0.5^4)^8 ~ 0.99+ per pair (near-certain at the >= 0.9 jaccard
    real duplicates sit at), so the verified output matches the exact
    pair set and stays fully oracle-able.

    Returns (doc_a, doc_b, n_common, size_a, size_b, jaccard, keep_id)
    with keep_id = the smaller id (the survivor convention of
    ``dedup_exact``).
    """
    from pyspark import StorageLevel

    # ONE shingle pass feeds both the signature build and the exact
    # verify (the tokenize + lead-window + distinct stage is the
    # pipeline's costliest; unshared it ran twice). CACHE CONTRACT:
    # never unpersisted here — a long-lived service releases blocks
    # between jobs through functions.storage.finalize_job.
    sh = shingles(df, id_col, text_col, n=3).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    cand = minhash_lsh_pairs(
        df, id_col, text_col, shingles_df=sh, with_est=False,
    )
    # exact verify on candidates only, JVM-side array_intersect
    # intersection (see exact_jaccard_counts for the plan-shape note)
    return (
        exact_jaccard_counts(cand, sh)
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .withColumn("keep_id", F.least("doc_a", "doc_b"))
        .select("doc_a", "doc_b", "n_common", "size_a", "size_b", "jaccard", "keep_id")
    )


def minhash_lsh_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Incremental corpus dedup: screen a NEW batch of documents against
    an EXISTING corpus without re-pairing the corpus against itself —
    the steady-state production shape (the index side's signatures are
    computed once and persisted; each arriving batch only pays its own
    signature pass plus a directional bucket join).

    Pipeline: MinHash signatures on both sides -> LSH band buckets ->
    batch-to-corpus join (directional: never corpus x corpus, never
    batch x batch) -> exact n-gram Jaccard verify on the candidates ->
    one decision row per batch document.

    Returns (doc_id, is_dup, n_matches, dup_of, best_jaccard): dup_of =
    the smallest corpus id among verified matches (the keep-survivor
    convention), best_jaccard = the strongest verified similarity; both
    NULL when the document is novel.
    """
    from pyspark import StorageLevel

    # shared shingle passes: each side tokenizes once, feeding both its
    # signature build and the exact verify below (CACHE CONTRACT as in
    # lsh_verified_pairs)
    sh_c = shingles(corpus, id_col, text_col, n=3).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sh_b = shingles(batch, id_col, text_col, n=3).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sig_c = minhash_signatures(
        corpus, id_col, text_col, num_hashes=32,
        shingle_hash="md5", shingles_df=sh_c,
    )
    sig_b = minhash_signatures(
        batch, id_col, text_col, num_hashes=32,
        shingle_hash="md5", shingles_df=sh_b,
    )
    bd_c = _banded(sig_c, 32, 8).select(
        F.col("doc").alias("corpus_doc"), "band", "bucket"
    )
    bd_b = _banded(sig_b, 32, 8).select(
        F.col("doc").alias("new_doc"), "band", "bucket"
    )
    cand = (
        bd_b.join(bd_c, ["band", "bucket"])
        .select("new_doc", "corpus_doc")
        .dropDuplicates(["new_doc", "corpus_doc"])
    )

    # directional exact verify, same Arrow sorted-set kernel as
    # lsh_verified_pairs (size_new/size_corpus keep their names),
    # reusing the persisted per-side shingle tables from above
    verified = (
        exact_jaccard_counts(
            cand, sh_b, sh_c, a_col="new_doc", b_col="corpus_doc"
        )
        .withColumnsRenamed({"size_a": "size_new", "size_b": "size_corpus"})
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("size_new") + F.col("size_corpus") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= 0.6)
    )
    per_new = verified.groupBy("new_doc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matches"),
        F.min("corpus_doc").alias("dup_of"),
        F.max("jaccard").alias("best_jaccard"),
    )
    ids = batch.select(F.col(id_col).alias("new_doc")).distinct()
    return ids.join(per_new, "new_doc", "left").select(
        F.col("new_doc").alias("doc_id"),
        F.col("n_matches").isNotNull().alias("is_dup"),
        F.coalesce(F.col("n_matches"), F.lit(0).cast("bigint")).alias("n_matches"),
        "dup_of",
        "best_jaccard",
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
    steps_per_round: int = 1,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph — the
    grouping step that turns verified pairs into dedup clusters (every
    member of a component is transitively a duplicate; keep one).

    Iterative min-label propagation: each node repeatedly adopts the
    smallest label among itself and its neighbors until fixpoint —
    the standard Pregel-style formulation, driver-coordinated like any
    Spark iterative algorithm. Convergence needs O(component diameter)
    rounds (tiny for dup clusters); each round is one join + one
    aggregate, with ``localCheckpoint`` truncating the lineage so the
    plan does not grow with iterations.

    ``steps_per_round`` chains that many propagation steps into ONE
    materialization (checkpoint + convergence count): the fixpoint is
    unchanged, but the per-round fixed cost — scheduling, checkpoint,
    count — amortizes over k hops. Use >1 for graphs whose components
    are deep (grid-dissolve run graphs: diameter ~ raster width);
    leave at 1 for shallow dup clusters where a single hop usually
    converges and a deeper plan would only add join work.

    Returns (node, component) with component = min node id reachable.
    """
    # Every superseded checkpoint generation is released through
    # free_local_ckpt (clearCache does not reach RDD-level blocks), non-
    # blocking: the next iteration's materialization is the natural
    # barrier. The returned labels read only the final generation, which
    # the caller owns (a corpus artifact, or a plan it frees itself).
    edges = pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    edges = (
        edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    prev_gen = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint()
    )
    labels = prev_gen
    for _ in range(max_iter):
        # carry the round-entry label through as _prev so convergence
        # detection is a scan of the checkpointed result, not a join
        cur = labels.select("node", "comp", F.col("comp").alias("_prev"))
        for _step in range(max(1, steps_per_round)):
            neigh = (
                edges.join(
                    cur.select(F.col("node").alias("b"), F.col("comp").alias("_nc")),
                    "b",
                )
                .groupBy("a")
                .agg(F.min("_nc").alias("_minn"))
                .select(F.col("a").alias("node"), "_minn")
            )
            cur = cur.join(neigh, "node", "left").select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("_minn"), F.col("comp"))
                ).alias("comp"),
                "_prev",
            )
        stepped = cur.localCheckpoint()
        changed = stepped.filter(F.col("comp") != F.col("_prev")).limit(1).count()
        labels = stepped.select("node", "comp")
        # stepped is materialized (eager checkpoint + the count above):
        # the previous generation's blocks are now unreachable via any
        # returned lineage — free them instead of leaking per iteration
        free_local_ckpt(prev_gen, blocking=False)
        prev_gen = stepped
        if changed == 0:
            break
    else:
        # exhausted max_iter without a fixpoint: labels would be silently
        # wrong for any component whose min-label path exceeds max_iter hops
        free_local_ckpt(prev_gen, blocking=False)
        free_local_ckpt(edges, blocking=False)
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} "
            "iterations; raise max_iter (component diameter exceeds it)"
        )
    # the returned labels read only the FINAL checkpoint; the edge table
    # is no longer reachable from it
    free_local_ckpt(edges, blocking=False)
    return labels


def embedding_cosine_pairs_bucketed(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Bucketed embedding near-dup pairs: hyperplane sign-bit signatures
    split into ``bands``; candidates share at least one band bucket; the
    exact float64 cosine then gates the output. The join shuffles on
    (band, bucket) — never the n^2 cartesian pair space.

    Recall is the LSH banding curve: a pair at angle theta agrees per
    plane w.p. 1-theta/pi, so with r = n_planes/bands rows per band the
    capture probability is 1-(1-p^r)^bands. At near-duplicate thresholds
    (0.9+ cosine, p ~ 0.93+) the default 8x2 construction captures
    ~99.99% of qualifying pairs; at loose thresholds (0.4, p ~ 0.63) it
    degrades to ~90% — measured against the exact kernel in
    tests/test_similarity_recall.py. ``embedding_cosine_pairs`` stays the
    exact (quadratic, cap-gated) verifier.

    Plane weights come from ``similarity.md5_plane_weights`` and the
    projection is evaluated as a strict left-to-right fold, so an
    external SQL oracle embedding the same literal matrix reproduces the
    bucketing bit-for-bit.
    """
    import numpy as np

    from pygeoapi_ingestor_spark.operators.similarity import (
        cosine_scores,
        md5_plane_weights,
        seq_dot_row,
        seq_norm,
        sign_bits,
        stack_vectors,
    )
    spark = embeddings.sparkSession
    rows_per_band = n_planes // bands
    w_np = np.array(md5_plane_weights(dim, n_planes, seed), dtype=np.float64)
    bc_w = spark.sparkContext.broadcast(w_np)

    # signature/norm table in ONE Arrow pass (the n_planes interpreted
    # projection folds were the dominant per-row cost — r8 lesson).
    # Rounding parity with the fold expressions it replaces (ADVICE r8
    # fix): callers pass the vector cast to array<double> (queries_llm
    # ._emb), so the fold's x*w and v*v products were DOUBLE products —
    # the kernel therefore widens to float64 BEFORE multiplying
    # (np.asarray(..., float64)) and accumulates sequentially
    # (seq_dot_row / seq_norm), matching both the fold and DuckDB's
    # list_dot_product over DOUBLE[] bit-for-bit. Null / wrong-length
    # vectors drop via stack_vectors (the fold produced a NULL cosine and
    # the row dropped at the threshold gate); a NaN projection sets its
    # bit, as the oracle's ``proj > 0`` does.
    id_t = dict(embeddings.dtypes)[id_col]
    sig_schema = f"doc {id_t}, " + ", ".join(
        f"k{b} bigint" for b in range(bands)
    )

    def sig_batches(batches):
        import numpy as np
        import pandas as pd

        w_ = bc_w.value
        for pdf in batches:
            ok, vm = stack_vectors(pdf["vec"], dim)
            if not len(vm):
                continue
            out = {"doc": pdf["doc"].to_numpy()[ok]}
            bits = [sign_bits(seq_dot_row(vm, w_[p])) for p in range(n_planes)]
            for b in range(bands):
                key = np.zeros(len(vm), dtype=np.int64)
                for r in range(rows_per_band):
                    key += bits[b * rows_per_band + r] << r
                out[f"k{b}"] = key
            yield pd.DataFrame(out)

    # r13: the signature kernel emits ONLY (id, band keys) — the vector
    # and its norm never ride through the band explode or the pair join
    # (the norm is recomputed inside the cosine kernel with the same
    # seq_norm accumulation, bit-identical), and the vector lookups are
    # re-pointed at the input table below. The persist barrier stays —
    # the self-join consumes `banded` on BOTH sides (stream + broadcast
    # build), and without the barrier the kernel re-executes per side
    # (measured: warm 2.8 -> 4.1 s) — but it now materializes 9 longs
    # per doc instead of (vec, nrm, keys). CACHE CONTRACT: operators
    # never unpersist their returned lineage — a long-lived service
    # releases blocks between jobs through functions.storage.finalize_job.
    from pyspark import StorageLevel

    base = embeddings.select(
        F.col(id_col).alias("doc"), F.col(vec_col).alias("vec")
    ).mapInPandas(sig_batches, schema=sig_schema).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    keys = [f"k{b}" for b in range(bands)]
    # banding carries only (id, band keys) — payload vectors stay out of
    # the explode/join and come back via an id-equi-join afterwards, so
    # the (possibly wide) vector column is never replicated bands-fold
    # and the cosine never leaks into the pair-join condition.
    banded = base.select(
        "doc", *keys,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"k{b}").alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", *keys, "bb.band", "bb.bucket")
    a, b = banded.alias("a"), banded.alias("b")
    # first-matching-band rule: emit a pair only from the LOWEST band both
    # sides share — every earlier band must differ. Each candidate pair
    # appears exactly once, so no distinct/dedup shuffle is needed.
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.doc") < F.col("b.doc"))
    )
    for j in range(bands):
        cond = cond & (
            (F.col("a.band") <= F.lit(j)) | (F.col(f"a.k{j}") != F.col(f"b.k{j}"))
        )
    cand = a.join(b, cond).select(
        F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b")
    )
    # vector lookups come straight from the input table (column-pruned
    # scan), not from the signature kernel: docs the kernel dropped
    # (null / wrong-length vectors) cannot appear in `cand`, so the
    # inner joins reproduce the old filtered attach exactly
    va = embeddings.select(
        F.col(id_col).alias("doc_a"), F.col(vec_col).alias("vec_a")
    )
    vb = embeddings.select(
        F.col(id_col).alias("doc_b"), F.col(vec_col).alias("vec_b")
    )
    scored = cand.join(va, "doc_a").join(vb, "doc_b")

    # candidate-pair cosine, Arrow-batched with the SAME rounding as the
    # _dot fold it replaces: the input vectors are array<double>, so the
    # fold multiplied doubles — widen to float64 first, then accumulate
    # sequentially (ADVICE r8 fix: float32 products diverged up to
    # 1.5e-8 from the oracle and flipped ~0.3% of round(cos, 6) values).
    # Zero-norm pairs have no cosine and drop; a NaN cosine passes the
    # threshold gate (NaN orders above every number) — the Arrow
    # boundary masks it as NULL, restored below.
    cos_schema = f"doc_a {id_t}, doc_b {id_t}, cosine double"

    def cos_batches(batches):
        import pandas as pd

        for pdf in batches:
            oka, am = stack_vectors(pdf["vec_a"], dim)
            okb, bm = stack_vectors(pdf["vec_b"], dim)
            ok = oka & okb  # all rows: both sides passed the sig kernel
            am, bm = am[ok[oka]], bm[ok[okb]]
            if not len(am):
                continue
            acc = am[:, 0] * bm[:, 0]
            for d in range(1, am.shape[1]):
                acc = acc + am[:, d] * bm[:, d]
            # norms recomputed here with the SAME seq_norm accumulation
            # the signature kernel used when it carried them (r13: the
            # attach joins ship only (id, vec), one fewer column each)
            cos, keep = cosine_scores(acc, seq_norm(am) * seq_norm(bm))
            yield pd.DataFrame(
                {"doc_a": pdf["doc_a"].to_numpy()[ok][keep],
                 "doc_b": pdf["doc_b"].to_numpy()[ok][keep], "cosine": cos[keep]}
            )

    pairs_cos = scored.select(
        "doc_a", "doc_b", "vec_a", "vec_b"
    ).mapInPandas(cos_batches, schema=cos_schema)
    cos = F.coalesce("cosine", F.lit(float("nan")))
    return pairs_cos.filter(cos >= threshold).select(
        "doc_a", "doc_b", cos.alias("cosine")
    )


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash over word tokens: per bit, sign of the
    frequency-weighted sum of (+1/-1) contributions from each distinct
    token's xxhash64 bit. Token counts are pre-aggregated so the
    bit-sums run over (doc x distinct tokens) rows instead of every
    occurrence.

    Lane packing: instead of one conditional-sum aggregate per bit
    (64 aggregate expressions dominated the whole catalog's codegen
    cost), each row packs several bit-counters into one long and we sum
    the packed longs. With the identity sign-sum_i = 2*S_i - T
    (S_i = count of occurrences whose token has bit i set, T = total
    occurrences) the packed counters are non-negative, so lanes never
    borrow. The TOP lane of each long is deliberately left unused: a
    counter occupying bits 48-63 would reach the sign bit at S_i >=
    2**15 and make the ANSI-mode sum overflow-throw, so we pack only
    ``64 // 16 - 1 = 3`` 16-bit counters per long (22 longs) and let
    carries spill into the vacant top bits. Exact while every per-bit
    count S_i < 2**16 (65535 occurrences of any one token); the sum
    cannot hit the sign bit below ~2**30 total tokens.
    """
    lanes_per_long, lane_bits = 3, 16
    n_longs = -(-64 // lanes_per_long)
    lane_mask = (1 << lane_bits) - 1
    from pygeoapi_ingestor_spark.operators.text import norm_words
    from pygeoapi_ingestor_spark.session import spread_if_narrow

    id_t = dict(df.dtypes)[id_col]

    # r13: per OCCURRENCE, no (doc, w) pre-aggregation — S_i is linear
    # in token counts, so Σ_occurrences bit_i == Σ_distinct bit_i · cnt
    # and the first full token shuffle of the r12 formulation is gone
    # (guide §2.4). The wide lane-packing and the 64-term sign chain
    # move to Arrow numpy kernels (guide §4.2): the r12 packed/sign
    # codegen was the catalog's widest generated method family — a
    # measured 15-25 s first-compile tax per fresh session plus ~0.9 s
    # of per-invocation Catalyst work on the 64-term tree. Arithmetic
    # is unchanged: identical per-occurrence packed contributions,
    # identical int64 sums (bounds per the lane-packing note above, so
    # numpy int64 never wraps where the JVM long didn't), identical
    # sign rule — the oracle rebuilds the same bits.
    tok = spread_if_narrow(
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_t"))
    ).select("doc", F.explode(norm_words("_t")).alias("w"))
    if token_hash == "md5":
        # engine-neutral 64-bit token hash: low 60 bits from the first 15
        # md5 hex chars, top 4 bits from the 16th — both halves stay
        # below 2**60 before the shift, so an external SQL oracle can
        # rebuild every bit without a 64-bit overflow (the shifted nibble
        # may set the sign bit; shifts are bit-ops, not ANSI arithmetic)
        hex_ = F.md5(F.col("w"))
        h = F.conv(F.substring(hex_, 1, 15), 16, 10).cast("long").bitwiseOR(
            F.shiftleft(F.conv(F.substring(hex_, 16, 1), 16, 10).cast("long"), 60)
        )
    else:
        h = F.xxhash64("w")
    src = tok.select("doc", h.alias("_h"))

    _bits, _lpl, _lb, _nl = 64, lanes_per_long, lane_bits, n_longs

    def _pack_batches(batches):
        import numpy as np
        import pandas as pd

        cols = ["doc"] + [f"p{j}" for j in range(_nl)] + ["_tot"]
        for pdf in batches:
            if not len(pdf):
                continue
            hv = pdf["_h"].to_numpy(dtype=np.int64).view(np.uint64)
            data = {"doc": pdf["doc"].to_numpy()}
            for j in range(_nl):
                acc = np.zeros(len(hv), dtype=np.int64)
                for lane in range(_lpl):
                    i = j * _lpl + lane
                    if i >= _bits:
                        break
                    bit = ((hv >> np.uint64(i)) & np.uint64(1)).astype(
                        np.int64
                    )
                    acc += bit << (lane * _lb)
                data[f"p{j}"] = acc
            data["_tot"] = np.ones(len(hv), dtype=np.int64)
            # per-(batch, doc) partials: exploded tokens arrive doc-
            # contiguous from the scan, so each batch holds few docs and
            # the emitted partial rows stay tiny
            g = (
                pd.DataFrame(data, columns=cols)
                .groupby("doc", sort=False, as_index=False)
                .sum()
            )
            yield g[cols]

    pack_schema = (
        f"doc {id_t}, "
        + ", ".join(f"p{j} bigint" for j in range(_nl))
        + ", _tot bigint"
    )
    agg = src.mapInPandas(_pack_batches, schema=pack_schema).groupBy("doc").agg(
        *[F.sum(f"p{j}").alias(f"p{j}") for j in range(n_longs)],
        F.sum("_tot").alias("_tot"),
    )

    def _sign_batches(batches):
        import numpy as np
        import pandas as pd

        cols = ["doc", "simhash"]
        for pdf in batches:
            if not len(pdf):
                continue
            tot = pdf["_tot"].to_numpy(dtype=np.int64)
            ps = [
                pdf[f"p{j}"].to_numpy(dtype=np.int64) for j in range(_nl)
            ]
            sim = np.zeros(len(tot), dtype=np.uint64)
            for i in range(_bits):
                j, lane = divmod(i, _lpl)
                s_i = (ps[j] >> (lane * _lb)) & ((1 << _lb) - 1)
                # sign-sum_i > 0  <=>  2*S_i - T > 0; bit 63 via uint64
                sim |= (s_i * 2 > tot).astype(np.uint64) << np.uint64(i)
            yield pd.DataFrame(
                {"doc": pdf["doc"].to_numpy(), "simhash": sim.view(np.int64)},
                columns=cols,
            )

    return agg.mapInPandas(
        _sign_batches, schema=f"doc {id_t}, simhash bigint"
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    token_hash: str = "xxhash64",
    bucket_cap: int | None = 500,
) -> DataFrame:
    """Near-duplicate pairs by SimHash banding (Manku et al., WWW'07
    shape): candidates share any of the four 16-bit bands, then the full
    64-bit hamming distance gates the output at <= 3 bits. The band
    construction is EXACT for that gate: a pair differing in <= 3 bits
    must leave at least one of 4 bands untouched (pigeonhole), so every
    such pair lands in a shared bucket.

    ``bucket_cap``: (band, chunk) buckets holding more than this many
    docs are DROPPED before the self-join. Degenerate documents (empty /
    near-empty after tokenization) collapse onto a handful of chunk
    values; at corpus scale one such bucket is a B^2 hot task that AQE
    cannot split (a single join key), and its candidate mass is
    near-useless for dedup — every member already matched on content-
    free bands. A pair is only lost if EVERY shared band sits in an
    over-full bucket; real near-dup pairs keep a content-bearing band.
    The cap is part of the operator's semantics and is mirrored by the
    SQL oracle (same window count + filter), so results stay exactly
    reproducible. ``None`` disables the cap."""
    sh = simhash(df, id_col, text_col, token_hash=token_hash)
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), i * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("chunk"),
            )
            for i in range(4)
        ]
    )
    banded = sh.select("doc", "simhash", F.explode(bands).alias("bb")).select(
        "doc", "simhash", "bb.band", "bb.chunk"
    )
    if bucket_cap is not None:
        # window count shuffles on (band, chunk) — the SAME key the
        # self-join below hashes on, so the exchange is reused, not added
        w = Window.partitionBy("band", "chunk")
        banded = banded.withColumn("_bn", F.count(F.lit(1)).over(w)).filter(
            F.col("_bn") <= bucket_cap
        ).drop("_bn")
    # materialize the (doc, band, chunk) table before the self-join:
    # each join side otherwise recomputes the whole signature build
    # (tokenize + lane-packed aggregate) plus the cap window — measured
    # 2x wall on the banded corpus. The persisted table IS the SimHash
    # index artifact; same CACHE CONTRACT as the LSH signature base
    # (callers / schedulers clear blocks between jobs).
    from pyspark import StorageLevel

    banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    xor = F.col("sim_a").bitwiseXOR(F.col("sim_b"))
    out = pairs.withColumn("hamming", F.bit_count(xor).cast("int")).select(
        "doc_a", "doc_b", "hamming"
    )
    return out.filter(F.col("hamming") <= 3)


def span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Span-level dedup (the C4 'discard repeated spans' rule at a fixed
    word granularity): split every document into consecutive
    10-word chunks, keep each distinct chunk only at its
    FIRST corpus position (lowest (doc, chunk index)), and reassemble
    documents from their surviving chunks. A fully-duplicated document
    disappears — the document-level exact dedup is the degenerate case.

    One explode + one groupBy-min on the chunk text + one semi-join-like
    equality filter + one re-aggregation: every step shuffles on the
    chunk hash or the doc id, nothing is quadratic, and the chunk
    explode multiplies rows by ~n_words/10, not n_words (the
    shingle explode's factor).

    Returns (id, n_spans, n_kept, dedup_digest) where dedup_digest is
    the md5 of the reassembled text — enough to value-gate the rebuilt
    content without hauling it around.

    Caller contract (ADVICE r13): ``id_col`` must be unique per row —
    the same contract ``shingles()`` assumes. The winner projection
    emits exactly ONE row per distinct chunk; with duplicate ids the
    replaced join-back+equality-filter shape would have kept every
    duplicate occurrence of the winning (doc, idx, chunk), so n_kept /
    dedup_digest differ on such (out-of-contract) inputs.
    """
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n_chunks = F.greatest(F.ceil(F.size(words) / F.lit(10.0)), F.lit(1))
    chunks = F.transform(
        F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
        lambda i: F.array_join(
            F.slice(words, i * 10 + 1, 10), " "
        ),
    )
    exploded = df.select(
        F.col(id_col).alias("doc"), F.posexplode(chunks).alias("idx", "chunk")
    )
    winners = exploded.groupBy("chunk").agg(
        F.min(F.struct("doc", "idx")).alias("_w")
    )
    # the winner row IS the surviving occurrence: each distinct chunk
    # survives exactly at its min (doc, idx), so re-joining the exploded
    # table against the winners and filtering for equality (the previous
    # shape — one more exchange + join) reproduces precisely these rows
    kept = winners.select(
        F.col("_w.doc").alias("doc"), F.col("_w.idx").alias("idx"), "chunk"
    )
    rebuilt = (
        kept.groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "chunk"))),
                    lambda s: s.getField("chunk"),
                ),
                " ",
            ).alias("_text"),
        )
    )
    orig = df.select(
        F.col(id_col).alias("doc"), F.size(chunks).cast("bigint").alias("n_spans")
    )
    return (
        orig.join(rebuilt, "doc")
        .select(
            F.col("doc").alias(id_col),
            "n_spans",
            F.col("n_kept").cast("bigint").alias("n_kept"),
            F.md5(F.col("_text")).alias("dedup_digest"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): hash every word 4-gram, then keep the minimum
    hash of every 5 consecutive grams. Guarantees any shared run of 8
    words between two documents shares at least one selected
    fingerprint — the local-similarity detector that whole-doc hashing
    misses and all-grams storage over-pays for (density 1/3 of all
    grams).

    Shuffle-free formulation (r14, guide §2.4 — the shingles()
    precedent): the positioned grams, the zero-padded sortable keys
    (md5-15 || lpad(pos)), the per-window minima (``array_min`` over a
    ``slice`` per full-window start) and the membership filter all run
    INSIDE the per-document token array — zero exchanges in the whole
    operator, where the r13 shape shuffled every token occurrence on
    doc for the lead window, again for the window-min frame, and once
    more for the selected-keys semi-join. Ties still break to the
    LOWEST position (the key embeds the position; classic winnowing
    breaks right), selection still requires FULL windows, and the
    emitted (doc, pos, gram_hash) set is row-identical by construction
    — the key/hash expressions are unchanged.

    Returns (doc, pos, gram_hash) — the positioned fingerprint set.
    """
    from pygeoapi_ingestor_spark.operators.text import norm_words
    from pygeoapi_ingestor_spark.session import spread_if_narrow

    words = norm_words(text_col)
    base = spread_if_narrow(
        df.select(F.col(id_col).alias("doc"), F.col(text_col))
    ).select("doc", words.alias("_ws"))
    n_grams = F.size("_ws") - 3
    grams = F.transform(
        F.when(n_grams > 0, F.sequence(F.lit(1), n_grams)).otherwise(
            F.array().cast("array<int>")
        ),
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("_ws"), i + j) for j in range(4)]
        ),
    )
    # one md5-15 per gram, shared by the hash and the sortable key. The
    # entry struct leads with _key so array_min over a window slice IS
    # the winnowing argmin (struct ordering is field-by-field; _key is
    # unique within a doc because it embeds the position) — no
    # membership test, so nothing is re-evaluated per element (HOF
    # lambdas are interpreted without common-subexpression elimination:
    # an array_contains(selected, ...) filter re-computed the whole
    # selected array PER ENTRY, measured 80 s on sf0.1).
    g15 = F.transform(grams, lambda g: F.substring(F.md5(g), 1, 15))
    entries = F.transform(
        g15,
        lambda g, i: F.struct(
            F.concat(
                F.lpad(g, 15, "0"),
                F.lpad(i.cast("string"), 8, "0"),
            ).alias("_key"),
            i.alias("pos"),
            F.conv(g, 16, 10).cast("long").alias("gram_hash"),
        ),
    )
    rowed = base.select("doc", entries.alias("_es"))
    n_starts = F.size("_es") - 4
    winners = F.array_distinct(
        F.transform(
            F.when(n_starts > 0, F.sequence(F.lit(1), n_starts)).otherwise(
                F.array().cast("array<int>")
            ),
            lambda s: F.array_min(F.slice(F.col("_es"), s, 5)),
        )
    )
    return rowed.select("doc", F.explode(winners).alias("_e")).select(
        "doc", F.col("_e.pos").alias("pos"), F.col("_e.gram_hash").alias("gram_hash")
    )


def ppjoin_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Exact set-Jaccard similarity join with PPJoin-style prefix
    filtering (Xiao/Wang/Lin/Yu 2008): order every document's tokens by
    global rarity, and generate candidates only from each document's
    PREFIX (the first |T| - ceil(t*|T|) + 1 tokens). Lossless: a pair
    with J >= t must overlap in >= t*max(|A|,|B|) tokens, so two
    disjoint prefixes bound the overlap strictly below that — unlike
    MinHash this prunes with NO recall loss, which is why it is the
    canonical exact set-similarity join at scale (candidates shuffle on
    rare tokens only; frequent tokens never generate pairs).

    The set universe is word 3-gram shingles (single words collapse on
    small-vocabulary corpora), t = 0.6. Verification is the exact
    shared-token count over candidate pairs.
    Returns (doc_a, doc_b, n_common, size_a, size_b, jaccard).
    """
    toks = shingles(df, id_col, text_col, n=3).select(
        "doc", F.col("shingle").alias("w")
    )
    # the token table feeds the df counts and the rarity join:
    # materialize the tokenization once
    from pyspark import StorageLevel

    toks = toks.persist(StorageLevel.MEMORY_AND_DISK)
    dfreq = toks.groupBy("w").agg(F.count(F.lit(1)).alias("_df"))
    ranked = toks.join(dfreq, "w")
    # per-doc tokens ordered by (global df asc, token): rarest first —
    # the order that makes prefixes maximally selective. Persisted: the
    # prefix explode AND the verify stage below both read it (r13 — the
    # verify previously re-aggregated toks into per-doc arrays with a
    # SECOND groupBy(doc) collect_list; _sorted already holds exactly
    # those distinct tokens, and array_intersect is order-blind, so the
    # extra shuffle bought nothing).
    per_doc = ranked.groupBy("doc").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("_df").alias("d"), F.col("w").alias("w")))
        ).alias("_sorted"),
        F.count(F.lit(1)).cast("bigint").alias("size"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    prefix_len = (
        F.col("size") - F.ceil(F.lit(0.6) * F.col("size")) + 1
    ).cast("int")
    prefixes = per_doc.select(
        "doc",
        "size",
        F.explode(
            F.transform(
                F.slice(F.col("_sorted"), F.lit(1), prefix_len),
                lambda s: s.getField("w"),
            )
        ).alias("w"),
    )
    a, b = prefixes.alias("a"), prefixes.alias("b")
    # length filter inside the join condition: J >= t needs
    # min(|A|,|B|) >= t*max(|A|,|B|), so size-incompatible pairs are
    # dropped before the candidate distinct ever shuffles them
    length_ok = (
        F.col("b.size").cast("double") >= F.lit(0.6) * F.col("a.size")
    ) & (
        F.col("a.size").cast("double") >= F.lit(0.6) * F.col("b.size")
    )
    cand = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.doc") < F.col("b.doc"))
            & length_ok,
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.size").alias("size_a"),
            F.col("b.size").alias("size_b"),
        )
        .distinct()
    )
    # exact-verify via size(array_intersect) over per-doc token arrays —
    # one codegen intersect per CANDIDATE pair, replacing the r12
    # explode-by-|A| + semi-join + re-aggregate (three shuffles whose
    # row count was candidates × tokens; this one's is candidates +
    # 2·docs). The arrays are projected straight out of the persisted
    # per_doc table (its _sorted structs hold each doc's distinct
    # tokens; array_intersect is order-blind), so the verify adds NO
    # aggregation of its own. Tokens are distinct by construction, so
    # |array_intersect| == |A ∩ B| — the same integer the exploded
    # count produced.
    tok_arrays = per_doc.select(
        "doc",
        F.transform("_sorted", lambda s: s.getField("w")).alias("_toks"),
    )
    inter = (
        cand.join(
            tok_arrays.select(F.col("doc").alias("doc_a"), F.col("_toks").alias("_ta")),
            "doc_a",
        )
        .join(
            tok_arrays.select(F.col("doc").alias("doc_b"), F.col("_toks").alias("_tb")),
            "doc_b",
        )
        .withColumn(
            "n_common", F.size(F.array_intersect("_ta", "_tb")).cast("bigint")
        )
        .drop("_ta", "_tb")
    )
    j = F.col("n_common") / (
        F.col("size_a") + F.col("size_b") - F.col("n_common")
    )
    return (
        inter.withColumn("jaccard", j)
        .filter(F.col("jaccard") >= 0.6)
        .select(
            "doc_a", "doc_b", "n_common", "size_a", "size_b",
            F.round("jaccard", 6).alias("jaccard"),
        )
    )
