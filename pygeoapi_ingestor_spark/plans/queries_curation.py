r"""Training-data curation catalog queries (SURVEY.md §2 blocks B/C,
round-10 session-2 additions) on ``documents``, ``embeddings`` and
``events``.

Production actions a 100 TB curation pipeline runs after the
dedup/quality machinery the earlier rounds built:

- ``segment_dedup`` — CCNet-style cross-document segment frequency
  (the "line dedup" pass of Wenzek et al. 2020, re-keyed to fixed
  8-word segments because the synthetic corpus has no newlines): how
  much of each document is boilerplate shared with other documents.
- ``dsir_importance_weights`` — hashed-bigram importance weights
  (Xie et al. 2023, Data Selection via Importance Resampling): per-doc
  average log-likelihood ratio of a target-source bigram model vs the
  raw-corpus model, the data-selection score.
- ``cms_heavy_hitters`` — Count-Min sketch (Cormode & Muthukrishnan
  2005) token-frequency estimates next to exact counts for the top
  terms: the acceptance row for the sketch whose state stays
  4x1024 cells at any corpus size.
- ``kmeans_silhouette`` — pooled silhouette cohesion per k-means
  cluster over the int8-quantized embeddings: the accept/reject gate
  on the trained IVF/semdedup clustering.
- ``ivf_probe_sweep`` — pooled recall@k at n_probe 1/2/4: the curve an
  IVF deployment chooses its per-query cost from.
- ``cluster_source_mix`` — per-cluster source composition + entropy
  (the embeddings-to-documents join on the vec_id = doc_id contract).
- ``quality_dup_interaction`` — dup-membership rate per quality decile
  over the verify-once near-dup fixpoint.
- ``cluster_balanced_sample`` — deterministic per-cluster md5-draw cap:
  the diversity downsample.
- ``bloom_fp_eval`` — md5-Bloom filter over reference fingerprints
  probed by a fresh slice: observed FP rate, zero-miss invariant,
  load factor (the oracled twin of dedup.bloom_prescreen).
- ``hll_union_eval`` — from-first-principles md5 HyperLogLog per
  event_type plus the register-wise-max merged row: the oracled twin
  of approx_distinct_users, pinning the mergeable-sketch estimate
  against exact distincts.

House parity conventions throughout (queries_ml.py docstring): integer
or decimal-exact accumulation wherever a sum crosses rows (per-row
doubles are rounded to 12 dp and summed as decimal(38,12) — the
token_zipf_fit trick), floats only in final per-row expressions,
``round(..., 6)`` applied identically on both sides, and every hash an
engine-neutral md5-substring so the DuckDB twin replays it exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pygeoapi_ingestor_spark.operators import similarity, text
from pygeoapi_ingestor_spark.sources.readers import (
    read_documents as _docs,
    read_embeddings as _emb,
    read_events as _events,
)

SEG_WORDS = 8  # segment width (words) for the cross-doc segment census
DSIR_BUCKETS = 4096  # hashed-bigram feature space (DSIR paper uses 10k)
DSIR_TARGET_SOURCE = "src0"  # the "high-quality target" corpus slice
CMS_DEPTH = 4  # count-min rows (independent hash functions)
CMS_WIDTH = 1024  # count-min buckets per row
CMS_TOPN = 100  # exact heavy hitters to score the sketch against


def _words_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenized documents (doc_id, source, w: array<string>) as a
    BUILD-ONCE shared artifact (VERDICT r10 item 2 + ADVICE r10):
    registered in the queries_llm verify-once registry, materialized
    via ``localCheckpoint`` once per (session, corpus), surviving
    ``catalog.clearCache()``, evicted on corpus switch, released by
    ``scheduler.finalize_job``. The r10 shape re-built a per-call
    persist barrier instead: segment_dedup and dsir_importance_weights
    each paid the tokenize cold (sf1 cold 4.6/5.4s vs warm 0.8s) and
    each invocation registered its own MEMORY_AND_DISK entry.

    The barrier itself is load-bearing beyond caching: without it,
    CollapseProject inlines the regex tokenize into every downstream
    higher-order-function lambda (HOFs run interpreted with no common-
    subexpression elimination), so a per-segment slice re-tokenizes its
    document once per index — measured 26.7s -> 5.0s for the sf1
    segment explode. A checkpoint severs lineage outright, so the
    barrier cannot be optimized away. At 100 TB the tokenized
    projection is the at-rest artifact a curation pipeline materializes
    once (a parquet table in production; localCheckpoint is the
    in-session equivalent)."""
    from pygeoapi_ingestor_spark.plans import queries_llm as qllm

    key = ("words", spark.sparkContext.applicationId, sf_dir)
    hit = qllm._VP_ARTIFACTS.get(key)
    if hit is not None:
        return hit
    for k in [k for k in qllm._VP_ARTIFACTS if k[1:] != key[1:]]:
        qllm._free_local_ckpt(qllm._VP_ARTIFACTS.pop(k))
    docs = _docs(spark, sf_dir)
    ckpt = docs.select(
        "doc_id", "source", text.norm_words("text").alias("w")
    ).localCheckpoint()
    qllm._VP_ARTIFACTS[key] = ckpt
    return ckpt


def _hash60(col) -> F.Column:
    """Engine-neutral 60-bit hash: ('0x'||substr(md5(x),1,15))::BIGINT
    in DuckDB, conv(substr(md5(x),1,15),16,10) here — always positive,
    so ``%`` agrees between engines."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


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


# ---------------------------------------------------------------------------
# segment_dedup (block C)
# ---------------------------------------------------------------------------


def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style cross-document segment census: chop every document
    into non-overlapping 8-word segments, hash each (md5 — the shuffle
    carries 16-byte digests, never text), count how many DISTINCT
    documents each segment appears in, and report per document how much
    of it is corpus-boilerplate (segments shared with >=1 other doc).

    Scale shape: one explode + one groupBy on the segment hash (map-side
    combinable counts) + one co-partitioned join back on the same key —
    AQE reuses the exchange. No text survives past the first projection;
    state per segment is (digest, two longs). The per-doc rollup is a
    second combinable groupBy on doc_id. At 100 TB this is the exact
    plan CCNet runs per shard, minus the driver ever seeing a row."""
    wdf = _words_df(spark, sf_dir)
    words = F.col("w")
    n_full = F.floor(F.size(words) / SEG_WORDS).cast("int")
    segs = F.when(
        n_full >= 1,
        F.transform(
            F.sequence(F.lit(0), n_full - 1),
            lambda i: F.array_join(
                F.slice(words, i * SEG_WORDS + 1, SEG_WORDS), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    seg_rows = wdf.select(
        "doc_id", "source", F.explode(segs).alias("seg")
    ).select("doc_id", "source", F.md5("seg").alias("seg_hash"))
    # index-artifact cache contract (operators/dedup.py): the digest
    # stream feeds BOTH the frequency build and the join-back — persist
    # so tokenize+segment+md5 runs once, not twice
    seg_rows = seg_rows.persist()
    freq = seg_rows.groupBy("seg_hash").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs_with")
    )
    joined = seg_rows.join(freq, "seg_hash")
    return (
        joined.groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.sum(
                F.when(F.col("n_docs_with") >= 2, 1).otherwise(0)
            ).cast("bigint").alias("n_shared_segments"),
        )
        .withColumn(
            "shared_ratio",
            F.round(
                F.col("n_shared_segments").cast("double")
                / F.col("n_segments").cast("double"),
                6,
            ),
        )
    )


_SEGMENT_DEDUP_ORACLE = _WORDS_CTE + f"""
, segs AS (
    SELECT doc_id, source,
           md5(array_to_string(
               words[{SEG_WORDS}*i + 1 : {SEG_WORDS}*i + {SEG_WORDS}], ' '))
               AS seg_hash
    FROM words_t, LATERAL (
        SELECT unnest(range(0, CAST(floor(len(words) / {SEG_WORDS}) AS BIGINT)))
               AS i
    )
), freq AS (
    SELECT seg_hash, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_with
    FROM segs GROUP BY 1
)
SELECT s.doc_id, s.source,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(CASE WHEN f.n_docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared_segments,
       round(CAST(sum(CASE WHEN f.n_docs_with >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS shared_ratio
FROM segs s JOIN freq f USING (seg_hash)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# dsir_importance_weights (block C)
# ---------------------------------------------------------------------------


def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data-selection weights (Xie et al. 2023): hash every word
    bigram into {DSIR_BUCKETS} buckets, fit add-one-smoothed unigram-
    over-buckets models for the TARGET slice (source = src0) and the
    RAW corpus, and score each document by its average per-bigram
    log-likelihood ratio — documents that "look like" the target score
    high and get upweighted at sampling time.

    Scale shape: the feature space is FIXED (4096 buckets), so both
    models are one map-side-combinable groupBy ending in a 4096-row
    table that broadcasts back onto the doc-bigram stream; the per-doc
    score is a second combinable groupBy whose summand is a 12-dp
    decimal (exact, partition-order-free — the zipf-fit trick). Two
    scans of the corpus, no data-sized driver state."""
    wdf = _words_df(spark, sf_dir)
    words = F.col("w")
    n_bi = F.greatest(F.size(words) - 1, F.lit(0))
    # consecutive-word pairs as one zip of the array against its own
    # 1-shifted slice — a single projection, no per-index element_at;
    # the cached words barrier (_words_df) keeps the tokenize out of
    # the zip lambdas
    bigrams = F.zip_with(
        F.slice(words, 1, n_bi),
        F.slice(words, 2, n_bi),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bg = wdf.select(
        "doc_id", "source", F.explode(bigrams).alias("bigram")
    ).select(
        "doc_id",
        "source",
        (_hash60(F.col("bigram")) % DSIR_BUCKETS).alias("bucket"),
    )
    # the tokenized/hashed stream feeds the model build AND the per-doc
    # scoring join — persist so the regex tokenize runs once (the cold
    # profile showed 3 full lineage scans dominating this key)
    bg = bg.persist()
    # BOTH models in ONE combinable aggregation: rc = all occurrences,
    # tc = occurrences in the target slice (a conditional sum, not a
    # second scan + outer join)
    model = bg.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("rc"),
        F.sum(
            F.when(F.col("source") == DSIR_TARGET_SOURCE, 1).otherwise(0)
        ).cast("bigint").alias("tc"),
    )
    totals = model.agg(
        F.sum("rc").cast("bigint").alias("R"),
        F.sum("tc").cast("bigint").alias("T"),
    )
    weights = model.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.round(
            F.log(
                (F.col("tc") + 1).cast("double")
                / (F.col("T") + DSIR_BUCKETS).cast("double")
            )
            - F.log(
                (F.col("rc") + 1).cast("double")
                / (F.col("R") + DSIR_BUCKETS).cast("double")
            ),
            12,
        ).cast("decimal(38,12)").alias("llr"),
    )
    return (
        bg.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("llr").alias("_sum_llr"),
        )
        .select(
            "doc_id",
            "source",
            "n_bigrams",
            F.round(
                F.col("_sum_llr").cast("double")
                / F.col("n_bigrams").cast("double"),
                6,
            ).alias("avg_llr"),
        )
    )


_DSIR_ORACLE = _WORDS_CTE + f"""
, bg AS (
    SELECT doc_id, source,
           (('0x' || substr(md5(words[i] || ' ' || words[i+1]), 1, 15))::BIGINT)
               % {DSIR_BUCKETS} AS bucket
    FROM words_t, LATERAL (
        SELECT unnest(range(1, CAST(greatest(len(words) - 1, 0) AS BIGINT) + 1))
               AS i
    )
), raw AS (
    SELECT bucket, CAST(count(*) AS BIGINT) AS rc FROM bg GROUP BY 1
), tgt AS (
    SELECT bucket, CAST(count(*) AS BIGINT) AS tc FROM bg
    WHERE source = '{DSIR_TARGET_SOURCE}' GROUP BY 1
), model AS (
    SELECT r.bucket, r.rc, coalesce(t.tc, 0) AS tc
    FROM raw r LEFT JOIN tgt t USING (bucket)
), tot AS (
    SELECT CAST(sum(rc) AS BIGINT) AS R, CAST(sum(tc) AS BIGINT) AS T
    FROM model
), w AS (
    SELECT bucket,
           CAST(round(
               ln(CAST(tc + 1 AS DOUBLE) / CAST(T + {DSIR_BUCKETS} AS DOUBLE))
               - ln(CAST(rc + 1 AS DOUBLE) / CAST(R + {DSIR_BUCKETS} AS DOUBLE)),
               12) AS DECIMAL(38,12)) AS llr
    FROM model CROSS JOIN tot
)
SELECT bg.doc_id, bg.source,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(CAST(sum(w.llr) AS DOUBLE) / count(*), 6) AS avg_llr
FROM bg JOIN w USING (bucket)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# cms_heavy_hitters (block B)
# ---------------------------------------------------------------------------


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch acceptance row: build a {CMS_DEPTH}x{CMS_WIDTH}
    CMS over the corpus token stream (seeded md5 hashes — engine-
    neutral), then put the sketch's estimate NEXT TO the exact count for
    the top {CMS_TOPN} tokens, with the guaranteed-nonnegative
    overcount. The sketch is the 100 TB path (its state never exceeds
    4096 mergeable cells whatever the corpus); this row measures what
    that boundedness costs in accuracy on THIS corpus.

    Scale shape: exact term frequencies are one combinable groupBy; the
    sketch derives from the tf table (sum per (row, bucket) — identical
    to per-occurrence increments, associativity of +), so the corpus is
    scanned once. The top-N is a TakeOrdered (per-partition top-k +
    merge), and the estimate join broadcasts the 4096-cell sketch."""
    docs = _docs(spark, sf_dir)
    tf = (
        docs.select(F.explode(text.norm_words("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_cnt"))
    )
    tf = tf.persist()
    hashes = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (
                    _hash60(F.concat(F.lit(f"{j}:"), F.col("token")))
                    % CMS_WIDTH
                ).alias("bucket"),
            )
            for j in range(CMS_DEPTH)
        ]
    )
    cells = (
        tf.select("exact_cnt", F.explode(hashes).alias("h"))
        .groupBy(F.col("h.j").alias("j"), F.col("h.bucket").alias("bucket"))
        .agg(F.sum("exact_cnt").cast("bigint").alias("cell"))
    )
    top = tf.orderBy(F.desc("exact_cnt"), F.asc("token")).limit(CMS_TOPN)
    est = (
        top.select("token", "exact_cnt", F.explode(hashes).alias("h"))
        .join(
            F.broadcast(cells),
            (F.col("h.j") == F.col("j")) & (F.col("h.bucket") == F.col("bucket")),
        )
        .groupBy("token", "exact_cnt")
        .agg(F.min("cell").cast("bigint").alias("cms_est"))
    )
    return est.select(
        "token",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).cast("bigint").alias("overcount"),
    )


def _cms_oracle_sql() -> str:
    bucket = (
        "(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || token), 1, 15))"
        f"::BIGINT) % {CMS_WIDTH}"
    )
    return _WORDS_CTE + f"""
, tf AS (
    SELECT token, CAST(count(*) AS BIGINT) AS exact_cnt
    FROM (SELECT unnest(words) AS token FROM words_t)
    GROUP BY 1
), hashed AS (
    SELECT token, exact_cnt, j, {bucket} AS bucket
    FROM tf CROSS JOIN (SELECT unnest(range(0, {CMS_DEPTH})) AS j)
), cells AS (
    SELECT j, bucket, CAST(sum(exact_cnt) AS BIGINT) AS cell
    FROM hashed GROUP BY 1, 2
), top AS (
    SELECT token, exact_cnt FROM tf
    ORDER BY exact_cnt DESC, token ASC LIMIT {CMS_TOPN}
), est AS (
    SELECT h.token, h.exact_cnt, CAST(min(c.cell) AS BIGINT) AS cms_est
    FROM hashed h
    JOIN top t ON t.token = h.token
    JOIN cells c ON c.j = h.j AND c.bucket = h.bucket
    GROUP BY 1, 2
)
SELECT token, exact_cnt, cms_est,
       CAST(cms_est - exact_cnt AS BIGINT) AS overcount
FROM est
"""


# ---------------------------------------------------------------------------
# kmeans_silhouette (block C)
# ---------------------------------------------------------------------------


def q_kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled silhouette per k-means cluster — the accept/reject gate on
    the trained clustering that IVF probing and SemDeDup pruning both
    sit on. Reuses the EXACT deterministic integer Lloyd run of
    kmeans_clusters_int8 (same init, same iterations — the unrolled-CTE
    oracle replays it), then per point takes a = integer sq-distance to
    its own centroid and b = min sq-distance to any OTHER centroid, and
    aggregates EXACT integer sums of (b - a) and max(a, b) per cluster:
    the pooled ratio sum(b-a)/sum(max(a,b)) is the micro-averaged
    silhouette, computed with a single final float division (immune to
    double-sum order drift — the house pooled-jaccard discipline).

    Scale shape: training happens ONCE per corpus (the train-once
    shared_kmeans_cents artifact — k x dim ints on the driver); scoring
    is ONE projection against the literal centroid array + one
    combinable groupBy."""
    from pygeoapi_ingestor_spark.plans.queries_llm import (
        shared_kmeans_cents,
    )

    emb = _emb(spark, sf_dir)
    cents = shared_kmeans_cents(spark, sf_dir)
    assigned = similarity.kmeans_assign_int8(
        emb, "vec_id", "embedding", cents
    )
    scored = similarity.with_centroid_dists(assigned, "_q", cents, "_dists")
    b = F.array_min(
        F.filter(F.col("_dists"), lambda s: s.cid != F.col("cluster"))
    ).getField("d")
    per_point = scored.select(
        F.col("cluster").cast("int").alias("cluster"),
        F.col("sq_dist").alias("a"),
        b.alias("b"),
    )
    return (
        per_point.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("b") - F.col("a")).cast("bigint").alias("sum_gap"),
            F.sum(F.greatest("a", "b")).cast("bigint").alias("sum_max"),
        )
        .withColumn(
            "pooled_silhouette",
            F.round(
                F.col("sum_gap").cast("double") / F.col("sum_max").cast("double"),
                6,
            ),
        )
    )


def _silhouette_oracle_sql() -> str:
    from pygeoapi_ingestor_spark.plans.queries_llm import (
        KMEANS_PARAMS,
        _kmeans_cte,
    )

    parts, prev = _kmeans_cte(
        KMEANS_PARAMS["k"], KMEANS_PARAMS["iters"], KMEANS_PARAMS["dim"]
    )
    dist = (
        "CAST(list_sum(list_transform(list_zip(q.qv, c.cv),"
        " s -> CAST((s[1] - s[2]) AS BIGINT) * (s[1] - s[2]))) AS BIGINT)"
    )
    final = f"""
pd AS (
  SELECT q.vec_id, c.cid, {dist} AS d
  FROM q CROSS JOIN {prev} c
),
ad AS (
  SELECT vec_id, cid AS cluster, d AS a FROM pd
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
),
bd AS (
  SELECT pd.vec_id, CAST(min(pd.d) AS BIGINT) AS b
  FROM pd JOIN ad ON ad.vec_id = pd.vec_id AND pd.cid <> ad.cluster
  GROUP BY 1
)
SELECT CAST(ad.cluster AS INTEGER) AS cluster,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(bd.b - ad.a) AS BIGINT) AS sum_gap,
       CAST(sum(greatest(ad.a, bd.b)) AS BIGINT) AS sum_max,
       round(CAST(sum(bd.b - ad.a) AS DOUBLE)
             / CAST(sum(greatest(ad.a, bd.b)) AS DOUBLE), 6)
           AS pooled_silhouette
FROM ad JOIN bd USING (vec_id)
GROUP BY 1
"""
    return "WITH " + ",".join(parts) + "," + final


# ---------------------------------------------------------------------------
# ivf_probe_sweep (block C)
# ---------------------------------------------------------------------------

PROBE_SWEEP = (1, 2, 4)


def q_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF tuning curve: pooled recall@k at n_probe = 1 / 2 / 4 on the
    fixed-K md5 query sample — the table you read BEFORE choosing the
    probe count an IVF deployment pays per query (ivf_recall_eval pins
    one operating point; this key pins the curve). Ground truth is
    computed once and persisted (house index-artifact cache contract);
    each sweep point is one probe-limited candidate join. Pooled sums
    are exact integers; the only float is the final recall division."""
    from pygeoapi_ingestor_spark.plans.queries_llm import (
        TOPK,
        _ann_query_ids,
        _emb as _emb_llm,
        shared_ann_gt,
    )

    e = _emb_llm(spark, sf_dir)
    qids = _ann_query_ids(spark, sf_dir)
    q = e.filter(F.col("vec_id").isin(qids))
    # eval-once ground-truth artifact (r12) — already materialized, so
    # no per-call persist barrier is needed for the three sweep reads
    gt = shared_ann_gt(spark, sf_dir)
    parts = []
    for p in PROBE_SWEEP:
        cand = similarity.ivf_topk(
            e, q, id_col="vec_id", vec_col="embedding",
            query_id_col="vec_id", query_vec_col="embedding",
            k=TOPK, n_clusters=16, n_probe=p,
        )
        hits = gt.join(
            cand.select("query_id", "neighbor_id").withColumn("_hit", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        parts.append(
            hits.agg(
                F.lit(p).cast("int").alias("n_probe"),
                F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
                .cast("bigint")
                .alias("sum_hits"),
            )
        )
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    nq = len(qids)
    from pygeoapi_ingestor_spark.plans.queries_llm import TOPK as _k

    return out.select(
        "n_probe",
        "sum_hits",
        F.lit(nq).cast("bigint").alias("n_queries"),
        F.round(
            F.col("sum_hits").cast("double") / F.lit(float(nq * _k)), 6
        ).alias("pooled_recall"),
    )


def _ivf_probe_sweep_oracle_sql() -> str:
    from pygeoapi_ingestor_spark.plans.queries_llm import (
        TOPK,
        _ANN_QUERY_SQL,
        _cosine_topk_oracle_sql,
        _ivf_topk_oracle_sql,
    )

    blocks = []
    for p in PROBE_SWEEP:
        blocks.append(f"""
SELECT {p} AS n_probe,
       CAST(count(cand.neighbor_id) AS BIGINT) AS sum_hits,
       (SELECT CAST(count(*) AS BIGINT) FROM embeddings
        WHERE {_ANN_QUERY_SQL}) AS n_queries,
       round(CAST(count(cand.neighbor_id) AS DOUBLE)
             / ((SELECT count(*) FROM embeddings WHERE {_ANN_QUERY_SQL})
                * {float(TOPK)}), 6) AS pooled_recall
FROM ({_cosine_topk_oracle_sql(_ANN_QUERY_SQL)}) gt
LEFT JOIN ({_ivf_topk_oracle_sql(_ANN_QUERY_SQL, n_probe=p)}) cand
  ON gt.query_id = cand.query_id AND gt.neighbor_id = cand.neighbor_id
""")
    return " UNION ALL ".join(blocks)


# ---------------------------------------------------------------------------
# cluster_source_mix (block C)
# ---------------------------------------------------------------------------


def q_cluster_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-balance diagnostic: per k-means embedding cluster, the
    SOURCE composition — dominant source, its share, and the source
    entropy (12-dp decimal term sums, order-free). A cluster owned by
    one source is a crawl-imbalance or template signature; a flat mix
    is a genuine semantic topic. First key to JOIN the embedding space
    to document metadata (vec_id = doc_id in the testdata contract).

    Scale shape: assignment is one projection against the train-once
    shared centroids (no shuffle, no retraining); the rollup is two
    combinable groupBys whose state is bounded by k x n_sources; the
    doc join is on the primary key."""
    from pygeoapi_ingestor_spark.plans.queries_llm import (
        shared_kmeans_cents,
    )

    from pyspark.sql.window import Window

    emb = _emb(spark, sf_dir)
    assigned = similarity.kmeans_assign_int8(
        emb, "vec_id", "embedding", shared_kmeans_cents(spark, sf_dir)
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("_id"), "source"
    )
    cs = (
        assigned.select("_id", F.col("cluster").cast("int").alias("cluster"))
        .join(docs, "_id")
        .groupBy("cluster", "source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    # k x n_sources rows, consumed by tot/terms/ranked/agg: without the
    # barrier each branch replays the interpreted argmin-assignment HOF
    # over the whole corpus (4 full scans — measured 19s vs 5s at sf0.1)
    cs = cs.persist()
    tot = cs.groupBy("cluster").agg(F.sum("cnt").cast("bigint").alias("n"))
    p = F.col("cnt").cast("double") / F.col("n").cast("double")
    terms = cs.join(tot, "cluster").select(
        "cluster",
        "source",
        "cnt",
        "n",
        F.round(p * F.log(p), 12).cast("decimal(38,12)").alias("_plogp"),
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("cnt").desc(), F.col("source").asc()
    )
    ranked = terms.withColumn("_rn", F.row_number().over(w))
    agg = terms.groupBy("cluster").agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
        (-F.sum("_plogp")).cast("double").alias("_ent"),
    )
    top = ranked.filter(F.col("_rn") == 1).select(
        "cluster",
        F.col("source").alias("top_source"),
        F.col("cnt").alias("top_cnt"),
    )
    return agg.join(top, "cluster").select(
        "cluster",
        "n",
        "n_sources",
        "top_source",
        F.round(
            F.col("top_cnt").cast("double") / F.col("n").cast("double"), 6
        ).alias("top_share"),
        F.round("_ent", 6).alias("source_entropy"),
    )


def _cluster_source_mix_oracle_sql() -> str:
    from pygeoapi_ingestor_spark.plans.queries_llm import (
        KMEANS_PARAMS,
        _kmeans_cte,
    )

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
  SELECT vec_id, cid AS cluster FROM pf
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
),
cs AS (
  SELECT af.cluster, d.source, CAST(count(*) AS BIGINT) AS cnt
  FROM af JOIN documents d ON d.doc_id = af.vec_id
  GROUP BY 1, 2
),
tot AS (
  SELECT cluster, CAST(sum(cnt) AS BIGINT) AS n FROM cs GROUP BY 1
),
terms AS (
  SELECT cs.cluster, cs.source, cs.cnt, t.n,
         CAST(round((CAST(cs.cnt AS DOUBLE) / t.n)
                    * ln(CAST(cs.cnt AS DOUBLE) / t.n), 12)
              AS DECIMAL(38,12)) AS plogp,
         row_number() OVER (PARTITION BY cs.cluster
                            ORDER BY cs.cnt DESC, cs.source ASC) AS rn
  FROM cs JOIN tot t USING (cluster)
)
SELECT CAST(cluster AS INTEGER) AS cluster,
       max(n) AS n,
       CAST(count(*) AS BIGINT) AS n_sources,
       max(CASE WHEN rn = 1 THEN source END) AS top_source,
       round(CAST(max(CASE WHEN rn = 1 THEN cnt END) AS DOUBLE)
             / max(n), 6) AS top_share,
       round(CAST(-sum(plogp) AS DOUBLE), 6) AS source_entropy
FROM terms
GROUP BY cluster
"""
    return "WITH " + ",".join(parts) + "," + final


# ---------------------------------------------------------------------------
# quality_dup_interaction (block C)
# ---------------------------------------------------------------------------


def q_quality_dup_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does low-quality text duplicate more? Per quality-score DECILE
    (exact distributed ntile — bucketed row_number + closed-form
    tiling, never a single-task global sort), the share of documents
    that belong to ANY verified near-dup cluster (the verify-once
    shared fixpoint). The curation-policy table that decides whether
    quality filtering and dedup are redundant passes or independent
    ones on this corpus.

    Scale shape: quality scoring is one projection; decile assignment
    is the ranks.bucketed_row_number machinery; dup membership is a
    broadcast-sized distinct-node join against the shared artifact.

    Caller contract: the returned plan reads a persisted narrow
    (doc_id, quality_score) projection that this function does not
    release. The caller owns it: ``streaming.scheduler.finalize_job``
    (or ``spark.catalog.clearCache()``) frees it once the result is
    collected."""
    from pygeoapi_ingestor_spark.functions import ranks
    from pygeoapi_ingestor_spark.operators import text as text_ops
    from pygeoapi_ingestor_spark.plans.queries_llm import (
        shared_dup_components,
    )

    from pyspark import StorageLevel

    # the ranks drill-down (stats pass, per-bucket counts, ranked pass)
    # evaluates its input 3-4x, and the input here is the regex-heavy
    # quality projection (~0.9 s/evaluation at bench SF — measured
    # r14). Persist the NARROW (doc_id, score) projection once per
    # call, the rfm_segments pattern (guide §2.3/§5); the bench's
    # clearCache between keys drops it.
    scored = (
        text_ops.quality_features(_docs(spark, sf_dir), text_col="text")
        .select("doc_id", "quality_score")
        .withColumn("_g", F.lit(0))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    rn = ranks.bucketed_row_number(
        scored, series_cols=["_g"], value_col="quality_score",
        tiebreak_cols=["doc_id"], out_col="_rn", count_col="_cnt",
    )
    tiles = rn.withColumn("decile", ranks.ntile_expr("_rn", "_cnt", 10))
    members = (
        shared_dup_components(spark, sf_dir)
        .select(F.col("node").alias("doc_id"))
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    joined = tiles.join(members, "doc_id", "left")
    return (
        joined.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0)))
            .cast("bigint")
            .alias("n_dup_members"),
            F.round(F.min("quality_score"), 6).alias("q_lo"),
            F.round(F.max("quality_score"), 6).alias("q_hi"),
        )
        .withColumn(
            "dup_rate",
            F.round(
                F.col("n_dup_members").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ),
        )
    )


def _quality_dup_oracle_sql() -> str:
    from pygeoapi_ingestor_spark.plans.queries_llm import (
        _quality_cte,
        _shingle_cte,
    )

    return _shingle_cte().replace(
        "WITH words_t", "WITH RECURSIVE words_t"
    ) + """
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
        members AS (
            -- DISTINCT-over-UNION-ALL, not bare UNION: under a WITH
            -- RECURSIVE prefix DuckDB 1.0 executes a non-recursive
            -- UNION as UNION ALL (dedup silently dropped), which
            -- fans out the LEFT JOIN below
            SELECT DISTINCT doc_id FROM (
                SELECT doc_a AS doc_id FROM vpairs
                UNION ALL SELECT doc_b FROM vpairs
            )
        ),
        """ + _quality_cte() + """
        , tiles AS (
            SELECT s.doc_id, s.quality_score,
                   ntile(10) OVER (ORDER BY s.quality_score, s.doc_id)
                       AS decile
            FROM scored s
        )
        SELECT CAST(t.decile AS INTEGER) AS decile,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(m.doc_id) AS BIGINT) AS n_dup_members,
               round(min(t.quality_score), 6) AS q_lo,
               round(max(t.quality_score), 6) AS q_hi,
               round(CAST(count(m.doc_id) AS DOUBLE) / count(*), 6)
                   AS dup_rate
        FROM tiles t LEFT JOIN members m ON m.doc_id = t.doc_id
        GROUP BY 1
    """


# ---------------------------------------------------------------------------
# cluster_balanced_sample (block C)
# ---------------------------------------------------------------------------

BALANCED_CAP = 16


def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity downsample: from each k-means embedding cluster take
    up to {BALANCED_CAP} members by a deterministic md5 draw — the
    cluster-balanced subset that keeps rare regions of the embedding
    space represented when the corpus is cut for a curriculum or an
    eval set (the SemDeDup-family selection action, keyed to clusters
    instead of near-dup pairs).

    Scale shape: assignment is one projection against the train-once
    shared centroids; the per-cluster cap runs through
    ranks.grouped_topk (salted local top-k, then an exact rank over the
    bounded candidate union) — a billion-row cluster never sorts in one
    task."""
    from pygeoapi_ingestor_spark.functions import ranks
    from pygeoapi_ingestor_spark.plans.queries_llm import (
        shared_kmeans_cents,
    )

    emb = _emb(spark, sf_dir)
    assigned = similarity.kmeans_assign_int8(
        emb, "vec_id", "embedding", shared_kmeans_cents(spark, sf_dir)
    )
    draw = assigned.select(
        F.col("cluster").cast("int").alias("cluster"),
        F.col("_id").alias("vec_id"),
        F.md5(F.col("_id").cast("string")).alias("_u"),
    )
    return ranks.grouped_topk(
        draw, series_cols=["cluster"], value_col="_u",
        tiebreak_cols=["vec_id"], k=BALANCED_CAP, out_col="rank",
    ).select(
        "cluster", "vec_id", F.col("rank").cast("int").alias("rank")
    )


def _balanced_sample_oracle_sql() -> str:
    from pygeoapi_ingestor_spark.plans.queries_llm import (
        KMEANS_PARAMS,
        _kmeans_cte,
    )

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
  SELECT vec_id, cid AS cluster FROM pf
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
)
SELECT CAST(cluster AS INTEGER) AS cluster, vec_id,
       CAST(rn AS INTEGER) AS rank
FROM (
  SELECT cluster, vec_id,
         row_number() OVER (PARTITION BY cluster
             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
  FROM af
) WHERE rn <= {BALANCED_CAP}
"""
    return "WITH " + ",".join(parts) + "," + final


# ---------------------------------------------------------------------------
# bloom_fp_eval (block C)
# ---------------------------------------------------------------------------

BLOOM_M = 65536  # bit-space size
BLOOM_K = 4  # hash functions


def q_bloom_fp_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter acceptance row: build a {BLOOM_M}-bit / {BLOOM_K}-hash
    filter over the REFERENCE corpus slice's text fingerprints (every
    source except src0), probe the src0 slice, and measure the filter
    against exact membership — observed FP rate, the structurally-zero
    miss count (no false negatives, pinned by test), and the bit-space
    load factor that tells you when m is too small for the corpus.
    The engine-neutral twin of dedup.bloom_prescreen (which uses
    xxhash64 and is tests-only): here every bit position is md5-derived
    so the DuckDB oracle replays the filter bit-for-bit.

    Scale shape: the SET-bit table is bounded by m = {BLOOM_M} rows
    whatever the corpus (broadcast), the probe side is one projection +
    one broadcast join, and exact membership is a key join on 16-byte
    digests. This is the pre-screen economics row: definite non-members
    never reach the exact join's shuffle."""
    docs = _docs(spark, sf_dir)
    fp = F.md5(F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9]", ""))
    base = docs.select("doc_id", "source", fp.alias("fp"))
    ref = base.filter(F.col("source") != DSIR_TARGET_SOURCE)
    probe = base.filter(F.col("source") == DSIR_TARGET_SOURCE)

    def positions(col):
        return F.array_distinct(
            F.array(
                *[
                    (
                        _hash60(F.concat(F.lit(f"{j}:"), col)) % BLOOM_M
                    ).alias(f"p{j}")
                    for j in range(BLOOM_K)
                ]
            )
        )

    bits = (
        ref.select(F.explode(positions(F.col("fp"))).alias("pos"))
        .distinct()
    )
    n_bits = bits.agg(F.count(F.lit(1)).cast("bigint").alias("bits_set"))
    pp = probe.select(
        "doc_id", "fp", F.explode(positions(F.col("fp"))).alias("pos")
    )
    hit = pp.join(
        F.broadcast(bits.withColumn("_set", F.lit(1))), "pos", "left"
    )
    per_doc = hit.groupBy("doc_id", "fp").agg(
        (
            F.count(F.lit(1)) == F.sum(F.coalesce(F.col("_set"), F.lit(0)))
        ).alias("bloom_pos")
    )
    exact = ref.select("fp").distinct().withColumn("_dup", F.lit(1))
    flagged = per_doc.join(exact, "fp", "left").select(
        "doc_id",
        "bloom_pos",
        F.coalesce(F.col("_dup"), F.lit(0)).alias("exact_dup"),
    )
    agg = flagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        F.sum(F.when(F.col("bloom_pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_bloom_pos"),
        F.sum("exact_dup").cast("bigint").alias("n_exact_dup"),
        F.sum(
            F.when(F.col("bloom_pos") & (F.col("exact_dup") == 0), 1).otherwise(0)
        ).cast("bigint").alias("n_false_pos"),
        F.sum(
            F.when((~F.col("bloom_pos")) & (F.col("exact_dup") == 1), 1).otherwise(0)
        ).cast("bigint").alias("n_missed"),
    )
    return agg.crossJoin(F.broadcast(n_bits)).select(
        "n_probes",
        "n_bloom_pos",
        "n_exact_dup",
        "n_false_pos",
        "n_missed",
        "bits_set",
        F.round(
            F.col("bits_set").cast("double") / F.lit(float(BLOOM_M)), 6
        ).alias("load_factor"),
        F.when(
            (F.col("n_probes") - F.col("n_exact_dup")) > 0,
            F.round(
                F.col("n_false_pos").cast("double")
                / (F.col("n_probes") - F.col("n_exact_dup")).cast("double"),
                6,
            ),
        ).otherwise(F.lit(0.0)).alias("fp_rate"),
    )


def _bloom_fp_oracle_sql() -> str:
    pos = lambda j: (  # noqa: E731
        f"(('0x' || substr(md5('{j}:' || fp), 1, 15))::BIGINT) % {BLOOM_M}"
    )
    pos_list = ", ".join(pos(j) for j in range(BLOOM_K))
    return f"""
WITH base AS (
    SELECT doc_id, source,
           md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
    FROM documents
), ref AS (
    SELECT * FROM base WHERE source <> '{DSIR_TARGET_SOURCE}'
), probe AS (
    SELECT * FROM base WHERE source = '{DSIR_TARGET_SOURCE}'
), bits AS (
    SELECT DISTINCT pos FROM (
        SELECT unnest(list_distinct([{pos_list}])) AS pos FROM ref
    )
), nb AS (
    SELECT CAST(count(*) AS BIGINT) AS bits_set FROM bits
), pp AS (
    SELECT doc_id, fp, unnest(list_distinct([{pos_list}])) AS pos
    FROM probe
), per_doc AS (
    SELECT pp.doc_id, pp.fp,
           count(*) = sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END)
               AS bloom_pos
    FROM pp LEFT JOIN bits b ON b.pos = pp.pos
    GROUP BY 1, 2
), exact AS (
    SELECT DISTINCT fp FROM ref
), flagged AS (
    SELECT d.doc_id, d.bloom_pos,
           CASE WHEN e.fp IS NOT NULL THEN 1 ELSE 0 END AS exact_dup
    FROM per_doc d LEFT JOIN exact e ON e.fp = d.fp
), agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(CASE WHEN bloom_pos THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bloom_pos,
           CAST(sum(exact_dup) AS BIGINT) AS n_exact_dup,
           CAST(sum(CASE WHEN bloom_pos AND exact_dup = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           CAST(sum(CASE WHEN NOT bloom_pos AND exact_dup = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_missed
    FROM flagged
)
SELECT n_probes, n_bloom_pos, n_exact_dup, n_false_pos, n_missed,
       nb.bits_set,
       round(CAST(nb.bits_set AS DOUBLE) / {float(BLOOM_M)}, 6) AS load_factor,
       CASE WHEN (n_probes - n_exact_dup) > 0
            THEN round(CAST(n_false_pos AS DOUBLE)
                       / CAST(n_probes - n_exact_dup AS DOUBLE), 6)
            ELSE 0.0 END AS fp_rate
FROM agg CROSS JOIN nb
"""


# ---------------------------------------------------------------------------
# hll_union_eval (block B)
# ---------------------------------------------------------------------------

HLL_M = 64  # registers
HLL_B = 6  # bucket bits (2^6 = 64)
# alpha_m for m = 64 (Flajolet et al. 2007); the SAME double literal is
# inlined into the SQL twin so both engines multiply the identical value
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)


def q_hll_union_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog acceptance row — the ORACLED twin of
    approx_distinct_users (whose built-in HLL sketch is engine-internal
    and rows-only): a from-first-principles md5 HLL (64 registers,
    leading-zero rank via the engine-neutral bin() length) per
    event_type, PLUS the register-wise-max merged 'ALL' row — the
    mergeability that makes HLL the 100 TB distinct-count: per-shard
    sketches combine by max, never by re-scan. Each row carries the
    estimate next to the exact distinct and the relative error.

    Exactness: the harmonic-mean denominator is computed as an INTEGER
    sum of power-of-two terms (sum of 2^(Mmax - M_j), absent registers
    at 2^Mmax) so there is no float-summation order anywhere; the only
    floats are the final alpha-scaled division and the small-range
    ln() correction, identical single expressions on both engines."""
    ev = _events(spark, sf_dir)
    h = _hash60(F.concat(F.lit("hll:"), F.col("user_id").cast("string")))
    rem = F.shiftright(F.col("h"), HLL_B)
    rho = F.when(rem > 0, F.lit(55) - F.length(F.bin(rem))).otherwise(
        F.lit(55)
    )
    base = ev.select(
        "event_type", h.alias("h")
    ).select(
        "event_type",
        F.col("h").bitwiseAND(F.lit(HLL_M - 1)).alias("bucket"),
        rho.cast("int").alias("rho"),
    )
    regs_t = base.groupBy("event_type", "bucket").agg(
        F.max("rho").alias("M")
    )
    regs_all = (
        base.groupBy("bucket")
        .agg(F.max("rho").alias("M"))
        .withColumn("event_type", F.lit("ALL"))
        .select("event_type", "bucket", "M")
    )
    regs = regs_t.unionByName(regs_all)
    mstats = regs.groupBy("event_type").agg(
        F.max("M").alias("mmax"),
        F.count(F.lit(1)).cast("bigint").alias("n_present"),
    )
    s = (
        regs.join(mstats, "event_type")
        .groupBy("event_type", "mmax", "n_present")
        .agg(
            # pyspark's shiftleft() insists on an int numBits; the SQL
            # form takes a column expression
            F.sum(F.expr("shiftleft(1L, mmax - M)"))
            .cast("bigint")
            .alias("s_present")
        )
        .select(
            "event_type",
            "mmax",
            "n_present",
            (
                F.col("s_present")
                + (F.lit(HLL_M) - F.col("n_present"))
                * F.expr("shiftleft(1L, mmax)")
            ).cast("bigint").alias("s_int"),
        )
    )
    raw = (
        F.lit(HLL_ALPHA)
        * F.lit(float(HLL_M * HLL_M))
        * F.expr("shiftleft(1L, mmax)").cast("double")
        / F.col("s_int").cast("double")
    )
    zeros = (F.lit(HLL_M) - F.col("n_present")).cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (zeros > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / zeros),
    ).otherwise(raw)
    ests = s.select(
        "event_type",
        "n_present",
        F.round(est, 6).alias("hll_estimate"),
    )
    ex_t = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct")
    )
    ex_all = ev.agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct")
    ).withColumn("event_type", F.lit("ALL"))
    exact = ex_t.unionByName(ex_all.select("event_type", "exact_distinct"))
    return ests.join(exact, "event_type").select(
        "event_type",
        "n_present",
        "hll_estimate",
        "exact_distinct",
        F.round(
            F.abs(
                F.col("hll_estimate") - F.col("exact_distinct").cast("double")
            )
            / F.col("exact_distinct").cast("double"),
            6,
        ).alias("rel_err"),
    )


def _hll_union_oracle_sql() -> str:
    h = "(('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT)"
    return f"""
WITH hashed AS (
    SELECT event_type, {h} AS h FROM events
), base AS (
    SELECT event_type, h & {HLL_M - 1} AS bucket,
           CASE WHEN (h >> {HLL_B}) > 0
                THEN 55 - length(bin(h >> {HLL_B}))
                ELSE 55 END AS rho
    FROM hashed
), regs AS (
    SELECT event_type, bucket, CAST(max(rho) AS INTEGER) AS M
    FROM base GROUP BY 1, 2
    UNION ALL
    SELECT 'ALL', bucket, CAST(max(rho) AS INTEGER)
    FROM base GROUP BY 2
), mstats AS (
    SELECT event_type, max(M) AS mmax,
           CAST(count(*) AS BIGINT) AS n_present
    FROM regs GROUP BY 1
), s AS (
    SELECT r.event_type, m.mmax, m.n_present,
           CAST(sum(1::BIGINT << (m.mmax - r.M)) AS BIGINT)
               + ({HLL_M} - m.n_present) * (1::BIGINT << m.mmax) AS s_int
    FROM regs r JOIN mstats m USING (event_type)
    GROUP BY 1, 2, 3
), ests AS (
    SELECT event_type, n_present,
           round(CASE WHEN (({HLL_ALPHA!r}::DOUBLE) * {float(HLL_M * HLL_M)}
                          * CAST(1::BIGINT << mmax AS DOUBLE)
                          / CAST(s_int AS DOUBLE)) <= {2.5 * HLL_M}
                      AND ({HLL_M} - n_present) > 0
                 THEN {float(HLL_M)}
                      * ln({float(HLL_M)}
                           / CAST({HLL_M} - n_present AS DOUBLE))
                 ELSE ({HLL_ALPHA!r}::DOUBLE) * {float(HLL_M * HLL_M)}
                      * CAST(1::BIGINT << mmax AS DOUBLE)
                      / CAST(s_int AS DOUBLE) END, 6) AS hll_estimate
    FROM s
), ex AS (
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
               AS exact_distinct
    FROM events GROUP BY 1
    UNION ALL
    SELECT 'ALL', CAST(count(DISTINCT user_id) AS BIGINT) FROM events
)
SELECT e.event_type, s.n_present, s.hll_estimate, e.exact_distinct,
       round(abs(s.hll_estimate - CAST(e.exact_distinct AS DOUBLE))
             / e.exact_distinct, 6) AS rel_err
FROM ests s JOIN ex e USING (event_type)
"""


# ---------------------------------------------------------------------------
# curation_pipeline_e2e (block C) — VERDICT r10 item 8
# ---------------------------------------------------------------------------

# rel_weight in (0, 1]; double the per-source budget of
# token_budget_select so the heaviest source keeps its old budget and
# lighter sources scale down with their temperature weight
E2E_BUDGET_SCALE = 1600


def q_curation_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production curation arc as ONE lineage (previously certified
    only piecewise): quality gate (C14) -> near-dup cluster keep-best
    (C83, over the verify-once fixpoint) -> temperature source weights
    (C43) that SCALE each source's token budget -> budgeted greedy
    selection (C63) -> context-length packing (C18). Output is the
    packing table enriched with the per-source audit trail (docs after
    dedup, rel weight, scaled budget), so the whole chain is one
    hash-gated result.

    Scale shape: the stages compose without materialization — quality +
    token counts are ONE projection; the keep-best drop list is
    computed on the (small) cluster-member subset and applied as a
    broadcast anti-join, never a window over the full corpus (the
    unclustered majority would form one giant null partition); the
    weight/budget table is per-source (broadcast); selection is one
    window per source; packing rides the chunked cumulative sum. The
    only shuffles are on source (bounded) and the tiny member subset.

    Determinism across engines: budgets derive from the ROUNDED
    rel_weight (floor(1600 * round(w/wmax, 6))) so the float exponent
    never feeds an unrounded comparison; everything else is the exact
    arithmetic the five component keys already gate."""
    from pyspark.sql import Window

    from pygeoapi_ingestor_spark.operators import temporal
    from pygeoapi_ingestor_spark.plans.queries_llm import (
        MIX_ALPHA,
        PACK_BUDGET,
        shared_dup_components,
    )

    docs = _docs(spark, sf_dir)
    scored = text.token_counts(
        text.quality_features(docs, text_col="text"), text_col="text"
    ).select("doc_id", "source", "quality_score", "regex_tokens")
    # stage 1: quality gate (q_quality_filter threshold). The filtered
    # narrow projection feeds THREE downstream branches (keep-best
    # members, per-source weights, selection) — persist so the regex
    # quality/token pass runs once, not per branch (4 cols, bounded
    # width; the at-rest artifact a pipeline materializes after its
    # gate). CacheManager dedupes repeat invocations by canonical plan.
    from pyspark import StorageLevel

    q = scored.filter(F.col("quality_score") >= 0.65).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    # stage 2: within each verified near-dup cluster keep the best
    # quality-surviving member (cluster_keep_best semantics applied to
    # the filtered corpus; components are the corpus-wide verify-once
    # artifact, as in production where dedup runs on the raw corpus)
    comps = shared_dup_components(spark, sf_dir).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    )
    clustered = comps.join(
        q.select("doc_id", "quality_score"), "doc_id"
    )
    wc = Window.partitionBy("component").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    drop = (
        clustered.withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") > 1)
        .select("doc_id")
    )
    dq = q.join(F.broadcast(drop), "doc_id", "left_anti")

    # stage 3: temperature weights over the surviving corpus -> scaled
    # per-source budgets
    per_source = dq.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_after_dedup"),
        F.sum("regex_tokens").cast("bigint").alias("src_tokens"),
    )
    totals = per_source.agg(
        F.sum("src_tokens").cast("bigint").alias("total")
    )
    weighted = per_source.crossJoin(F.broadcast(totals)).withColumn(
        "w",
        F.pow(
            F.col("src_tokens").cast("double") / F.col("total"), MIX_ALPHA
        ),
    )
    wmax = weighted.agg(F.max("w").alias("wmax"))
    budgets = weighted.crossJoin(F.broadcast(wmax)).select(
        "source",
        "n_after_dedup",
        F.round(F.col("w") / F.col("wmax"), 6).alias("rel_weight"),
        F.floor(
            F.lit(float(E2E_BUDGET_SCALE)) * F.round(F.col("w") / F.col("wmax"), 6)
        ).cast("bigint").alias("src_budget"),
    )

    # stage 4: greedy quality-under-budget selection per source
    ws = Window.partitionBy("source").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    sel = (
        dq.join(F.broadcast(budgets), "source")
        .withColumn("_cum", F.sum("regex_tokens").over(ws))
        .filter(F.col("_cum") <= F.col("src_budget"))
    )

    # stage 5: contiguous greedy packing by doc_id order
    cum = temporal.chunked_cumulative_sum(
        sel.select(
            "doc_id", "source", "regex_tokens",
            "n_after_dedup", "rel_weight", "src_budget",
        ),
        series_cols=["source"], order_cols=["doc_id"],
        value_col="regex_tokens",
        chunk_col=(F.col("doc_id") - F.col("doc_id") % 100),
        out_col="cum_tokens",
    )
    bin_id = F.floor(
        (F.col("cum_tokens") - F.col("regex_tokens"))
        / F.lit(float(PACK_BUDGET))
    ).cast("bigint")
    return (
        cum.withColumn("bin_id", bin_id)
        .groupBy(
            "source", "bin_id", "n_after_dedup", "rel_weight", "src_budget"
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("regex_tokens").cast("bigint").alias("bin_tokens"),
        )
        .select(
            "source", "bin_id", "n_docs", "bin_tokens",
            "n_after_dedup", "rel_weight", "src_budget",
        )
    )


def _curation_e2e_oracle_sql() -> str:
    from pygeoapi_ingestor_spark.plans.queries_llm import (
        MIX_ALPHA,
        PACK_BUDGET,
        _quality_cte,
        _shingle_cte,
    )

    # components fixpoint: same fragment as cluster_keep_best's oracle
    # (uedges arms disjoint by doc_a < doc_b; reach re-dedups via the
    # recursive fixpoint — the WITH RECURSIVE UNION quirk rules)
    return _shingle_cte().replace(
        "WITH words_t", "WITH RECURSIVE words_t"
    ) + """
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
    uedges AS (
        SELECT doc_a AS a, doc_b AS b FROM vpairs
        UNION SELECT doc_b, doc_a FROM vpairs
    ),
    reach(node, lbl) AS (
        SELECT DISTINCT a, a FROM uedges
        UNION
        SELECT e.a, r.lbl FROM reach r JOIN uedges e ON e.b = r.node
    ),
    comp AS (
        SELECT node, min(lbl) AS component FROM reach GROUP BY node
    ),
    """ + _quality_cte(
        feat_cols=(
            r", source, len(regexp_extract_all(text,"
            r" '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS regex_tokens"
        ),
        carry=", source, regex_tokens",
    ) + f"""
    , q AS (SELECT * FROM scored WHERE quality_score >= 0.65),
    clustered AS (
        SELECT c.component, s.doc_id, s.quality_score
        FROM comp c JOIN q s ON s.doc_id = c.node
    ),
    dropd AS (
        SELECT doc_id FROM (
            SELECT doc_id, row_number() OVER (PARTITION BY component
                ORDER BY quality_score DESC, doc_id ASC) AS rn
            FROM clustered
        ) WHERE rn > 1
    ),
    dq AS (
        SELECT * FROM q
        WHERE doc_id NOT IN (SELECT doc_id FROM dropd)
    ),
    per_source AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_after_dedup,
               CAST(sum(regex_tokens) AS BIGINT) AS src_tokens
        FROM dq GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total
            FROM per_source),
    weighted AS (
        SELECT source, n_after_dedup,
               pow(CAST(src_tokens AS DOUBLE) / total, {MIX_ALPHA}) AS w
        FROM per_source CROSS JOIN tot
    ),
    mx AS (SELECT max(w) AS wmax FROM weighted),
    budgets AS (
        SELECT source, n_after_dedup,
               round(w / wmax, 6) AS rel_weight,
               CAST(floor({float(E2E_BUDGET_SCALE)} * round(w / wmax, 6))
                    AS BIGINT) AS src_budget
        FROM weighted CROSS JOIN mx
    ),
    sel AS (
        SELECT dq.source, dq.doc_id, dq.regex_tokens,
               b.n_after_dedup, b.rel_weight, b.src_budget,
               sum(dq.regex_tokens) OVER (PARTITION BY dq.source
                   ORDER BY dq.quality_score DESC, dq.doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
        FROM dq JOIN budgets b USING (source)
    ),
    kept AS (SELECT * FROM sel WHERE cum <= src_budget),
    packed AS (
        SELECT source, doc_id, regex_tokens,
               n_after_dedup, rel_weight, src_budget,
               sum(regex_tokens) OVER (PARTITION BY source
                   ORDER BY doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cumt
        FROM kept
    )
    SELECT source,
           CAST(floor((cumt - regex_tokens) / {float(PACK_BUDGET)})
                AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(regex_tokens) AS BIGINT) AS bin_tokens,
           n_after_dedup, rel_weight, src_budget
    FROM packed
    GROUP BY source, bin_id, n_after_dedup, rel_weight, src_budget
    """


CURATION_QUERIES = {
    "curation_pipeline_e2e": q_curation_pipeline_e2e,
    "segment_dedup": q_segment_dedup,
    "dsir_importance_weights": q_dsir_importance_weights,
    "cms_heavy_hitters": q_cms_heavy_hitters,
    "kmeans_silhouette": q_kmeans_silhouette,
    "ivf_probe_sweep": q_ivf_probe_sweep,
    "cluster_source_mix": q_cluster_source_mix,
    "quality_dup_interaction": q_quality_dup_interaction,
    "cluster_balanced_sample": q_cluster_balanced_sample,
    "bloom_fp_eval": q_bloom_fp_eval,
    "hll_union_eval": q_hll_union_eval,
}

CURATION_ORACLES = {
    "curation_pipeline_e2e": _curation_e2e_oracle_sql(),
    "segment_dedup": _SEGMENT_DEDUP_ORACLE,
    "dsir_importance_weights": _DSIR_ORACLE,
    "cms_heavy_hitters": _cms_oracle_sql(),
    "kmeans_silhouette": _silhouette_oracle_sql(),
    "ivf_probe_sweep": _ivf_probe_sweep_oracle_sql(),
    "cluster_source_mix": _cluster_source_mix_oracle_sql(),
    "quality_dup_interaction": _quality_dup_oracle_sql(),
    "cluster_balanced_sample": _balanced_sample_oracle_sql(),
    "bloom_fp_eval": _bloom_fp_oracle_sql(),
    "hll_union_eval": _hll_union_oracle_sql(),
}
