r"""Corpus-statistics / ML-adjacent catalog queries (SURVEY.md §2
blocks B and C, round-9 additions) on ``documents``, ``embeddings``
and ``events``.

Every key follows the house parity conventions (see queries_etl.py
trend_ols and queries_llm.py kmeans_clusters_int8): integer or
decimal-exact accumulation everywhere a sum crosses rows, floats only
in final per-row expressions, ``round(..., k)`` applied identically on
both sides. Iterative algorithms (power iteration) are pure integer
arithmetic so the DuckDB twin replays the training run bit-for-bit as
an unrolled CTE chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pygeoapi_ingestor_spark.functions import ranks
from pygeoapi_ingestor_spark.operators import (
    dedup,
    linalg,
    similarity,
    temporal,
    text,
)
from pygeoapi_ingestor_spark.sources.readers import (
    local_table,
    read_documents as _docs,
    read_embeddings as _emb,
    read_events as _events,
)

PCA_ITERS = 3
PCA_DIM = 64
ZIPF_TOPN = 200
CHI2_TOP_TOKENS = 20
KS_BINS = 1000


# ---------------------------------------------------------------------------
# pca_power_iteration (block C)
# ---------------------------------------------------------------------------


def q_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus via distributed
    power iteration on the int8-quantized Gram matrix — the dimension-
    diagnosis pass before choosing an index or a projection (which axis
    dominates the corpus, and how strongly).

    Scale shape: ONE corpus scan accumulates the 64x64 Gram matrix
    (dim^2 ints per partition to the driver — bounded state), and the 3
    iterations are exact driver-side integer matvecs against it. The
    entire run (init, per-row dots, per-dim sums, truncating rescale,
    Rayleigh quotient) is exact integer arithmetic, so the unrolled-CTE
    DuckDB twin certifies the full training trajectory, same contract
    as kmeans_clusters_int8."""
    emb = _emb(spark, sf_dir)
    # no persist: the Gram-matrix formulation reads the corpus exactly
    # once (the r12 per-iteration re-scan was what the cache amortized)
    q = similarity.quantize_int8(emb, "embedding").select("q_vec")
    v, num, den, n_rows = linalg.power_iteration_int8(
        q, "q_vec", dim=PCA_DIM, iters=PCA_ITERS
    )
    # float(int) is correctly rounded — matches DuckDB CAST(HUGEINT AS
    # DOUBLE); dividing the two doubles is then the identical IEEE op
    num_d, den_d = float(num), float(den or 1)
    out = local_table(
        spark,
        [(j + 1, int(v[j])) for j in range(PCA_DIM)],
        "component int, loading long",
    )
    return out.select(
        "component",
        "loading",
        F.lit(n_rows).cast("bigint").alias("n_vecs"),
        F.round(F.lit(num_d) / F.lit(den_d), 4).alias("eigenvalue_est"),
    )


def _pca_oracle_sql() -> str:
    """Unrolled power-iteration twin (mirrors operators/linalg.py
    power_iteration_int8): same quantization as the kmeans oracle, v0 =
    1000 everywhere, per-iteration w = A^T(Av) in HUGEINT, truncating
    ``//`` rescale (DuckDB ``//`` truncates toward zero — measured
    -7//2 = -3 — matching linalg._trunc_div)."""
    dim, iters, scale = PCA_DIM, PCA_ITERS, linalg.PCA_SCALE
    parts = [
        f"""
q AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
           x -> CAST(round(x * 127.0 /
                (CASE WHEN list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y))) > 0
                      THEN list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y)))
                      ELSE 1.0 END), 0) AS INTEGER)) AS qv
  FROM embeddings
),
v0 AS (
  SELECT i AS j, CAST({scale // 10} AS HUGEINT) AS vj
  FROM generate_series(1, {dim}) t(i)
)"""
    ]
    for t in range(1, iters + 1):
        parts.append(f"""
vl{t - 1} AS (SELECT list(vj ORDER BY j) AS vl FROM v{t - 1}),
d{t} AS (
  SELECT vec_id, qv,
         list_sum(list_transform(list_zip(qv, vl.vl),
                  s -> CAST(s[1] AS HUGEINT) * s[2])) AS d
  FROM q CROSS JOIN vl{t - 1} vl
),
w{t} AS (
  SELECT i.i AS j, sum(CAST(qv[i.i] AS HUGEINT) * d) AS wj
  FROM d{t} CROSS JOIN generate_series(1, {dim}) i(i)
  GROUP BY 1
),
m{t} AS (SELECT greatest(max(abs(wj)), 1) AS m FROM w{t}),
v{t} AS (
  SELECT j, (wj * {scale}) // m AS vj
  FROM w{t} CROSS JOIN m{t}
)""")
    last, prev = iters, iters - 1
    return (
        "WITH "
        + ",".join(parts)
        + f""",
ray AS (
  SELECT sum(v.vj * w.wj) AS num, sum(v.vj * v.vj) AS den
  FROM v{prev} v JOIN w{last} w USING (j)
)
SELECT CAST(v.j AS INT) AS component,
       CAST(v.vj AS BIGINT) AS loading,
       (SELECT CAST(count(*) AS BIGINT) FROM q) AS n_vecs,
       round(CAST(ray.num AS DOUBLE) / CAST(ray.den AS DOUBLE), 4)
           AS eigenvalue_est
FROM v{last} v CROSS JOIN ray
"""
    )


# ---------------------------------------------------------------------------
# quality_logreg_step (block C)
# ---------------------------------------------------------------------------

_LOGREG_FEATURES = ["x_bias", "x_chars", "x_words", "x_digits"]
_LOGREG_LR = 0.1


def q_quality_logreg_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First gradient-descent step of a logistic-regression quality/
    language classifier (y = doc is English) on integer text features —
    the model-bootstrap pass of a curation pipeline. At the w=0 init
    every prediction is exactly 0.5, so the gradient numerator
    sum((1-2y)*x_j) is a pure integer aggregation: no transcendentals,
    map-side combinable, per-feature state one int64 — the same
    one-pass-per-step shape a full distributed GD loop would run at
    100 TB."""
    docs = _docs(spark, sf_dir)
    feats = docs.select(
        (F.col("lang") == "en").cast("int").alias("y"),
        F.lit(1).cast("long").alias("x_bias"),
        F.col("n_chars").cast("long").alias("x_chars"),
        F.size(text.norm_words("text")).cast("long").alias("x_words"),
        F.length(F.regexp_replace("text", r"[^0-9]", "")).cast("long").alias(
            "x_digits"
        ),
    )
    g = linalg.logistic_gradient_exact(feats, "y", _LOGREG_FEATURES)
    grad_raw = F.col("g2").cast("double") / (F.lit(2.0) * F.col("n"))
    return g.select(
        "feature",
        "g2",
        "n",
        F.round(grad_raw, 6).alias("grad"),
        # + 0.0 collapses IEEE -0.0 (a zero gradient times the negative
        # learning rate) to +0.0 — mirrored in the oracle
        (F.round(F.lit(-_LOGREG_LR) * grad_raw, 6) + F.lit(0.0)).alias(
            "new_weight"
        ),
    )


_LOGREG_ORACLE = rf"""
WITH f AS (
    SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
           CAST(1 AS BIGINT) AS x_bias,
           CAST(n_chars AS BIGINT) AS x_chars,
           CAST(len(list_filter(
               string_split_regex(
                   lower(regexp_replace(text, '[^A-Za-z0-9\s]', ' ', 'g')),
                   '\s+'),
               w -> w <> '')) AS BIGINT) AS x_words,
           CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)
               AS x_digits
    FROM documents
), g AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum((1 - 2 * y) * x_bias) AS BIGINT) AS g_bias,
           CAST(sum((1 - 2 * y) * x_chars) AS BIGINT) AS g_chars,
           CAST(sum((1 - 2 * y) * x_words) AS BIGINT) AS g_words,
           CAST(sum((1 - 2 * y) * x_digits) AS BIGINT) AS g_digits
    FROM f
), u AS (
    SELECT 'x_bias' AS feature, g_bias AS g2, n FROM g
    UNION ALL SELECT 'x_chars', g_chars, n FROM g
    UNION ALL SELECT 'x_words', g_words, n FROM g
    UNION ALL SELECT 'x_digits', g_digits, n FROM g
)
SELECT feature, g2, n,
       round(CAST(g2 AS DOUBLE) / (2.0 * n), 6) AS grad,
       round(-{_LOGREG_LR} * (CAST(g2 AS DOUBLE) / (2.0 * n)), 6) + 0.0
           AS new_weight
FROM u
"""


# ---------------------------------------------------------------------------
# token_source_chi2 (block C)
# ---------------------------------------------------------------------------


def q_token_source_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square association of the top document-frequency tokens with
    the source label — the feature-selection screen (sklearn chi2
    analog) for source-classifier features and mixture diagnostics.
    All cell counts are exact integers; each (token, source) cell's
    chi2 term is a deterministic rational computed in double and
    rounded to 9 dp BEFORE the decimal-exact sum, so the cross-cell
    accumulation has no float-order dependence. Scale: one distinct
    (doc, token) aggregation; the grid is top-K tokens x sources —
    bounded."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(text.norm_words("text"))).alias("token"),
    )
    # top-K tokens by doc frequency: TakeOrdered on the aggregated
    # vocab (k rows cross the wire, never the vocab)
    top = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("token"))
        .limit(CHI2_TOP_TOKENS)
    )
    src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_s")
    )
    total = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    cells = tok.join(F.broadcast(top.select("token")), "token").groupBy(
        "token", "source"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_ts"))
    grid = (
        top.crossJoin(src)
        .crossJoin(total)
        .join(cells, ["token", "source"], "left")
        .withColumn("n_ts", F.coalesce(F.col("n_ts"), F.lit(0)).cast("bigint"))
    )
    n_t = F.col("doc_freq").cast("double")
    n_s = F.col("n_s").cast("double")
    n = F.col("n_total").cast("double")
    o1 = F.col("n_ts").cast("double")
    o0 = n_s - o1
    e1 = n_t * n_s / n
    e0 = (n - n_t) * n_s / n
    # a token present in EVERY document has e0 = 0 and o0 = 0: that cell
    # contributes nothing (0/0 would NaN-poison the sum)
    term = (o1 - e1) * (o1 - e1) / e1 + F.when(
        n - n_t > 0, (o0 - e0) * (o0 - e0) / e0
    ).otherwise(F.lit(0.0))
    return (
        grid.withColumn(
            "_term", F.round(term, 9).cast("decimal(38,9)")
        )
        .groupBy("token", "doc_freq")
        .agg(
            F.round(F.sum("_term").cast("double"), 6).alias("chi2"),
            F.count(F.lit(1)).cast("bigint").alias("n_sources"),
        )
    )


_TOKENS_DISTINCT_CTE = r"""
WITH tok AS (
    SELECT doc_id, source,
           unnest(list_distinct(list_filter(
               string_split_regex(
                   lower(regexp_replace(text, '[^A-Za-z0-9\s]', ' ', 'g')),
                   '\s+'),
               w -> w <> ''))) AS token
    FROM documents
)
"""

_TOKEN_CHI2_ORACLE = _TOKENS_DISTINCT_CTE + f"""
, top AS (
    SELECT token, CAST(count(*) AS BIGINT) AS doc_freq
    FROM tok GROUP BY 1
    ORDER BY doc_freq DESC, token ASC LIMIT {CHI2_TOP_TOKENS}
), src AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM documents GROUP BY 1
), total AS (
    SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents
), cells AS (
    SELECT token, source, CAST(count(*) AS BIGINT) AS n_ts
    FROM tok WHERE token IN (SELECT token FROM top)
    GROUP BY 1, 2
), grid AS (
    SELECT top.token, top.doc_freq, src.source, src.n_s, total.n_total,
           coalesce(cells.n_ts, 0) AS n_ts
    FROM top CROSS JOIN src CROSS JOIN total
    LEFT JOIN cells ON cells.token = top.token AND cells.source = src.source
), terms AS (
    SELECT token, doc_freq,
           CAST(round(
               (n_ts - CAST(doc_freq AS DOUBLE) * n_s / n_total)
                 * (n_ts - CAST(doc_freq AS DOUBLE) * n_s / n_total)
                 / (CAST(doc_freq AS DOUBLE) * n_s / n_total)
               + CASE WHEN n_total - doc_freq > 0 THEN
                   ((n_s - CAST(n_ts AS DOUBLE))
                     - (n_total - CAST(doc_freq AS DOUBLE)) * n_s / n_total)
                   * ((n_s - CAST(n_ts AS DOUBLE))
                     - (n_total - CAST(doc_freq AS DOUBLE)) * n_s / n_total)
                   / ((n_total - CAST(doc_freq AS DOUBLE)) * n_s / n_total)
                 ELSE 0.0 END,
               9) AS DECIMAL(38,9)) AS term
    FROM grid
)
SELECT token, doc_freq,
       round(CAST(sum(term) AS DOUBLE), 6) AS chi2,
       CAST(count(*) AS BIGINT) AS n_sources
FROM terms GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# token_zipf_fit (block C)
# ---------------------------------------------------------------------------


def q_token_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit per source: OLS of ln(term frequency) on ln(rank)
    over each source's top terms — the vocabulary-shape diagnostic of
    corpus curation (natural text sits near slope -1; tables, spam and
    boilerplate bend it). Ranking uses grouped_topk (salted two-phase
    top-k, never a single-task per-source sort); the OLS moments are
    decimal-exact sums of per-row 12-dp-rounded log products, so the
    fit has no float-order dependence. ~TOPN rows per source reach the
    regression whatever the corpus size."""
    docs = _docs(spark, sf_dir)
    tf = (
        docs.select(
            "source", F.explode(text.norm_words("text")).alias("token")
        )
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .withColumn("_neg", -F.col("cnt"))
    )
    ranked = ranks.grouped_topk(
        tf, ["source"], "_neg", ["token"], k=ZIPF_TOPN, out_col="rank"
    )
    lx = F.log(F.col("rank").cast("double"))
    ly = F.log(F.col("cnt").cast("double"))
    d = lambda c: F.round(c, 12).cast("decimal(38,12)")  # noqa: E731
    agg = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum(d(lx)).cast("double").alias("sx"),
        F.sum(d(ly)).cast("double").alias("sy"),
        F.sum(d(lx * lx)).cast("double").alias("sxx"),
        F.sum(d(lx * ly)).cast("double").alias("sxy"),
    )
    n = F.col("n_terms").cast("double")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    return agg.select(
        "source",
        "n_terms",
        F.round(slope, 6).alias("zipf_slope"),
        F.round(F.exp(intercept), 4).alias("zipf_k"),
    )


_TOKENS_ALL_CTE = r"""
WITH tokall AS (
    SELECT doc_id, source,
           unnest(list_filter(
               string_split_regex(
                   lower(regexp_replace(text, '[^A-Za-z0-9\s]', ' ', 'g')),
                   '\s+'),
               w -> w <> '')) AS token
    FROM documents
)
"""

_ZIPF_ORACLE = _TOKENS_ALL_CTE + f"""
, tf AS (
    SELECT source, token, CAST(count(*) AS BIGINT) AS cnt
    FROM tokall GROUP BY 1, 2
), ranked AS (
    SELECT source, cnt,
           row_number() OVER (PARTITION BY source
                              ORDER BY cnt DESC, token ASC) AS rank
    FROM tf
    QUALIFY rank <= {ZIPF_TOPN}
), moments AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(CAST(round(ln(rank), 12) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
           CAST(sum(CAST(round(ln(cnt), 12) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
           CAST(sum(CAST(round(ln(rank) * ln(rank), 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
           CAST(sum(CAST(round(ln(rank) * ln(cnt), 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxy
    FROM ranked GROUP BY 1
)
SELECT source, n_terms,
       round((n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx), 6)
           AS zipf_slope,
       round(exp((sy - (n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx)
                  * sx) / n_terms), 4) AS zipf_k
FROM moments
"""


# ---------------------------------------------------------------------------
# vocab_growth_heaps (block C)
# ---------------------------------------------------------------------------


def q_vocab_growth_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth per source: distinct-vocabulary size
    V against cumulative token count N at 10 document checkpoints, plus
    the fitted exponent beta of V ~ K * N^beta — the
    is-this-source-running-dry diagnostic of corpus scaling (natural
    text: beta ~0.4-0.6; templated/duplicated sources flatten early).

    Exact core: docs rank within source via the bucketed distributed
    row_number (no single-task sort); each doc and each token's FIRST
    occurrence land in an integer decile d = ceil(10*rn/n) computed with
    integer arithmetic, then two 10-row-per-source cumsums give (N_q,
    V_q); the Heaps fit reuses the decimal-exact log OLS."""
    docs = _docs(spark, sf_dir)
    ranked = ranks.bucketed_row_number(
        docs.select("doc_id", "source", "text"),
        ["source"],
        "doc_id",
        [],
        out_col="rn",
        count_col="n_docs",
    )
    # integer ceil(10*rn/n): (10*rn + n - 1) div n — `div`/`//` both
    # truncate positive integer division identically (float `/` would
    # risk rounding up across an integer boundary before the cast)
    dec = F.expr("CAST((10 * rn + n_docs - 1) DIV n_docs AS BIGINT)")
    with_dec = ranked.withColumn("dec", dec).withColumn(
        "n_tok", F.size(text.norm_words("text")).cast("long")
    )
    tok_first = (
        with_dec.select(
            "source", "dec", F.explode(text.norm_words("text")).alias("token")
        )
        .groupBy("source", "token")
        .agg(F.min("dec").alias("dec_first"))
    )
    w = Window.partitionBy("source").orderBy("q")
    qgrid = (
        docs.select("source")
        .distinct()
        .crossJoin(spark.range(1, 11).select(F.col("id").cast("long").alias("q")))
    )
    tok_hist = with_dec.groupBy(
        F.col("source").alias("_ts"), F.col("dec").alias("_td")
    ).agg(F.sum("n_tok").cast("bigint").alias("toks"))
    voc_hist = tok_first.groupBy("source", "dec_first").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocs")
    )
    curve = (
        qgrid.join(
            tok_hist,
            (F.col("source") == F.col("_ts")) & (F.col("_td") == F.col("q")),
            "left",
        )
        .select("source", "q", F.coalesce("toks", F.lit(0)).alias("toks"))
        .join(
            voc_hist.withColumnRenamed("source", "_vs"),
            (F.col("source") == F.col("_vs")) & (F.col("dec_first") == F.col("q")),
            "left",
        )
        .select(
            "source", "q", "toks", F.coalesce("vocs", F.lit(0)).alias("vocs")
        )
        .select(
            "source",
            "q",
            F.sum("toks").over(w).cast("bigint").alias("n_q"),
            F.sum("vocs").over(w).cast("bigint").alias("v_q"),
        )
        .filter(F.col("n_q") > 0)
    )
    lx = F.log(F.col("n_q").cast("double"))
    ly = F.log(F.col("v_q").cast("double"))
    d = lambda c: F.round(c, 12).cast("decimal(38,12)")  # noqa: E731
    agg = curve.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.max("n_q").cast("bigint").alias("total_tokens"),
        F.max("v_q").cast("bigint").alias("vocab_size"),
        F.sum(d(lx)).cast("double").alias("sx"),
        F.sum(d(ly)).cast("double").alias("sy"),
        F.sum(d(lx * lx)).cast("double").alias("sxx"),
        F.sum(d(lx * ly)).cast("double").alias("sxy"),
    )
    n = F.col("n_points").cast("double")
    beta = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - beta * F.col("sx")) / n
    return agg.select(
        "source",
        "n_points",
        "total_tokens",
        "vocab_size",
        F.round(beta, 6).alias("heaps_beta"),
        F.round(F.exp(intercept), 4).alias("heaps_k"),
    )


_HEAPS_ORACLE = _TOKENS_ALL_CTE + """
, rdoc AS (
    SELECT doc_id, source,
           row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
           count(*) OVER (PARTITION BY source) AS n_docs,
           CAST(len(list_filter(
               string_split_regex(
                   lower(regexp_replace(text, '[^A-Za-z0-9\\s]', ' ', 'g')),
                   '\\s+'),
               w -> w <> '')) AS BIGINT) AS n_tok
    FROM documents
), ddoc AS (
    SELECT doc_id, source, n_tok,
           CAST((10 * rn + n_docs - 1) // n_docs AS BIGINT) AS dec
    FROM rdoc
), tfirst AS (
    SELECT t.source, t.token, min(d.dec) AS dec_first
    FROM tokall t JOIN ddoc d USING (doc_id)
    GROUP BY 1, 2
), qgrid AS (
    SELECT DISTINCT source, q.q
    FROM documents CROSS JOIN generate_series(1, 10) q(q)
), thist AS (
    SELECT source, dec, CAST(sum(n_tok) AS BIGINT) AS toks
    FROM ddoc GROUP BY 1, 2
), vhist AS (
    SELECT source, dec_first AS dec, CAST(count(*) AS BIGINT) AS vocs
    FROM tfirst GROUP BY 1, 2
), curve AS (
    SELECT g.source, g.q,
           CAST(sum(coalesce(t.toks, 0)) OVER (
               PARTITION BY g.source ORDER BY g.q) AS BIGINT) AS n_q,
           CAST(sum(coalesce(v.vocs, 0)) OVER (
               PARTITION BY g.source ORDER BY g.q) AS BIGINT) AS v_q
    FROM qgrid g
    LEFT JOIN thist t ON t.source = g.source AND t.dec = g.q
    LEFT JOIN vhist v ON v.source = g.source AND v.dec = g.q
), pts AS (
    SELECT * FROM curve WHERE n_q > 0
), moments AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_points,
           CAST(max(n_q) AS BIGINT) AS total_tokens,
           CAST(max(v_q) AS BIGINT) AS vocab_size,
           CAST(sum(CAST(round(ln(n_q), 12) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
           CAST(sum(CAST(round(ln(v_q), 12) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
           CAST(sum(CAST(round(ln(n_q) * ln(n_q), 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
           CAST(sum(CAST(round(ln(n_q) * ln(v_q), 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxy
    FROM pts GROUP BY 1
)
SELECT source, n_points, total_tokens, vocab_size,
       round((n_points * sxy - sx * sy) / (n_points * sxx - sx * sx), 6)
           AS heaps_beta,
       round(exp((sy - (n_points * sxy - sx * sy)
                       / (n_points * sxx - sx * sx) * sx) / n_points), 4)
           AS heaps_k
FROM moments
"""


# ---------------------------------------------------------------------------
# source_overlap_minhash (block C)
# ---------------------------------------------------------------------------

_OVL_HASHES = 32


def q_source_overlap_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content-overlap estimation by MERGED MinHash
    signatures: each source's signature is the min-fold of its shingle
    set (a mergeable sketch — at 100 TB, per-partition signatures
    combine without ever joining the shingle tables), compared against
    the exact shingle-set Jaccard as the built-in acceptance check.
    The md5 double-hash signature is the engine-neutral formulation of
    dedup.minhash_signatures, so the DuckDB twin rebuilds the sketch
    bit-for-bit. Output is one row per source pair: estimator, exact
    value, absolute error."""
    docs = _docs(spark, sf_dir)
    sh = dedup.shingles(docs, "doc_id", "text", n=3)
    src_sh = (
        sh.join(
            docs.select(F.col("doc_id").alias("doc"), "source"), "doc"
        )
        .select(F.col("source").alias("doc"), "shingle")
        .dropDuplicates()
    )
    sig = dedup.minhash_signatures(
        docs, "doc_id", "text",
        num_hashes=_OVL_HASHES, shingle_hash="md5", shingles_df=src_sh,
    ).select(F.col("doc").alias("source"), "signature")
    a = sig.select(
        F.col("source").alias("src_a"), F.col("signature").alias("_sa")
    )
    b = sig.select(
        F.col("source").alias("src_b"), F.col("signature").alias("_sb")
    )
    # one side broadcast: the signature table is #sources rows by
    # construction, so the non-equi pair join is a BNLJ against a
    # broadcast handful, never a cartesian shuffle
    pairs = a.join(F.broadcast(b), F.col("src_a") < F.col("src_b"))
    matches = F.aggregate(
        F.zip_with(
            "_sa", "_sb", lambda x, y: F.when(x == y, 1).otherwise(0)
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    est = pairs.select(
        "src_a", "src_b",
        F.round(matches.cast("double") / F.lit(float(_OVL_HASHES)), 6).alias(
            "est_jaccard"
        ),
    )
    sizes = src_sh.groupBy("doc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sh")
    )
    inter = (
        src_sh.alias("x")
        .join(src_sh.alias("y"), F.expr("x.shingle = y.shingle AND x.doc < y.doc"))
        .groupBy(
            F.col("x.doc").alias("src_a"), F.col("y.doc").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    exact = (
        inter.join(
            sizes.select(F.col("doc").alias("src_a"), F.col("n_sh").alias("_na")),
            "src_a",
        )
        .join(
            sizes.select(F.col("doc").alias("src_b"), F.col("n_sh").alias("_nb")),
            "src_b",
        )
        .select(
            "src_a", "src_b", "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("_na") + F.col("_nb") - F.col("n_common")).cast("double"),
                6,
            ).alias("exact_jaccard"),
        )
    )
    out = est.join(exact, ["src_a", "src_b"], "left").select(
        "src_a", "src_b",
        "est_jaccard",
        F.coalesce("n_common", F.lit(0)).cast("bigint").alias("n_common"),
        F.coalesce("exact_jaccard", F.lit(0.0)).alias("exact_jaccard"),
    )
    return out.withColumn(
        "abs_err",
        F.round(F.abs(F.col("est_jaccard") - F.col("exact_jaccard")), 6),
    )


def _source_overlap_oracle_sql() -> str:
    """Per-source merged-signature twin: same 60-bit md5 double hashing
    and mask-then-shift rotations as _minhash_lsh_oracle_sql, min-folded
    per SOURCE instead of per doc."""
    h1 = "(('0x' || substr(md5(shingle), 1, 15))::BIGINT)"
    h2 = "(('0x' || substr(md5(shingle), 17, 15))::BIGINT)"

    def rotl60(x: str, r: int) -> str:
        r = r % 60
        if r == 0:
            return x
        mask = (1 << (60 - r)) - 1
        return f"((({x} & {mask}) << {r}) | ({x} >> {60 - r}))"

    mins = ", ".join(
        f"min(xor({h1}, {rotl60(h2, (7 * i + 1) % 60)})) AS h{i}"
        for i in range(_OVL_HASHES)
    )
    est = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)"
        for i in range(_OVL_HASHES)
    )
    return rf"""
WITH words_t AS (
    SELECT doc_id, source,
           list_filter(
               string_split_regex(
                   lower(regexp_replace(text, '[^A-Za-z0-9\s]', ' ', 'g')),
                   '\s+'),
               w -> w <> '') AS words
    FROM documents
), ssh AS (
    SELECT DISTINCT source, shingle FROM (
        SELECT source, unnest(list_distinct(
                   list_transform(
                       range(1, greatest(len(words) - 2, 0) + 1),
                       i -> array_to_string(words[i:i+2], ' ')))) AS shingle
        FROM words_t
    )
), sig AS (
    SELECT source, {mins} FROM ssh GROUP BY source
), est AS (
    SELECT a.source AS src_a, b.source AS src_b,
           round(({est}) / {float(_OVL_HASHES)}, 6) AS est_jaccard
    FROM sig a JOIN sig b ON a.source < b.source
), sizes AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_sh FROM ssh GROUP BY 1
), inter AS (
    SELECT x.source AS src_a, y.source AS src_b,
           CAST(count(*) AS BIGINT) AS n_common
    FROM ssh x JOIN ssh y ON x.shingle = y.shingle AND x.source < y.source
    GROUP BY 1, 2
), exact AS (
    SELECT i.src_a, i.src_b, i.n_common,
           round(CAST(i.n_common AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - i.n_common), 6) AS exact_jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
)
SELECT e.src_a, e.src_b, e.est_jaccard,
       coalesce(x.n_common, 0) AS n_common,
       coalesce(x.exact_jaccard, 0.0) AS exact_jaccard,
       round(abs(e.est_jaccard - coalesce(x.exact_jaccard, 0.0)), 6) AS abs_err
FROM est e LEFT JOIN exact x ON x.src_a = e.src_a AND x.src_b = e.src_b
"""


# ---------------------------------------------------------------------------
# dedup_prefix_fingerprint (block C)
# ---------------------------------------------------------------------------

_PREFIX_LEN = 64


def q_dedup_prefix_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-prefix dedup: documents sharing the first 64
    normalized characters (the crawl-corpus pattern where scraped pages
    repeat a site header/license preamble). The shuffle carries a
    16-byte md5, never text; keep-min-id inside each group is one
    aggregation."""
    docs = _docs(spark, sf_dir)
    norm = F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9]", "")
    fp = F.md5(F.substring(norm, 1, _PREFIX_LEN))
    return (
        docs.select(fp.alias("prefix_fp"), "doc_id")
        .groupBy("prefix_fp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("keep_id"),
            (F.count(F.lit(1)) - 1).cast("bigint").alias("n_dropped"),
        )
        .filter(F.col("n_docs") > 1)
    )


_PREFIX_ORACLE = f"""
WITH fp AS (
    SELECT doc_id,
           md5(substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
                      1, {_PREFIX_LEN})) AS prefix_fp
    FROM documents
)
SELECT prefix_fp,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS keep_id,
       CAST(count(*) - 1 AS BIGINT) AS n_dropped
FROM fp GROUP BY 1 HAVING count(*) > 1
"""


# ---------------------------------------------------------------------------
# ks_drift_daily (block B)
# ---------------------------------------------------------------------------


def q_ks_drift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day two-sample Kolmogorov-Smirnov drift statistic of the
    event value distribution against the full-period baseline — the
    numeric-feature drift monitor (PSI's rank-based sibling; PSI is
    psi_drift_daily). ECDFs are evaluated on a fixed 1000-bin integer
    grid (the scale path: per-day state is bounded by the grid, not the
    row count), and the KS sup-difference is computed CROSS-MULTIPLIED
    in exact integers — |cum_day * n_ref - cum_ref * n_day| — so the
    only float is the final division. Windows run over <=1000 rows per
    day (and one 1000-row baseline partition): bounded at any scale."""
    ev = _events(spark, sf_dir)
    v100 = (F.col("value").cast("decimal(14,2)") * 100).cast("long")
    base = ev.select(
        temporal.wall_trunc("day", F.col("ts")).alias("day"),
        v100.alias("v100"),
    )
    stats = base.agg(
        F.min("v100").alias("_lo"), F.max("v100").alias("_hi")
    )
    binned = base.crossJoin(F.broadcast(stats)).select(
        "day",
        # integer DIV, never float `/`: a float quotient landing one ulp
        # above an integer boundary would mis-bin after the cast
        F.expr(
            f"CAST(((v100 - _lo) * {KS_BINS}) DIV (_hi - _lo + 1) AS BIGINT)"
        ).alias("bin"),
    )
    day_counts = binned.groupBy("day", "bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    ref_counts = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    bins = spark.range(KS_BINS).select(F.col("id").cast("long").alias("bin"))
    w_ref = Window.orderBy("bin")
    ref_cum = (
        bins.join(ref_counts, "bin", "left")
        .select("bin", F.coalesce("c", F.lit(0)).alias("c"))
        .select(
            "bin",
            F.sum("c").over(w_ref).cast("bigint").alias("cum_ref"),
            F.sum("c").over(Window.partitionBy(F.lit(1))).cast("bigint").alias(
                "n_ref"
            ),
        )
    )
    days = base.select("day").distinct()
    grid = days.crossJoin(F.broadcast(bins))
    w_day = Window.partitionBy("day").orderBy("bin")
    day_cum = (
        grid.join(day_counts, ["day", "bin"], "left")
        .select("day", "bin", F.coalesce("c", F.lit(0)).alias("c"))
        .select(
            "day",
            "bin",
            F.sum("c").over(w_day).cast("bigint").alias("cum_day"),
            F.sum("c").over(Window.partitionBy("day")).cast("bigint").alias(
                "n_day"
            ),
        )
    )
    joined = day_cum.join(F.broadcast(ref_cum), "bin")
    diff = F.abs(
        F.col("cum_day") * F.col("n_ref") - F.col("cum_ref") * F.col("n_day")
    )
    agg = joined.groupBy("day").agg(
        F.max("n_day").cast("bigint").alias("n_obs"),
        F.max(diff).cast("bigint").alias("_dnum"),
        F.max("n_ref").cast("bigint").alias("_nref"),
    )
    ks = F.col("_dnum").cast("double") / (
        F.col("n_obs").cast("double") * F.col("_nref").cast("double")
    )
    return agg.select(
        "day",
        "n_obs",
        F.round(ks, 6).alias("ks_stat"),
        (F.round(ks, 6) > 0.1).alias("drifted"),
    )


_KS_ORACLE = f"""
WITH base AS (
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS v100
    FROM events
), st AS (
    SELECT min(v100) AS lo, max(v100) AS hi FROM base
), binned AS (
    SELECT day,
           CAST((v100 - lo) * {KS_BINS} // (hi - lo + 1) AS BIGINT) AS bin
    FROM base CROSS JOIN st
), bins AS (
    SELECT CAST(i AS BIGINT) AS bin FROM generate_series(0, {KS_BINS - 1}) t(i)
), refc AS (
    SELECT bins.bin,
           CAST(sum(coalesce(c.c, 0)) OVER (ORDER BY bins.bin) AS BIGINT)
               AS cum_ref,
           CAST(sum(coalesce(c.c, 0)) OVER () AS BIGINT) AS n_ref
    FROM bins LEFT JOIN (
        SELECT bin, count(*) AS c FROM binned GROUP BY 1
    ) c USING (bin)
), dayc AS (
    SELECT g.day, g.bin,
           CAST(sum(coalesce(c.c, 0)) OVER (
               PARTITION BY g.day ORDER BY g.bin) AS BIGINT) AS cum_day,
           CAST(sum(coalesce(c.c, 0)) OVER (PARTITION BY g.day) AS BIGINT)
               AS n_day
    FROM (SELECT d.day, b.bin
          FROM (SELECT DISTINCT day FROM base) d CROSS JOIN bins b) g
    LEFT JOIN (
        SELECT day, bin, count(*) AS c FROM binned GROUP BY 1, 2
    ) c ON c.day = g.day AND c.bin = g.bin
), agg AS (
    SELECT d.day,
           max(d.n_day) AS n_obs,
           max(abs(d.cum_day * r.n_ref - r.cum_ref * d.n_day)) AS dnum,
           max(r.n_ref) AS nref
    FROM dayc d JOIN refc r USING (bin)
    GROUP BY 1
)
SELECT day, CAST(n_obs AS BIGINT) AS n_obs,
       round(CAST(dnum AS DOUBLE) / (CAST(n_obs AS DOUBLE) * nref), 6)
           AS ks_stat,
       round(CAST(dnum AS DOUBLE) / (CAST(n_obs AS DOUBLE) * nref), 6) > 0.1
           AS drifted
FROM agg
"""


# ---------------------------------------------------------------------------
# benford_first_digit (block B)
# ---------------------------------------------------------------------------


def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance of event values per event type: first
    significant digit distribution vs log10(1 + 1/d), with the per-type
    chi-square statistic — the classic synthetic-data / fraud / sensor-
    anomaly screen. The first digit comes from the DECIMAL-exact
    integer rendering (never float formatting); chi2 terms are rounded
    to 9 dp then decimal-summed so the 9-digit accumulation is
    float-order-free. One groupBy on (type, digit); the grid is
    #types x 9."""
    ev = _events(spark, sf_dir)
    v100 = (F.col("value").cast("decimal(14,2)") * 100).cast("long")
    digit = F.substring(v100.cast("string"), 1, 1).cast("int")
    obs = (
        ev.select("event_type", digit.alias("digit"))
        .filter(F.col("digit") >= 1)
        .groupBy("event_type", "digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    )
    digits = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    types = ev.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(digits))
        .join(obs, ["event_type", "digit"], "left")
        .withColumn("n_obs", F.coalesce("n_obs", F.lit(0)).cast("bigint"))
    )
    w_t = Window.partitionBy("event_type")
    with_n = grid.withColumn(
        "n_total", F.sum("n_obs").over(w_t).cast("bigint")
    )
    p = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    e = F.col("n_total").cast("double") * p
    term = (F.col("n_obs").cast("double") - e) * (
        F.col("n_obs").cast("double") - e
    ) / e
    with_chi = with_n.withColumn(
        "_term", F.round(term, 9).cast("decimal(38,9)")
    ).withColumn(
        "chi2", F.round(F.sum("_term").over(w_t).cast("double"), 6)
    )
    return with_chi.select(
        "event_type",
        "digit",
        "n_obs",
        F.round(
            F.col("n_obs").cast("double") / F.col("n_total").cast("double"), 6
        ).alias("obs_share"),
        F.round(p, 6).alias("benford_share"),
        "chi2",
    )


_BENFORD_ORACLE = """
WITH v AS (
    SELECT event_type,
           TRY_CAST(substr(CAST(CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)
                            AS VARCHAR), 1, 1) AS INTEGER) AS digit
    FROM events
), obs AS (
    SELECT event_type, digit, CAST(count(*) AS BIGINT) AS n_obs
    FROM v WHERE digit >= 1
    GROUP BY 1, 2
), grid AS (
    SELECT t.event_type, d.d AS digit, coalesce(o.n_obs, 0) AS n_obs
    FROM (SELECT DISTINCT event_type FROM events) t
    CROSS JOIN generate_series(1, 9) d(d)
    LEFT JOIN obs o ON o.event_type = t.event_type AND o.digit = d.d
), with_n AS (
    SELECT event_type, digit, n_obs,
           CAST(sum(n_obs) OVER (PARTITION BY event_type) AS BIGINT) AS n_total
    FROM grid
), terms AS (
    SELECT *,
           log10(1.0 + 1.0 / digit) AS p,
           CAST(round(
               (n_obs - n_total * log10(1.0 + 1.0 / digit))
                 * (n_obs - n_total * log10(1.0 + 1.0 / digit))
                 / (n_total * log10(1.0 + 1.0 / digit)), 9)
               AS DECIMAL(38,9)) AS term
    FROM with_n
)
SELECT event_type, digit, n_obs,
       round(CAST(n_obs AS DOUBLE) / n_total, 6) AS obs_share,
       round(p, 6) AS benford_share,
       round(CAST(sum(term) OVER (PARTITION BY event_type) AS DOUBLE), 6)
           AS chi2
FROM terms
"""


# ---------------------------------------------------------------------------
# doc_graph_pagerank (block C)
# ---------------------------------------------------------------------------

PR_SCALE = 1_000_000
PR_ITERS = 2
_PR_BASE = 15 * PR_SCALE // 100


def q_doc_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the verified near-duplicate graph (the same
    LSH -> exact-Jaccard edge set dedup_components clusters): rank mass
    concentrates on template/boilerplate hubs, the docs a curation pass
    inspects first. Integer-exact formulation — rank starts at
    PR_SCALE, each neighbor contribution is (85*r) DIV (100*deg) with
    truncating integer division, damping base 0.15*PR_SCALE — so the
    2-iteration run is bit-reproducible and the unrolled SQL twin
    certifies it. Scale shape: classic distributed PageRank — per
    iteration ONE shuffle keyed on node id; the edge table (both
    directions + degree) is built once and persisted."""
    from pygeoapi_ingestor_spark.plans.queries_llm import (
        shared_verified_pairs,
    )

    # verify-once shared artifact (VERDICT r9 item 3): the LSH->verify
    # edge set is built once per corpus and shared with
    # dedup_lsh_verified / dedup_components / dup_cluster_size_hist
    pairs = shared_verified_pairs(spark, sf_dir)
    fwd = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    # persisted index artifacts; the harness clears cache between keys
    # (the catalog-wide cache contract, see operators/dedup.py).
    # edges embeds the WHOLE LSH->verify pipeline in its lineage and
    # fans out to deg / ew / (transitively) r0, the final join and
    # n_nodes — unpersisted, the verify stage re-runs per consumer
    # (measured: 27s flat across SFs -> ~8s once persisted)
    edges = fwd.union(
        pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
    ).persist()
    deg = edges.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    ).persist()
    ew = edges.join(
        deg.select(F.col("node").alias("a"), "deg"), "a"
    ).persist()
    r = deg.select("node", F.lit(PR_SCALE).cast("bigint").alias("r"))
    for _ in range(PR_ITERS):
        contrib = ew.join(
            r.select(F.col("node").alias("a"), "r"), "a"
        ).select(
            F.col("b").alias("node"),
            F.expr("CAST((85 * r) DIV (100 * deg) AS BIGINT)").alias("c"),
        )
        r = contrib.groupBy("node").agg(
            (F.lit(_PR_BASE) + F.sum("c")).cast("bigint").alias("r")
        )
    return (
        r.join(deg, "node")
        .crossJoin(
            F.broadcast(
                deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
            )
        )
        .select(
            F.col("node").cast("bigint").alias("doc_id"),
            F.col("deg").cast("bigint").alias("degree"),
            F.col("r").cast("bigint").alias("pagerank"),
            "n_nodes",
        )
    )


# the verified-pair edge set shared by the pagerank and cluster-census
# oracles (the same LSH->exact-Jaccard semantics dedup_components pins).
#
# DATA ASSUMPTION (ADVICE r9): this oracle enumerates ALL exact pairs
# with jaccard >= 0.6, while the Spark side only verifies LSH
# candidates — at 32 hashes / 8 bands the capture probability of a
# borderline jaccard~0.6 pair is only ~0.67, so the two sides agree
# only because the synthetic corpus's duplicate pairs all sit at
# jaccard >= ~0.889 (capture probability > 0.9999 there; pinned by
# tests/test_linalg_ml.py::test_lsh_capture_at_high_jaccard). A corpus
# with borderline-similarity pairs would need more bands (or fewer
# rows/band) before this oracle remains a valid twin.
_VPAIRS_EDGES_SQL = """
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
        )
"""


def _pagerank_oracle_sql() -> str:
    from pygeoapi_ingestor_spark.plans.queries_llm import _shingle_cte

    parts = [
        _shingle_cte()
        + _VPAIRS_EDGES_SQL
        + """
        , deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS deg
                FROM edges GROUP BY 1),
        r0 AS (SELECT node, CAST({scale} AS BIGINT) AS r FROM deg)
    """.format(scale=PR_SCALE)
    ]
    for t in range(1, PR_ITERS + 1):
        parts.append(f"""
        , r{t} AS (
            SELECT e.b AS node,
                   CAST({_PR_BASE} + sum((85 * r.r) // (100 * d.deg))
                        AS BIGINT) AS r
            FROM edges e
            JOIN r{t - 1} r ON r.node = e.a
            JOIN deg d ON d.node = e.a
            GROUP BY 1
        )""")
    return "".join(parts) + f"""
        SELECT CAST(r.node AS BIGINT) AS doc_id, deg.deg AS degree,
               r.r AS pagerank,
               (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes
        FROM r{PR_ITERS} r JOIN deg ON deg.node = r.node
    """


# ---------------------------------------------------------------------------
# dup_cluster_size_hist (block C)
# ---------------------------------------------------------------------------


def q_dup_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster census: the size histogram of the verified
    near-dup connected components plus the singleton row — the one
    table a dedup POLICY decision reads (how much of the corpus sits in
    2-doc mirror pairs vs 50-doc template families, and what keep-one
    deletion would reclaim). Composition over the components fixpoint;
    the histogram aggregation is bounded by distinct cluster sizes.
    Reads the verify-once shared artifacts (queries_llm.
    shared_dup_components): the census rides the fixpoint the
    dedup_components key materialized, never re-verifying the corpus."""
    from pygeoapi_ingestor_spark.plans.queries_llm import (
        shared_dup_components,
    )

    docs = _docs(spark, sf_dir)
    comps = shared_dup_components(spark, sf_dir)
    # two consumers (hist, members) — persist per the cache contract
    sizes = comps.groupBy("comp").agg(
        F.count(F.lit(1)).cast("bigint").alias("size")
    ).persist()
    hist = sizes.groupBy(F.col("size").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("size").cast("bigint").alias("n_docs"),
        (F.sum("size") - F.count(F.lit(1))).cast("bigint").alias(
            "reclaimable_docs"
        ),
    )
    members = sizes.agg(F.sum("size").cast("bigint").alias("_m"))
    total = docs.agg(F.count(F.lit(1)).cast("bigint").alias("_t"))
    singles = (
        total.crossJoin(F.broadcast(members))
        .select(
            F.lit(1).cast("bigint").alias("cluster_size"),
            (F.col("_t") - F.col("_m")).cast("bigint").alias("n_clusters"),
            (F.col("_t") - F.col("_m")).cast("bigint").alias("n_docs"),
            F.lit(0).cast("bigint").alias("reclaimable_docs"),
        )
        .filter(F.col("n_clusters") > 0)
    )
    return hist.unionByName(singles)


def _cluster_hist_oracle_sql() -> str:
    from pygeoapi_ingestor_spark.plans.queries_llm import _shingle_cte

    return _shingle_cte().replace(
        "WITH words_t", "WITH RECURSIVE words_t"
    ) + _VPAIRS_EDGES_SQL + """
        , reach(node, lbl) AS (
            SELECT DISTINCT a, a FROM edges
            UNION
            SELECT e.a, r.lbl FROM reach r JOIN edges e ON e.b = r.node
        ),
        compt AS (SELECT node, min(lbl) AS comp FROM reach GROUP BY node),
        csize AS (SELECT comp, CAST(count(*) AS BIGINT) AS size
                  FROM compt GROUP BY 1),
        hist AS (
            SELECT size AS cluster_size,
                   CAST(count(*) AS BIGINT) AS n_clusters,
                   CAST(sum(size) AS BIGINT) AS n_docs,
                   CAST(sum(size) - count(*) AS BIGINT) AS reclaimable_docs
            FROM csize GROUP BY 1
        ),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM documents),
        mem AS (SELECT CAST(coalesce(sum(size), 0) AS BIGINT) AS m FROM csize)
        SELECT * FROM hist
        UNION ALL
        SELECT CAST(1 AS BIGINT), t - m, t - m, CAST(0 AS BIGINT)
        FROM tot CROSS JOIN mem WHERE t - m > 0
    """


# ---------------------------------------------------------------------------
# pinball_loss_eval (block B)
# ---------------------------------------------------------------------------

PINBALL_Q10 = 9  # q = 0.9 expressed in tenths: loss*10 = max(9*(y-f), f-y)
_TRAIN_END = "2024-01-08"


def q_pinball_loss_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-forecast evaluation: per event type, fit the q90 as the
    exact ceil(0.9*n)-th order statistic of week-1 values, then score
    weeks 2+ with the pinball (quantile) loss — the acceptance metric of
    any quantile regression / exceedance forecast. The loss is computed
    on cent-integers scaled by 10 (max(9*(y-f), f-y)), summed exactly;
    float appears only in the final mean.

    The order statistic comes off a VALUE-COMPRESSED histogram (the
    mad_outliers / zonal_stats_hist idiom, r12): values are 2-decimal
    quantized, so ``groupBy(event_type, v100).count()`` bounds the
    window by the value domain and the rank-r value is the row whose
    cumulative-count range covers r — one shuffle + a histogram-sized
    window instead of the 3-job bucketed row_number (which ranks every
    row to use exactly one). Rank semantics identical: ties share v100,
    so the value AT the rank is tie-break-independent."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    v100 = (F.col("value").cast("decimal(14,2)") * 100).cast("long")
    base = ev.select(
        "event_id", "event_type", "ts", v100.alias("v100")
    )
    # NTZ literal (house form, temporal.py conventions): a plain
    # `lit(str).cast('timestamp')` would be interpreted in the session
    # zone and force an NTZ->LTZ coercion on the comparison
    split_ntz = F.expr(f"TIMESTAMP_NTZ '{_TRAIN_END} 00:00:00'")
    train = base.filter(F.col("ts") < split_ntz)
    hist = train.groupBy("event_type", "v100").agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")
    )
    w = Window.partitionBy("event_type").orderBy("v100")
    w_all = Window.partitionBy("event_type")
    cum = (
        hist.withColumn("_cum", F.sum("_c").over(w))
        .withColumn("n_train", F.sum("_c").over(w_all))
    )
    target = F.expr("CAST((9 * n_train + 9) DIV 10 AS BIGINT)")
    f = cum.filter(
        (F.col("_cum") - F.col("_c") < target) & (target <= F.col("_cum"))
    ).select("event_type", F.col("v100").alias("f100"), "n_train")
    ev2 = base.filter(F.col("ts") >= split_ntz)
    scored = ev2.join(F.broadcast(f), "event_type").select(
        "event_type",
        "n_train",
        "f100",
        F.greatest(
            F.lit(PINBALL_Q10) * (F.col("v100") - F.col("f100")),
            F.col("f100") - F.col("v100"),
        ).cast("long").alias("l10"),
    )
    agg = scored.groupBy("event_type", "n_train", "f100").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval"),
        F.sum("l10").cast("bigint").alias("_s"),
    )
    return agg.select(
        "event_type",
        "n_train",
        "n_eval",
        F.round(F.col("f100").cast("double") / 100.0, 2).alias("forecast_q90"),
        F.round(
            F.col("_s").cast("double")
            / (F.lit(1000.0) * F.col("n_eval").cast("double")),
            6,
        ).alias("mean_pinball"),
    )


_PINBALL_ORACLE = f"""
WITH base AS (
    SELECT event_id, event_type, ts,
           CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS v100
    FROM events
), train AS (
    SELECT event_type, v100,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY v100, event_id) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n_train
    FROM base WHERE ts < TIMESTAMP '{_TRAIN_END}'
), f AS (
    SELECT event_type, v100 AS f100, CAST(n_train AS BIGINT) AS n_train
    FROM train WHERE rn = (9 * n_train + 9) // 10
), scored AS (
    SELECT b.event_type, f.n_train, f.f100,
           greatest({PINBALL_Q10} * (b.v100 - f.f100),
                    f.f100 - b.v100) AS l10
    FROM base b JOIN f USING (event_type)
    WHERE b.ts >= TIMESTAMP '{_TRAIN_END}'
)
SELECT event_type, n_train, CAST(count(*) AS BIGINT) AS n_eval,
       round(CAST(f100 AS DOUBLE) / 100.0, 2) AS forecast_q90,
       round(CAST(sum(l10) AS DOUBLE) / (1000.0 * count(*)), 6)
           AS mean_pinball
FROM scored GROUP BY event_type, n_train, f100
"""


# ---------------------------------------------------------------------------
# token_burstiness (block C)
# ---------------------------------------------------------------------------

BURST_TOP = 20


def q_token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance-to-mean dispersion) of per-document counts
    for the top corpus tokens — the burstiness diagnostic separating
    function words (Poisson-like, fano ~1) from topical/template tokens
    (bursty, fano >> 1), a standard corpus-quality signal. The identity
    fano = (N*s2 - s1^2) / (N*s1) over the integer moments (absent docs
    contribute exact zeros through N) keeps the whole computation in
    BIGINT; one (doc, token) aggregation bounds the shuffle."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "doc_id", F.explode(text.norm_words("text")).alias("token")
    )
    per_doc = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    moments = per_doc.groupBy("token").agg(
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
        F.count(F.lit(1)).cast("bigint").alias("doc_freq"),
    )
    top = moments.orderBy(F.desc("s1"), F.asc("token")).limit(BURST_TOP)
    total = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    out = top.crossJoin(F.broadcast(total))
    fano = (
        F.col("n_docs") * F.col("s2") - F.col("s1") * F.col("s1")
    ).cast("double") / (F.col("n_docs") * F.col("s1")).cast("double")
    return out.select(
        "token",
        F.col("s1").alias("total_count"),
        "doc_freq",
        "n_docs",
        F.round(fano, 6).alias("fano"),
    )


_BURSTINESS_ORACLE = _TOKENS_ALL_CTE + f"""
, per_doc AS (
    SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
    FROM tokall GROUP BY 1, 2
), moments AS (
    SELECT token, CAST(sum(c) AS BIGINT) AS s1,
           CAST(sum(c * c) AS BIGINT) AS s2,
           CAST(count(*) AS BIGINT) AS doc_freq
    FROM per_doc GROUP BY 1
), top AS (
    SELECT * FROM moments ORDER BY s1 DESC, token ASC LIMIT {BURST_TOP}
), total AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT token, s1 AS total_count, doc_freq, n_docs,
       round(CAST(n_docs * s2 - s1 * s1 AS DOUBLE)
             / CAST(n_docs * s1 AS DOUBLE), 6) AS fano
FROM top CROSS JOIN total
"""


# ---------------------------------------------------------------------------
# lang_source_entropy (block C)
# ---------------------------------------------------------------------------


def q_lang_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional entropy H(lang | source) per source plus each
    source's share of the corpus-level mutual information I(lang;
    source) — the language-mix diagnostic of a multilingual corpus
    (uniform mixes have high H; single-language sources 0). Counts are
    exact integers; each cell's -p*log2(p) / MI term is a deterministic
    double rounded to 9 dp before the DECIMAL-exact sum, so the
    cross-cell accumulation carries no float-order dependence. The grid
    is sources x languages — bounded."""
    docs = _docs(spark, sf_dir)
    cells = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sl")
    )
    w_s = Window.partitionBy("source")
    w_l = Window.partitionBy("lang")
    w_all = Window.partitionBy(F.lit(1))
    g = (
        cells.withColumn("n_s", F.sum("n_sl").over(w_s).cast("bigint"))
        .withColumn("n_l", F.sum("n_sl").over(w_l).cast("bigint"))
        .withColumn("n", F.sum("n_sl").over(w_all).cast("bigint"))
    )
    p_ls = F.col("n_sl").cast("double") / F.col("n_s").cast("double")
    h_term = -p_ls * F.log2(p_ls)
    # MI term: (n_sl/n) * log2(n*n_sl / (n_s*n_l)) — exact integer ratio
    # inside the log
    mi_term = (F.col("n_sl").cast("double") / F.col("n").cast("double")) * F.log2(
        (F.col("n").cast("double") * F.col("n_sl").cast("double"))
        / (F.col("n_s").cast("double") * F.col("n_l").cast("double"))
    )
    dec = lambda c: F.round(c, 9).cast("decimal(38,9)")  # noqa: E731
    return (
        g.withColumn("_h", dec(h_term))
        .withColumn("_mi", dec(mi_term))
        .groupBy("source")
        .agg(
            F.max("n_s").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_langs"),
            F.round(F.sum("_h").cast("double"), 6).alias("h_lang_given_source"),
            F.round(F.sum("_mi").cast("double"), 6).alias("mi_contrib"),
        )
    )


_LANG_ENTROPY_ORACLE = """
WITH cells AS (
    SELECT source, lang, CAST(count(*) AS BIGINT) AS n_sl
    FROM documents GROUP BY 1, 2
), g AS (
    SELECT source, lang, n_sl,
           CAST(sum(n_sl) OVER (PARTITION BY source) AS BIGINT) AS n_s,
           CAST(sum(n_sl) OVER (PARTITION BY lang) AS BIGINT) AS n_l,
           CAST(sum(n_sl) OVER () AS BIGINT) AS n
    FROM cells
), terms AS (
    SELECT source, n_s,
           CAST(round(-(CAST(n_sl AS DOUBLE) / n_s)
                      * log2(CAST(n_sl AS DOUBLE) / n_s), 9)
               AS DECIMAL(38,9)) AS h_term,
           CAST(round((CAST(n_sl AS DOUBLE) / n)
                      * log2((CAST(n AS DOUBLE) * n_sl)
                             / (CAST(n_s AS DOUBLE) * n_l)), 9)
               AS DECIMAL(38,9)) AS mi_term
    FROM g
)
SELECT source,
       CAST(max(n_s) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_langs,
       round(CAST(sum(h_term) AS DOUBLE), 6) AS h_lang_given_source,
       round(CAST(sum(mi_term) AS DOUBLE), 6) AS mi_contrib
FROM terms GROUP BY 1
"""


# ---------------------------------------------------------------------------
# doc_length_lognormal (block C)
# ---------------------------------------------------------------------------


def q_doc_length_lognormal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-normal fit of document length per source (the standard model
    for natural-text length distributions): mu/sigma of ln(n_chars) via
    DECIMAL-exact sums of per-row 12-dp-rounded logs, reported with the
    fitted median exp(mu) — sources whose fitted median diverges from
    the empirical mean flag truncation or templating. One aggregation,
    two numbers of state per source."""
    docs = _docs(spark, sf_dir).filter(F.col("n_chars") > 0)
    lx = F.log(F.col("n_chars").cast("double"))
    d = lambda c: F.round(c, 12).cast("decimal(38,12)")  # noqa: E731
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(d(lx)).cast("double").alias("sx"),
        F.sum(d(lx * lx)).cast("double").alias("sxx"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    n = F.col("n_docs").cast("double")
    mu = F.col("sx") / n
    var = (n * F.col("sxx") - F.col("sx") * F.col("sx")) / (n * n)
    return agg.select(
        "source",
        "n_docs",
        "total_chars",
        F.round(mu, 6).alias("mu_ln"),
        F.round(F.sqrt(var), 6).alias("sigma_ln"),
        F.round(F.exp(mu), 2).alias("fitted_median"),
    )


_LOGNORMAL_ORACLE = """
WITH m AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CAST(round(ln(n_chars), 12) AS DECIMAL(38,12)))
                AS DOUBLE) AS sx,
           CAST(sum(CAST(round(ln(n_chars) * ln(n_chars), 12)
                         AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents WHERE n_chars > 0
    GROUP BY 1
)
SELECT source, n_docs, total_chars,
       round(sx / n_docs, 6) AS mu_ln,
       round(sqrt((n_docs * sxx - sx * sx) / (CAST(n_docs AS DOUBLE) * n_docs)),
             6) AS sigma_ln,
       round(exp(sx / n_docs), 2) AS fitted_median
FROM m
"""


# ---------------------------------------------------------------------------
# vocab_richness (block C)
# ---------------------------------------------------------------------------


def q_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-richness panel per source: vocabulary size, hapax
    legomena (once-only tokens) count and share, and the type-token
    ratio — the quick-read companions to the Heaps curve (templated
    sources collapse TTR and hapax share long before the growth
    exponent moves). Pure integer counts; floats only in the two final
    ratios."""
    docs = _docs(spark, sf_dir)
    tf = (
        docs.select("source", F.explode(text.norm_words("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    agg = tf.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.sum("cnt").cast("bigint").alias("total_tokens"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).cast("bigint").alias(
            "hapax_count"
        ),
    )
    return agg.select(
        "source",
        "vocab_size",
        "total_tokens",
        "hapax_count",
        F.round(
            F.col("hapax_count").cast("double") / F.col("vocab_size").cast("double"),
            6,
        ).alias("hapax_share"),
        F.round(
            F.col("vocab_size").cast("double") / F.col("total_tokens").cast("double"),
            6,
        ).alias("type_token_ratio"),
    )


_VOCAB_RICHNESS_ORACLE = _TOKENS_ALL_CTE + """
, tf AS (
    SELECT source, token, CAST(count(*) AS BIGINT) AS cnt
    FROM tokall GROUP BY 1, 2
)
SELECT source,
       CAST(count(*) AS BIGINT) AS vocab_size,
       CAST(sum(cnt) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_count,
       round(CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS hapax_share,
       round(CAST(count(*) AS DOUBLE) / sum(cnt), 6) AS type_token_ratio
FROM tf GROUP BY 1
"""


ML_QUERIES = {
    "pca_power_iteration": q_pca_power_iteration,
    "quality_logreg_step": q_quality_logreg_step,
    "token_source_chi2": q_token_source_chi2,
    "token_zipf_fit": q_token_zipf_fit,
    "vocab_growth_heaps": q_vocab_growth_heaps,
    "source_overlap_minhash": q_source_overlap_minhash,
    "dedup_prefix_fingerprint": q_dedup_prefix_fingerprint,
    "ks_drift_daily": q_ks_drift_daily,
    "benford_first_digit": q_benford_first_digit,
    "doc_graph_pagerank": q_doc_graph_pagerank,
    "dup_cluster_size_hist": q_dup_cluster_size_hist,
    "pinball_loss_eval": q_pinball_loss_eval,
    "token_burstiness": q_token_burstiness,
    "lang_source_entropy": q_lang_source_entropy,
    "doc_length_lognormal": q_doc_length_lognormal,
    "vocab_richness": q_vocab_richness,
}

ML_ORACLES = {
    "pca_power_iteration": _pca_oracle_sql(),
    "quality_logreg_step": _LOGREG_ORACLE,
    "token_source_chi2": _TOKEN_CHI2_ORACLE,
    "token_zipf_fit": _ZIPF_ORACLE,
    "vocab_growth_heaps": _HEAPS_ORACLE,
    "source_overlap_minhash": _source_overlap_oracle_sql(),
    "dedup_prefix_fingerprint": _PREFIX_ORACLE,
    "ks_drift_daily": _KS_ORACLE,
    "benford_first_digit": _BENFORD_ORACLE,
    "doc_graph_pagerank": _pagerank_oracle_sql(),
    "dup_cluster_size_hist": _cluster_hist_oracle_sql(),
    "pinball_loss_eval": _PINBALL_ORACLE,
    "token_burstiness": _BURSTINESS_ORACLE,
    "lang_source_entropy": _LANG_ENTROPY_ORACLE,
    "doc_length_lognormal": _LOGNORMAL_ORACLE,
    "vocab_richness": _VOCAB_RICHNESS_ORACLE,
}


# ---------------------------------------------------------------------------
# Round-10: cluster-cohesion census over the verify-once artifacts
# ---------------------------------------------------------------------------


def q_dup_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster cohesion of the verified near-dup components — the
    policy table that separates tight mirror families (pooled jaccard
    ~1, full edge density) from chains glued by transitivity (low
    density, low min edge), i.e. WHERE keep-one deletion is safe vs
    where a cluster needs review before collapsing. Rides both
    verify-once shared artifacts (queries_llm.shared_verified_pairs /
    shared_dup_components), so after dedup_components runs this is one
    tiny join + aggregate.

    Exactness: the per-cluster mean jaccard is the POOLED ratio
    sum(n_common) / sum(union) — two exact BIGINT sums and ONE float
    division, immune to the summation-order drift a double avg() would
    leak between engines; min_jaccard is order-independent. Oracle: the
    recursive-CTE components joined back to the verified pair CTE."""
    from pygeoapi_ingestor_spark.plans.queries_llm import (
        shared_dup_components,
        shared_verified_pairs,
    )

    pairs = shared_verified_pairs(spark, sf_dir)
    comps = shared_dup_components(spark, sf_dir)
    edges = pairs.join(
        comps.select(
            F.col("node").alias("doc_a"), F.col("comp").alias("component")
        ),
        "doc_a",
    )
    per = edges.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.sum("n_common").cast("bigint").alias("_inter"),
        F.sum(
            F.col("size_a") + F.col("size_b") - F.col("n_common")
        ).cast("bigint").alias("_union"),
        F.round(F.min("jaccard"), 6).alias("min_jaccard"),
    )
    sizes = comps.groupBy("comp").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    ).select(F.col("comp").alias("component"), "cluster_size")
    return per.join(sizes, "component").select(
        "component",
        "cluster_size",
        "n_edges",
        F.round(
            F.col("_inter").cast("double") / F.col("_union").cast("double"), 6
        ).alias("pooled_jaccard"),
        "min_jaccard",
        F.round(
            (F.lit(2) * F.col("n_edges")).cast("double")
            / (
                F.col("cluster_size") * (F.col("cluster_size") - F.lit(1))
            ).cast("double"),
            6,
        ).alias("edge_density"),
    )


def _cluster_quality_oracle_sql() -> str:
    from pygeoapi_ingestor_spark.plans.queries_llm import _shingle_cte

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
            SELECT doc_a, doc_b, n_common,
                   sa.n_sh AS size_a, sb.n_sh AS size_b,
                   n_common / (sa.n_sh + sb.n_sh - n_common) AS jaccard
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
        csize AS (
            SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
            FROM comp GROUP BY 1
        ),
        per AS (
            SELECT c.component,
                   CAST(count(*) AS BIGINT) AS n_edges,
                   CAST(sum(v.n_common) AS BIGINT) AS i_sum,
                   CAST(sum(v.size_a + v.size_b - v.n_common) AS BIGINT)
                       AS u_sum,
                   round(min(v.jaccard), 6) AS min_jaccard
            FROM vpairs v JOIN comp c ON c.node = v.doc_a
            GROUP BY 1
        )
        SELECT CAST(p.component AS BIGINT) AS component,
               s.cluster_size,
               p.n_edges,
               round(CAST(p.i_sum AS DOUBLE) / CAST(p.u_sum AS DOUBLE), 6)
                   AS pooled_jaccard,
               p.min_jaccard,
               round(CAST(2 * p.n_edges AS DOUBLE)
                     / CAST(s.cluster_size * (s.cluster_size - 1) AS DOUBLE),
                     6) AS edge_density
        FROM per p JOIN csize s USING (component)
    """


ML_QUERIES["dup_cluster_quality"] = q_dup_cluster_quality
ML_ORACLES["dup_cluster_quality"] = _cluster_quality_oracle_sql()


def q_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's SHIPPING artifact: within each verified
    near-dup cluster keep the highest-quality member and emit the
    keep/drop decision list (dedup_keep_best does this for EXACT-dup
    fingerprint groups; real template families are near-dups, so the
    production deletion list is computed per component). Rides the
    verify-once shared fixpoint + one quality projection + one window
    per component — after dedup_components runs, this is one small
    join. Ties break to the smaller doc_id (deterministic), matching
    the dedup_keep_best convention."""
    from pygeoapi_ingestor_spark.operators import text as text_ops
    from pygeoapi_ingestor_spark.plans.queries_llm import (
        _docs,
        shared_dup_components,
    )

    comps = shared_dup_components(spark, sf_dir)
    scored = text_ops.quality_features(
        _docs(spark, sf_dir), text_col="text"
    ).select("doc_id", "quality_score")
    members = comps.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    ).join(scored, "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    ranked = members.withColumn("rn", F.row_number().over(w))
    sizes = members.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    best = ranked.filter(F.col("rn") == 1).select(
        "component",
        F.col("doc_id").alias("keep_id"),
        F.round("quality_score", 6).alias("best_quality"),
    )
    return best.join(sizes, "component").select(
        "component",
        "keep_id",
        "best_quality",
        "cluster_size",
        (F.col("cluster_size") - F.lit(1)).cast("bigint").alias("n_dropped"),
    )


def _cluster_keep_best_oracle_sql() -> str:
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
        """ + _quality_cte() + """
        , ranked AS (
            SELECT c.component, s.doc_id, s.quality_score,
                   row_number() OVER (PARTITION BY c.component
                       ORDER BY s.quality_score DESC, s.doc_id ASC) AS rn,
                   count(*) OVER (PARTITION BY c.component)
                       AS cluster_size
            FROM comp c JOIN scored s ON s.doc_id = c.node
        )
        SELECT CAST(component AS BIGINT) AS component,
               CAST(doc_id AS BIGINT) AS keep_id,
               round(quality_score, 6) AS best_quality,
               CAST(cluster_size AS BIGINT) AS cluster_size,
               CAST(cluster_size - 1 AS BIGINT) AS n_dropped
        FROM ranked WHERE rn = 1
    """


ML_QUERIES["cluster_keep_best"] = q_cluster_keep_best
ML_ORACLES["cluster_keep_best"] = _cluster_keep_best_oracle_sql()
