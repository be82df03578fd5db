"""Bias correction via empirical quantile mapping.

Reference: bias_correction_cds_process.py:310-400 — per (variable,
init-month, lead-month) a monotone spline maps raw model values onto the
observed distribution, with constant adjustment beyond the fitted range.
The spline coefficients are precomputed offline; the underlying semantics
is quantile mapping: corrected = F_ref^-1(F_model(x)).

Spark-first re-expression with no fitted artifacts: compute each side's
empirical CDF with ``percent_rank`` (one window per series), then match
every model rank to the greatest reference rank <= it — an as-of join on
the rank axis, done with a union + running ``last(ignorenulls)`` window
so there is no non-equi join blowup. Tails clamp to the reference
min/max, mirroring the reference's constant out-of-range adjustment.

Scale: two shuffles (one per window partition key) bounded by series
cardinality; the match step reuses the same partitioning. Each series
sorts within ONE task — correct for the reference's real shape (many
(variable, init-month, lead-month) series, each bounded), but a single
global series degenerates to one sorted partition. For that case,
pre-bucket into quantile bins with ``approx_percentile`` and map per
bin (trades exactness for parallelism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def apply_curve_table(
    fact: DataFrame,
    curve: DataFrame,
    series_cols: list[str],
    x_col: str,
    y_col: str,
    value_col: str,
) -> DataFrame:
    """Apply a PRECOMPUTED per-series transfer curve — the reference's
    production bias-correction mode (bias_correction_cds_process.py:
    310-400: fitted ``bctf__*`` parameter artifacts are loaded per
    (variable, init, lead) and applied as a monotone map with constant
    adjustment beyond the fitted range), as opposed to ``quantile_map``
    which re-derives the map from data.

    ``curve`` is a (series..., x, y) point table, collapsed to one
    sorted array per series and BROADCAST; the fact side is corrected in
    a single projection after one broadcast hash join. In-range values
    interpolate linearly between bracketing points; out-of-range values
    get the boundary point's additive offset carried constant
    (y_edge + (value - x_edge)), mirroring the reference's tail
    handling. Rows whose series has no stored curve keep NULL."""
    curves = curve.groupBy(*series_cols).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(x_col).alias("x"), F.col(y_col).alias("y")))
        ).alias("_curve")
    )
    joined = fact.join(F.broadcast(curves), series_cols, "left")
    v = F.col(value_col)
    arr = F.col("_curve")
    idx = F.size(F.filter(arr, lambda p: p.getField("x") <= v))
    n = F.size(arr)
    first, last = F.element_at(arr, 1), F.element_at(arr, -1)
    lo = F.element_at(arr, idx)
    hi = F.element_at(arr, idx + 1)
    interp = lo.getField("y") + (hi.getField("y") - lo.getField("y")) * (
        (v - lo.getField("x")) / (hi.getField("x") - lo.getField("x"))
    )
    adj = (
        F.when(arr.isNull(), F.lit(None).cast("double"))
        .when(idx == 0, first.getField("y") + (v - first.getField("x")))
        .when(idx == n, last.getField("y") + (v - last.getField("x")))
        .otherwise(interp)
    )
    return joined.withColumn("value_adj", adj).drop("_curve")


def spline_transfer_sql(
    x_sql: str,
    t_sql: str,
    c_sql: str,
    k: int,
    dmin_sql: str,
    dmax_sql: str,
    dialect: str = "spark",
) -> str:
    """De Boor evaluation of a stored degree-``k`` B-spline ``(t, c, k)``
    with the reference's constant out-of-range adjustment, as ONE SQL
    expression string (bias_correction_cds_process.py:336-359: ``splev``
    inside the fitted range, ``d + dmin`` below ``t[k]``, ``d + dmax``
    above ``t[-k]``).

    The same generator emits the Spark and DuckDB dialects (only the
    array-function names differ), so both engines evaluate the IDENTICAL
    floating-point expression tree — corrected values hash-match to the
    last ulp. The expression is O(2^k) terms for fixed small k (cubic:
    ~8 leaf coefficients), independent of knot count and series count:
    knots/coefficients stay DATA (array columns on a broadcast param
    table), never literals, so plan size does not grow with the stored
    parameter set.

    This form inlines the span index ``spline_span_sql`` into every knot
    and coefficient access (50 copies for a cubic): the DuckDB oracle's
    text. ``apply_spline_table`` computes the span once per row as a
    column and passes its name to ``spline_deboor_sql`` instead.
    """
    j_sql = f"({spline_span_sql(x_sql, t_sql, k, dialect)})"
    return spline_deboor_sql(x_sql, t_sql, c_sql, j_sql, k, dmin_sql, dmax_sql, dialect)


# (element access, size, filter) function names per dialect
_ARRAY_FUNCTIONS = {
    "spark": ("element_at", "size", "filter"),
    "duckdb": ("list_extract", "len", "list_filter"),
}


def spline_span_sql(x_sql: str, t_sql: str, k: int, dialect: str) -> str:
    """The knot-span index ``j`` (0-based) of ``x``: the last knot
    ``t[j] <= x``, clamped to [k, n-k-2] so every array index of the de
    Boor recurrence stays in bounds (ANSI-safe)."""
    _, size, filt = _ARRAY_FUNCTIONS[dialect]
    jraw = f"({size}({filt}({t_sql}, e -> e <= ({x_sql}))) - 1)"
    return f"least(greatest({jraw}, {k}), {size}({t_sql}) - {k + 2})"


def spline_deboor_sql(
    x_sql: str,
    t_sql: str,
    c_sql: str,
    j_sql: str,
    k: int,
    dmin_sql: str,
    dmax_sql: str,
    dialect: str,
) -> str:
    """The tail-adjusted de Boor expression with the span index given as
    the SQL text ``j_sql`` (a column name, or the parenthesized
    ``spline_span_sql``).

    De Boor's algorithm (the standard recurrence): with x in
    [t[j], t[j+1]), d0_i = c[j-k+i], then for r=1..k, i=k..r:
    d_i <- (1-a)*d_{i-1} + a*d_i with a = (x - t[i+j-k]) /
    (t[i+1+j-r] - t[i+j-k]); S(x) = d_k.
    """
    elem, size, _ = _ARRAY_FUNCTIONS[dialect]

    def T(off: int) -> str:
        # knot t[j + off] (0-based) -> 1-based element access
        return f"{elem}({t_sql}, {j_sql} + {off + 1})"

    n = f"{size}({t_sql})"
    d = {i: f"{elem}({c_sql}, {j_sql} + {i - k + 1})" for i in range(k + 1)}
    for r in range(1, k + 1):
        for i in range(k, r - 1, -1):
            lo = T(i - k)
            hi = T(i + 1 - r)
            alpha = f"((({x_sql}) - {lo}) / ({hi} - {lo}))"
            d[i] = f"((1.0 - {alpha}) * ({d[i - 1]}) + {alpha} * ({d[i]}))"

    tmin = f"{elem}({t_sql}, {k + 1})"          # t[k] 0-based
    tmax = f"{elem}({t_sql}, {n} - {k - 1})"    # t[-k] 0-based = 1-based n-k+1
    return (
        f"CASE WHEN ({x_sql}) < {tmin} THEN ({x_sql}) + ({dmin_sql}) "
        f"WHEN ({x_sql}) > {tmax} THEN ({x_sql}) + ({dmax_sql}) "
        f"ELSE {d[k]} END"
    )


def apply_spline_table(
    fact: DataFrame,
    params: DataFrame,
    series_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Apply stored per-series B-spline transfer functions — the
    reference's production bias-correction evaluator
    (bias_correction_cds_process.py:322-359: per (variable, init, lead)
    the fitted ``tck`` is loaded and ``splev``-applied with constant
    tail adjustment).

    ``params`` columns: ``series_cols..., t array<double>,
    c array<double>, dmin double, dmax double`` — one row per series,
    broadcast (the parameter artifact is tiny by construction). The
    whole correction is a single projection after one broadcast hash
    join: zero shuffles on the fact side, and the de Boor expression
    stays JVM-side (no UDF). Rows whose series has no stored params
    keep NULL.

    The span index is ONE column per row (one ``filter`` over the
    knots), which the de Boor expression references. Inlined, it is 50
    span searches per row, and the whole expression runs interpreted (a
    higher-order function has no codegen); as a column, only the span's
    own projection does. CollapseProject keeps the column, since it does
    not inline a non-cheap expression its consumer references more than
    once. The arithmetic text is ``spline_transfer_sql``'s, so the
    values are bit-identical to the inlined form and to the DuckDB
    oracle."""
    joined = fact.join(F.broadcast(params), series_cols, "left")
    span = spline_span_sql(value_col, "t", 3, "spark")
    expr = spline_deboor_sql(value_col, "t", "c", "_spline_j", 3, "dmin", "dmax", "spark")
    return (
        joined.withColumn("_spline_j", F.expr(span))
        .withColumn("value_adj", F.expr(expr))
        .drop("t", "c", "dmin", "dmax", "_spline_j")
    )


def quantile_map(
    model: DataFrame,
    reference: DataFrame,
    series_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Map model values onto the reference distribution per series.

    Returns the model rows plus ``value_adj`` (step-function empirical
    quantile mapping, exact and deterministic — oracle-able with an
    ASOF JOIN on percent_rank).
    """
    w_m = Window.partitionBy(*series_cols).orderBy(value_col)
    w_r = Window.partitionBy(*series_cols).orderBy(value_col)

    m = model.withColumn("_rank", F.percent_rank().over(w_m))
    r = reference.select(
        *series_cols,
        F.col(value_col).alias("_ref_value"),
    ).withColumn("_rank", F.percent_rank().over(w_r.orderBy("_ref_value")))

    m_tag = m.withColumn("_side", F.lit(1)).withColumn(
        "_ref_value", F.lit(None).cast("double")
    )
    r_tag = r.withColumn("_side", F.lit(0))
    for c in m_tag.columns:
        if c not in r_tag.columns:
            r_tag = r_tag.withColumn(c, F.lit(None).cast(m_tag.schema[c].dataType))
    r_tag = r_tag.select(*m_tag.columns)

    unioned = m_tag.unionByName(r_tag)
    # reference rows sort first at equal rank => "<=" match
    w_match = (
        Window.partitionBy(*series_cols)
        .orderBy(F.col("_rank").asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = unioned.withColumn(
        "_mapped", F.last("_ref_value", ignorenulls=True).over(w_match)
    )
    out_cols = [c for c in model.columns]
    return (
        matched.filter(F.col("_side") == 1)
        .withColumn("value_adj", F.col("_mapped"))
        .select(*out_cols, "value_adj")
    )


def parametric_normal_map(
    fact: DataFrame,
    params: DataFrame,
    key_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Parametric quantile mapping, NORMAL leg — the Georgia seasonal
    temperature correction (georgia_cds_bias_correction_process.py:
    375-385, 415-419): per stored-parameter key the reference computes
    ``rvo.ppf(norm.cdf(norm.ppf(rv.cdf(x))))`` with rv = N(fc_mean,
    fc_std) and rvo = N(obs_mean, obs_std). The middle ppf/cdf pair is
    the identity (scipy round-trips it to machine precision), so the
    whole map collapses to the closed-form affine

        bc = obs_mean + obs_std * (x - fc_mean) / fc_std

    which is the expression evaluated here — fully SQL-expressible, so
    the hash oracle covers this leg exactly.

    ``params`` is the stored artifact (the reference's
    bias_correction_{forecast,observed}_normal.csv) with columns
    key_cols + fc_mean / fc_std / obs_mean / obs_std. It is a tiny dim
    (one row per init-month x lead x cell x variable): BROADCAST join,
    zero fact-side shuffle, whole-stage-codegen projection. Inner join =
    the reference's ``.iloc[0]`` lookup — rows without stored params are
    outside the corrected six-month lead window and drop.
    """
    joined = fact.join(F.broadcast(params), key_cols, "inner")
    bc = F.col("obs_mean") + F.col("obs_std") * (
        (F.col(value_col) - F.col("fc_mean")) / F.col("fc_std")
    )
    return joined.withColumn("value_bc", bc).drop(
        "fc_mean", "fc_std", "obs_mean", "obs_std"
    )


def parametric_gamma_map(
    fact: DataFrame,
    params: DataFrame,
    key_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Parametric quantile mapping, GAMMA leg — the Georgia seasonal
    precipitation correction (georgia_cds_bias_correction_process.py:
    363-374, 415-419): with rv = gamma(fc_alpha, loc=0, scale=fc_scale)
    and rvo = gamma(obs_alpha, loc=0, scale=obs_scale),

        bc = rvo.ppf(rv.cdf(x))
           = obs_scale * P^-1(obs_alpha, P(fc_alpha, x / fc_scale))

    (the norm.ppf/norm.cdf middle step is again the identity). The
    incomplete-gamma CDF and its Newton-inverted PPF come from
    functions/numerics.py — scipy-free, the same kernel family the SPI
    chain uses — so this leg is a pandas-UDF path and its catalog entry
    is rows-only (property-tested instead of hash-oracled, the A7
    pattern).

    Reference edge semantics preserved: x <= 0 -> CDF 0 -> bc 0 (the
    implicit negative clamp), CDF rounding to exactly 1.0 -> ppf +inf ->
    NaN (the xr.where(isinf, nan) post_process at line 374).

    Scale shape: broadcast-join the stored params onto the fact rows,
    then ONE ``mapInPandas`` pass — no shuffle at all. Each Arrow batch
    is one kernel call with per-row parameters (the kernels take the
    shape elementwise).
    """
    import numpy as np

    from pygeoapi_ingestor_spark.session import spread_if_narrow

    # spread the Python stage: a local single-file input arrives as 1-2
    # partitions and would serialize the whole vectorized kernel on one
    # worker; an already-wide production input keeps its partitioning
    joined = spread_if_narrow(fact.join(F.broadcast(params), key_cols, "inner"))
    pcols = ("fc_alpha", "fc_scale", "obs_alpha", "obs_scale")
    kept = [f for f in joined.schema.fields if f.name not in pcols]
    keep = [f.name for f in kept]
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in kept)

    def correct(batches):
        from pygeoapi_ingestor_spark.functions.numerics import (
            gammainc_lower,
            gammainc_ppf,
        )

        for pdf in batches:
            if len(pdf) == 0:
                continue
            fa, fs, oa, osc = (pdf[c].to_numpy(np.float64) for c in pcols)
            x = pdf[value_col].to_numpy(dtype=np.float64)
            bc = osc * gammainc_ppf(oa, gammainc_lower(fa, np.clip(x, 0.0, None) / fs))
            bc[np.isinf(bc)] = np.nan  # reference post_process: inf -> nan
            out = pdf[keep].copy()
            out["value_bc"] = bc
            yield out

    return joined.mapInPandas(correct, schema=f"{schema}, value_bc double")
