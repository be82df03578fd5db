"""Skew-mitigation utilities.

AQE's skew-join splitting handles most runtime skew; these helpers cover
the cases it can't: aggregations over a hot key, and broadcast-infeasible
joins where one side has pathological key concentration.

- ``salted_agg``: two-phase aggregation — partial aggregate over
  (key, salt), then final aggregate over key. Turns one hot-key reducer
  into ``n_salts`` parallel reducers. Works for any algebraic aggregate
  (sum/count/min/max; avg via sum+count).
- ``salt_join``: replicate the small side ``n_salts`` times, salt the
  big side uniformly — an explicit fallback when the dimension is too
  big to broadcast but the fact side's keys are concentrated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_ALGEBRAIC = {"sum", "count", "min", "max"}


def with_salt(df: DataFrame, n_salts: int) -> DataFrame:
    """Uniform salt from the row hash MIXED with a per-row ordinal
    (monotonically_increasing_id = partition id + in-partition offset).
    The ordinal matters: skew often comes from fully-duplicated rows,
    and a pure content hash would send every duplicate to ONE salt —
    defeating the fan-out exactly when it's needed. No rand(), so the
    salt is stable for a fixed partition layout (task retries replay
    the same ids)."""
    return df.withColumn(
        "_salt",
        F.pmod(
            F.xxhash64(*df.columns, F.monotonically_increasing_id()),
            F.lit(n_salts),
        ).cast("int"),
    )


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    aggs: dict[str, tuple[str, str]],
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    aggs: {out_name: (fn, col)} with fn in {sum, count, min, max};
    ``count`` is SQL ``count(col)`` (non-null rows of that column).
    Phase 1 shuffles on (key, salt) — hot keys fan out over 16
    reducers; phase 2 merges the tiny per-salt partials on key.
    """
    for out, (fn, _c) in aggs.items():
        if fn not in _ALGEBRAIC:
            raise ValueError(f"{out}: {fn} is not algebraic; use sum+count instead")
    salted = with_salt(df, 16)
    phase1 = salted.groupBy(*key_cols, "_salt").agg(
        *[
            (F.count(c) if fn == "count" else getattr(F, fn)(c)).alias(out)
            for out, (fn, c) in aggs.items()
        ]
    )
    merge = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    return phase1.groupBy(*key_cols).agg(
        *[merge[fn](out).alias(out) for out, (fn, _c) in aggs.items()]
    )


def salt_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
) -> DataFrame:
    """Skew-safe inner equi-join: salt the big side, replicate the
    small side across all 8 salt values, join on (keys + salt). The
    small side grows 8x — use only when it can't be broadcast outright
    but fits replicated. (An outer join on the small side would emit its
    unmatched rows once PER SALT.)"""
    big_s = with_salt(big, 8)
    small_s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(7)))
    ).withColumn("_salt", F.col("_salt").cast("int"))
    out = big_s.join(small_s, [*on, "_salt"])
    return out.drop("_salt")
