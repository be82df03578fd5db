"""One span search per spline row.

``correction.apply_spline_table`` computes the de Boor span index ``j``
once per row, as a column the de Boor expression references, where
``spline_transfer_sql`` inlines it into each of the 50 knot and
coefficient accesses of a cubic. The DuckDB oracle keeps the inlined
text.

- Over 5,000+ inputs (both tails, every knot and its float neighbours,
  NULL, NaN, infinities, a fact row with no stored series) the column
  form gives the inlined Spark expression's value to the bit.
- The optimized plan of ``bias_correction_spline`` holds one
  ``ArrayFilter``; the inlined expression held 50.
- The inlined Spark text and the oracle text are the ones the inlined
  evaluator always emitted (pinned by digest).
"""

from __future__ import annotations

import hashlib
import math
import random
import re

from pyspark.sql import functions as F

from pygeoapi_ingestor_spark.operators import correction
from pygeoapi_ingestor_spark.plans import QUERIES
from pygeoapi_ingestor_spark.plans.queries_etl import SPLINE_PARAMS, _spline_oracle_sql
from pygeoapi_ingestor_spark.sources.readers import local_table

# sha256 of the inlined evaluator's texts: the Spark expression
# ``spline_transfer_sql("value", "t", "c", 3, "dmin", "dmax")`` and
# ``_spline_oracle_sql()``
INLINED_SPARK_SHA = "d47f916148fc0e33e4371f8164c05269ba9523dcdeddd9f07b23a72997afb82a"
ORACLE_SHA = "0562bf0c9221480eba277fa3b16553c8ce1bef094c521dd621e3c4df674c038c"

PARAMS_DDL = "lead_hour int, t array<double>, c array<double>, dmin double, dmax double"


def _inputs() -> list[tuple]:
    """(fid, lead_hour, value) rows: per series every knot and its two
    float neighbours, both tails, infinities, NULL, NaN and uniform
    values over 0..500; plus a series with no stored params."""
    rng = random.Random(15)
    rows = []
    for h, t, _, _, _ in SPLINE_PARAMS + [(99, [50.0, 450.0], None, None, None)]:
        xs = [None, math.nan, math.inf, -math.inf, 0.0, -0.0, -1e300, 1e300]
        for knot in sorted(set(t)):
            xs += [math.nextafter(knot, -math.inf), knot, math.nextafter(knot, math.inf)]
        xs += [rng.uniform(0.0, 500.0) for _ in range(190)]
        rows += [(len(rows) + i, h, x) for i, x in enumerate(xs)]
    return rows


def _bits(v) -> str | None:
    if v is None:
        return None
    return "nan" if math.isnan(v) else float.hex(v)


def test_span_column_matches_inlined_expression_bitwise(spark):
    inlined = correction.spline_transfer_sql("value", "t", "c", 3, "dmin", "dmax")
    assert hashlib.sha256(inlined.encode()).hexdigest() == INLINED_SPARK_SHA
    assert inlined.count("filter(") == 50

    rows = _inputs()
    assert len(rows) >= 5000
    fact = local_table(spark, rows, "fid long, lead_hour int, value double")
    params = local_table(spark, SPLINE_PARAMS, PARAMS_DDL)
    new = correction.apply_spline_table(fact, params, ["lead_hour"], "value")
    old = fact.join(F.broadcast(params), ["lead_hour"], "left").select(
        "fid", F.expr(inlined).alias("value_adj")
    )
    got = {r["fid"]: _bits(r["value_adj"]) for r in new.select("fid", "value_adj").collect()}
    want = {r["fid"]: _bits(r["value_adj"]) for r in old.collect()}
    assert got == want
    assert set(new.columns) == {"fid", "lead_hour", "value", "value_adj"}
    # every class of input is there: NULL out (NULL in, no series),
    # NaN out, both tails and the interior
    lead = {fid: h for fid, h, _ in rows}
    assert all(v is None for fid, v in got.items() if lead[fid] == 99)
    assert "nan" in got.values()
    assert sum(v is not None and v != "nan" for v in got.values()) > 4000


def _array_filters(df) -> int:
    """``ArrayFilter`` expressions in the optimized plan: each prints as
    ``filter(array, lambdafunction(...))``."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return len(re.findall(r"(?<!\w)filter\(\w+#\d+, lambdafunction\(", plan))


def test_spline_plan_searches_the_span_once(spark, sf_dir):
    df = QUERIES["bias_correction_spline"](spark, sf_dir)
    assert _array_filters(df) == 1
    # the inlined form on the same join holds one search per access
    ev = local_table(spark, [(1, 100.0)], "lead_hour int, value double")
    params = local_table(spark, SPLINE_PARAMS, PARAMS_DDL)
    inlined = correction.spline_transfer_sql("value", "t", "c", 3, "dmin", "dmax")
    old = ev.join(F.broadcast(params), ["lead_hour"], "left").select(
        F.expr(inlined).alias("value_adj")
    )
    assert _array_filters(old) == 50


def test_spline_oracle_text_is_unchanged():
    sql = _spline_oracle_sql()
    assert hashlib.sha256(sql.encode()).hexdigest() == ORACLE_SHA
    assert sql.count("list_filter(") == 50
