"""Piecewise-linear curve interpolation (stage → discharge rating curves).

Reference: rer_river_discharge_arpae_process.py:325-457
(``portata_lineare``) — for a measured water level ``h``, find the
bracketing curve points (h1,q1),(h2,q2) and linearly interpolate the
discharge; outside the curve range the reference yields no value.

Spark-first: a rating table is a handful of literal points, so the
piecewise-linear map compiles into one chained CASE expression — a pure
projection evaluated in the scan stage, with no join and no shuffle.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def interpolate_points_expr(
    points: list[tuple[float, float]], value_col: str,
    clamp_edges: bool = False,
) -> "F.Column":
    """Fast path for a single literal curve: compile the piecewise-linear
    map into one chained CASE expression — pure projection, no join, no
    shuffle; whole-stage codegen evaluates it in the scan stage. This is
    the 100 TB path for fixed rating tables (reference:
    rer_river_discharge_arpae_process.py:325-457).

    ``clamp_edges=True`` applies the reference's portata_lineare edge
    semantics (input below the curve → first Q, above → last Q);
    the default keeps NULL outside the curve's domain.
    """
    if len(points) < 2:
        raise ValueError("a piecewise-linear curve needs at least 2 points")
    pts = sorted(points)
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    expr = None
    if clamp_edges:
        expr = F.when(v <= F.lit(pts[0][0]), F.lit(pts[0][1])).when(
            v >= F.lit(pts[-1][0]), F.lit(pts[-1][1])
        )
    for (x_lo, y_lo), (x_hi, y_hi) in zip(pts, pts[1:]):
        interp = F.lit(y_lo) + (F.lit(y_hi) - F.lit(y_lo)) * (v - F.lit(x_lo)) / (
            F.lit(x_hi) - F.lit(x_lo)
        )
        cond = (v >= F.lit(x_lo)) & (v < F.lit(x_hi))
        expr = F.when(cond, interp) if expr is None else expr.when(cond, interp)
    if not clamp_edges:
        # close the final segment at the curve max
        x_max = pts[-1][0]
        expr = expr.when(v == F.lit(x_max), F.lit(pts[-1][1]))
    return expr.otherwise(F.lit(None).cast("double"))
