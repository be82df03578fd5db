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


def _dbl(x: float) -> str:
    """A SQL double literal that parses to exactly the double ``x``: a
    bare ``0.5`` parses as DECIMAL, and a decimal's cast may round
    twice, while a string's cast parses its shortest repr exactly."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def interpolate_points_expr(
    points: list[tuple[float, float]], value_col: str,
    clamp_edges: bool = False,
) -> "F.Column":
    """Fast path for a single literal curve: compile the piecewise-linear
    map into one chained CASE expression — pure projection, no join, no
    shuffle; whole-stage codegen evaluates it in the scan stage. This is
    the 100 TB path for fixed rating tables (reference:
    rer_river_discharge_arpae_process.py:325-457).

    The CASE is rendered as one SQL string and parsed by one ``F.expr``
    call: built as a Column tree, a 56-point curve costs thousands of
    py4j calls per plan build.

    ``clamp_edges=True`` applies the reference's portata_lineare edge
    semantics (input below the curve → first Q, above → last Q);
    the default keeps NULL outside the curve's domain.
    """
    if len(points) < 2:
        raise ValueError("a piecewise-linear curve needs at least 2 points")
    pts = [(_dbl(x), _dbl(y)) for x, y in sorted(points)]
    v = "`" + value_col.replace("`", "``") + "`"
    whens = []
    if clamp_edges:
        whens += [
            f"WHEN {v} <= {pts[0][0]} THEN {pts[0][1]}",
            f"WHEN {v} >= {pts[-1][0]} THEN {pts[-1][1]}",
        ]
    whens += [
        f"WHEN {v} >= {x_lo} AND {v} < {x_hi} "
        f"THEN {y_lo} + ({y_hi} - {y_lo}) * ({v} - {x_lo}) / ({x_hi} - {x_lo})"
        for (x_lo, y_lo), (x_hi, y_hi) in zip(pts, pts[1:])
    ]
    if not clamp_edges:
        # close the final segment at the curve max
        whens.append(f"WHEN {v} = {pts[-1][0]} THEN {pts[-1][1]}")
    return F.expr(f"CASE {' '.join(whens)} ELSE CAST(NULL AS DOUBLE) END")
