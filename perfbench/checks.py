"""Correctness checks for the service benchmark.

Every check runs outside the timed regions and returns a list of error
strings (empty when the output is right), so a wrong answer is counted
as a failed operation rather than aborting the run. The functions take
plain Python values (response dicts, row tuples, extents dicts), so the
perturbation tests in ``test_perfbench.py`` exercise them without Spark.
"""

from __future__ import annotations

import datetime
import decimal
import math
from collections import Counter

SIG_DIGITS = 9


def norm_cell(v):
    """One canonical, hashable form per value on both sides of a check:
    the API's ``_json_safe`` turns datetimes into ISO strings and
    Decimals into floats, while DuckDB returns the native types. Floats
    keep ``SIG_DIGITS`` significant digits so that summation order (the
    two engines add in different orders) cannot flip a comparison."""
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0
        if math.isinf(v):
            return v
        return float(f"{v:.{SIG_DIGITS}g}")
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, str) and len(v) >= 19 and v[4] == "-" and v[10] == "T":
        # an ISO datetime from _json_safe: normalize the same way
        try:
            return datetime.datetime.fromisoformat(v).replace(tzinfo=None).isoformat()
        except ValueError:
            return v
    return v


def row_key(row: dict, columns: list[str]) -> tuple:
    return tuple(norm_cell(row.get(c)) for c in sorted(columns))


def reference_digest(columns: list[str], rows: list[tuple]) -> dict:
    """The per-key reference an API response is checked against: column
    names, row count and the multiset of normalized rows."""
    dict_rows = [dict(zip(columns, r)) for r in rows]
    return {
        "columns": sorted(columns),
        "n_rows": len(rows),
        "rows": Counter(row_key(r, columns) for r in dict_rows),
    }


def check_api_response(resp: dict, ref: dict, limit: int) -> list[str]:
    """A query-process response must be successful, hold exactly
    ``min(limit, n_rows)`` sampled rows with the reference's columns,
    and every sampled row must be a distinct member of the reference
    multiset (the sample is an arbitrary ``limit`` subset)."""
    if resp.get("status") != "successful":
        return [f"status {resp.get('status')!r}: {resp.get('message', '')[:200]}"]
    rows = resp.get("value", {}).get("rows", [])
    errors = []
    want_n = min(limit, ref["n_rows"])
    if len(rows) != want_n or resp["value"].get("n_rows_sampled") != want_n:
        errors.append(f"sampled {len(rows)} rows, expected {want_n}")
    remaining = Counter(ref["rows"])
    for r in rows:
        if sorted(r) != ref["columns"]:
            errors.append(f"columns {sorted(r)} != {ref['columns']}")
            break
        k = row_key(r, ref["columns"])
        if remaining[k] <= 0:
            errors.append(f"row not in reference: {k}")
            break
        remaining[k] -= 1
    return errors


def check_extents(extents: dict | None, expected: dict) -> list[str]:
    """Registered extents must equal the aggregate of the written
    collection, computed independently of the program."""
    if not extents:
        return ["no extents registered"]
    errors = []
    for k, want in expected.items():
        got = extents.get(k)
        if norm_cell(got) != norm_cell(want):
            errors.append(f"extent {k}: registered {got!r}, collection has {want!r}")
    return errors


def _satisfies(row: dict, flt: dict) -> bool:
    lo, hi = flt.get("datetime_range") or (None, None)
    t_col = flt.get("time_col")
    if lo is not None or hi is not None:
        t = norm_cell(row.get(t_col))
        if t is None or (lo is not None and t < lo) or (hi is not None and t >= hi):
            return False
    bbox = flt.get("bbox")
    if bbox is not None:
        lon, lat = row.get(flt["lon_col"]), row.get(flt["lat_col"])
        if lon is None or lat is None:
            return False
        w, s, e, n = bbox
        if not (w <= lon <= e and s <= lat <= n):
            return False
    for k, v in (flt.get("properties") or {}).items():
        if row.get(k) != v:
            return False
    return True


def check_items_walk(pages: list[dict], flt: dict, expected_keys: list,
                     sort_col: str | None, limit: int) -> list[str]:
    """A walk of items pages: every row satisfies the page's filters,
    each page holds at most ``limit`` rows, keyset pages are ordered and
    never overlap, and the rows returned are exactly the rows an
    independent engine selects for the same filters (``expected_keys``:
    the sort-column values in order, or a multiset of row keys when the
    walk is unordered)."""
    errors = []
    seen = []
    for i, page in enumerate(pages):
        feats = page.get("features", [])
        if len(feats) > limit or page.get("numberReturned") != len(feats):
            errors.append(f"page {i}: {len(feats)} rows, limit {limit}")
        for r in feats:
            if not _satisfies(r, flt):
                errors.append(f"page {i}: row violates filter: {r}")
                break
        if sort_col is not None:
            keys = [norm_cell(r.get(sort_col)) for r in feats]
            if keys != sorted(keys) or len(set(keys)) != len(keys):
                errors.append(f"page {i}: not strictly ordered by {sort_col}")
            if seen and keys and keys[0] <= seen[-1]:
                errors.append(f"page {i}: overlaps the previous page")
            seen += keys
        else:
            seen += [tuple(sorted((k, norm_cell(v)) for k, v in r.items())) for r in feats]
    if sort_col is not None:
        if seen != [norm_cell(k) for k in expected_keys]:
            errors.append(f"walk returned {len(seen)} keys, expected {len(expected_keys)}")
    elif Counter(seen) != Counter(expected_keys):
        errors.append(f"walk returned {len(seen)} rows, expected {len(expected_keys)}")
    return errors


def check_stream(got: list[tuple], expected: list[tuple]) -> list[str]:
    """The streamed collection must equal the batch aggregate over the
    same input, restricted to the windows the final watermark closed."""
    g = Counter(tuple(norm_cell(v) for v in r) for r in got)
    e = Counter(tuple(norm_cell(v) for v in r) for r in expected)
    if g == e:
        return []
    missing, extra = e - g, g - e
    return [
        f"stream collection differs: {sum(missing.values())} missing, "
        f"{sum(extra.values())} unexpected (e.g. {next(iter(missing or extra))})"
    ]
