"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — broadcast the (small) query set and
stream once over the embeddings table; the dot product stays JVM-side via
``aggregate``/``zip_with`` higher-order functions.

Scale path: random-hyperplane LSH — bucket vectors by sign-bit signature
so candidate generation shuffles on the bucket key instead of comparing
all pairs. Signatures use a deterministic pseudo-random hyperplane
derived from xxhash64(dim, seed) so results are reproducible without
shipping a weights matrix.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from pygeoapi_ingestor_spark.sources.readers import local_table


def _safe_denom(x: Column) -> Column:
    """Cosine denominator guard: a zero-norm vector (an empty document's
    embedding) would make the division raise DIVIDE_BY_ZERO under Spark
    4's default ANSI mode — one bad row aborting the whole query.
    nullif turns the denominator into NULL instead, so the cosine is
    NULL and the row simply drops out of rank filters. (Never fires on
    well-formed embeddings, so oracle value-hash parity is unaffected.)
    """
    return F.nullif(x, F.lit(0.0))


# Driver-side query collect bound for the Arrow kernels (ADVICE r13):
# the query side is "small by contract", but an unbounded .collect() at
# DataFrame-BUILD time is a silent driver OOM if a caller passes a big
# frame. 2^20 rows x 64 doubles ~ 0.5 GiB framed — beyond that the
# caller should bucket/join, not broadcast.
_MAX_QUERY_ROWS = 1 << 20


def collect_query_rows(queries: DataFrame, *cols: str) -> list:
    """Bounded driver collect of an Arrow kernel's query side. Raises
    (instead of OOMing the driver) when the frame exceeds
    ``_MAX_QUERY_ROWS`` — the documented smallness contract."""
    rows = queries.select(*cols).limit(_MAX_QUERY_ROWS + 1).collect()
    if len(rows) > _MAX_QUERY_ROWS:
        raise ValueError(
            f"query side exceeds the broadcast contract "
            f"({_MAX_QUERY_ROWS} rows): bucket or join instead of "
            "collecting to the driver"
        )
    return rows


def stack_vectors(vecs, dim, dtype=None):
    """The one masking/stacking path of every Arrow vector kernel:
    ``(ok, matrix)`` for an array column (a pandas Series or a list of
    collected values). ``ok`` is False for NULL, empty and
    wrong-length rows; ``matrix`` is the (ok.sum(), dim) stack of the ok
    rows in ``dtype`` (float64 by default — float32 widens exactly).

    A malformed vector is a NULL vector, as in the HOF fold each kernel
    twins: ``zip_with`` pads a short array with NULLs, so every score it
    touches is NULL and the row drops at the gate. A bare ``np.stack``
    would instead raise in the executor and kill the job. Every edge
    input is pinned against the kernels' twins and oracles in
    tests/test_vector_kernel_matrix.py."""
    import numpy as np

    dtype = np.float64 if dtype is None else dtype
    ok = np.fromiter(
        (v is not None and len(v) == dim > 0 for v in vecs),
        dtype=bool,
        count=len(vecs),
    )
    rows = [np.asarray(v, dtype=dtype) for v, o in zip(vecs, ok) if o]
    vm = np.stack(rows) if rows else np.zeros((0, max(dim, 0)), dtype=dtype)
    return ok, vm


def fill_ok(ok, vals):
    """Output column for a per-row kernel: ``vals`` (one per ok row) at
    the ``ok`` rows of ``stack_vectors`` and NULL at the malformed
    ones, as the JVM expression answers a NULL vector."""
    import pandas as pd

    if ok.all():
        return vals
    col = pd.array([None] * len(ok), dtype="Int64")
    col[ok] = vals
    return col


def as_vector(vec_col: str, dim: int) -> Column:
    """``vec_col`` as ``_v``, NULL unless exactly ``dim`` long — the JVM
    form of ``stack_vectors``' mask, for expression paths that index
    the vector (``_q[d]`` raises on a short array under ANSI)."""
    v = F.col(vec_col)
    return F.when(F.size(v) == dim, v).alias("_v")


_PANDAS_DTYPES = {
    "bigint": "int64", "int": "int32", "double": "float64",
    "boolean": "bool",
}


def empty_batch(schema: str):
    """Zero-row pandas frame typed by a kernel's DDL output ``schema``
    (the string it passes to mapInPandas / applyInPandas), so an
    empty-batch answer can never drift from the declared columns."""
    import pandas as pd

    fields, depth, cur = [], 0, ""
    for ch in schema + ",":
        depth += (ch in "<(") - (ch in ">)")
        if ch == "," and not depth:
            name, typ = cur.strip().split(None, 1)
            fields.append((name.strip("`"), typ.strip().lower()))
            cur = ""
        else:
            cur += ch
    return pd.DataFrame(
        {n: pd.Series([], dtype=_PANDAS_DTYPES.get(t, object)) for n, t in fields}
    )


def cosine_scores(dots, denom):
    """(cos, keep): cosine per row and the rows that have one. A
    zero-norm side has no cosine — the fold's ``_safe_denom`` makes it
    NULL and it drops from rankings — while a NaN element keeps a NaN
    cosine, which Spark (and DuckDB) order above every number."""
    import numpy as np

    keep = denom != 0.0
    with np.errstate(divide="ignore", invalid="ignore"):
        return dots / np.where(keep, denom, 1.0), keep


def topk_order(ids, score, k, desc=True):
    """Positions of the ``k`` best rows by (score, id asc) — the
    batch-local half of the per-query top-k: selection is a monoid, so
    a window over per-batch winners equals the full ranking. NaN
    scores order above every number (Spark's ordering), so they lead a
    descending ranking and trail an ascending one."""
    import numpy as np

    key = -score if desc else score
    key = np.where(np.isnan(score), -np.inf if desc else np.inf, key)
    return np.lexsort((ids, key))[:k]


def rank_topk(pairs: DataFrame, score: str, k: int, desc: bool = True,
              part: str = "query_id", nid: str = "neighbor_id") -> DataFrame:
    """Global top-k over a kernel's per-batch winners:
    row_number over (score, id asc) per ``part``. The Arrow boundary
    serializes NaN as NULL and the kernels emit no NULL scores, so a
    NULL here is a NaN score and is restored before ranking."""
    sc = F.coalesce(F.col(score), F.lit(float("nan")))
    w = Window.partitionBy(part).orderBy(
        sc.desc() if desc else sc.asc(), F.col(nid).asc()
    )
    return (
        pairs.withColumn(score, sc)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def sign_bits(proj):
    """int64 sign bit ``proj > 0`` as Spark and DuckDB evaluate it: NaN
    orders above every number, so a NaN projection sets the bit."""
    import numpy as np

    return ((proj > 0) | np.isnan(proj)).astype(np.int64)


def seq_dot_row(vm, q):
    """(n, dim) · (dim,) -> (n,) dots with STRICTLY sequential
    per-dimension accumulation: acc_d = acc_{d-1} + a_d*b_d, the same
    left-associated double rounding as a scalar chain, a HOF fold, and
    a SQL engine's list_dot_product. A BLAS matmul would be faster but
    accumulates pairwise, diverging at the last ulp — enough to flip a
    rank boundary against the oracle. The d-loop keeps every operation
    a flat vectorized (n,) op: no (n, dim) product tensor, no cumsum
    copy (a cumsum over the product tensor measured 1.4x SLOWER than
    the old codegen chain at sf1; this loop is ~5x faster)."""
    acc = vm[:, 0] * q[0]
    for d in range(1, vm.shape[1]):
        acc = acc + vm[:, d] * q[d]
    return acc


def seq_dot_pair(am, vm):
    """(B, dim) x (M, dim) -> (B, M) pairwise dots, sequential over the
    dimension axis (see seq_dot_row for why not matmul). Each step is a
    rank-1 outer-product update — cache-friendly as long as B*M floats
    fit in cache, which the callers' probe blocking guarantees."""
    acc = am[:, 0, None] * vm[None, :, 0]
    for d in range(1, am.shape[1]):
        acc += am[:, d, None] * vm[None, :, d]
    return acc


def seq_norm(vm):
    """(n, dim) -> (n,) L2 norms with sequential accumulation (matches
    sqrt(list_dot_product(v, v)) rounding exactly)."""
    import numpy as np

    acc = vm[:, 0] * vm[:, 0]
    for d in range(1, vm.shape[1]):
        acc = acc + vm[:, d] * vm[:, d]
    return np.sqrt(acc)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def collect_query_vectors(queries: DataFrame, id_col: str, vec_col: str, dim: int):
    """Driver side of the broadcast kernels: bounded collect of
    (id, vector) rows, stacked through ``stack_vectors``. Returns
    ``(ids, matrix)`` for the well-formed rows only — a malformed query
    vector scores NULL against everything under the fold and matches
    nothing."""
    rows = collect_query_rows(queries, id_col, vec_col)
    ok, qm = stack_vectors([r[1] for r in rows], dim)
    return [r[0] for r, o in zip(rows, ok) if o], qm


def cosine_topk_scan(src: DataFrame, dim: int, k: int, qids, qm, qid_type: str,
                     candidates=None, distance=False) -> DataFrame:
    """The cosine top-k family's one Arrow stage (exact, IVF, LSH and
    trained-IVF search): the query matrix (small by contract) broadcasts
    into ONE mapInPandas pass over ``src`` (columns ``neighbor_id``,
    ``_vec`` plus whatever ``candidates`` reads) that scores each batch
    and emits only its batch-local top-k per query; ``rank_topk`` merges
    the winners. The shuffle carries K·k rows per batch instead of
    K·n_batch_rows — the per-batch top-k + merge shape of REPOSE and
    incremental top-k.

    ``candidates(pdf, vm)`` (optional) returns ``j -> bool mask``
    restricting query j to a subset of the batch (probed inverted
    lists, a matching LSH bucket).
    ``distance=True`` ranks the k smallest cosine distances (``dist`` =
    1 - cosine) instead of the k largest cosines.

    Bit-parity with the SQL twin (CAST(... AS DOUBLE[]) +
    list_dot_product): float32 components widen exactly to float64 and
    dots/norms accumulate SEQUENTIALLY (seq_dot_row/seq_norm), so
    rankings cannot diverge at the last ulp. Self-matches (equal ids)
    are excluded; edge rows follow ``stack_vectors`` / ``cosine_scores``."""
    from pygeoapi_ingestor_spark.session import ensure_package_on_executors

    spark = src.sparkSession
    ensure_package_on_executors(spark)
    qn = seq_norm(qm) if len(qids) else None
    bc = spark.sparkContext.broadcast((qids, qm, qn))
    id_t = dict(src.dtypes)["neighbor_id"]
    col = "dist" if distance else "cosine"
    schema = f"query_id {qid_type}, neighbor_id {id_t}, {col} double"

    def score(batches):
        import numpy as np
        import pandas as pd

        qids_, qm_, qn_ = bc.value
        for pdf in batches:
            ok, vm = stack_vectors(pdf["_vec"], dim)
            if not len(qids_) or not len(vm):
                yield empty_batch(schema)
                continue
            pdf = pdf[ok]
            ids = pdf["neighbor_id"].to_numpy()
            nrm = seq_norm(vm)
            cand = candidates(pdf, vm) if candidates else None
            out_q, out_n, out_c = [], [], []
            for j, qid in enumerate(qids_):
                if cand is None:
                    cidx = np.nonzero(ids != qid)[0]
                    dots = seq_dot_row(vm, qm_[j])[cidx]
                else:
                    cidx = np.nonzero(cand(j) & (ids != qid))[0]
                    dots = seq_dot_row(vm[cidx], qm_[j])
                cos, keep = cosine_scores(dots, nrm[cidx] * qn_[j])
                cidx, sc = cidx[keep], cos[keep]
                if distance:
                    sc = 1.0 - sc
                pos = topk_order(ids[cidx], sc, k, desc=not distance)
                out_q.extend([qid] * len(pos))
                out_n.extend(ids[cidx][pos])
                out_c.extend(sc[pos])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, col: out_c}
            )

    pairs = src.mapInPandas(score, schema=schema)
    return rank_topk(pairs, col, k, desc=not distance).select(
        "query_id", "neighbor_id", col, "rank"
    )


def knn_mean(knn: DataFrame, part: str = "ia") -> DataFrame:
    """(part, knn_dist, _n_cand) from ranked kNN rows (``dist``,
    ``rank``): the mean distance summed in ascending rank order, so an
    external oracle reproduces the float mean to the last ulp."""
    return knn.groupBy(part).agg(
        (
            F.aggregate(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("rank", "dist"))),
                    lambda s: s.getField("dist"),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.count(F.lit(1))
        ).alias("knn_dist"),
        F.count(F.lit(1)).alias("_n_cand"),
    )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Broadcast cross join (query set is small by contract) + per-query
    window top-k. Excludes self-matches on equal ids.

    With ``dim`` given, scoring runs through the Arrow-batched numpy
    path (``cosine_topk_scan``): per-batch top-k pruning shrinks the
    rank shuffle from K·n to K·k·n_batches, and sequential double
    accumulation (seq_dot_row/seq_norm) is bit-identical to a SQL oracle's
    CAST(... AS DOUBLE[]) + list_dot_product — faster AND closer
    parity than the interpreted float HOF fold. Requires orderable
    numeric ids; prefer it wherever the oracle computes in double.
    """
    if dim is not None:
        qids, qm = collect_query_vectors(queries, query_id_col, query_vec_col, dim)
        src = embeddings.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_vec")
        )
        return cosine_topk_scan(
            src, dim, k, qids, qm, dict(queries.dtypes)[query_id_col]
        )
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("_qvec"),
        )
    )
    joined = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_vec")
    ).crossJoin(q)
    joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    cos = _dot(F.col("_vec"), F.col("_qvec")) / _safe_denom(
        _norm(F.col("_vec")) * _norm(F.col("_qvec"))
    )
    scored = joined.withColumn("cosine", cos).filter(
        F.col("cosine").isNotNull()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("int"))
    )


def quantize_int8_np(vm):
    """Numpy twin of ``quantize_int8``'s per-row expression, bit-exact:
    scale = max(abs(v)) (or 1.0 when the max is 0), y = v*127.0/scale
    evaluated in float64 in the SAME operation order as the JVM
    expression, then HALF_UP rounding — Spark's ``round(_, 0)`` on a
    double rounds half AWAY from zero, while numpy rounds half-to-even,
    so the tie is replicated as floor(|y| + 0.5)*sign(y). The tie test
    is exact: |y| <= 127-ish keeps y's exponent small enough that
    |y| + 0.5 is computed without rounding error (both operands fit one
    53-bit significand), so no near-tie can be pushed across an integer
    boundary. Returns (q int64 (n, dim), scale float64 (n,)).

    A NaN element has no int8 code: the JVM expression (and a SQL
    twin's integer cast) fails with a cast overflow, so this raises
    too instead of emitting an undefined integer."""
    import numpy as np

    mx = np.abs(vm).max(axis=1)
    if np.isnan(mx).any():
        raise OverflowError("cannot quantize a NaN vector element to int8")
    scale = np.where(mx > 0.0, mx, 1.0)
    y = vm * 127.0 / scale[:, None]
    q = (np.floor(np.abs(y) + 0.5) * np.sign(y)).astype(np.int64)
    return q, scale


def quantize_int8(
    df: DataFrame, vec_col: str
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage-compression
    stage of an embedding corpus (4x smaller at-rest than float32, 8x
    than float64; dequantize as q * max_abs / 127). Adds
    ``{p}_scale`` (max_abs), ``{p}_vec`` (array<int> in [-127, 127]).
    Pure column expressions — quantization happens inside the scan
    projection, no UDF, no shuffle."""
    v = F.col(vec_col)
    mx = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(mx > 0, mx).otherwise(F.lit(1.0))
    q = F.transform(v, lambda x: F.round(x * F.lit(127.0) / scale, 0).cast("int"))
    return df.withColumn("q_scale", scale).withColumn(
        "q_vec", q
    )


def md5_plane_weights(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic +/-1 hyperplane weight matrix derived from md5 — an
    engine-NEUTRAL pseudo-random source (hashlib here, reproducible as a
    literal in any SQL dialect), unlike ``hyperplane_signature`` whose
    xxhash64 weights only exist Spark-side. Used where the bucketing
    itself must be mirrored by an external oracle."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()[:2], 16) & 1
            else -1.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def with_md5_sig_arrow(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_planes: int,
) -> DataFrame:
    """Append the md5-plane sign-bit signature as ONE Arrow-batched
    numpy pass — the vectorized twin of ``md5_signature`` (whose
    higher-order fold Spark interprets per element). Bit parity: the
    fold's products are float-widened-to-double times the ±1 double
    literal, accumulated left-to-right — exactly ``seq_dot_row`` over
    exactly-widened float64, so the sign bits (and therefore every
    bucket) are identical. Passes every input column through. A
    null / wrong-length vector gets signature 0 — the fold's behavior
    too (every per-bit ``when(NULL > 0)`` falls to ``otherwise(0)``); a
    NaN projection sets its bit (``sign_bits``)."""
    import numpy as np

    from pygeoapi_ingestor_spark.session import ensure_package_on_executors

    spark = df.sparkSession
    ensure_package_on_executors(spark)
    w_np = np.array(md5_plane_weights(dim, n_planes, 7), dtype=np.float64)
    bc = spark.sparkContext.broadcast(w_np)
    cols = list(df.columns)
    schema = ", ".join(
        [f"`{c}` {t}" for c, t in df.dtypes] + ["_sig bigint"]
    )

    def add_sig(batches):
        import numpy as np

        w_ = bc.value
        for pdf in batches:
            ok, vm = stack_vectors(pdf[vec_col], dim)
            sig = np.zeros(len(pdf), dtype=np.int64)
            for p in range(w_.shape[0]):
                sig[ok] |= sign_bits(seq_dot_row(vm, w_[p])) << p
            pdf = pdf.copy()
            pdf["_sig"] = sig
            yield pdf

    return df.mapInPandas(add_sig, schema=schema).select(*cols, "_sig")


def md5_signature(vec_col: Column, dim: int, n_planes: int, seed: int = 7) -> Column:
    """Sign-bit signature from the engine-neutral md5 plane matrix: bit
    p = 1 iff the strict left-fold projection onto plane p is > 0. Same
    construction as ``hyperplane_signature`` but with literal +/-1
    weights an external SQL oracle can embed verbatim (the fold order is
    left-to-right in both engines, so the sign bits are bit-identical)."""
    weights = md5_plane_weights(dim, n_planes, seed)
    sig = None
    for p in range(n_planes):
        w_arr = F.lit(list(weights[p]))  # single array literal: one AST node, not dim
        proj = F.aggregate(
            F.zip_with(vec_col, w_arr, lambda x, w: x * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit = F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return sig


def hyperplane_signature(vec_col: Column, dim: int, n_planes: int = 16) -> Column:
    """Sign-bit signature: bit p = 1 iff sum_d w[p,d]*v[d] > 0, with
    w[p,d] a deterministic +/-1 pseudo-random weight from xxhash64."""
    def _plane_term(p):
        # +/-1 pseudo-random weight per (plane, dim) from xxhash64
        return lambda v, d: v * F.when(
            F.xxhash64(d, F.lit(p), F.lit(7)).bitwiseAND(F.lit(1)) == 1, 1.0
        ).otherwise(-1.0)

    bits = []
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(vec_col, F.sequence(F.lit(0), F.lit(dim - 1)), _plane_term(p)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj > 0, F.shiftleft(F.lit(1), p)).otherwise(F.lit(0)))
    sig = bits[0]
    for b in bits[1:]:
        sig = sig.bitwiseOR(b)
    return sig


def _seq_sq_dists(vm, cm):
    """(n, dim) x (k, dim) -> (n, k) squared distances, each column
    accumulated SEQUENTIALLY over the dimension axis — the exact
    left-associated double rounding of a ``zip_with``/``aggregate``
    squared-difference fold (and of an oracle's list_distance
    ordering), so argmin/probe sets cannot flip at the last ulp against
    either. A NaN distance becomes +inf:
    Spark and DuckDB order NaN after every number, so it never wins an
    argmin or a probe slot over a real distance."""
    import numpy as np

    d = np.empty((vm.shape[0], cm.shape[0]))
    for j in range(cm.shape[0]):
        diff = vm - cm[j]
        acc = diff[:, 0] * diff[:, 0]
        for dd in range(1, diff.shape[1]):
            acc = acc + diff[:, dd] * diff[:, dd]
        d[:, j] = acc
    return np.where(np.isnan(d), np.inf, d)


def lowest_id_centroids(df: DataFrame, id_col: str, vec_col: str, n: int, dim=None):
    """The deterministic IVF/SemDeDup centroid build: the ``n``
    lowest-id vectors, collected (n x dim doubles). Returns ``(ids,
    matrix, dim)``; a malformed centroid is dropped (its distances are
    NULL and never win), ``dim`` defaults to the first well-formed
    length."""
    import numpy as np

    rows = (
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy("_id").limit(n).collect()
    )
    vecs = [r["_v"] for r in rows]
    if dim is None:
        dim = next((len(v) for v in vecs if v), 0)
    ok, cm = stack_vectors(vecs, dim)
    return np.asarray([r["_id"] for r in rows])[ok], cm, dim


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-style approximate top-k: partition vectors into inverted lists
    by nearest centroid, search only the ``n_probe`` lists closest to
    each query.

    Centroids are the 16 lowest-id vectors — a deterministic
    sampling build (no iterative training), collected once to the driver
    (16 x dim doubles). The query set is small by contract
    (broadcast material): its probe lists compute driver-side against
    the same centroid matrix. Search is then ONE Arrow-batched
    ``mapInPandas`` pass over the corpus — each batch assigns home
    clusters (vectorized seq sq-dist argmin, ties to the lowest cid via
    the cid-ordered stable argmin — the ``array_min(struct(d, cid))``
    semantics), scores rows whose home list is probed, and emits only
    the batch-local top-k per query. No join, no interpreted HOF fold,
    no giant codegen unit; the rank shuffle carries K·k rows per batch.
    At 100 TB the inverted lists are the at-rest partitioning of the
    vector table and the same kernel streams per list.

    Numeric parity: dots / norms / squared distances all accumulate
    SEQUENTIALLY in float64 (seq_* kernels) — bit-identical to the
    interpreted fold this replaces and to a SQL oracle's
    list_dot_product / list_distance orderings, so hashes are unchanged.
    """
    import numpy as np

    from pygeoapi_ingestor_spark.session import spread_if_narrow

    c_ids, c_mat, dim = lowest_id_centroids(embeddings, id_col, vec_col, 16)
    qids, qm = collect_query_vectors(queries, query_id_col, query_vec_col, dim)
    if not len(c_ids) or not qids:
        return _empty_topk(embeddings, queries, id_col, query_id_col)
    # per-query probe lists, driver-side: stable argsort over the
    # cid-ordered distance row = (dist asc, cid asc) struct ordering
    probe = np.argsort(_seq_sq_dists(qm, c_mat), axis=1, kind="stable")
    probe_lists = [c_ids[probe[i, :n_probe]] for i in range(len(qids))]

    def probed(pdf, vm):
        # home list: first-occurrence argmin over cid-ordered columns =
        # ties to the lowest cid, the array_min(struct(d, cid)) tie-break
        home = c_ids[np.argmin(_seq_sq_dists(vm, c_mat), axis=1)]
        return lambda j: np.isin(home, probe_lists[j])

    src = spread_if_narrow(embeddings).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_vec")
    )
    return cosine_topk_scan(
        src, dim, k, qids, qm, dict(queries.dtypes)[query_id_col],
        candidates=probed,
    )


def _empty_topk(embeddings, queries, id_col, query_id_col):
    spark = embeddings.sparkSession
    qid_t = dict(queries.dtypes)[query_id_col]
    id_t = dict(embeddings.dtypes)[id_col]
    return local_table(
        spark, [],
        f"query_id {qid_t}, neighbor_id {id_t}, cosine double, rank int",
    )


def ivf_knn_outliers(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int = 64,
    k: int = 5,
    n_clusters: int = 32,
    n_probe: int = 4,
    top_n: int = 20,
    query_pred=None,
) -> DataFrame:
    """kNN-distance outlier screen over IVF candidate lists — the
    scale-safe sibling of the exact all-pairs pass: each vector's mean
    cosine distance to its k nearest CANDIDATES, where candidates are
    the members of the ``n_probe`` inverted lists nearest the vector.

    Plan shape: centroid assignment is ONE Arrow-batched numpy pass
    against the broadcast ``n_clusters`` centroid matrix (lowest-id
    vectors, the ivf_topk build — deterministic, O(n_clusters·dim)
    driver state); home list and probe list come out of the same
    stable argsort, persisted narrow. The candidate pass keeps the
    cluster-keyed join STRUCTURE — the shuffle moves narrow
    (id, vec, norm) rows cogrouped by cluster id (AQE still splits a
    skewed hot list) — while a vectorized numpy kernel does the FLOPs
    per list and emits only each probe's k smallest candidates
    (selection is a monoid, so downstream ranking is exact on the
    pruned rows). Work is n²·(n_probe/n_clusters) — with n_clusters ~
    √n that is n^1.5, not the exact pass's n². Each (query, neighbor)
    pair occurs at most once because a neighbor has exactly one home
    list. Distances accumulate sequentially (seq_dot_* kernels) over
    exactly-widened float64 — bit-identical to the scalar chain this
    replaces and to the SQL oracle's list folds.

    Candidate-list kNN bias is one-sided — PROVIDED a vector has at
    least k candidates: the k nearest among a subset are >= the true k
    nearest, so a missed neighbor can only INFLATE the mean and genuine
    off-manifold outliers stay ranked high. A vector whose probed lists
    hold FEWER than k other members would get a deflated mean (its
    missing larger distances are the ones dropped), so such
    under-probed vectors are excluded from the ranking rather than
    scored misleadingly low. The recall eval row (plans
    knn_outliers_recall) measures top-N agreement against the exact
    pass and gates acceptance in tests.

    ``query_pred`` (a callable id-Column -> boolean Column) restricts
    the PROBE side — which vectors get scored — while candidate lists
    stay full, so a sampled acceptance run pays sample x n/√n instead
    of n^1.5. ``top_n`` then ranks within the scored subset.
    """
    from pygeoapi_ingestor_spark.session import (
        ensure_package_on_executors,
        spread_if_narrow,
    )

    spark = embeddings.sparkSession
    ensure_package_on_executors(spark)
    # centroid matrix broadcast to the Arrow stages; float32 widens
    # exactly to float64, same values the literal-array variant carried
    c_ids, c_mat, _ = lowest_id_centroids(embeddings, id_col, vec_col, n_clusters, dim)
    bc_cent = spark.sparkContext.broadcast((c_ids, c_mat))
    id_t = dict(embeddings.dtypes)[id_col]
    vec_t = dict(embeddings.dtypes)[vec_col]
    assign_schema = (
        f"_vid {id_t}, _vec {vec_t}, _nrm double, "
        f"_home {id_t}, _probes array<{id_t}>"
    )

    # Stage 1 — assignment, ONE Arrow pass (r8 lesson: at any SF both
    # the HOF argmin fold (interpreted per element) and its
    # scalar-expansion alternative (2.6 MiB task binaries, ~20s JIT)
    # lose to a vectorized numpy kernel; parity is preserved because
    # squared distances accumulate sequentially (seq kernels) — the same
    # left-associated double rounding as the fold — and ties keep the
    # ascending-cid order via a stable argsort over cid-ordered columns.
    # Malformed vectors drop here: the fold path's NULL distances made a
    # NULL home key that never matched the cluster join.
    def assign(batches):
        import numpy as np
        import pandas as pd

        cids_, cm_ = bc_cent.value
        for pdf in batches:
            ok, vm = stack_vectors(pdf["_vec"], dim)
            if not len(vm) or not len(cids_):
                yield empty_batch(assign_schema)
                continue
            pdf = pdf[ok]
            idx = np.argsort(_seq_sq_dists(vm, cm_), axis=1, kind="stable")
            idx = idx[:, :n_probe]
            yield pd.DataFrame(
                {
                    "_vid": pdf["_vid"].to_numpy(),
                    "_vec": pdf["_vec"],
                    "_nrm": seq_norm(vm),
                    "_home": cids_[idx[:, 0]],
                    "_probes": list(cids_[idx]),
                }
            )

    id_t = dict(embeddings.dtypes)[id_col]
    vec_t = dict(embeddings.dtypes)[vec_col]
    assigned = (
        spread_if_narrow(embeddings)
        .select(F.col(id_col).alias("_vid"), F.col(vec_col).alias("_vec"))
        .mapInPandas(assign, schema=assign_schema)
        .persist()
    )
    lists = assigned.select(
        F.col("_vid").alias("ib"), F.col("_vec").alias("_bv"),
        F.col("_nrm").alias("nb"), F.col("_home").alias("_cluster"),
    )
    probe_src = assigned if query_pred is None else assigned.filter(
        query_pred(F.col("_vid"))
    )
    probes = probe_src.select(
        F.col("_vid").alias("ia"), F.col("_vec").alias("_av"),
        F.col("_nrm").alias("na"),
        F.explode("_probes").alias("_cluster"),
    )

    # Stage 2 — per-list scoring as a COGROUP on the cluster id: the
    # shuffle moves narrow (id, vec, nrm) rows keyed by cluster — the
    # same n^1.5 join structure as before (AQE still splits a hot
    # list) — and numpy does the FLOPs per list, emitting only each
    # probe's k smallest candidates (selection is a monoid, so the
    # global window over per-list winners is the exact pruned ranking;
    # the >=k count gate is equivalent on pruned rows because
    # sum_i min(k, c_i) >= k iff sum_i c_i >= k). Probe rows process in
    # blocks so the (block x members x dim) product tensor stays
    # bounded regardless of list size.
    pair_schema = f"ia {id_t}, ib {id_t}, dist double"

    def pair_scores(lpdf, ppdf):
        import numpy as np
        import pandas as pd

        okb, vm = stack_vectors(lpdf["_bv"], dim)
        oka, am = stack_vectors(ppdf["_av"], dim)
        if not len(vm) or not len(am):
            return empty_batch(pair_schema)
        ids_b, nb = lpdf["ib"].to_numpy()[okb], lpdf["nb"].to_numpy()[okb]
        ids_a, na = ppdf["ia"].to_numpy()[oka], ppdf["na"].to_numpy()[oka]
        out_a, out_b, out_d = [], [], []
        block = max(1, 8_388_608 // (len(ids_b) * dim))  # ~64 MiB tensor
        for s in range(0, len(ids_a), block):
            cos, keep = cosine_scores(
                seq_dot_pair(am[s : s + block], vm),
                na[s : s + block, None] * nb[None, :],
            )
            for i in range(len(cos)):
                cand = np.nonzero(keep[i] & (ids_b != ids_a[s + i]))[0]
                dist = 1.0 - cos[i][cand]
                pos = topk_order(ids_b[cand], dist, k, desc=False)
                out_a.extend([ids_a[s + i]] * len(pos))
                out_b.extend(ids_b[cand][pos])
                out_d.extend(dist[pos])
        return pd.DataFrame({"ia": out_a, "ib": out_b, "dist": out_d})

    pairs = (
        lists.groupBy("_cluster")
        .cogroup(probes.groupBy("_cluster"))
        .applyInPandas(pair_scores, schema=pair_schema)
    )
    knn = rank_topk(pairs, "dist", k, desc=False, part="ia", nid="ib")
    # the count gate drops under-probed vectors (< k candidates),
    # keeping the one-sided-bias guarantee above
    agg = knn_mean(knn).filter(F.col("_n_cand") >= k)
    return (
        agg.select(F.col("ia").alias(id_col), "knn_dist")
        .orderBy(F.col("knn_dist").desc(), F.col(id_col).asc())
        .limit(top_n)
    )


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    dim: int,
    k: int = 5,
    n_planes: int = 12,
    use_md5_planes: bool = False,
) -> DataFrame:
    """Approximate top-k: compare only within matching hyperplane buckets.

    At scale this replaces the cross join with bucket-key candidate
    generation; recall is tunable via n_planes (fewer planes = bigger
    buckets = higher recall). ``use_md5_planes`` swaps the xxhash64
    plane weights for the engine-neutral md5 literal matrix so an
    external SQL oracle can reproduce the bucketing exactly.

    Scoring is ONE Arrow-batched ``mapInPandas`` pass over the signed
    corpus against the broadcast (collected — small by contract) query
    set: each batch scores only rows whose signature equals a query's
    signature and emits the batch-local top-k per query (selection is a
    monoid, so the global window over per-batch winners is exact). No
    equi-join materialization, no interpreted HOF fold; dots/norms
    accumulate sequentially (seq_* kernels) — bit-identical to the fold
    on double arrays and to list_dot_product in a SQL oracle.
    """
    import numpy as np
    if use_md5_planes:
        # vectorized signature pass (interpreted-fold twin; bit-equal —
        # see with_md5_sig_arrow). The xxhash64 variant stays a JVM
        # expression: its weights only exist Spark-side.
        e = with_md5_sig_arrow(
            embeddings.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("_vec"),
            ),
            "_vec", dim, n_planes,
        )
        q = with_md5_sig_arrow(
            queries.select(
                F.col(query_id_col).alias("query_id"),
                F.col(query_vec_col).alias("_qvec"),
            ),
            "_qvec", dim, n_planes,
        )
    else:
        e = embeddings.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_vec"),
            hyperplane_signature(F.col(vec_col), dim, n_planes).alias("_sig"),
        )
        q = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("_qvec"),
            hyperplane_signature(
                F.col(query_vec_col), dim, n_planes
            ).alias("_sig"),
        )

    from pygeoapi_ingestor_spark.session import spread_if_narrow

    # the query side is small by contract: its (id, vec, sig) rows
    # collect once and ride the scan's broadcast
    qrows = q.collect()
    ok, qm = stack_vectors([r["_qvec"] for r in qrows], dim)
    qrows = [r for r, o in zip(qrows, ok) if o]
    if not qrows:
        return _empty_topk(embeddings, queries, id_col, query_id_col)
    qsigs = np.asarray([r["_sig"] for r in qrows], dtype=np.int64)

    def same_bucket(pdf, vm):
        sigs = pdf["_sig"].to_numpy()
        return lambda j: sigs == qsigs[j]

    return cosine_topk_scan(
        spread_if_narrow(e), dim, k, [r["query_id"] for r in qrows], qm,
        dict(queries.dtypes)[query_id_col],
        candidates=same_bucket,
    )


def cosine_topk_int8(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine over int8-QUANTIZED vectors — the compute path
    of a compressed vector index (4-8x less scan bandwidth at rest; see
    ``quantize_int8``). Per-vector scales cancel inside cosine, so the
    score is pure integer dot products cast to double: bounded exact
    arithmetic (|dot| <= dim * 127^2), bit-identical across engines.

    With ``dim`` given, quantization AND scoring run in one Arrow
    kernel (the ``cosine_topk_scan`` shape): the query side quantizes
    on the driver (small by contract) and broadcasts; each corpus batch
    quantizes with ``quantize_int8_np`` (bit-parity with the JVM
    expression — pinned by test), scores with exact int64 matmul
    (integer sums are order-independent, so no sequential-fold dance is
    needed), and emits only its batch-local top-k per query. The
    division ``dot / (sqrt(na)*sqrt(nb))`` reproduces the JVM
    ``_norm * _norm`` denominator float-for-float: both norms are
    sqrt() of an exactly-representable integer (< 2^53). Zero-norm /
    null / wrong-length vectors drop from rankings (the fold path's
    NULL-cosine rows ranked last and never made top-k on any corpus
    with >= k valid rows — same convention as ``cosine_topk``).

    Without ``dim`` the original fold-expression path runs unchanged."""
    if dim is None:
        eq = quantize_int8(
            embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_v")),
            "_v",
        ).select("neighbor_id", F.col("q_vec").alias("_vec"))
        qq = F.broadcast(
            quantize_int8(
                queries.select(F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("_v")),
                "_v",
            ).select("query_id", F.col("q_vec").alias("_qvec"))
        )
        joined = eq.crossJoin(qq).filter(F.col("neighbor_id") != F.col("query_id"))
        cos = _dot(F.col("_vec"), F.col("_qvec")) / _safe_denom(
            _norm(F.col("_vec")) * _norm(F.col("_qvec"))
        )
        scored = joined.withColumn("cosine_q", cos)
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine_q").desc(), F.col("neighbor_id").asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine_q", F.col("rank").cast("int"))
        )

    import numpy as np

    from pygeoapi_ingestor_spark.session import ensure_package_on_executors

    spark = embeddings.sparkSession
    ensure_package_on_executors(spark)
    qids, qm = collect_query_vectors(queries, query_id_col, query_vec_col, dim)
    qm, _ = quantize_int8_np(qm)
    qn = np.sqrt((qm * qm).sum(axis=1).astype(np.float64))
    bc = spark.sparkContext.broadcast((qids, qm, qn))

    id_t = dict(embeddings.dtypes)[id_col]
    qid_t = dict(queries.dtypes)[query_id_col]
    out_schema = f"query_id {qid_t}, neighbor_id {id_t}, cosine_q double"
    e = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_vec")
    )

    def score(batches):
        import numpy as np
        import pandas as pd

        qids_, qm_, qn_ = bc.value
        for pdf in batches:
            ok, vm = stack_vectors(pdf["_vec"], dim)
            if not len(qids_) or not len(vm):
                yield empty_batch(out_schema)
                continue
            ids = pdf["neighbor_id"].to_numpy()[ok]
            qb, _ = quantize_int8_np(vm)
            dots = (qb @ qm_.T).astype(np.float64)
            nrm = np.sqrt((qb * qb).sum(axis=1).astype(np.float64))
            out_q, out_n, out_c = [], [], []
            for j, qid in enumerate(qids_):
                cand = np.nonzero(ids != qid)[0]
                cos, keep = cosine_scores(dots[cand, j], nrm[cand] * qn_[j])
                cand, cos = cand[keep], cos[keep]
                pos = topk_order(ids[cand], cos, k)
                out_q.extend([qid] * len(pos))
                out_n.extend(ids[cand][pos])
                out_c.extend(cos[pos])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cosine_q": out_c}
            )

    return rank_topk(e.mapInPandas(score, schema=out_schema), "cosine_q", k).select(
        "query_id", "neighbor_id", "cosine_q", "rank"
    )


def _sq_dist_sql(vec_sql: str, cv) -> str:
    """SQL-text twin of ``_sq_dist_int`` against a literal centroid:
    exact integer squared distance ((a-b)^2 <= 508^2 fits INT; the fold
    accumulates in BIGINT)."""
    arr = "array(" + ",".join(str(int(x)) for x in cv) + ")"
    return (
        f"aggregate(zip_with({vec_sql}, {arr}, (a, b) -> (a - b) * (a - b)), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + CAST(x AS BIGINT))"
    )


def _centroid_structs_sql(vec_sql: str, cents) -> str:
    return ",".join(
        f"struct({_sq_dist_sql(vec_sql, cv)} AS d, {cid} AS cid)"
        for cid, cv in cents
    )


def _argmin_centroid_sql(vec_sql: str, cents) -> str:
    """argmin over centroids as ONE generated SQL expression (ties to the
    lowest cid via lexicographic struct comparison — same semantics as
    the Column-built array_min it replaces, built in a single py4j
    call)."""
    return f"array_min(array({_centroid_structs_sql(vec_sql, cents)}))"


# Above this many centroids/codes, the generated-SQL literal inlining
# (one struct per centroid in the expression tree) is replaced by a
# broadcast parameter TABLE + higher-order-function argmin: the literal
# form is fastest at catalog sizes (a single analysis pass, no join) but
# its expression tree grows O(k x dim) — at production codebook sizes
# (k in the thousands) codegen/analysis time explodes. The table form is
# O(1) plan size at any k; both compute the identical exact-integer
# arithmetic, so results are bit-equal and the oracles don't change.
CENTROID_INLINE_MAX = 64


def _cents_table(spark, cents) -> DataFrame:
    return local_table(
        spark,
        [([(int(cid), [int(x) for x in cv]) for cid, cv in cents],)],
        "_cents array<struct<cid:int,cvec:array<int>>>",
    )


def _dist_structs_col(vec_col: str) -> Column:
    return F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            _sq_dist_int(F.col(vec_col), c.getField("cvec")).alias("d"),
            c.getField("cid").alias("cid"),
        ),
    )


def with_best_centroid(
    df: DataFrame,
    vec_col: str,
    cents,
    inline_max: int | None = None,
) -> DataFrame:
    """Add ``_best`` = struct(d, cid) of the nearest centroid (exact
    integer squared distance, ties to the lowest cid).

    Small centroid sets inline as literal SQL (single projection, no
    join); past ``CENTROID_INLINE_MAX`` the centroids ride a broadcast
    one-row parameter table and the argmin is a constant-size
    ``array_min(transform(...))`` — the plan no longer grows with k.
    ``inline_max`` overrides the threshold (tests force both paths)."""
    cap = CENTROID_INLINE_MAX if inline_max is None else inline_max
    if len(cents) <= cap:
        return df.withColumn("_best", F.expr(_argmin_centroid_sql(vec_col, cents)))
    ctab = _cents_table(df.sparkSession, cents)
    return (
        df.crossJoin(F.broadcast(ctab))
        .withColumn("_best", F.array_min(_dist_structs_col(vec_col)))
        .drop("_cents")
    )


def with_centroid_dists(
    df: DataFrame,
    vec_col: str,
    cents,
    out_col: str,
    inline_max: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = array<struct(d, cid)> of distances to EVERY
    centroid (for n_probe selection). Same inline-vs-table threshold as
    ``with_best_centroid``."""
    cap = CENTROID_INLINE_MAX if inline_max is None else inline_max
    if len(cents) <= cap:
        return df.withColumn(
            out_col, F.expr(f"array({_centroid_structs_sql(vec_col, cents)})")
        )
    ctab = _cents_table(df.sparkSession, cents)
    return (
        df.crossJoin(F.broadcast(ctab))
        .withColumn(out_col, _dist_structs_col(vec_col))
        .drop("_cents")
    )


def kmeans_fit_int8(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 3,
    dim: int = 64,
):
    """Deterministic Lloyd's k-means over int8-QUANTIZED vectors — the
    trained-centroid build for IVF inverted lists (the reference-free
    public pattern: Jegou et al., IVF/PQ), expressed as an iterative
    DataFrame algorithm with nothing nondeterministic anywhere:

    - init: the k vectors with the smallest md5(id) digest — an
      engine-neutral pseudo-random draw (same trick as
      ``md5_plane_weights``);
    - assign: nearest centroid by INTEGER squared distance, ties to the
      lowest cluster id (argmin via ``array_min`` over (dist, cid)
      structs — a pure projection against the literal centroid array, no
      shuffle);
    - update: per-dimension exact integer sums (64 map-combinable
      aggregates — no explode) and floor-division means, so the new
      centroids are independent of partitioning and merge order — the
      float-kmeans nondeterminism (order-dependent double sums) is
      engineered away, and every iteration is reproducible bit-for-bit
      in any engine.

    Per iteration: one scan + one k×dim-sized aggregate; centroids
    (k × dim ints) round-trip through the driver as literals — bounded,
    never data-sized. Returns (centroids, assigned_df) where centroids
    is [(cid, [int]*dim)] and assigned_df carries ``cluster`` and the
    integer ``sq_dist`` of each vector to its centroid.
    """
    q = quantize_int8(
        embeddings.select(F.col(id_col).alias("_id"), as_vector(vec_col, dim)), "_v"
    ).select("_id", F.col("q_vec").alias("_q"))
    # the iterative loop re-scans q once per iteration (init + iters +
    # final assign): persist the quantized projection so every pass after
    # the first reads columnar cache, not parquet + re-quantization.
    # MEMORY_AND_DISK is the standard iterative-algorithm tier — at
    # cluster scale partitions that do not fit spill instead of OOMing.
    q = q.persist(StorageLevel.MEMORY_AND_DISK)

    # distributed init draw: ORDER BY md5 LIMIT k plans as TakeOrdered
    # (per-partition top-k + merge), so no id list ever reaches the
    # driver — only the k winners do
    cents = [
        (ci, [int(x) for x in r["_q"]])
        for ci, r in enumerate(
            q.orderBy(F.md5(F.col("_id").cast("string")))
            .limit(k)
            .orderBy("_id")
            .collect()
        )
    ]

    if not cents:  # empty corpus: nothing to train or assign
        return cents, q.select(
            "*", F.lit(None).cast("int").alias("cluster"),
            F.lit(None).cast("bigint").alias("sq_dist"),
        )

    def _assign(cur):
        # small k: one F.expr over a generated SQL string instead of
        # ~300 Column calls (per-call py4j latency dominated the
        # iteration wall at small scale); large k: broadcast centroid
        # table (see with_best_centroid) so the plan doesn't grow with k
        return (
            with_best_centroid(q, "_q", cur)
            .select(
                "*",
                F.col("_best.cid").alias("cluster"),
                F.col("_best.d").alias("sq_dist"),
            )
            .drop("_best")
        )

    for _ in range(iters):
        assigned = _assign(cents)
        stats = assigned.groupBy("cluster").agg(
            F.expr("CAST(count(1) AS BIGINT) AS _n"),
            *[F.expr(f"sum(_q[{d}]) AS _s{d}") for d in range(dim)],
        )
        new = {
            # Python // on ints is exact floor division (toward -inf)
            r["cluster"]: [int(r[f"_s{d}"]) // int(r["_n"]) for d in range(dim)]
            for r in stats.collect()
        }
        # empty clusters keep their previous centroid
        cents = [(cid, new.get(cid, cv)) for cid, cv in cents]

    return cents, _assign(cents)


def kmeans_assign_int8(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    cents,
) -> DataFrame:
    """Assignment-only pass against ALREADY-TRAINED centroids — the
    consume side of the train-once contract (plans/queries_llm
    shared_kmeans_cents): identical quantization and argmin as
    ``kmeans_fit_int8``'s final assign, so (cluster, sq_dist) are
    bit-equal to what the training run would return, without re-running
    the Lloyd iterations. One projection, no shuffle."""
    q = quantize_int8(
        embeddings.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")),
        "_v",
    ).select("_id", F.col("q_vec").alias("_q"))
    return (
        with_best_centroid(q, "_q", cents)
        .select(
            "*",
            F.col("_best.cid").alias("cluster"),
            F.col("_best.d").alias("sq_dist"),
        )
        .drop("_best")
    )


def _sq_dist_int(vec: Column, centroid: Column) -> Column:
    """Exact integer squared distance (|x|<=254 per dim keeps every term
    and the sum well inside long range)."""
    return F.aggregate(
        F.zip_with(vec, centroid, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long"),
    )


def ivf_topk_trained(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    k: int = 5,
    n_clusters: int = 8,
    iters: int = 3,
    cents=None,
) -> DataFrame:
    """IVF search over TRAINED centroids: ``kmeans_fit_int8`` builds the
    inverted lists, assignment and probing use exact integer distances
    on the quantized vectors (deterministic — no float-compare ties),
    scoring is exact double cosine on the original vectors within the
    probed lists only. The full production ANN path (train -> index ->
    probe -> score) with every stage reproducible in SQL. Vectors are
    64-dim; each query probes its 3 nearest lists.

    Pass ``cents`` to reuse an already-trained centroid list (the
    train-once contract) — it must come from the same deterministic
    ``kmeans_fit_int8`` run the SQL twin replays.
    """
    dim = 64
    if cents is None:
        cents, _ = kmeans_fit_int8(
            embeddings, id_col, vec_col, k=n_clusters, iters=iters, dim=dim
        )
    if not cents:
        return _empty_topk(embeddings, queries, id_col, query_id_col)

    eq = quantize_int8(
        embeddings.select(F.col(id_col).alias("neighbor_id"), as_vector(vec_col, dim)),
        "_v",
    ).select("neighbor_id", "_v", F.col("q_vec").alias("_q"))
    # materialize the quantized corpus before the argmin: without the
    # barrier, CollapseProject inlines the quantize transform into every
    # centroid-distance lambda (HOFs run interpreted, with no common-
    # subexpression elimination), re-quantizing each row k x dim times —
    # measured 5-6s vs ~0.3s on this step alone at sf0.1. Persisting IS
    # the index build: the quantized corpus is the at-rest artifact a
    # real IVF index stores.
    eq = eq.persist(StorageLevel.MEMORY_AND_DISK)
    assigned = (
        with_best_centroid(eq, "_q", cents)
        .select(
            "neighbor_id", "_v", F.col("_best.cid").alias("cluster")
        )
    )

    qq = quantize_int8(
        queries.select(F.col(query_id_col).alias("query_id"), as_vector(query_vec_col, dim)),
        "_v",
    ).select("query_id", F.col("_v").alias("_qv"), F.col("q_vec").alias("_qq"))
    probes = (
        with_centroid_dists(qq, "_qq", cents, "_dists")
        .withColumn("_p", F.explode(F.slice(F.array_sort(F.col("_dists")), 1, 3)))
        .select("query_id", "_qv", F.col("_p").getField("cid").alias("cluster"))
    )

    # The query set is small by contract: collect the (query_id, qvec,
    # probed cluster) rows — the probe selection itself stays the exact
    # INTEGER arithmetic of the quantized index (computed above,
    # JVM-side) — and score in ONE Arrow pass over the assigned corpus:
    # each batch scores rows whose inverted list is probed by a query
    # and emits the batch-local top-k (monoid selection; the global
    # window over winners is exact). Replaces the broadcast-join +
    # interpreted-HOF-fold scoring; sequential seq_* accumulation keeps
    # cosines bit-identical to the fold and the SQL twin.
    import numpy as np

    from pygeoapi_ingestor_spark.session import spread_if_narrow

    by_q: dict = {}
    for r in probes.collect():
        by_q.setdefault(r["query_id"], (r["_qv"], set()))[1].add(r["cluster"])
    qids = sorted(by_q)
    ok, qm = stack_vectors([by_q[qid][0] for qid in qids], dim)
    qids = [qid for qid, o in zip(qids, ok) if o]
    if not qids:
        return _empty_topk(embeddings, queries, id_col, query_id_col)
    probe_lists = [np.asarray(sorted(by_q[qid][1])) for qid in qids]

    def probed(pdf, vm):
        home = pdf["cluster"].to_numpy()
        return lambda j: np.isin(home, probe_lists[j])

    src = spread_if_narrow(
        assigned.select("neighbor_id", F.col("_v").alias("_vec"), "cluster")
    )
    return cosine_topk_scan(
        src, dim, k, qids, qm, dict(queries.dtypes)[query_id_col],
        candidates=probed,
    )


def pq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    k: int = 5,
):
    """Product-quantization ADC search (Jegou et al., "Product
    Quantization for Nearest Neighbor Search"): split each int8-quantized
    64-dim vector into ``m_subs`` = 8 subvectors, encode every subvector
    as the id of its nearest entry in an ``n_codes`` = 16 codebook, and
    answer queries by Asymmetric Distance Computation — per query
    precompute the ``m_subs x n_codes`` exact-integer distance table, then score each corpus vector as the
    sum of 8 table lookups over its stored codes.

    The compressed index stores ``m_subs`` small ints per vector
    (codes), a ~16x reduction over the int8 vector itself — the memory-
    bound linear ADC scan is the point at 100 TB, not fewer operations.
    Codebooks are sampling-initialized (the ``n_codes`` vectors with the
    smallest md5(id), the same engine-neutral draw k-means init uses; no
    Lloyd refinement — honest about that) so the whole pipeline is
    deterministic integer arithmetic and the SQL twin reproduces
    encode -> table -> scan -> top-k bit-for-bit.

    Encode and table build run as ONE Arrow numpy kernel each (the
    former inline-literal and broadcast-table expression paths were
    m_subs x n_codes interpreted folds per row either way).

    Returns (query_id, neighbor_id, adc_dist, rank).
    """
    m_subs, n_codes, dim = 8, 16, 64
    sub_dim = dim // m_subs
    eq = quantize_int8(
        embeddings.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_v")
        ),
        "_v",
    ).select("neighbor_id", F.col("q_vec").alias("_q"))

    seeds = (
        eq.orderBy(F.md5(F.col("neighbor_id").cast("string")))
        .limit(n_codes)
        .orderBy("neighbor_id")
        .collect()
    )

    qq = quantize_int8(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("_v")
        ),
        "_v",
    ).select("query_id", F.col("q_vec").alias("_qq"))

    # r13: encode and ADC-table build run as Arrow numpy kernels (guide
    # §4.2) instead of m_subs x n_codes interpreted aggregate/zip_with
    # folds PER ROW (128 HOF evaluations/vector at the default 8x16
    # geometry — the same interpreted-fold family the r12 verdict flagged
    # on the IVF kernels). Exact-integer parity: the kernel computes the
    # identical (q - c)^2 sums in int64 (|q|,|c| <= 127 -> per-sub sum
    # <= 8*254^2, nowhere near wrap), and numpy argmin ties break on the
    # FIRST (lowest) index — the same winner as array_min over
    # struct(d, j). The codebook is a closure constant (m_subs x n_codes
    # x sub_dim ints). A malformed vector's distances are all NULL, which
    # order last: a malformed seed never wins a code, a malformed vector
    # encodes to code 0 everywhere (the oracle's (d, j) tie rule) and a
    # malformed query gets NULL tables, so its NULL ADC rows drop.
    import numpy as np

    from pygeoapi_ingestor_spark.session import ensure_package_on_executors

    ensure_package_on_executors(eq.sparkSession)
    seed_ok, seed_mat = stack_vectors([r["_q"] for r in seeds], dim, np.int64)
    # cb[m][j] = j-th code's subvector for subspace m (a malformed seed's
    # row stays zero and its distances are masked to the maximum)
    cb = np.zeros((m_subs, len(seeds), sub_dim), dtype=np.int64)
    cb[:, seed_ok, :] = seed_mat.reshape(-1, m_subs, sub_dim).transpose(1, 0, 2)
    never = np.iinfo(np.int64).max
    nid_t = dict(eq.dtypes)["neighbor_id"]
    qid_t = dict(qq.dtypes)["query_id"]
    _ms, _sd = m_subs, sub_dim

    code_schema = f"neighbor_id {nid_t}, " + ", ".join(
        f"c{m} int" for m in range(_ms)
    )
    table_schema = f"query_id {qid_t}, " + ", ".join(
        f"t{m} array<bigint>" for m in range(_ms)
    )

    def _sub_dists(vm, m):
        sub = vm[:, m * _sd : (m + 1) * _sd]
        d = ((sub[:, None, :] - cb[m][None, :, :]) ** 2).sum(axis=2)
        d[:, ~seed_ok] = never
        return d

    def _encode_batches(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ok, qm = stack_vectors(pdf["_q"], dim, np.int64)
            out = {"neighbor_id": pdf["neighbor_id"].to_numpy()}
            for m in range(_ms):
                codes = np.zeros(len(pdf), dtype=np.int64)
                codes[ok] = np.argmin(_sub_dists(qm, m), axis=1)
                out[f"c{m}"] = codes
            yield pd.DataFrame(out)

    codes = eq.mapInPandas(_encode_batches, schema=code_schema)

    def _table_batches(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ok, qm = stack_vectors(pdf["_qq"], dim, np.int64)
            out = {"query_id": pdf["query_id"].to_numpy()}
            for m in range(_ms):
                tables = iter(_sub_dists(qm, m).tolist())
                out[f"t{m}"] = [
                    [x if s else None for x, s in zip(next(tables), seed_ok)]
                    if o else None
                    for o in ok
                ]
            yield pd.DataFrame(out)

    qtab = qq.mapInPandas(_table_batches, schema=table_schema)
    # the encoded index: m_subs small codes per vector. Persisted — at
    # rest this IS the PQ index file; recomputing it per probe would
    # re-quantize per code (the CollapseProject-inlining trap).
    codes = codes.persist(StorageLevel.MEMORY_AND_DISK)

    paired = codes.crossJoin(F.broadcast(qtab)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    adc = None
    for m in range(m_subs):
        term = F.element_at(F.col(f"t{m}"), F.col(f"c{m}") + 1)
        adc = term if adc is None else adc + term
    scored = paired.withColumn("adc_dist", adc.cast("long")).filter(
        F.col("adc_dist").isNotNull()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", F.col("rank").cast("int").alias("rank"))
    )


def rocchio_fit_int8(
    embeddings: DataFrame,
    vec_col: str,
    label_col: str,
    dim: int = 64,
):
    """Train the per-label Rocchio centroids over int8-quantized
    vectors: ONE distributed pass (per-label exact integer
    per-dimension sums + floor means — the k-means update step without
    the iteration); only the (n_labels x dim) centroid table reaches
    the driver. Returns ``[(label, [int; dim]), ...]`` sorted by label
    — the train-once artifact (plans/queries_llm shared_rocchio_cents
    memoizes it per corpus; retraining per report is the
    anti-pattern)."""
    from pygeoapi_ingestor_spark.session import spread_if_narrow

    # quantize + 64 per-dimension sums are interpreted-HOF/array work;
    # spread a single-partition local input across cores (no-op on a
    # production input that is already wide)
    q = quantize_int8(
        spread_if_narrow(embeddings).select(
            F.col(label_col).cast("int").alias("_label"),
            F.col(vec_col).alias("_v"),
        ),
        "_v",
    ).select("_label", F.col("q_vec").alias("_q"))
    stats = q.groupBy("_label").agg(
        F.expr("CAST(count(1) AS BIGINT) AS _n"),
        F.expr(
            f"array({', '.join(f'sum(_q[{d}])' for d in range(dim))}) AS _s"
        ),
    )
    return [
        (int(r["_label"]), [int(s) // int(r["_n"]) for s in r["_s"]])
        for r in sorted(stats.collect(), key=lambda r: r["_label"])
    ]


def rocchio_classify_int8(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    cents,
):
    """Classify against ALREADY-TRAINED Rocchio centroids — the consume
    side of the train-once contract: identical quantization and argmin
    (exact integer squared distance, ties to the lowest label) as the
    in-place fit would apply, so results are bit-equal without
    re-aggregating the corpus. One projection, no shuffle, no action.

    Returns (id, label, predicted, sq_dist)."""
    from pygeoapi_ingestor_spark.session import spread_if_narrow

    # the argmin projection is interpreted HOF work (zip_with/aggregate
    # lambdas — no whole-stage codegen): a single-file parquet input
    # would serialize all of it on one thread; production inputs keep
    # their partitioning (spread_if_narrow is a no-op there)
    q = quantize_int8(
        spread_if_narrow(embeddings).select(
            F.col(id_col).alias("_id"),
            F.col(label_col).cast("int").alias("_label"),
            F.col(vec_col).alias("_v"),
        ),
        "_v",
    ).select("_id", "_label", F.col("q_vec").alias("_q"))
    return (
        with_best_centroid(q, "_q", cents)
        .select(
            F.col("_id").alias(id_col),
            F.col("_label").alias(label_col),
            F.col("_best.cid").alias("predicted"),
            F.col("_best.d").alias("sq_dist"),
        )
    )


def nearest_centroid_classify(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    dim: int = 64,
):
    """Nearest-centroid (Rocchio) classification over int8-quantized
    vectors — the labeling-QA pass of a training-data pipeline: build
    one centroid per label, re-classify every vector, and let the
    confusion structure expose mislabeled or boundary documents.

    Composition of ``rocchio_fit_int8`` (one aggregate) +
    ``rocchio_classify_int8`` (one scan) — the whole operator costs one
    aggregate + one scan at any corpus size. All-integer arithmetic —
    the SQL twin reproduces it bit-for-bit. Callers that report
    repeatedly over one corpus should fit once and reuse
    (plans/queries_llm shared_rocchio_cents).

    Returns (id, label, predicted, sq_dist).
    """
    cents = rocchio_fit_int8(embeddings, vec_col, label_col, dim=dim)
    return rocchio_classify_int8(embeddings, id_col, vec_col, label_col, cents)
