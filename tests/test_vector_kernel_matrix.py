"""One edge-case matrix for every Arrow vector kernel.

Each kernel site that stacks an array column goes through
``similarity.stack_vectors``. This module pins what that shared path
promises: on every edge input the kernel gives the answer of its JVM
expression twin or, for catalog keys, of the key's DuckDB oracle.

Edge contract (the JVM fold's semantics, which every kernel twins):
- a NULL, empty or wrong-length vector is a NULL vector. The fold's
  ``zip_with`` pads a short array with NULLs, so every score it touches
  is NULL. DuckDB raises on mismatched list lengths, so the oracle sees
  such a row as NULL too;
- a zero-norm vector has no cosine (NULL);
- a NaN element yields NaN scores, which Spark and DuckDB both order
  above every number;
- NULL scores drop from rankings. The oracles rank them last instead,
  so reference rows whose score is NULL are dropped before comparing.
  Where DuckDB rejects the NULL list outright (``list_inner_product``
  raises on NULL arguments in some plans), a NULL vector contributing
  only NULL scores is the same as the row being absent, and the
  reference runs without it;
- an empty answer is no batch: a map kernel with nothing to emit for a
  batch ``continue``s instead of yielding a zero-row frame, and a
  grouped or cogrouped kernel returns ``pd.DataFrame()`` (pyspark
  accepts a frame with no columns and no rows). Spark types the output
  from the declared schema, so an empty batch, an empty partition or an
  empty input gives 0 rows of that schema.

``test_kernel_site_census`` keeps the matrix complete: every
mapInPandas / applyInPandas site in the package is either exercised here
or exempted with a reason. ``test_map_site_empty_input`` runs the
exempt map sites on an empty input.
"""

from __future__ import annotations

import math
import os
import re

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pygeoapi_ingestor_spark.operators import correction, dedup, multimodal, similarity
from pygeoapi_ingestor_spark.plans import ORACLES, QUERIES
from pygeoapi_ingestor_spark.sources.readers import read_embeddings
from pygeoapi_ingestor_spark.streaming.scheduler import finalize_job

from conftest import SF_DIR

DIM = 64
N_ROWS = 24
EDGE_ID = 2  # inside every query / anchor / lowest-id centroid set

EDGES = (
    "null", "empty", "ragged", "nan", "zero_norm",
    "empty_batch", "empty_partition",
)
# edges whose vector the fold (and so the oracle) sees as NULL
_AS_NULL = {"null", "empty", "ragged"}
# edges whose row scores NULL against everything
_NULL_SCORE = _AS_NULL | {"zero_norm"}


def _base_rows():
    t = pq.read_table(f"{SF_DIR}/embeddings.parquet").sort_by("vec_id")
    return t.slice(0, N_ROWS).to_pylist()


def _edge_rows(edge):
    rows = _base_rows()
    if edge == "empty_batch":
        return []
    edit = {
        "null": None,
        "empty": [],
        "ragged": [0.5, -0.25, 0.125],
        "nan": [float("nan") if d == 5 else x
                for d, x in enumerate(rows[EDGE_ID]["embedding"])],
        "zero_norm": [0.0] * DIM,
    }
    if edge in edit:
        rows[EDGE_ID]["embedding"] = edit[edge]
    return rows


_SCHEMA = pa.schema([
    ("vec_id", pa.int64()),
    ("embedding", pa.list_(pa.float32())),
    ("label", pa.int32()),
])


def _write_corpus(root, edge):
    """The corpus as an sf_dir holding one ``embeddings`` table. The
    empty_partition corpus is three part files, the middle one empty;
    the test reads each file as its own partition."""
    rows = _edge_rows(edge)
    path = os.path.join(str(root), "embeddings.parquet")
    if edge != "empty_partition":
        pq.write_table(pa.Table.from_pylist(rows, _SCHEMA), path)
        return
    os.makedirs(path)
    half = len(rows) // 2
    for i, part in enumerate((rows[:half], [], rows[half:])):
        pq.write_table(
            pa.Table.from_pylist(part, _SCHEMA),
            os.path.join(path, f"part-{i}.parquet"),
        )


def _oracle(sf_dir, edge, key):
    """(columns, rows) of the key's DuckDB oracle on the corpus, where a
    malformed vector reads as NULL (or, where DuckDB rejects the NULL
    list, the row is absent)."""
    path = os.path.join(sf_dir, "embeddings.parquet")
    if os.path.isdir(path):
        path = os.path.join(path, "*.parquet")

    def run(vec, where="TRUE"):
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW embeddings AS SELECT vec_id, {vec} AS embedding, "
            f"label FROM read_parquet('{path}') WHERE {where}"
        )
        res = con.execute(ORACLES[key])
        return [d[0] for d in res.description], res.fetchall()

    if edge not in _AS_NULL:
        return run("embedding")
    try:
        return run(f"CASE WHEN len(embedding) = {DIM} THEN embedding END")
    except duckdb.InvalidInputException:
        return run("embedding", f"vec_id <> {EDGE_ID}")


def _cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0.0 else v
    return v


def _norm(rows, cols, drop_null=()):
    """Sorted, column-ordered rows without the NULL-score ones: a
    ``drop_null`` entry names a score column, or is ``(column, value)``
    for rows whose ranking query is the edge row (a query whose every
    score is NULL has no ranking at all)."""
    def null_score(r):
        for c in drop_null:
            if isinstance(c, tuple) and r[cols.index(c[0])] == c[1]:
                return True
            if isinstance(c, str) and r[cols.index(c)] is None:
                return True
        return False

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    kept = [r for r in rows if not null_score(r)]
    return sorted((tuple(_cell(r[i]) for i in order) for r in kept), key=repr)


def _rows(df):
    return df.columns, [tuple(r) for r in df.collect()]


# --- JVM-twin sites: (kernel, expression twin) on the same input -------

def _topk_args(spark, sf_dir):
    e = read_embeddings(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 5)
    return (e, q, "vec_id", "embedding", "vec_id", "embedding")


def _md5_sig(spark, sf_dir, arrow):
    e = read_embeddings(spark, sf_dir).select("vec_id", "embedding")
    if arrow:
        return similarity.with_md5_sig_arrow(e, "embedding", DIM, 8)
    return e.withColumn("_sig", similarity.md5_signature(F.col("embedding"), DIM, 8))


def _quantize_twin(spark, sf_dir):
    qv = F.col("q_vec")
    return similarity.quantize_int8(
        read_embeddings(spark, sf_dir), vec_col="embedding"
    ).select(
        "vec_id",
        F.round("q_scale", 6).alias("q_scale"),
        F.md5(F.concat_ws(",", F.transform(qv, lambda x: x.cast("string"))))
        .alias("q_digest"),
        F.aggregate(qv, F.lit(0), lambda acc, x: acc + x)
        .cast("bigint").alias("q_sum"),
        F.array_max(qv).cast("int").alias("q_max"),
        F.array_min(qv).cast("int").alias("q_min"),
    )


TWINS = {
    # site: (kernel, twin, reference score columns whose NULL rows drop)
    "cosine_topk": (
        lambda s, d: similarity.cosine_topk(*_topk_args(s, d), k=5, dim=DIM),
        lambda s, d: similarity.cosine_topk(*_topk_args(s, d), k=5),
        ("cosine",),
    ),
    "cosine_topk_int8": (
        lambda s, d: similarity.cosine_topk_int8(*_topk_args(s, d), k=5, dim=DIM),
        lambda s, d: similarity.cosine_topk_int8(*_topk_args(s, d), k=5),
        ("cosine_q",),
    ),
    "md5_signature": (
        lambda s, d: _md5_sig(s, d, True).drop("embedding"),
        lambda s, d: _md5_sig(s, d, False).drop("embedding"),
        (),
    ),
    "embedding_quantize_int8": (
        lambda s, d: QUERIES["embedding_quantize_int8"](s, d),
        _quantize_twin,
        (),
    ),
}

# --- oracle sites: catalog keys whose plan runs the kernel --------------
ORACLE_KEYS = {
    # key: reference score columns whose NULL rows drop
    "sim_search_ivf": ("cosine",),
    "knn_outliers_ivf": ("knn_dist",),
    "sim_search_lsh": ("cosine",),
    "sim_search_ivf_trained": ("cosine",),
    "sim_search_pq_adc": ("adc_dist",),
    "semdedup_clusters": (),
    "embedding_rp_reduce": (),
    "rrf_fusion": (("query_id", EDGE_ID),),
    "triplet_mining": ("hardest_neg_cos", "easiest_pos_cos"),
    "embedding_knn_outliers": ("knn_dist",),
    "knn_outliers_recall": (),
    "dedup_embedding_cosine": ("cosine",),
}

SITES = sorted(TWINS) + sorted(ORACLE_KEYS)


@pytest.fixture
def corpus(spark, tmp_path, request):
    edge = request.node.callspec.params["edge"]
    _write_corpus(tmp_path, edge)
    conf = "spark.sql.files.openCostInBytes"
    prev = spark.conf.get(conf)
    if edge == "empty_partition":
        # one partition per part file, so the empty file is an empty
        # partition and the halves merge across partitions
        spark.conf.set(conf, str(1 << 30))
    yield str(tmp_path), edge
    spark.conf.set(conf, prev)
    finalize_job(spark)


def _answer(run):
    """(columns, rows) of a run, or ``None`` when it raises: an edge
    input the twin or oracle rejects (NaN has no int8 code) must be
    rejected by the kernel too, not answered with garbage."""
    try:
        return run()
    except Exception:
        return None


@pytest.mark.parametrize("edge", EDGES)
@pytest.mark.parametrize("site", SITES)
def test_kernel_edge_matrix(spark, corpus, site, edge):
    sf_dir, edge = corpus
    if site in TWINS:
        kernel, twin, drop_null = TWINS[site]
        got = _answer(lambda: _rows(kernel(spark, sf_dir)))
        ref = _answer(lambda: _rows(twin(spark, sf_dir)))
    else:
        drop_null = ORACLE_KEYS[site]
        got = _answer(lambda: _rows(QUERIES[site](spark, sf_dir)))
        ref = _answer(lambda: _oracle(sf_dir, edge, site))
    assert (got is None) == (ref is None), (
        f"{site}: kernel {'raised' if got is None else 'answered'}, "
        f"reference {'raised' if ref is None else 'answered'}"
    )
    if ref is None:
        return
    (got_cols, got_rows), (ref_cols, ref_rows) = got, ref
    assert sorted(got_cols) == sorted(ref_cols)
    if edge not in _NULL_SCORE:
        drop_null = ()
    assert _norm(got_rows, got_cols) == _norm(ref_rows, ref_cols, drop_null)


# --- census: every Arrow kernel site is in the matrix or exempt ---------
PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "pygeoapi_ingestor_spark")
_KERNEL_CALL = re.compile(r"\.(mapInPandas|applyInPandas|applyInPandasWithState)\(")

COVERED = {
    # "module::enclosing function": matrix sites that run it
    "operators/similarity.py::cosine_topk_scan": (
        "cosine_topk", "sim_search_ivf", "sim_search_lsh",
        "sim_search_ivf_trained", "knn_outliers_recall",
    ),
    "operators/similarity.py::with_md5_sig_arrow": ("md5_signature", "sim_search_lsh"),
    "operators/similarity.py::ivf_knn_outliers": ("knn_outliers_ivf",),
    "operators/similarity.py::cosine_topk_int8": ("cosine_topk_int8",),
    "operators/similarity.py::pq_adc_topk": ("sim_search_pq_adc",),
    "operators/dedup.py::embedding_cosine_pairs_bucketed": ("dedup_embedding_cosine",),
    "plans/queries_llm.py::q_embedding_quantize": ("embedding_quantize_int8",),
    "plans/queries_llm.py::q_semdedup_clusters": ("semdedup_clusters",),
    "plans/queries_llm.py::_rp_proj_frame": ("embedding_rp_reduce", "rrf_fusion"),
    "plans/queries_llm.py::q_triplet_mining": ("triplet_mining",),
    "plans/queries_llm.py::q_embedding_knn_outliers": ("embedding_knn_outliers",),
}

EXEMPT = {
    "operators/correction.py::parametric_gamma_map": "elementwise gamma kernel over per-row scalar params, no array column",
    "operators/indices.py::spi_fit_apply_gamma": "one numerics.spi_from_series call per series, no array column",
    "operators/indices.py::spi": "one numerics.spi_from_series call per series, no array column",
    "operators/temporal.py::chunked_ewma": "scalar EWMA recurrence per chunk, no array column",
    "streaming/stateful.py::alert_transitions": "scalar alert state machine, no array column",
    "operators/dedup.py::minhash_signatures": "hashes string shingles, no vector column",
    "operators/dedup.py::simhash": "hashes string tokens, no vector column",
    "operators/multimodal.py::extract_metadata": "decodes binary payloads, no vector column",
    "operators/multimodal.py::resize_media": "decodes binary payloads, no vector column",
    "operators/multimodal.py::sample_frames": "decodes binary payloads, no vector column",
    "operators/multimodal.py::synthesize_decode_roundtrip": "decodes binary payloads, no vector column",
}


def _kernel_sites():
    """``module::top-level function`` of every Arrow kernel call."""
    import ast

    sites = set()
    for dirpath, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            src = open(path).read()
            for top in ast.parse(src).body:
                if isinstance(top, ast.FunctionDef) and _KERNEL_CALL.search(
                    ast.get_source_segment(src, top)
                ):
                    sites.add(f"{rel}::{top.name}")
    return sites


def test_kernel_site_census():
    sites = _kernel_sites()
    unlisted = sites - set(COVERED) - set(EXEMPT)
    assert not unlisted, (
        f"Arrow kernel sites neither in the edge matrix nor exempt: {sorted(unlisted)}"
    )
    assert not (set(COVERED) | set(EXEMPT)) - sites, "stale census entries"
    for site, matrix_sites in COVERED.items():
        assert set(matrix_sites) <= set(SITES), site


# --- exempt map sites: an empty input is an empty answer ----------------

def _docs(spark, n):
    """``n`` text rows over two partitions; ``n=0`` gives two empty ones,
    so each kernel runs and receives no batch."""
    return spark.range(n, numPartitions=2).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.lit("aa bb cc dd"), F.col("id").cast("string"))
        .alias("text"),
    )


def _media(docs):
    return multimodal.extract_metadata(
        multimodal.attach_payload(docs, id_col="doc_id", text_col="text")
    )


def _gamma_map(docs):
    spark = docs.sparkSession
    fact = docs.select(
        F.lit(0).alias("leadtime"), F.lit(0).alias("station"),
        (F.col("doc_id") + 1).cast("double").alias("x"),
    )
    params = spark.createDataFrame(
        [(0, 0, 1.4, 55.0, 1.4, 55.0)],
        "leadtime int, station int, fc_alpha double, fc_scale double, "
        "obs_alpha double, obs_scale double",
    )
    return correction.parametric_gamma_map(fact, params, ["leadtime", "station"], "x")


EMPTY_INPUT = {
    # EXEMPT site: the site's output over a text-rows input
    "operators/dedup.py::minhash_signatures": lambda d: dedup.minhash_signatures(
        d, "doc_id", "text"
    ),
    "operators/dedup.py::simhash": lambda d: dedup.simhash(d, "doc_id", "text"),
    "operators/correction.py::parametric_gamma_map": _gamma_map,
    "operators/multimodal.py::extract_metadata": _media,
    "operators/multimodal.py::resize_media": lambda d: multimodal.resize_media(_media(d)),
    "operators/multimodal.py::sample_frames": lambda d: multimodal.sample_frames(_media(d)),
    "operators/multimodal.py::synthesize_decode_roundtrip": (
        lambda d: multimodal.synthesize_decode_roundtrip(d, "doc_id")
    ),
}


@pytest.mark.parametrize("site", sorted(EMPTY_INPUT))
def test_map_site_empty_input(spark, site):
    assert site in EXEMPT
    build = EMPTY_INPUT[site]
    full = build(_docs(spark, 4))
    empty = build(_docs(spark, 0))
    assert full.count() > 0
    assert empty.schema == full.schema
    assert empty.collect() == []
