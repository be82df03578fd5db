"""Unit tests for the round-3 continuation operators: funnel, TWA,
chunking, vocabulary mining, fuzzy edit-distance join, incremental LSH
dedup."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from pygeoapi_ingestor_spark.operators import dedup, fuzzy, temporal, text


def _ts(s):
    return dt.datetime.fromisoformat(s)


# ---------------------------------------------------------------- funnel

def test_funnel_depths(spark):
    rows = [
        # u1: full ordered funnel
        (1, _ts("2024-01-01 10:00:00"), "view"),
        (1, _ts("2024-01-01 10:05:00"), "click"),
        (1, _ts("2024-01-01 10:10:00"), "purchase"),
        # u2: purchase BEFORE click -> stops at click... order matters
        (2, _ts("2024-01-01 09:00:00"), "purchase"),
        (2, _ts("2024-01-01 10:00:00"), "view"),
        (2, _ts("2024-01-01 11:00:00"), "click"),
        # u3: view only
        (3, _ts("2024-01-01 08:00:00"), "view"),
        # u4: click with NO prior view -> depth 0
        (4, _ts("2024-01-01 08:00:00"), "click"),
        # u5: click at the SAME ts as the first view (strictness: not
        # counted), later click counts
        (5, _ts("2024-01-01 07:00:00"), "view"),
        (5, _ts("2024-01-01 07:00:00"), "click"),
        (5, _ts("2024-01-01 07:30:00"), "click"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = temporal.funnel_stages(
        df, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    )
    got = {r["user"]: r["depth"] for r in out.collect()}
    assert got == {1: 3, 2: 2, 3: 1, 4: 0, 5: 2}


# ------------------------------------------------------------------ TWA

def test_time_weighted_avg_step_holds(spark):
    # one series, one day: value 10.0 holds 6h, value 2.0 holds 18h
    rows = [
        (1, _ts("2024-01-01 00:00:00"), "a", 10.0),
        (2, _ts("2024-01-01 06:00:00"), "a", 2.0),
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "event_type", "value"])
    out = temporal.time_weighted_avg(
        df, series_cols=["event_type"], ts_col="ts", value_col="value",
        id_col="event_id",
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_events"] == 2
    expected = (10.0 * 6 + 2.0 * 18) / 24
    assert abs(r["twa"] - expected) < 1e-6


def test_time_weighted_avg_single_event_holds_to_midnight(spark):
    rows = [(1, _ts("2024-01-02 18:00:00"), "a", 4.0)]
    df = spark.createDataFrame(rows, ["event_id", "ts", "event_type", "value"])
    r = temporal.time_weighted_avg(
        df, series_cols=["event_type"], ts_col="ts", value_col="value",
        id_col="event_id",
    ).collect()[0]
    assert r["twa"] == 4.0  # only observation holds until midnight


# ------------------------------------------------------------- chunking

def test_chunk_documents_windows(spark):
    words70 = " ".join(f"w{i}" for i in range(70))
    df = spark.createDataFrame([(1, words70), (2, "one two")], ["doc_id", "text"])
    out = text.chunk_documents(df, "doc_id", "text")
    rows = {(r["doc"], r["chunk_index"]): r for r in out.collect()}
    # doc 1: starts at tokens 1, 31, 61 -> sizes 40, 40, 10
    assert rows[(1, 0)]["n_tokens"] == 40
    assert rows[(1, 1)]["n_tokens"] == 40
    assert rows[(1, 2)]["n_tokens"] == 10
    assert rows[(1, 1)]["start_token"] == 31
    # doc 2: single short chunk
    assert rows[(2, 0)]["n_tokens"] == 2
    assert len(rows) == 4
    # overlap: chunk 1 of doc 1 starts at w30 (1-based token 31)
    import hashlib
    expect = " ".join(f"w{i}" for i in range(30, 70))
    assert rows[(1, 1)]["chunk_fp"] == hashlib.md5(expect.encode()).hexdigest()


def test_chunk_documents_empty_text_dropped(spark):
    df = spark.createDataFrame([(1, "   "), (2, "x")], ["doc_id", "text"])
    out = text.chunk_documents(df, "doc_id", "text").collect()
    assert [r["doc"] for r in out] == [2]


# ----------------------------------------------------------- top ngrams

def test_top_ngrams_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat, the cat ran"),
            (2, "the cat sat"),
            (3, "solo"),  # shorter than n -> contributes nothing
        ],
        ["doc_id", "text"],
    )
    out = text.top_ngrams(df, "doc_id", "text").collect()
    by_gram = {r["ngram"]: r for r in out}
    assert by_gram["the cat"]["total_count"] == 3
    assert by_gram["the cat"]["doc_freq"] == 2
    assert by_gram["cat sat"]["total_count"] == 2
    # count ties broken by gram text: 'cat ran' < 'sat the'
    assert [r["ngram"] for r in out[2:]] == ["cat ran", "sat the"]


# ----------------------------------------------------------- fuzzy join

def test_fuzzy_pairs_match_bruteforce(spark):
    names = [
        "kitten", "sitten", "sittin", "sitting", "abcdefgh",
        "small ring", "small rink", "large ring", "red bolt", "red volt",
    ]
    df = spark.createDataFrame([(n,) for n in names], ["name"])
    got = {
        (r["name_a"], r["name_b"]): r["dist"]
        for r in fuzzy.fuzzy_name_pairs(df, "name").collect()
    }
    # brute force oracle via DuckDB levenshtein
    import duckdb

    con = duckdb.connect()
    exp = {}
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            x, y = sorted([a, b])
            d = con.execute("SELECT levenshtein(?, ?)", [x, y]).fetchone()[0]
            if d <= 2:
                exp[(x, y)] = d
    assert got == exp  # prefix filter loses nothing at d<=2


def test_fuzzy_plan_has_no_cartesian(spark):
    df = spark.createDataFrame([("abcd",), ("abce",)], ["name"])
    plan = fuzzy.fuzzy_name_pairs(df, "name")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ------------------------------------------------------ incremental LSH

def test_incremental_lsh_flags_dup_and_novel(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the band plays "
        "a long tune about rivers and mountains under a red evening sky "
        "with many birds flying home across the quiet valley tonight"
    )
    novel = (
        "completely different content about spark catalyst optimizer rules "
        "and shuffle partition tuning for large scale joins with adaptive "
        "execution enabled in modern clusters running columnar scans"
    )
    corpus = spark.createDataFrame(
        [(1, base), (2, "unrelated corpus text about gardens and flowers "
                       "growing near the old stone wall every spring season "
                       "with bees and butterflies visiting each morning")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(10, base), (11, novel)], ["doc_id", "text"]
    )
    out = dedup.minhash_lsh_incremental(
        corpus, batch, id_col="doc_id", text_col="text"
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {10, 11}
    assert rows[10]["is_dup"] and rows[10]["dup_of"] == 1
    assert rows[10]["best_jaccard"] == 1.0
    assert not rows[11]["is_dup"] and rows[11]["dup_of"] is None
    assert rows[11]["n_matches"] == 0
