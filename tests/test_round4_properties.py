"""Property tests for the round-4 exact-algorithm guarantees:

- PPJoin prefix filtering is LOSSLESS: its output equals the brute-force
  exact Jaccard join on randomized corpora (the whole point of the
  algorithm — no recall knob, no caps).
- Winnowing honors its coverage guarantee: two documents sharing a run
  of >= n + window - 1 words share at least one selected fingerprint.
- apply_changes implements MERGE semantics: vs a dict-based reference.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pygeoapi_ingestor_spark.operators import dedup, temporal

# tiny vocabulary makes shared shingles/runs likely
WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]


def _text(idxs):
    return " ".join(WORDS[i % len(WORDS)] for i in idxs)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.integers(0, 5), min_size=3, max_size=20),
        min_size=2,
        max_size=8,
    ),
)
def test_ppjoin_equals_bruteforce(spark, docs):
    df = spark.createDataFrame(
        [(i, _text(d)) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    pp = sorted(
        map(
            tuple,
            dedup.ppjoin_pairs(
                df, "doc_id", "text"
            ).select("doc_a", "doc_b", "n_common").collect(),
        )
    )
    brute = sorted(
        map(
            tuple,
            dedup.ngram_jaccard_pairs(
                df, "doc_id", "text", threshold=0.6
            ).select("doc_a", "doc_b", "n_common").collect(),
        )
    )
    assert pp == brute


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    shared=st.lists(st.integers(0, 5), min_size=8, max_size=12),
    pre_a=st.lists(st.integers(0, 5), min_size=0, max_size=6),
    post_b=st.lists(st.integers(0, 5), min_size=0, max_size=6),
)
def test_winnow_shared_run_shares_fingerprint(spark, shared, pre_a, post_b):
    # doc 0 and doc 1 share a run of len(shared) >= 8 = n + window - 1
    df = spark.createDataFrame(
        [(0, _text(pre_a + shared)), (1, _text(shared + post_b))],
        "doc_id long, text string",
    )
    fps = dedup.winnow_fingerprints(
        df, "doc_id", "text"
    ).collect()
    a = {r["gram_hash"] for r in fps if r["doc"] == 0}
    b = {r["gram_hash"] for r in fps if r["doc"] == 1}
    assert a & b, "shared >= n+w-1 word run must share a fingerprint"


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    base=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 100)), min_size=0, max_size=10
    ),
    changes=st.lists(
        st.tuples(
            st.integers(0, 4),
            st.integers(0, 100),
            st.integers(101, 200),
            st.booleans(),
        ),
        min_size=0,
        max_size=10,
        # unique seq per key: duplicate (key, seq) would make the
        # latest-change pick genuinely ambiguous in both impls
        unique_by=lambda t: (t[0], t[2]),
    ),
)
def test_apply_changes_matches_dict_merge(spark, base, changes):
    # base: unique per key (keep max val); changes: (key, val, seq, delete)
    base_rows = {}
    for k, v in base:
        base_rows[k] = max(v, base_rows.get(k, -1))
    bdf = spark.createDataFrame(
        [(k, v) for k, v in base_rows.items()] or [(None, None)],
        "k long, v long",
    ).filter("k is not null")
    cdf = spark.createDataFrame(
        [(k, v, s, "D" if d else "U") for k, v, s, d in changes]
        or [(None, None, None, None)],
        "k long, v long, seq long, op string",
    ).filter("k is not null")

    got = {
        r["k"]: (r["v"], r["src"])
        for r in temporal.apply_changes(
            bdf, cdf, key_cols=["k"], order_cols=["seq", "v"]
        ).collect()
    }

    latest = {}
    for k, v, s, d in changes:
        if k not in latest or (s, v) > (latest[k][1], latest[k][0]):
            latest[k] = (v, s, d)
    expect = {}
    for k, v in base_rows.items():
        expect[k] = (v, "base")
    for k, (v, s, d) in latest.items():
        if d:
            expect.pop(k, None)
        else:
            expect[k] = (v, "change")
    assert got == expect
