"""Independent-reference checks for the round-5 continuation-2 operators
(focal grid stats, Theil-Sen trend, cross-correlation, IDW interpolation,
audience overlap, corpus dup-rate / novelty / containment, random
projection).

The DuckDB hash gate (test_queries_oracle) proves Spark == oracle SQL;
these tests prove both equal a THIRD formulation (numpy / pandas / brute
force), so a shared misconception between the twin implementations can't
slip through.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest

from pygeoapi_ingestor_spark.plans import QUERIES


def _events_pd(spark, sf_dir) -> pd.DataFrame:
    from pygeoapi_ingestor_spark.sources.readers import read_events

    return read_events(spark, sf_dir).toPandas()


def _daily_pd(spark, sf_dir) -> pd.DataFrame:
    ev = _events_pd(spark, sf_dir)[["event_type", "ts", "value"]]
    ev["day"] = ev["ts"].dt.floor("D")
    d = ev.groupby(["event_type", "day"], as_index=False)["value"].sum()
    d["value"] = d["value"].round(2)
    return d


def test_focal_stats_matches_pandas(spark, sf_dir):
    out = {
        (r["ix"], r["iy"]): r
        for r in QUERIES["focal_stats_grid"](spark, sf_dir).collect()
    }
    ev = _events_pd(spark, sf_dir)
    ev["ix"] = (ev["event_id"] % 24).astype(int)
    ev["iy"] = (ev["user_id"] % 16).astype(int)
    cells = ev.groupby(["ix", "iy"]).agg(
        total=("value", "sum"), n=("value", "size"), mx=("value", "max")
    )
    assert set(out) == set(cells.index)
    for (ix, iy), row in out.items():
        tot = n = 0
        mx = -np.inf
        k = 0
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                key = (ix + dx, iy + dy)
                if key in cells.index:
                    c = cells.loc[key]
                    tot += c["total"]
                    n += c["n"]
                    mx = max(mx, c["mx"])
                    k += 1
        assert row["n_neighbors"] == k
        assert row["n_points"] == n
        assert row["focal_mean"] == pytest.approx(tot / n, abs=1e-4)
        assert row["focal_max"] == pytest.approx(mx, abs=1e-6)


def test_theilsen_matches_numpy_median_of_slopes(spark, sf_dir):
    out = {
        r["event_type"]: r for r in QUERIES["theilsen_trend"](spark, sf_dir).collect()
    }
    daily = _daily_pd(spark, sf_dir)
    anchor = pd.Timestamp("2024-01-01")
    for et, grp in daily.groupby("event_type"):
        x = (grp["day"] - anchor).dt.days.to_numpy(dtype=float)
        y = grp["value"].to_numpy(dtype=float)
        slopes = [
            (y[j] - y[i]) / (x[j] - x[i])
            for i in range(len(x))
            for j in range(len(x))
            if x[j] > x[i]
        ]
        slope = float(np.median(slopes))
        intercept = float(np.median(y - slope * x))
        got = out[et]
        assert got["n_pairs"] == len(slopes)
        assert got["n_days"] == len(x)
        assert got["slope"] == pytest.approx(slope, abs=1e-5)
        assert got["intercept"] == pytest.approx(intercept, abs=1e-3)


def test_ccf_matches_numpy_corrcoef(spark, sf_dir):
    out = {
        (r["event_type"], r["k"]): r["ccf"]
        for r in QUERIES["ccf_lags"](spark, sf_dir).collect()
    }
    daily = _daily_pd(spark, sf_dir)
    anchor = pd.Timestamp("2024-01-01")
    daily["x"] = (daily["day"] - anchor).dt.days
    ref = daily[daily["event_type"] == "view"].set_index("x")["value"]
    for (et, k), got in out.items():
        resp = daily[daily["event_type"] == et].set_index("x")["value"]
        xs = [x for x in resp.index if (x - k) in ref.index]
        a = np.array([resp[x] for x in xs])
        b = np.array([ref[x - k] for x in xs])
        assert got == pytest.approx(np.corrcoef(a, b)[0, 1], abs=1e-5)


def test_idw_matches_numpy_weighted_mean(spark, sf_dir):
    rows = QUERIES["idw_interp"](spark, sf_dir).collect()
    assert rows
    ev = _events_pd(spark, sf_dir)
    ev["day"] = ev["ts"].dt.floor("D").dt.date
    ev = ev[ev["day"] < pd.Timestamp("2024-01-03").date()]
    grid = (
        ev.assign(glat=(ev["user_id"] % 10).astype(float),
                  glon=(ev["event_id"] % 10).astype(float),
                  v=ev["value"].round(2))
        .groupby(["day", "glat", "glon"])["v"]
        .mean()
    )
    checked = 0
    for r in rows[:150]:
        sub = grid.loc[r["day"]]
        num = den = 0.0
        exact = None
        n_cells = 0
        for (glat, glon), gval in sub.items():
            d2 = (r["lat"] - glat) ** 2 + (r["lon"] - glon) ** 2
            if d2 <= 4.0:
                n_cells += 1
                if d2 == 0.0:
                    exact = gval
                else:
                    num += gval / d2
                    den += 1.0 / d2
        assert r["n_cells"] == n_cells
        expected = exact if exact is not None else num / den
        assert r["idw_value"] == pytest.approx(expected, abs=1e-4)
        checked += 1
    assert checked > 50


def test_audience_overlap_matches_pandas_sets(spark, sf_dir):
    out = {
        (r["type_a"], r["type_b"]): r
        for r in QUERIES["audience_overlap"](spark, sf_dir).collect()
    }
    ev = _events_pd(spark, sf_dir)
    sets = {t: set(g["user_id"]) for t, g in ev.groupby("event_type")}
    types = sorted(sets)
    for i, ta in enumerate(types):
        for tb in types[i + 1:]:
            inter = len(sets[ta] & sets[tb])
            got = out[(ta, tb)]
            assert got["n_a"] == len(sets[ta])
            assert got["n_b"] == len(sets[tb])
            assert got["n_both"] == inter
            assert got["jaccard"] == pytest.approx(
                inter / len(sets[ta] | sets[tb]), abs=1e-6
            )


def _words(text: str) -> list[str]:
    return [w for w in re.sub(r"[^A-Za-z0-9\s]", " ", text.lower()).split() if w]


def _grams(ws: list[str], n: int = 8) -> set[str]:
    return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}


def _docs_pd(spark, sf_dir) -> pd.DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()


def test_ngram_novelty_matches_python(spark, sf_dir):
    out = {r["doc_id"]: r for r in QUERIES["ngram_novelty"](spark, sf_dir).collect()}
    docs = _docs_pd(spark, sf_dir)
    grams = {d.doc_id: _grams(_words(d.text)) for d in docs.itertuples()}
    first = {}
    for did in sorted(grams):
        for g in grams[did]:
            first.setdefault(g, did)
    for did, gs in grams.items():
        got = out[did]
        assert got["n_grams"] == len(gs)
        novel = sum(1 for g in gs if first[g] == did)
        assert got["n_novel"] == novel
        if gs:
            assert got["novelty"] == pytest.approx(novel / len(gs), abs=1e-6)


def test_containment_pruning_is_lossless_vs_bruteforce(spark, sf_dir):
    got = {
        (r["contained_id"], r["container_id"])
        for r in QUERIES["dedup_containment"](spark, sf_dir).collect()
    }
    docs = _docs_pd(spark, sf_dir)
    corpus = {d.doc_id: _words(d.text) for d in docs.itertuples()}
    for d in docs.itertuples():
        ws = _words(d.text)
        if len(ws) >= 20:
            if d.doc_id % 7 == 0:
                corpus[d.doc_id + 100000] = ws[:20]
    norm = {k: " " + " ".join(v) + " " for k, v in corpus.items()}
    expected = {
        (a, b)
        for a in corpus
        for b in corpus
        if len(corpus[b]) > len(corpus[a]) >= 8 and norm[a] in norm[b]
    }
    assert got == expected
    assert expected  # the snippet construction must populate the relation


def test_rp_reduce_matches_numpy_integer_dots(spark, sf_dir):
    from pygeoapi_ingestor_spark.operators.similarity import md5_plane_weights

    rows = QUERIES["embedding_rp_reduce"](spark, sf_dir).collect()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").toPandas()
    emb = emb.set_index("vec_id")
    w = np.array(md5_plane_weights(64, 8, seed=11))
    for r in rows[:100]:
        v = np.asarray(emb.loc[r["vec_id"], "embedding"], dtype=np.float64)
        mx = np.abs(v).max()
        scale = mx if mx > 0 else 1.0
        # numpy rounds half-to-even while Spark/DuckDB round HALF_UP;
        # replicate HALF_UP explicitly
        q = np.floor(np.abs(v) * 127.0 / scale + 0.5) * np.sign(v)
        q = q.astype(np.int64)
        proj = w.astype(np.int64) @ q
        for p in range(8):
            assert r[f"p{p}"] == proj[p]
        q2 = int((q * q).sum())
        if q2 > 0:
            assert r["jl_ratio"] == pytest.approx(
                float((proj * proj).sum()) / (8.0 * q2), abs=1e-5
            )


def test_dup_rate_consistent_with_exact_dedup(spark, sf_dir):
    out = QUERIES["dup_rate_per_source"](spark, sf_dir).collect()
    docs = _docs_pd(spark, sf_dir)
    docs["fp"] = [
        re.sub(r"[^a-z0-9]", "", t.lower()) for t in docs["text"]
    ]
    sizes = docs.groupby("fp")["doc_id"].transform("size")
    nsrc = docs.groupby("fp")["source"].transform("nunique")
    docs["dup"] = sizes > 1
    docs["cross"] = nsrc > 1
    exp = docs.groupby("source").agg(
        n_docs=("doc_id", "size"), n_dup=("dup", "sum"), n_cross=("cross", "sum")
    )
    for r in out:
        e = exp.loc[r["source"]]
        assert r["n_docs"] == e["n_docs"]
        assert r["n_dup"] == e["n_dup"]
        assert r["n_cross_source"] == e["n_cross"]
        assert r["dup_rate"] == pytest.approx(e["n_dup"] / e["n_docs"], abs=1e-6)


def test_climate_cdd_matches_python_runs(spark, sf_dir):
    out = {r["event_type"]: r for r in QUERIES["climate_cdd"](spark, sf_dir).collect()}
    daily = _daily_pd(spark, sf_dir)
    for et, grp in daily.groupby("event_type"):
        grp = grp.sort_values("day")
        y = grp["value"].to_numpy()
        mean = y.sum() / len(y)
        dry = y < 0.8 * mean
        runs, cur = [], 0
        for flag in dry:
            if flag:
                cur += 1
            elif cur:
                runs.append(cur)
                cur = 0
        if cur:
            runs.append(cur)
        got = out[et]
        assert got["n_days"] == len(y)
        assert got["n_dry_days"] == int(dry.sum())
        assert got["n_spells"] == len(runs)
        assert got["max_spell_days"] == (max(runs) if runs else 0)


def test_return_levels_match_numpy_order_stats(spark, sf_dir):
    rows = QUERIES["return_levels_empirical"](spark, sf_dir).collect()
    daily = _daily_pd(spark, sf_dir)
    for et, grp in daily.groupby("event_type"):
        y = np.sort(grp["value"].to_numpy())[::-1]
        n = len(y)
        for r in [x for x in rows if x["event_type"] == et]:
            assert r["n_days"] == n
            assert r["level"] == pytest.approx(y[r["rank"] - 1], abs=1e-6)
            assert r["return_period_days"] == pytest.approx(
                (n + 1) / r["rank"], abs=1e-3
            )


def test_feature_hash_matches_python_hashing(spark, sf_dir):
    import hashlib

    rows = {r["doc_id"]: r for r in QUERIES["feature_hash_vectors"](spark, sf_dir).collect()}
    docs = _docs_pd(spark, sf_dir)
    for d in docs.itertuples():
        vec = {}
        for w in _words(d.text):
            h = hashlib.md5(w.encode()).hexdigest()
            bucket = int(h[:8], 16) % 16
            s = 1 if int(h[8], 16) % 2 == 1 else -1
            vec[bucket] = vec.get(bucket, 0) + s
        vec = {b: v for b, v in vec.items() if v != 0}
        got = rows[d.doc_id]
        assert got["nnz"] == len(vec)
        assert got["l2sq"] == sum(v * v for v in vec.values())
        parts = sorted(f"{b}:{v}" for b, v in vec.items())
        digest = hashlib.md5(",".join(parts).encode()).hexdigest() if parts else ""
        assert got["vec_digest"] == digest


def test_threshold_crossings_matches_python_latch(spark, sf_dir):
    out = {
        r["event_type"]: r
        for r in QUERIES["threshold_crossings"](spark, sf_dir).collect()
    }
    ev = _events_pd(spark, sf_dir).sort_values(["ts", "event_id"])
    for et, grp in ev.groupby("event_type"):
        state, n_alarms, n_clears, first_ts = 0, 0, 0, None
        last_state = None
        for r in grp.itertuples():
            if r.value >= 175.0:
                if state == 0:
                    n_alarms += 1
                    if first_ts is None:
                        first_ts = r.ts
                state = 1
                last_state = 1
            elif r.value <= 150.0:
                if state == 1:
                    n_clears += 1
                state = 0
                last_state = 0
            # between the bounds: latch holds (no transition) — the
            # hysteresis property this operator exists for
        got = out[et]
        assert got["n_alarms"] == n_alarms
        assert got["n_clears"] == n_clears
        assert got["first_alarm_ts"] == first_ts
        assert got["last_state"] == last_state


def test_qc_flags_match_python(spark, sf_dir):
    out = {
        (r["event_type"], r["day"].date()): r
        for r in QUERIES["qc_flags_station"](spark, sf_dir).collect()
    }
    ev = _events_pd(spark, sf_dir).sort_values(["ts", "event_id"])
    for et, grp in ev.groupby("event_type"):
        vals = grp["value"].round(2).to_list()
        days = grp["ts"].dt.date.to_list()
        per_day = {}
        for i, (v, d) in enumerate(zip(vals, days)):
            rec = per_day.setdefault(d, [0, 0, 0, 0])
            rec[0] += 1
            if i >= 1 and abs(v - vals[i - 1]) > 250.0:
                rec[1] += 1
            if i >= 2 and v == vals[i - 1] == vals[i - 2]:
                rec[2] += 1
            if v > 300.0 or v < 0.1:
                rec[3] += 1
        for d, (n, sp, fl, rg) in per_day.items():
            got = out[(et, d)]
            assert got["n_obs"] == n
            assert got["n_spikes"] == sp
            assert got["n_flatline"] == fl
            assert got["n_range"] == rg


def test_minhash_estimate_error_is_bounded(spark, sf_dir):
    rows = QUERIES["minhash_accuracy_eval"](spark, sf_dir).collect()
    assert rows  # the corpus has near-dup candidates
    for r in rows:
        # exact jaccard recomputable from the integer counts
        exact = r["n_common"] / (r["size_a"] + r["size_b"] - r["n_common"])
        assert r["jaccard"] == pytest.approx(exact, abs=1e-6)
        assert r["abs_err"] == pytest.approx(abs(r["est_jaccard"] - exact), abs=1e-6)
        # 32-hash MinHash: std error ~ sqrt(j(1-j)/32) <= 0.09; allow 4 sigma
        assert r["abs_err"] <= 0.36
    # the corpus' real near-dups sit at high jaccard: estimator must
    # agree closely there (this is the acceptance criterion)
    high = [r for r in rows if r["jaccard"] >= 0.9]
    assert high
    assert max(r["abs_err"] for r in high) <= 0.2


def test_area_weighted_mean_matches_numpy(spark, sf_dir):
    import math

    out = {r["day"]: r for r in QUERIES["area_weighted_mean"](spark, sf_dir).collect()}
    ev = _events_pd(spark, sf_dir)
    ev["day"] = ev["ts"].dt.date
    ev["li"] = (ev["user_id"] % 36).astype(int)
    ev["w"] = [round(math.cos(math.radians((li - 17.5) * 5.0)), 9) for li in ev["li"]]
    ev["v"] = ev["value"].round(2)
    for day, grp in ev.groupby("day"):
        got = out[day]
        assert got["n_obs"] == len(grp)
        assert got["aw_mean"] == pytest.approx(
            (grp["w"] * grp["v"]).sum() / grp["w"].sum(), abs=1e-4
        )
        assert got["plain_mean"] == pytest.approx(grp["v"].mean(), abs=1e-4)
        # the weighting must actually change the answer somewhere
    assert any(
        abs(r["aw_mean"] - r["plain_mean"]) > 1e-6 for r in out.values()
    )


def test_lang_id_confusion_diagonal_dominates(spark, sf_dir):
    rows = QUERIES["lang_id_confusion"](spark, sf_dir).collect()
    by_actual = {}
    for r in rows:
        by_actual.setdefault(r["lang"], []).append(r)
    for lang, cells in by_actual.items():
        assert sum(c["n"] for c in cells) == cells[0]["n_actual"]
        assert abs(sum(c["share"] for c in cells) - 1.0) < 1e-3
    # the synthetic corpus text is English-shaped whatever its label, so
    # the only diagonal with signal is en — the matrix's JOB here is to
    # surface exactly this label/content mismatch
    en = {c["lang_pred"]: c for c in by_actual["en"]}
    assert en["en"]["share"] >= 0.5


def test_user_concentration_matches_numpy_gini(spark, sf_dir):
    out = {
        r["event_type"]: r
        for r in QUERIES["user_concentration"](spark, sf_dir).collect()
    }
    ev = _events_pd(spark, sf_dir)
    for et, grp in ev.groupby("event_type"):
        x = np.sort(grp.groupby("user_id").size().to_numpy())
        n = len(x)
        gini = float(((2 * np.arange(1, n + 1) - n - 1) * x).sum()) / (n * x.sum())
        top = int(np.ceil(n / 10))
        share = x[n - top:].sum() / x.sum()
        got = out[et]
        assert got["n_users"] == n
        assert got["n_events"] == x.sum()
        assert got["gini"] == pytest.approx(gini, abs=1e-5)
        assert got["top_decile_share"] == pytest.approx(share, abs=1e-5)


def test_token_js_divergence_matches_numpy(spark, sf_dir):
    import math
    from collections import Counter

    row = QUERIES["token_js_divergence"](spark, sf_dir).collect()[0]
    docs = _docs_pd(spark, sf_dir)
    ca, cb = Counter(), Counter()
    for d in docs.itertuples():
        (ca if d.doc_id % 2 == 0 else cb).update(_words(d.text))
    vocab = set(ca) | set(cb)
    v, na, nb = len(vocab), sum(ca.values()), sum(cb.values())
    js = 0.0
    for w in vocab:
        p = (ca[w] + 1) / (na + v)
        q = (cb[w] + 1) / (nb + v)
        m = (p + q) / 2
        js += 0.5 * p * math.log(p / m) + 0.5 * q * math.log(q / m)
    assert row["vocab"] == v
    assert row["tokens_a"] == na and row["tokens_b"] == nb
    assert row["js_divergence"] == pytest.approx(js, abs=1e-5)
    assert 0.0 <= row["js_divergence"] <= math.log(2.0)


def test_asof_nearest_matches_pandas_merge_asof(spark, sf_dir):
    out = {r["event_id"]: r for r in QUERIES["asof_join_nearest"](spark, sf_dir).collect()}
    ev = _events_pd(spark, sf_dir)
    purchases = ev[ev.event_type == "purchase"].sort_values("ts")
    clicks = ev[ev.event_type == "click"].sort_values("ts")
    merged = pd.merge_asof(
        purchases[["event_id", "user_id", "ts"]],
        clicks[["user_id", "ts", "value"]].rename(
            columns={"ts": "click_ts", "value": "click_value"}
        ),
        left_on="ts", right_on="click_ts", by="user_id",
        direction="nearest", tolerance=pd.Timedelta(minutes=30),
    )
    n_matched = 0
    for r in merged.itertuples():
        got = out[r.event_id]
        if pd.isna(r.click_ts):
            assert got["click_ts"] is None
        else:
            # distances must agree; the matched row may differ only on
            # exact-distance ties (pandas' tie rule is unspecified)
            assert got["click_ts"] is not None
            d_pd = abs((r.click_ts - r.ts).total_seconds())
            d_us = abs((got["click_ts"] - got["ts"]).total_seconds())
            assert d_us == pytest.approx(d_pd, abs=1e-6)
            n_matched += 1
    assert n_matched > 0


def test_rolling_active_users_matches_pandas(spark, sf_dir):
    out = {r["day"].date(): r for r in QUERIES["rolling_active_users"](spark, sf_dir).collect()}
    ev = _events_pd(spark, sf_dir)
    ev["day"] = ev["ts"].dt.date
    du = ev[["day", "user_id"]].drop_duplicates()
    days = sorted(du["day"].unique())
    for d in days:
        window = du[(du["day"] <= d) & (du["day"] > d - pd.Timedelta(days=7))]
        dau = du[du["day"] == d]["user_id"].nunique()
        wau = window["user_id"].nunique()
        got = out[d]
        assert got["dau"] == dau
        assert got["wau"] == wau
        assert got["stickiness"] == pytest.approx(dau / wau, abs=1e-6)


def test_bm25_matches_python_reference(spark, sf_dir):
    import math
    from collections import Counter

    rows = QUERIES["bm25_topk"](spark, sf_dir).collect()
    assert rows
    docs = _docs_pd(spark, sf_dir)
    terms = ("data", "model", "system", "time")
    k1, b = 1.2, 0.75
    toks = {d.doc_id: _words(d.text) for d in docs.itertuples()}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    df = Counter()
    for did, ws in toks.items():
        for t in set(ws) & set(terms):
            df[t] += 1
    scores = {}
    for did, ws in toks.items():
        c = Counter(w for w in ws if w in terms)
        s = 0.0
        for t, tf in c.items():
            idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            s += idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * len(ws) / avgdl))
        if c:
            scores[did] = (s, len(c))
    expected = sorted(scores.items(), key=lambda kv: (-kv[1][0], kv[0]))[:15]
    assert [r["doc_id"] for r in rows] == [d for d, _ in expected]
    for r, (_, (s, hits)) in zip(rows, expected):
        assert r["score"] == pytest.approx(s, abs=1e-4)
        assert r["n_terms_hit"] == hits


def test_heat_wave_events_match_python_runs(spark, sf_dir):
    from pygeoapi_ingestor_spark.plans.queries_etl import (
        HEAT_MULT_DEN,
        HEAT_MULT_NUM,
    )

    out = {
        r["event_type"]: r
        for r in QUERIES["heat_wave_events"](spark, sf_dir).collect()
    }
    daily = _daily_pd(spark, sf_dir)
    anchor = pd.Timestamp("2024-01-01")
    any_events = False
    for et, grp in daily.groupby("event_type"):
        grp = grp.sort_values("day")
        # exact-integer twin of the decimal cross-multiplication: daily
        # totals are DECIMAL(14,2) -> whole cents, so the hot compare is
        # pure int arithmetic (no float mean anywhere, like the query)
        cents = (grp["value"] * 100).round().astype("int64").to_numpy()
        x = (grp["day"] - anchor).dt.days.to_numpy()
        n = len(cents)
        hot = cents * HEAT_MULT_DEN * n > cents.sum() * HEAT_MULT_NUM
        runs, cur, start = [], 0, None
        prev_x = None
        for xi, flag in zip(x, hot):
            if flag:
                if cur == 0 or (prev_x is not None and xi - prev_x > 1):
                    if cur:
                        runs.append((cur, start))
                    cur, start = 0, xi
                cur += 1
                prev_x = xi
            elif cur:
                runs.append((cur, start))
                cur, prev_x = 0, None
        if cur:
            runs.append((cur, start))
        events = [r for r in runs if r[0] >= 3]
        if not events:
            assert et not in out
            continue
        any_events = True
        got = out[et]
        assert got["n_events"] == len(events)
        assert got["n_event_days"] == sum(r[0] for r in events)
        mx = max(r[0] for r in events)
        assert got["max_event_days"] == mx
        assert got["longest_start_day"] == min(s for l, s in events if l == mx)
    # the r12 vacuity guard: the multiplier is CHOSEN so the positive
    # branch fires on this data — if a data regen makes this empty
    # again, the oracle gate is vacuous and the threshold must move
    assert any_events, "heat_wave_events must produce >=1 event at test SF"


def test_heat_wave_events_constructed_spells(spark, tmp_path):
    """Positive-branch pin on a CONSTRUCTED corpus (reference run-length
    loop semantics, ll_nl_danger_levels.py family): a 3-day spell
    counts, a 2-day spell does not, non-consecutive hot days break the
    run, and equal-length longest events tie to the EARLIEST start."""
    import pandas as _pd

    base = _pd.Timestamp("2024-01-01")
    rows = []
    # type 'a': one qualifying 3-day spell (days 2-4), one 2-day
    # near-miss (days 7-8)
    vals_a = [10, 10, 1000, 1000, 1000, 10, 10, 1000, 1000, 10]
    # type 'b': two equal 3-day spells (days 1-3 and 6-8) -> tie on
    # max_event_days, longest_start_day must be the earliest (1)
    vals_b = [10, 1000, 1000, 1000, 10, 10, 1000, 1000, 1000, 10]
    # type 'c': hot days 2,3 then a gap then 5 -> runs of 2 and 1, no
    # event (non-consecutive days must NOT merge)
    vals_c = [10, 10, 1000, 1000, 10, 1000, 10, 10, 10, 10]
    eid = 0
    for et, vals in (("a", vals_a), ("b", vals_b), ("c", vals_c)):
        for d, v in enumerate(vals):
            rows.append(
                {
                    "event_id": eid,
                    "ts": base + _pd.Timedelta(days=d, hours=12),
                    "user_id": 1,
                    "event_type": et,
                    "value": float(v),
                    "props": "{}",
                }
            )
            eid += 1
    pdf = _pd.DataFrame(rows)
    out_dir = str(tmp_path / "heat")
    import os

    os.makedirs(out_dir, exist_ok=True)
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    tbl = tbl.set_column(
        tbl.schema.get_field_index("ts"),
        "ts",
        tbl.column("ts").cast(pa.timestamp("us")),
    )
    pq.write_table(tbl, f"{out_dir}/events.parquet")

    got = {
        r["event_type"]: r
        for r in QUERIES["heat_wave_events"](spark, out_dir).collect()
    }
    assert set(got) == {"a", "b"}, "2-day and broken runs must not count"
    a = got["a"]
    assert (a["n_events"], a["n_event_days"], a["max_event_days"]) == (1, 3, 3)
    assert a["longest_start_day"] == 2
    b = got["b"]
    assert (b["n_events"], b["n_event_days"], b["max_event_days"]) == (2, 6, 3)
    assert b["longest_start_day"] == 1, "equal-length events tie to earliest"


def test_vocab_coverage_matches_python(spark, sf_dir):
    from collections import Counter

    out = {r["v"]: r for r in QUERIES["vocab_coverage_curve"](spark, sf_dir).collect()}
    docs = _docs_pd(spark, sf_dir)
    c = Counter()
    for d in docs.itertuples():
        c.update(_words(d.text))
    ordered = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(c.values())
    for v in (100, 1000):
        covered = sum(cnt for _, cnt in ordered[:v])
        got = out[v]
        assert got["n_types"] == len(c)
        assert got["total"] == total
        assert got["covered"] == covered
        assert got["coverage"] == pytest.approx(covered / total, abs=1e-6)
    assert out[1000]["coverage"] >= out[100]["coverage"]


def test_double_mass_ratio_matches_pandas_cumsums(spark, sf_dir):
    rows = QUERIES["double_mass_curve"](spark, sf_dir).collect()
    daily = _daily_pd(spark, sf_dir)
    anchor = pd.Timestamp("2024-01-01")
    daily["x"] = (daily["day"] - anchor).dt.days
    ref = daily[daily.event_type == "view"].sort_values("x")
    ref_cum = ref.set_index("x")["value"].cumsum()
    for et, grp in daily[daily.event_type != "view"].groupby("event_type"):
        grp = grp.sort_values("x")
        cum = grp.set_index("x")["value"].cumsum()
        for r in (r for r in rows if r["event_type"] == et):
            x = r["day_index"]
            assert r["cum_series"] == pytest.approx(cum[x], abs=1e-2)
            assert r["cum_ref"] == pytest.approx(ref_cum[x], abs=1e-2)
            assert r["mass_ratio"] == pytest.approx(cum[x] / ref_cum[x], abs=1e-4)


def test_kge_nse_match_numpy(spark, sf_dir):
    out = {r["event_type"]: r for r in QUERIES["kge_nse_scores"](spark, sf_dir).collect()}
    daily = _daily_pd(spark, sf_dir)
    anchor = pd.Timestamp("2024-01-01")
    daily["x"] = (daily["day"] - anchor).dt.days
    obs = daily[daily.event_type == "view"].set_index("x")["value"]
    for et, grp in daily[daily.event_type != "view"].groupby("event_type"):
        sim = grp.set_index("x")["value"]
        xs = sorted(set(sim.index) & set(obs.index))
        s = np.array([sim[x] for x in xs])
        o = np.array([obs[x] for x in xs])
        r = np.corrcoef(s, o)[0, 1]
        alpha = s.std() / o.std()  # population std both sides
        beta = s.sum() / o.sum()
        kge = 1 - np.sqrt((r - 1) ** 2 + (alpha - 1) ** 2 + (beta - 1) ** 2)
        nse = 1 - ((s - o) ** 2).sum() / ((o - o.mean()) ** 2).sum()
        got = out[et]
        assert got["n"] == len(xs)
        assert got["r"] == pytest.approx(r, abs=1e-4)
        assert got["alpha"] == pytest.approx(alpha, abs=1e-4)
        assert got["beta"] == pytest.approx(beta, abs=1e-4)
        assert got["kge"] == pytest.approx(kge, abs=1e-4)
        assert got["nse"] == pytest.approx(nse, abs=1e-4)


def test_triplet_mining_matches_numpy(spark, sf_dir):
    out = {r["anchor_id"]: r for r in QUERIES["triplet_mining"](spark, sf_dir).collect()}
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").toPandas()
    V = {r.vec_id: (np.asarray(r.embedding, dtype=np.float64), r.label)
         for r in emb.itertuples()}
    for aid in range(25):
        av, al = V[aid]
        best_neg, best_pos = None, None
        for cid, (cv, cl) in V.items():
            if cid == aid:
                continue
            cos = float(cv @ av / (np.linalg.norm(cv) * np.linalg.norm(av)))
            if cl != al:
                k = (cos, -cid)
                if best_neg is None or k > best_neg[0]:
                    best_neg = (k, cid, cos)
            else:
                k = (cos, cid)
                if best_pos is None or k < best_pos[0]:
                    best_pos = (k, cid, cos)
        got = out[aid]
        assert got["hardest_neg_id"] == best_neg[1]
        assert got["hardest_neg_cos"] == pytest.approx(best_neg[2], abs=1e-5)
        assert got["easiest_pos_id"] == best_pos[1]
        assert got["easiest_pos_cos"] == pytest.approx(best_pos[2], abs=1e-5)
        assert got["margin"] == pytest.approx(best_pos[2] - best_neg[2], abs=1e-5)


def test_mann_kendall_matches_python(spark, sf_dir):
    out = {r["event_type"]: r for r in QUERIES["mann_kendall"](spark, sf_dir).collect()}
    daily = _daily_pd(spark, sf_dir)
    for et, grp in daily.groupby("event_type"):
        y = (grp.sort_values("day")["value"] * 100).round().astype(int).to_list()
        n = len(y)
        s = sum(
            (y[j] > y[i]) - (y[j] < y[i])
            for i in range(n)
            for j in range(i + 1, n)
        )
        from collections import Counter

        ties = Counter(y)
        tie_term = sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
        var_s = (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0
        z = (s - 1) / var_s ** 0.5 if s > 0 else ((s + 1) / var_s ** 0.5 if s < 0 else 0.0)
        got = out[et]
        assert got["n"] == n
        assert got["s_stat"] == s
        assert got["var_s"] == pytest.approx(var_s, abs=1e-3)
        assert got["z"] == pytest.approx(z, abs=1e-5)
        assert got["trend"] == (
            "increasing" if z > 1.96 else "decreasing" if z < -1.96 else "none"
        )


def test_gumbel_levels_match_numpy_mom(spark, sf_dir):
    import math

    rows = QUERIES["gumbel_return_levels"](spark, sf_dir).collect()
    daily = _daily_pd(spark, sf_dir)
    for et, grp in daily.groupby("event_type"):
        y = grp["value"].to_numpy(dtype=float)
        mean, std = y.mean(), y.std()  # population std
        beta = std * math.sqrt(6) / math.pi
        mu = mean - 0.5772156649015329 * beta
        for r in (r for r in rows if r["event_type"] == et):
            lvl = mu - beta * math.log(-math.log(1 - 1 / r["t"]))
            assert r["mean_daily"] == pytest.approx(mean, abs=1e-3)
            assert r["beta"] == pytest.approx(beta, abs=1e-3)
            assert r["return_level"] == pytest.approx(lvl, abs=1e-2)
        # monotone in T
        levels = [r["return_level"] for r in sorted(
            (r for r in rows if r["event_type"] == et), key=lambda r: r["t"]
        )]
        assert levels == sorted(levels)


def test_dataset_card_matches_python(spark, sf_dir):
    import re as _re

    out = {r["source"]: r for r in QUERIES["dataset_card"](spark, sf_dir).collect()}
    docs = _docs_pd(spark, sf_dir)
    docs["fp"] = [_re.sub(r"[^a-z0-9]", "", t.lower()) for t in docs["text"]]
    sizes = docs.groupby("fp")["doc_id"].transform("size")
    docs["dup"] = sizes > 1
    docs["tok"] = [len(t.split()) for t in docs["text"]]
    en_words = ("the", "and", "is", "of", "to", "in", "that", "it")
    for src, grp in docs.groupby("source"):
        got = out[src]
        assert got["n_docs"] == len(grp)
        assert got["total_tokens"] == grp["tok"].sum()
        assert got["dup_rate"] == pytest.approx(grp["dup"].mean(), abs=1e-6)
        # en_share sanity: at least the docs whose top stopword family is
        # English count; exact parity is pinned by the oracle gate
        assert 0.0 <= got["en_share"] <= 1.0


def test_disaggregation_preserves_mass(spark, sf_dir):
    rows = QUERIES["disaggregate_daily_hourly"](spark, sf_dir).collect()
    daily = _daily_pd(spark, sf_dir)
    back = {}
    shares = {}
    for r in rows:
        key = (r["event_type"], r["day"].date())
        back[key] = back.get(key, 0.0) + r["hourly_value"]
        shares.setdefault(r["event_type"], {})[r["hod"]] = r["share"]
    for d in daily.itertuples():
        key = (d.event_type, d.day.date())
        # Σ over hours recovers the daily total (to rounding of 24 terms)
        assert back[key] == pytest.approx(d.value, abs=24 * 1e-4 + 1e-6)
    for et, sh in shares.items():
        assert len(sh) == 24
        assert sum(sh.values()) == pytest.approx(1.0, abs=1e-4)


def test_periodogram_flags_weekly_cycle(spark, sf_dir):
    import math

    rows = QUERIES["periodogram_coarse"](spark, sf_dir).collect()
    daily = _daily_pd(spark, sf_dir)
    anchor = pd.Timestamp("2024-01-01")
    for r in rows[:6]:
        grp = daily[daily.event_type == r["event_type"]].sort_values("day")
        x = (grp["day"] - anchor).dt.days.to_numpy(dtype=float)
        y = grp["value"].to_numpy(dtype=float)
        yc = y - y.mean()
        ang = 2 * math.pi * x / r["p"]
        power = (yc * np.cos(ang)).sum() ** 2 + (yc * np.sin(ang)).sum() ** 2
        assert r["power"] == pytest.approx(power, rel=1e-3, abs=1e-2)
        tss = (yc ** 2).sum()
        assert r["var_fraction"] == pytest.approx(2 * power / (len(x) * tss), abs=1e-4)
        assert 0.0 <= r["var_fraction"] <= 1.0 + 1e-9


def test_ab_test_matches_python_two_proportion(spark, sf_dir):
    import hashlib
    import math

    row = QUERIES["ab_test_conversion"](spark, sf_dir).collect()[0]
    ev = _events_pd(spark, sf_dir)
    conv = ev.assign(hi=(ev.event_type == "purchase") & (ev.value >= 175.0)) \
             .groupby("user_id")["hi"].any()
    arms = {0: [0, 0], 1: [0, 0]}
    for uid, c in conv.items():
        a = int(hashlib.md5(f"ab:{uid}".encode()).hexdigest()[:8], 16) % 2
        arms[a][0] += 1
        arms[a][1] += int(c)
    na, ca = arms[0]
    nb, cb = arms[1]
    assert (row["n_a"], row["conv_a"], row["n_b"], row["conv_b"]) == (na, ca, nb, cb)
    pool = (ca + cb) / (na + nb)
    se = math.sqrt(pool * (1 - pool) * (1 / na + 1 / nb))
    z = (ca / na - cb / nb) / se
    assert row["z"] == pytest.approx(z, abs=1e-5)
    assert row["significant"] == (abs(z) > 1.96)


def test_survival_table_matches_python_km(spark, sf_dir):
    rows = {r["k"]: r for r in QUERIES["survival_hazard_table"](spark, sf_dir).collect()}
    ev = _events_pd(spark, sf_dir)
    t_end = ev["ts"].max()
    fv = ev[ev.event_type == "view"].groupby("user_id")["ts"].min()
    fp = ev[ev.event_type == "purchase"].groupby("user_id")["ts"].min()
    cohort = []
    for uid, t0 in fv.items():
        tp = fp.get(uid)
        event_day = (
            (tp.normalize() - t0.normalize()).days
            if tp is not None and tp >= t0 else None
        )
        censor_day = (t_end.normalize() - t0.normalize()).days
        cohort.append((event_day, censor_day))
    surv = 1.0
    for k in range(15):
        at_risk = [
            (e, c) for e, c in cohort
            if c >= k and (e is None or e >= k)
        ]
        if not at_risk:
            assert k not in rows
            continue
        events = sum(1 for e, _ in at_risk if e == k)
        got = rows[k]
        assert got["n_at_risk"] == len(at_risk)
        assert got["n_events"] == events
        h = events / len(at_risk)
        assert got["hazard"] == pytest.approx(h, abs=1e-6)
        surv *= (1 - h)
        assert got["km_survival"] == pytest.approx(surv, abs=1e-4)
    # survival is monotone nonincreasing
    ks = sorted(rows)
    kms = [rows[k]["km_survival"] for k in ks]
    assert all(a >= b - 1e-9 for a, b in zip(kms, kms[1:]))


def test_pet_hargreaves_matches_python(spark, sf_dir):
    import math

    from pygeoapi_ingestor_spark.plans.queries_etl import RA_LAT_BANDS

    rows = QUERIES["pet_hargreaves"](spark, sf_dir).collect()
    ra = dict(RA_LAT_BANDS)
    ev = _events_pd(spark, sf_dir)
    ev["li"] = (ev["user_id"] % 36).astype(int)
    ev["day"] = ev["ts"].dt.date
    ev["v"] = ev["value"].round(2)
    grouped = ev.groupby(["li", "day"])["v"].agg(["mean", "max", "min", "size"])
    assert len(rows) == len(grouped)
    for r in rows[:300]:
        g = grouped.loc[(r["li"], r["day"])]
        assert r["n_obs"] == g["size"]
        assert r["t_mean"] == pytest.approx(g["mean"], abs=1e-4)
        pet = (
            0.0023 * ra[r["li"]] * (g["mean"] / 10.0 + 17.8)
            * math.sqrt((g["max"] - g["min"]) / 10.0)
        )
        assert r["pet"] == pytest.approx(pet, abs=1e-3)
        assert ra[r["li"]] > 0 and r["pet"] >= 0


def test_pmi_matches_python(spark, sf_dir):
    import math
    from collections import Counter

    rows = QUERIES["cooccurrence_pmi"](spark, sf_dir).collect()
    assert rows
    docs = _docs_pd(spark, sf_dir)
    uni, pairs = Counter(), Counter()
    n = 0
    for d in docs.itertuples():
        ws = _words(d.text)
        uni.update(ws)
        n += len(ws)
        pairs.update(zip(ws, ws[1:]))
    scored = [
        ((w1, w2), math.log(n * c / (uni[w1] * uni[w2])), c)
        for (w1, w2), c in pairs.items() if c >= 5
    ]
    scored.sort(key=lambda t: (-t[1], t[0]))
    exp = scored[:20]
    assert [(r["w1"], r["w2"]) for r in rows] == [p for p, _, _ in exp]
    for r, (_, pmi, c) in zip(rows, exp):
        assert r["cab"] == c
        assert r["pmi"] == pytest.approx(pmi, abs=1e-5)


def test_wet_day_markov_matches_python(spark, sf_dir):
    out = {r["event_type"]: r for r in QUERIES["wet_day_markov"](spark, sf_dir).collect()}
    daily = _daily_pd(spark, sf_dir)
    ev = _events_pd(spark, sf_dir)
    ev["day"] = ev["ts"].dt.floor("D")
    nobs = ev.groupby(["event_type", "day"]).size()
    for et, grp in daily.groupby("event_type"):
        grp = grp.sort_values("day")
        wet = [
            v > 50.0 * nobs[(et, d)]
            for v, d in zip(grp["value"], grp["day"])
        ]
        days = [(d - pd.Timestamp("2024-01-01")).days for d in grp["day"]]
        from_dry = dry_wet = from_wet = wet_wet = 0
        for i in range(1, len(wet)):
            if days[i] - days[i - 1] != 1:
                continue
            if wet[i - 1]:
                from_wet += 1
                wet_wet += int(wet[i])
            else:
                from_dry += 1
                dry_wet += int(wet[i])
        got = out[et]
        assert got["n_from_dry"] == from_dry and got["n_from_wet"] == from_wet
        if from_dry:
            assert got["p01"] == pytest.approx(dry_wet / from_dry, abs=1e-6)
        if from_wet:
            assert got["p11"] == pytest.approx(wet_wet / from_wet, abs=1e-6)
        assert got["wet_fraction"] == pytest.approx(
            sum(wet) / len(wet), abs=1e-6
        )


def test_knn_outliers_match_unpruned_bruteforce(spark, sf_dir):
    rows = QUERIES["embedding_knn_outliers"](spark, sf_dir).collect()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").toPandas()
    V = np.stack([np.asarray(v, dtype=np.float64) for v in emb["embedding"]])
    ids = emb["vec_id"].to_numpy()
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    sims = Vn @ Vn.T
    np.fill_diagonal(sims, -np.inf)
    dists = 1.0 - sims
    # unpruned ground truth: mean of the 5 smallest distances per vector
    part = np.sort(dists, axis=1)[:, :5]
    gt = dict(zip(ids, part.mean(axis=1)))
    # the RP prefilter (50 candidates of 500) must keep the top outliers'
    # kNN sets intact: reported distances equal the unpruned ones
    for r in rows:
        assert r["knn_dist"] == pytest.approx(gt[r["vec_id"]], abs=1e-4)
    # and the reported set IS the unpruned top-20 (ties broken by id)
    exp_top = sorted(gt.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert {r["vec_id"] for r in rows} == {i for i, _ in exp_top}


def test_pet_deficit_closed_form_matches_recursion(spark, sf_dir):
    """The two-window closed form c_t = S_t − min(0, running_min(S))
    must equal the reference's literal day-by-day recursion
    c_t = max(c_{t-1} + d_t, 0) (ingestor_knmi_evapo.py:319-325) on
    the real chain output, per series, including the init day."""
    from pygeoapi_ingestor_spark.plans.queries_etl import q_pet_deficit_chain

    rows = q_pet_deficit_chain(spark, sf_dir).collect()
    series = {}
    for r in sorted(rows, key=lambda r: (r["event_type"], r["day"])):
        series.setdefault(r["event_type"], []).append(r)
    assert series
    for chain in series.values():
        cum = 0.0
        for r in chain:
            cum = max(cum + r["p_def"], 0.0)
            # p_def is rounded at 6 dp in the output; replaying the
            # recursion on rounded inputs drifts ~1e-6 per step
            assert abs(cum - r["cum_deficit"]) < 1e-4
            cum = r["cum_deficit"]


def test_pet_knmi_floor_and_formula_branches(spark, sf_dir):
    """Both calc_PET branches must be live on the testdata, and every
    positive PET must satisfy the closed formula at its row's Ta/Re."""
    from pygeoapi_ingestor_spark.plans.queries_etl import q_pet_knmi

    rows = q_pet_knmi(spark, sf_dir).collect()
    floored = [r for r in rows if r["pet"] == 0.0]
    positive = [r for r in rows if r["pet"] > 0.0]
    assert floored and positive
    for r in floored:
        assert r["ta"] + 5.0 <= 0.0 or abs(r["ta"] + 5.0) < 1e-9
    for r in positive[:50]:
        lam = 2.501 - 0.002361 * r["ta"]
        expect = (float(r["re"]) / (lam * 1000.0)) * ((r["ta"] + 5.0) / 45.0) * 1000.0
        assert abs(expect - r["pet"]) < 1e-4


def test_arpae_rating_clamps_and_segments(spark):
    """Exact reference semantics of portata_lineare
    (rer_river_discharge_arpae_process.py:444-457): clamped below the
    first stage and above the last, linear inside each segment."""
    from pygeoapi_ingestor_spark.operators.curves import interpolate_points_expr
    from pygeoapi_ingestor_spark.plans.queries_etl import ARPAE_RATING

    H = [p[0] for p in ARPAE_RATING]
    Q = [p[1] for p in ARPAE_RATING]
    probes = [-1.0, 0.0, 0.015, 0.05, 1.33, 2.78, 5.0]
    df = spark.createDataFrame([(h,) for h in probes], "h double")
    got = {
        r["h"]: r["q"]
        for r in df.withColumn(
            "q", interpolate_points_expr(ARPAE_RATING, "h", clamp_edges=True)
        ).collect()
    }

    def portata(h):
        if h <= H[0]:
            return Q[0]
        if h >= H[-1]:
            return Q[-1]
        for i in range(len(H) - 1):
            if H[i] <= h <= H[i + 1]:
                return Q[i] + (Q[i + 1] - Q[i]) * (h - H[i]) / (H[i + 1] - H[i])

    for h in probes:
        assert abs(got[h] - portata(h)) < 1e-12, h
    assert got[-1.0] == Q[0] and got[5.0] == Q[-1]


def test_dedup_keep_best_prefers_quality_then_id(spark, tmp_path):
    """Canonical selection must pick the highest-quality member of each
    duplicate group (normalized-content fingerprint), breaking quality
    ties to the smallest doc_id — dedup_exact's grouping, a different
    ship rule."""
    from pygeoapi_ingestor_spark.plans.queries_llm import q_dedup_keep_best

    docs = [
        # group A: same normalized content, different quality (caps/punct)
        (1, "THE QUICK BROWN FOX!!! JUMPS;;; OVER THE LAZY DOG", "en", "web"),
        (2, "the quick brown fox jumps over the lazy dog", "en", "web"),
        (3, "The quick brown fox, jumps over the lazy dog.", "en", "web"),
        # group B: exact same text -> quality tie -> smallest id wins
        (10, "it is a truth universally acknowledged", "en", "book"),
        (11, "it is a truth universally acknowledged", "en", "book"),
        # singleton
        (20, "completely unrelated text about spark plans", "en", "web"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string, lang string, source string")
    path = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{path}/documents.parquet")
    rows = {r["keep_id"]: r for r in q_dedup_keep_best(spark, path).collect()}
    assert len(rows) == 3
    group_a = [r for r in rows.values() if r["n_members"] == 3]
    assert len(group_a) == 1 and group_a[0]["keep_id"] == 2  # all-lowercase beats caps
    group_b = [r for r in rows.values() if r["n_members"] == 2]
    assert len(group_b) == 1 and group_b[0]["keep_id"] == 10  # tie -> min id
    assert 20 in rows and rows[20]["n_members"] == 1


def test_string_id_codec_reference_parity(spark):
    """The id codec must be byte-identical to the reference's
    string_to_int_id/int_id_to_string (utils.py:41-46)."""
    from pygeoapi_ingestor_spark.functions.ids import (
        int_id_to_string,
        string_to_int_id,
    )

    names = ["", "A", "Po", "Alazani", "Shaqriani-Hydro", "sé"]
    # round trip == reference behavior
    for n in names:
        assert int_id_to_string(string_to_int_id(n)) == n
    assert string_to_int_id("Po") == int.from_bytes(b"Po", "big")


def test_km_survival_reaches_zero_when_hazard_hits_one(spark):
    """The KM fold's absorbing state: at the offset where every at-risk
    user converts (hazard == 1), survival must be exactly 0 from then
    on — not stuck at the previous value via a silently-skipped ln(0)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    table = spark.createDataFrame(
        [(0, 10, 2), (1, 8, 8), (2, 3, 1)],
        "k long, n_at_risk long, n_events long",
    )
    h = F.col("n_events").cast("double") / F.col("n_at_risk")
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    hit_one = F.max((F.col("n_events") == F.col("n_at_risk")).cast("int")).over(w)
    km_raw = F.exp(
        F.sum(
            F.when(
                F.col("n_events") < F.col("n_at_risk"),
                F.round(F.log(1.0 - h), 9).cast("decimal(20,9)"),
            )
        ).over(w).cast("double")
    )
    km = F.when(hit_one == 1, F.lit(0.0)).otherwise(km_raw)
    got = {r["k"]: r["s"] for r in table.select("k", km.alias("s")).collect()}
    assert abs(got[0] - 0.8) < 1e-9
    assert got[1] == 0.0 and got[2] == 0.0
