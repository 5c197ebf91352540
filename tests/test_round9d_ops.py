"""Round-9d operators: ANOVA / BH-FDR, AR(2) Yule-Walker, EWMA.

Each operator is value-oracled end-to-end in test_queries.py; these tests
grade the math against independent scalar references (numpy/pandas) on
planted data, and assert the scale shapes (no SinglePartition on
data-sized frames for the per-key operators).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest


@pytest.fixture(scope="module")
def anova_frame(spark):
    rng = np.random.default_rng(7)
    rows = []
    for gi, (mu, n) in enumerate([(10.0, 400), (10.5, 350), (12.0, 450)]):
        for v in rng.normal(mu, 2.0, n):
            rows.append((f"g{gi}", round(float(v), 2)))
    return spark.createDataFrame(rows, "grp string, x double")


def test_anova_matches_scalar_reference(spark, anova_frame):
    from preprocessor_spark.operators.hypotests import anova_oneway

    out = anova_oneway(anova_frame, "x", "grp").collect()[0]
    pdf = anova_frame.toPandas()
    groups = [g["x"].to_numpy() for _, g in pdf.groupby("grp")]
    n = sum(len(g) for g in groups)
    k = len(groups)
    grand = np.concatenate(groups).mean()
    ssb = sum(len(g) * (g.mean() - grand) ** 2 for g in groups)
    ssw = sum(((g - g.mean()) ** 2).sum() for g in groups)
    f_ref = (ssb / (k - 1)) / (ssw / (n - k))
    assert out["n"] == n and out["k"] == k
    assert out["df_between"] == k - 1 and out["df_within"] == n - k
    assert out["f_stat"] == pytest.approx(f_ref, abs=1e-5)
    assert out["eta_sq"] == pytest.approx(ssb / (ssb + ssw), abs=1e-5)
    # planted separation is real: F must be decisively large
    assert out["f_stat"] > 50


def test_group_ztests_fdr_matches_bh_reference(spark, anova_frame):
    from preprocessor_spark.operators.hypotests import group_ztests_fdr

    rows = group_ztests_fdr(anova_frame, "x", "grp", alpha=0.05).collect()
    pdf = anova_frame.toPandas()
    by = {g: s["x"].to_numpy() for g, s in pdf.groupby("grp")}
    ref = {}
    for g, xs in by.items():
        rest = np.concatenate([v for h, v in by.items() if h != g])
        se = math.sqrt(xs.var(ddof=1) / len(xs) + rest.var(ddof=1) / len(rest))
        z = (xs.mean() - rest.mean()) / se
        ref[g] = z
    k = len(ref)
    for r in rows:
        assert r["z"] == pytest.approx(ref[r["group"]], abs=5e-6)
    # BH adjust reference over the operator's own (rounded) p-values
    ps = sorted((r["p_value"], r["group"]) for r in rows)
    adj_ref = {}
    running = 1.0
    for i in range(k - 1, -1, -1):
        running = min(running, ps[i][0] * k / (i + 1))
        adj_ref[ps[i][1]] = running
    for r in rows:
        assert r["p_adj"] == pytest.approx(adj_ref[r["group"]], abs=1e-9)
        assert r["reject"] == (adj_ref[r["group"]] <= 0.05)
    # the two planted-separated groups must reject; g0 vs g1 is a 0.5-sigma
    # gap over ~750 samples and also separates decisively
    assert all(r["reject"] for r in rows)


@pytest.fixture(scope="module")
def ar2_series(spark):
    rng = np.random.default_rng(11)
    rows = []
    for key, (p1, p2) in [("a", (0.6, -0.3)), ("b", (0.2, 0.5)), ("c", (0.0, 0.0))]:
        x = [0.0, 0.0]
        for _ in range(300):
            x.append(p1 * x[-1] + p2 * x[-2] + rng.normal(0, 1))
        for i, v in enumerate(x[2:]):
            rows.append((key, i, round(50 + v, 2)))
    return spark.createDataFrame(rows, "key string, pos int, x double")


def _yw_reference(xs):
    n = len(xs)
    m = xs.mean()
    c = [((xs[k:] - m) * (xs[: n - k] - m)).sum() / n for k in range(3)]
    r1, r2 = c[1] / c[0], c[2] / c[0]
    phi1 = r1 * (1 - r2) / (1 - r1 * r1)
    phi2 = (r2 - r1 * r1) / (1 - r1 * r1)
    fc = m + phi1 * (xs[-1] - m) + phi2 * (xs[-2] - m)
    return r1, r2, phi1, phi2, fc


def test_ar2_matches_numpy_yule_walker(spark, ar2_series):
    from preprocessor_spark.operators.ar import ar2_yule_walker

    out = {r["key"]: r for r in ar2_yule_walker(ar2_series, "key", "pos", "x").collect()}
    pdf = ar2_series.toPandas()
    for key, sub in pdf.groupby("key"):
        xs = sub.sort_values("pos")["x"].to_numpy()
        r1, r2, phi1, phi2, fc = _yw_reference(xs)
        row = out[key]
        assert row["n"] == len(xs)
        assert row["mean"] == pytest.approx(xs.mean(), abs=1e-4)
        assert row["r1"] == pytest.approx(r1, abs=1e-6)
        assert row["r2"] == pytest.approx(r2, abs=1e-6)
        assert row["phi1"] == pytest.approx(phi1, abs=1e-6)
        assert row["phi2"] == pytest.approx(phi2, abs=1e-6)
        assert row["forecast"] == pytest.approx(fc, abs=1e-4)
    # planted dynamics recovered (YW is consistent; 300 obs ≈ ±0.1)
    assert abs(out["a"]["phi1"] - 0.6) < 0.15 and abs(out["a"]["phi2"] + 0.3) < 0.15
    assert abs(out["b"]["phi2"] - 0.5) < 0.15


def test_ar2_short_and_constant_series_are_null(spark):
    from preprocessor_spark.operators.ar import ar2_yule_walker

    df = spark.createDataFrame(
        [("s", i, 1.0 + i) for i in range(3)] + [("c", i, 5.0) for i in range(10)],
        "key string, pos int, x double",
    )
    out = {r["key"]: r for r in ar2_yule_walker(df, "key", "pos", "x").collect()}
    assert out["s"]["phi1"] is None  # too short
    assert out["c"]["phi1"] is None  # zero variance


def test_ewma_matches_pandas_recursion(spark, ar2_series):
    from preprocessor_spark.operators.ar import ewma_last

    out = {r["key"]: r for r in
           ewma_last(ar2_series, "key", "pos", "x", alpha=0.3, last_k=50).collect()}
    pdf = ar2_series.toPandas()
    for key, sub in pdf.groupby("key"):
        xs = sub.sort_values("pos")["x"].to_numpy()[-50:]
        ref = pd.Series(xs).ewm(alpha=0.3, adjust=False).mean().iloc[-1]
        row = out[key]
        assert row["n_used"] == 50
        assert row["last_value"] == pytest.approx(xs[-1])
        assert row["ewma"] == pytest.approx(ref, abs=1e-6)


def test_ewma_short_series_seeds_with_first(spark):
    from preprocessor_spark.operators.ar import ewma_last

    df = spark.createDataFrame([("k", 0, 10.0)], "key string, pos int, x double")
    row = ewma_last(df, "key", "pos", "x", alpha=0.3).collect()[0]
    assert row["ewma"] == 10.0 and row["n_used"] == 1


def test_ar_operators_have_no_single_partition_exchange(spark, ar2_series):
    from preprocessor_spark.operators.ar import ar2_yule_walker, ewma_last

    for df in (
        ar2_yule_walker(ar2_series, "key", "pos", "x"),
        ewma_last(ar2_series, "key", "pos", "x"),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange SinglePartition" not in plan, plan


def _peel_reference(edges, k):
    """Scalar k-core peel: dict-based Batagelj-Zaversnik."""
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if len(adj[n]) < k:
                for m in adj[n]:
                    adj[m].discard(n)
                del adj[n]
                changed = True
    return {n: len(ns) for n, ns in adj.items() if ns}


def test_k_core_matches_scalar_peel(spark):
    from preprocessor_spark.operators.graph import k_core

    rng = np.random.default_rng(3)
    nodes = [f"n{i}" for i in range(60)]
    edges = set()
    # a planted 8-clique (survives k=5) + sparse random noise (peels away)
    for i in range(8):
        for j in range(i + 1, 8):
            edges.add((nodes[i], nodes[j]))
    for _ in range(80):
        a, b = rng.choice(60, 2, replace=False)
        edges.add((nodes[a], nodes[b]))
    df = spark.createDataFrame(sorted(edges), "src string, dst string")
    got = {r["node"]: r["degree"] for r in k_core(df, k=5).collect()}
    ref = _peel_reference(edges, 5)
    assert got == ref
    assert all(nodes[i] in got for i in range(8))  # the clique survives


def test_k_core_empty_when_k_exceeds_graph(spark):
    from preprocessor_spark.operators.graph import k_core

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    assert k_core(df, k=3).count() == 0  # triangle is a 2-core, not 3


def test_link_prediction_matches_scalar_reference(spark):
    from preprocessor_spark.operators.graph import link_prediction_scores
    from collections import defaultdict
    from itertools import combinations

    rng = np.random.default_rng(5)
    edges = set()
    for _ in range(120):
        a, b = rng.choice(25, 2, replace=False)
        edges.add((f"n{a:02d}", f"n{b:02d}"))
    edges = {(min(a, b), max(a, b)) for a, b in edges}
    df = spark.createDataFrame(sorted(edges), "src string, dst string")
    got = link_prediction_scores(df, top_k=1000).collect()

    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    ref = {}
    for a, b in combinations(sorted(adj), 2):
        if b in adj[a]:
            continue
        common = adj[a] & adj[b]
        if not common:
            continue
        cn = len(common)
        jac = cn / (len(adj[a]) + len(adj[b]) - cn)
        aa = sum(1.0 / math.log(len(adj[w])) for w in common)
        ref[(a, b)] = (cn, jac, aa)
    assert len(got) == len(ref)
    for r in got:
        cn, jac, aa = ref[(r["a"], r["b"])]
        assert r["cn"] == cn
        assert r["jaccard"] == pytest.approx(jac, abs=1e-6)
        assert r["adamic_adar"] == pytest.approx(aa, abs=1e-6)


def test_link_prediction_wedge_join_is_not_cartesian(spark):
    from preprocessor_spark.operators.graph import link_prediction_scores

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    plan = (
        link_prediction_scores(df, top_k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decision_stump_matches_exhaustive_search(spark):
    from preprocessor_spark.operators.cart import decision_stump

    rng = np.random.default_rng(9)
    xs = rng.integers(0, 20, 800).astype(float)
    # planted signal: P(label) jumps at x > 12
    labels = (rng.random(800) < np.where(xs > 12, 0.8, 0.2)).astype(int)
    df = spark.createDataFrame(
        [(float(x), int(y)) for x, y in zip(xs, labels)], "x double, y int"
    )
    row = decision_stump(df, "x", "y").collect()[0]

    best = None
    n, p = len(xs), labels.sum()
    for v in sorted(set(xs))[:-1]:
        m = xs <= v
        nl, pl = int(m.sum()), int(labels[m].sum())
        nr, pr = n - nl, p - pl
        wl = nl - (pl**2 + (nl - pl) ** 2) / nl
        wr = nr - (pr**2 + (nr - pr) ** 2) / nr
        imp = (wl + wr) / n
        if best is None or imp < best[0]:
            best = (imp, v, nl, pl)
    assert row["threshold"] == best[1] == 12.0
    assert row["n_left"] == best[2] and row["pos_left"] == best[3]
    assert row["gini_split"] == pytest.approx(best[0], abs=1e-6)
    g_root = 1 - (p / n) ** 2 - ((n - p) / n) ** 2
    assert row["gini_root"] == pytest.approx(g_root, abs=1e-6)
    assert row["gain"] == pytest.approx(g_root - best[0], abs=1e-6)


def test_decision_stump_has_no_single_partition_exchange(spark):
    from preprocessor_spark.operators.cart import decision_stump

    df = spark.createDataFrame(
        [(float(i % 7), i % 2) for i in range(50)], "x double, y int"
    )
    plan = decision_stump(df, "x", "y")._jdf.queryExecution().executedPlan().toString()
    # the only single-partition stage is the final 1-row argmin aggregate;
    # the distinct-value cumulative must ride the range partitioning
    assert "rangepartitioning" in plan.lower(), plan


def test_conformal_intervals_coverage_and_reference(spark):
    from preprocessor_spark.operators.conformal import conformal_group_intervals

    rng = np.random.default_rng(13)
    rows = []
    for gi, (mu, sd) in enumerate([(100.0, 5.0), (50.0, 1.0)]):
        for i in range(3000):
            rows.append((f"g{gi}", gi * 3000 + i, round(float(rng.normal(mu, sd)), 2)))
    df = spark.createDataFrame(rows, "grp string, id long, y double")
    out = {r["group"]: r for r in
           conformal_group_intervals(df, "grp", "y", "id", alpha=0.1).collect()}
    pdf = df.toPandas()
    import hashlib

    def bucket(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16) % 10000

    pdf["is_train"] = pdf["id"].map(bucket) < 5000
    for g, sub in pdf.groupby("grp"):
        tr, ca = sub[sub.is_train], sub[~sub.is_train]
        pred = tr["y"].mean()
        resid = np.sort(np.abs(ca["y"].to_numpy() - pred))
        k = math.ceil((len(ca) + 1) * 0.9)
        row = out[g]
        assert row["n_train"] == len(tr) and row["n_cal"] == len(ca)
        assert row["prediction"] == pytest.approx(pred, abs=1e-4)
        assert row["qhat"] == pytest.approx(resid[k - 1], abs=1e-6)
        # distribution-free guarantee: empirical calibration coverage >= 1-alpha
        cover = ((ca["y"] >= row["lo"]) & (ca["y"] <= row["hi"])).mean()
        assert cover >= 0.9
    # tighter group gets the tighter interval
    assert (out["g1"]["hi"] - out["g1"]["lo"]) < (out["g0"]["hi"] - out["g0"]["lo"])


def test_conformal_small_calibration_reports_null(spark):
    from preprocessor_spark.operators.conformal import conformal_group_intervals

    df = spark.createDataFrame(
        [("g", i, 10.0 + i) for i in range(6)], "grp string, id long, y double"
    )
    rows = conformal_group_intervals(df, "grp", "y", "id", alpha=0.05).collect()
    # ceil((n_cal+1)*0.95) > n_cal for tiny calibration splits -> NULL qhat
    assert all(r["qhat"] is None and r["lo"] is None for r in rows)


@pytest.fixture(scope="module")
def attribution_events(spark):
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0

    def ev(user, minutes, etype, value=0.0):
        nonlocal eid
        rows.append((user, t0 + timedelta(minutes=minutes), etype, eid, value))
        eid += 1

    # u1: view, click, purchase (both in window)
    ev("u1", 0, "view"); ev("u1", 30, "click"); ev("u1", 60, "purchase", 100.0)
    # u2: touch outside the 24h window, then purchase -> unattributed
    ev("u2", 0, "view"); ev("u2", 60 * 30, "purchase", 50.0)
    # u3: signup only, two purchases sharing the touch
    ev("u3", 0, "signup"); ev("u3", 10, "purchase", 10.0); ev("u3", 20, "purchase", 20.0)
    # u4: tie on ts broken by event_id (click later id wins last-touch)
    rows.append(("u4", t0, "view", 100, 0.0))
    rows.append(("u4", t0, "click", 101, 0.0))
    rows.append(("u4", t0 + timedelta(minutes=5), "purchase", 102, 40.0))
    return spark.createDataFrame(
        rows, "user_id string, ts timestamp, event_type string, event_id long, value double"
    )


def _attr(spark, df, model):
    from preprocessor_spark.operators.attribution import attribute_conversions

    out = attribute_conversions(
        df, "user_id", "ts", "event_type", "event_id", "value",
        conversion_type="purchase", touch_types=["view", "click", "signup"],
        lookback_hours=24, model=model,
    ).collect()
    return {r["channel"]: r for r in out}


def test_attribution_last_touch_scalar(spark, attribution_events):
    got = _attr(spark, attribution_events, "last")
    # u1 -> click (latest), u3 -> signup x2, u4 -> click (tie: higher id)
    assert got["click"]["conversions"] == 2.0 and got["click"]["attributed_value"] == 140.0
    assert got["signup"]["conversions"] == 2.0 and got["signup"]["attributed_value"] == 30.0
    assert got["(unattributed)"]["conversions"] == 1.0
    assert got["(unattributed)"]["attributed_value"] == 50.0
    assert "view" not in got


def test_attribution_first_touch_scalar(spark, attribution_events):
    got = _attr(spark, attribution_events, "first")
    # u1 -> view, u3 -> signup x2, u4 -> view (tie: lower id)
    assert got["view"]["conversions"] == 2.0
    assert got["view"]["attributed_value"] == 140.0
    assert got["signup"]["conversions"] == 2.0


def test_attribution_linear_conserves_credit(spark, attribution_events):
    got = _attr(spark, attribution_events, "linear")
    # u1 splits 1/2 view 1/2 click; u4 splits 1/2 1/2; u3 full to signup
    assert got["view"]["conversions"] == 1.0  # 0.5 + 0.5
    assert got["click"]["conversions"] == 1.0
    assert got["signup"]["conversions"] == 2.0
    assert got["view"]["attributed_value"] == pytest.approx(70.0)  # 50 + 20
    total_purchases = attribution_events.filter("event_type = 'purchase'").count()
    assert sum(r["conversions"] for r in got.values()) == pytest.approx(total_purchases)
    total_value = 100.0 + 50.0 + 10.0 + 20.0 + 40.0
    assert sum(r["attributed_value"] for r in got.values()) == pytest.approx(total_value)


def test_attribution_rejects_unknown_model(spark, attribution_events):
    from preprocessor_spark.operators.attribution import attribute_conversions

    with pytest.raises(ValueError, match="unknown attribution model"):
        attribute_conversions(
            attribution_events, "user_id", "ts", "event_type", "event_id",
            "value", "purchase", ["view"], model="u_shaped",
        )


def test_weighted_sssp_matches_bellman_ford(spark):
    from preprocessor_spark.operators.graph import shortest_paths_weighted

    rng = np.random.default_rng(21)
    edges = []
    for _ in range(60):
        a, b = rng.choice(15, 2, replace=False)
        edges.append((f"n{a}", f"n{b}", float(rng.integers(1, 10))))
    e = spark.createDataFrame(edges, "src string, dst string, weight double")
    seeds = spark.createDataFrame([("n0",), ("n1",)], "node string")
    rounds = 4
    got = {r["node"]: float(r["cost"]) for r in
           shortest_paths_weighted(e, seeds, max_rounds=rounds).collect()}

    # scalar Bellman-Ford limited to the same relaxation rounds, on the
    # min-deduped edge list the operator uses
    best = {}
    for a, b, w in edges:
        best[(a, b)] = min(best.get((a, b), float("inf")), w)
    dist = {"n0": 0.0, "n1": 0.0}
    for _ in range(rounds):
        new = dict(dist)
        for (a, b), w in best.items():
            if a in dist and dist[a] + w < new.get(b, float("inf")):
                new[b] = dist[a] + w
        dist = new
    assert got == dist


def test_weighted_sssp_rejects_negative_weights(spark):
    from preprocessor_spark.operators.graph import shortest_paths_weighted

    e = spark.createDataFrame([("a", "b", -1.0)], "src string, dst string, weight double")
    seeds = spark.createDataFrame([("a",)], "node string")
    with pytest.raises(ValueError, match="negative-weight"):
        shortest_paths_weighted(e, seeds)


def _hw_reference(vals, m, a, b, g, h):
    """Scalar additive Holt-Winters with the operator's documented init."""
    lvl = float(np.mean(vals[:m]))
    tr = float((np.mean(vals[m:2 * m]) - np.mean(vals[:m])) / m)
    seas = [float(v - lvl) for v in vals[:m]]
    sse = cnt = 0
    for t in range(m, len(vals)):
        s_lag = seas[t - m]
        err = vals[t] - (lvl + tr + s_lag)
        sse += err * err
        cnt += 1
        new_lvl = a * (vals[t] - s_lag) + (1 - a) * (lvl + tr)
        tr = b * (new_lvl - lvl) + (1 - b) * tr
        lvl = new_lvl
        seas.append(g * (vals[t] - lvl) + (1 - g) * s_lag)
    last = seas[-m:]
    fc = [lvl + (i + 1) * tr + last[i % m] for i in range(h)]
    return lvl, tr, last, (sse / cnt) ** 0.5, fc


def test_holt_winters_recovers_planted_signal(spark):
    from preprocessor_spark.operators.holt import holt_winters_forecast

    m = 4
    profile = [5.0, -2.0, -4.0, 1.0]
    rows = []
    for t in range(48):
        rows.append(("u", t, 100.0 + 0.5 * t + profile[t % m]))
    df = spark.createDataFrame(rows, "key string, pos int, x double")
    row = holt_winters_forecast(df, "key", "pos", "x", season=m,
                                alpha=0.4, beta=0.2, gamma=0.3, horizon=m).collect()[0]
    # a noiseless additive signal is fit near-exactly: forecasts continue it
    for i, f in enumerate(row["forecast"]):
        t = 48 + i
        truth = 100.0 + 0.5 * t + profile[t % m]
        assert abs(f - truth) < 0.2, (i, f, truth)
    # in-sample RMSE includes the init transient (level biased by the
    # within-season trend); the converged forecasts above are the signal
    assert row["rmse"] < 0.6
    # and the scalar reference is matched exactly
    vals = np.array([r[2] for r in rows])
    lvl, tr, last, rmse, fc = _hw_reference(vals, m, 0.4, 0.2, 0.3, m)
    assert row["level"] == pytest.approx(lvl, abs=1e-6)
    assert row["trend"] == pytest.approx(tr, abs=1e-6)
    assert row["rmse"] == pytest.approx(rmse, abs=1e-6)
    assert list(row["forecast"]) == pytest.approx(fc, abs=1e-6)


def test_holt_winters_gamma_zero_freezes_seasonals(spark):
    from preprocessor_spark.operators.holt import holt_winters_forecast

    m = 3
    rows = [("u", t, 10.0 + [1.0, -1.0, 0.0][t % m]) for t in range(12)]
    df = spark.createDataFrame(rows, "key string, pos int, x double")
    row = holt_winters_forecast(df, "key", "pos", "x", season=m,
                                gamma=0.0).collect()[0]
    # gamma=0: seasonal state stays the init profile s_i = y_i - l_m
    init_lvl = np.mean([10.0 + [1.0, -1.0, 0.0][t % m] for t in range(m)])
    expect = [10.0 + [1.0, -1.0, 0.0][i] - init_lvl for i in range(m)]
    # ring order: last m seasonals correspond to positions n-m..n-1
    got = list(row["seasonal"])
    assert got == pytest.approx([expect[(12 - m + i) % m] for i in range(m)], abs=1e-9)


def test_holt_winters_short_series_dropped_and_validation(spark):
    from preprocessor_spark.operators.holt import holt_winters_forecast

    df = spark.createDataFrame([("u", t, 1.0) for t in range(7)],
                               "key string, pos int, x double")
    assert holt_winters_forecast(df, "key", "pos", "x", season=4).count() == 0
    with pytest.raises(ValueError, match="alpha"):
        holt_winters_forecast(df, "key", "pos", "x", season=2, alpha=0.0)
    with pytest.raises(ValueError, match="season"):
        holt_winters_forecast(df, "key", "pos", "x", season=0)


def test_kfold_cv_matches_numpy_per_fold_ols(spark):
    from preprocessor_spark.operators.crossval import kfold_cv_ols2
    import hashlib

    rng = np.random.default_rng(17)
    n = 2000
    x1 = rng.uniform(0, 10, n)
    x2 = rng.uniform(-5, 5, n)
    y = 3.0 + 2.0 * x1 - 1.5 * x2 + rng.normal(0, 1, n)
    rows = [(int(i), round(float(a), 2), round(float(b), 2), round(float(c), 2))
            for i, (a, b, c) in enumerate(zip(x1, x2, y))]
    df = spark.createDataFrame(rows, "rid long, x1 double, x2 double, y double")
    out = {r["fold"]: r for r in kfold_cv_ols2(df, "x1", "x2", "y", "rid", k=4).collect()}

    def fold_of(rid):
        return int(hashlib.md5(str(rid).encode()).hexdigest()[:8], 16) % 10000 % 4

    data = np.array([(fold_of(r[0]), r[1], r[2], r[3]) for r in rows])
    for f in range(4):
        tr = data[data[:, 0] != f]
        te = data[data[:, 0] == f]
        X = np.column_stack([np.ones(len(tr)), tr[:, 1], tr[:, 2]])
        theta = np.linalg.solve(X.T @ X, X.T @ tr[:, 3])
        row = out[f]
        assert row["n_train"] == len(tr) and row["n_test"] == len(te)
        assert row["theta0"] == pytest.approx(theta[0], abs=1e-4)
        assert row["theta1"] == pytest.approx(theta[1], abs=1e-4)
        assert row["theta2"] == pytest.approx(theta[2], abs=1e-4)
        pred = theta[0] + theta[1] * te[:, 1] + theta[2] * te[:, 2]
        rmse = float(np.sqrt(np.mean((te[:, 3] - pred) ** 2)))
        assert row["rmse_test"] == pytest.approx(rmse, abs=1e-4)
        # a genuinely linear signal: held-out R^2 near 1 on every fold
        assert row["r2_test"] > 0.95


def test_kfold_cv_validation(spark):
    from preprocessor_spark.operators.crossval import kfold_cv_ols2

    df = spark.createDataFrame([(1, 1.0, 1.0, 1.0)], "rid long, x1 double, x2 double, y double")
    with pytest.raises(ValueError, match="k must be"):
        kfold_cv_ols2(df, "x1", "x2", "y", "rid", k=1)


def test_nelson_aalen_matches_scalar_reference(spark):
    from preprocessor_spark.operators.survival import nelson_aalen

    rng = np.random.default_rng(23)
    subjects = [(int(rng.integers(1, 15)), int(rng.random() < 0.7)) for _ in range(400)]
    df = spark.createDataFrame(subjects, "dur int, ev int")
    got = {r["duration"]: r for r in nelson_aalen(df, "dur", "ev").collect()}

    from collections import Counter

    ev = Counter(d for d, e in subjects if e)
    cs = Counter(d for d, e in subjects if not e)
    at_risk = len(subjects)
    H = 0.0
    for d in sorted(set(list(ev) + list(cs))):
        H += ev[d] / at_risk
        row = got[d]
        assert row["n_at_risk"] == at_risk
        assert row["events"] == ev[d] and row["censored"] == cs[d]
        assert row["cum_hazard"] == pytest.approx(H, abs=1e-6)
        assert row["survival_fh"] == pytest.approx(math.exp(-H), abs=1e-6)
        at_risk -= ev[d] + cs[d]
    # H is monotone and exp(-H) >= KM survival pointwise (standard bound)
    from preprocessor_spark.operators.survival import kaplan_meier

    km = {r["duration"]: r["survival"] for r in kaplan_meier(df, "dur", "ev").collect()}
    for d, r in got.items():
        assert r["survival_fh"] >= km[d] - 1e-9


def test_rfm_matches_pandas_reference(spark):
    from preprocessor_spark.operators.rfm import rfm_segments
    import pandas as pd

    rng = np.random.default_rng(29)
    rows = []
    t0 = pd.Timestamp("2024-01-01")
    for cust in range(300):
        for _ in range(int(rng.integers(1, 12))):
            ts = (t0 + pd.Timedelta(days=int(rng.integers(0, 365)))).to_pydatetime()
            rows.append((cust, ts, round(float(rng.uniform(10, 500)), 2)))
    df = spark.createDataFrame(rows, "cust long, ts timestamp, val double")
    got = rfm_segments(df, "cust", "ts", "val", n_bins=5).toPandas()

    pdf = pd.DataFrame(rows, columns=["cust", "ts", "val"])
    per = pdf.groupby("cust").agg(last=("ts", "max"), freq=("ts", "count"),
                                  mon=("val", "sum"))
    as_of = per["last"].max()
    per["rec"] = (as_of.normalize() - per["last"].dt.normalize()).dt.days.astype(float)
    ref_rows = {}
    thr = {m: np.quantile(per[m].to_numpy(), [0.2, 0.4, 0.6, 0.8],
                          method="linear") for m in ("rec", "freq", "mon")}

    def score(v, m):
        return 1 + int(sum(v > t for t in thr[m]))

    per["r"] = per["rec"].map(lambda v: 6 - score(v, "rec"))
    per["f"] = per["freq"].map(lambda v: score(v, "freq"))
    per["m"] = per["mon"].map(lambda v: score(v, "mon"))
    ref = per.groupby(["r", "f", "m"]).agg(customers=("mon", "count"),
                                           total=("mon", "sum")).reset_index()
    assert len(got) == len(ref)
    gd = {(r.r_score, r.f_score, r.m_score): r for r in got.itertuples()}
    for r in ref.itertuples():
        g = gd[(r.r, r.f, r.m)]
        assert g.customers == r.customers
        assert g.total_monetary == pytest.approx(r.total, abs=1e-2)
        assert g.avg_monetary == pytest.approx(r.total / r.customers, abs=1e-2)
    # conservation: segment customer counts sum to the customer count
    assert got["customers"].sum() == 300


def test_bootstrap_ci_covers_planted_mean_and_is_deterministic(spark):
    from preprocessor_spark.operators.bootstrap import bootstrap_mean_ci

    rng = np.random.default_rng(41)
    rows = []
    for gi, mu in enumerate([100.0, 50.0]):
        for i in range(4000):
            rows.append((f"g{gi}", gi * 10000 + i, round(float(rng.normal(mu, 10.0)), 2)))
    df = spark.createDataFrame(rows, "grp string, id long, x double")
    out1 = {r["group"]: r for r in
            bootstrap_mean_ci(df, "grp", "x", "id", replicates=64).collect()}
    out2 = {r["group"]: r for r in
            bootstrap_mean_ci(df, "grp", "x", "id", replicates=64).collect()}
    assert out1 == out2  # fully derandomized
    for gi, mu in enumerate([100.0, 50.0]):
        r = out1[f"g{gi}"]
        assert r["n"] == 4000
        # CI brackets the sample mean and (with sd=10, n=4000 -> se~0.16)
        # the planted mean
        assert r["ci_lo"] < r["mean"] < r["ci_hi"]
        assert r["ci_lo"] < mu < r["ci_hi"] or abs(r["mean"] - mu) < 0.8
        # bootstrap se close to the analytic se
        assert r["se_boot"] == pytest.approx(10.0 / math.sqrt(4000), rel=0.5)
        assert (r["ci_hi"] - r["ci_lo"]) < 1.5


def test_bootstrap_poisson_ladder_mean_is_one(spark):
    from preprocessor_spark.operators.bootstrap import POISSON_T, poisson_weight_expr

    # ladder sanity: E[w] over the 65536 buckets ~= 1 (Poisson(1) mean,
    # truncated at 5)
    probs = np.diff([0] + POISSON_T + [65536]) / 65536
    assert sum(p * k for k, p in enumerate(probs)) == pytest.approx(1.0, abs=2e-3)
    from pyspark.sql import functions as F

    spark_df = spark.range(0, 65536).select(
        poisson_weight_expr(F.col("id").cast("int")).alias("w")
    )
    mean_w = spark_df.agg(F.avg("w")).collect()[0][0]
    assert mean_w == pytest.approx(1.0, abs=2e-3)


def test_bootstrap_validation(spark):
    from preprocessor_spark.operators.bootstrap import bootstrap_mean_ci

    df = spark.createDataFrame([("g", 1, 1.0)], "grp string, id long, x double")
    with pytest.raises(ValueError, match="multiple of 8"):
        bootstrap_mean_ci(df, "grp", "x", "id", replicates=10)


def test_quantile_fit_recovers_planted_quantiles(spark):
    from preprocessor_spark.operators.quantreg import quantile_fit

    rng = np.random.default_rng(43)
    n = 4000
    x = rng.uniform(0, 10, n)
    # heteroscedastic: y = 2 + 3x + (1+0.5x)*eps, eps ~ N(0,1)
    y = 2.0 + 3.0 * x + (1.0 + 0.5 * x) * rng.normal(0, 1, n)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double"
    )
    fits = {}
    for tau in (0.1, 0.5, 0.9):
        fits[tau] = quantile_fit(df, ["x"], "y", tau=tau, max_iter=60, tol=1e-9)
    # quantile property: ~tau of residuals below the line
    for tau, fit in fits.items():
        assert abs(fit["frac_below"] - tau) < 0.03, (tau, fit["frac_below"])
    # tau ordering: higher quantile -> higher line (both intercept-ish and
    # slope, since noise scale grows with x)
    assert fits[0.1]["coef"][0] < fits[0.5]["coef"][0] < fits[0.9]["coef"][0]
    # true conditional quantile slope = 3 + 0.5*z_tau
    from math import sqrt

    z = {0.1: -1.2816, 0.5: 0.0, 0.9: 1.2816}
    for tau, fit in fits.items():
        assert abs(fit["coef"][0] - (3.0 + 0.5 * z[tau])) < 0.25, (tau, fit["coef"])
        assert abs(fit["intercept"] - (2.0 + 1.0 * z[tau])) < 0.6


def test_quantile_fit_median_resists_outliers(spark):
    from preprocessor_spark.operators.quantreg import quantile_fit
    from preprocessor_spark.operators.linreg import ridge_fit

    rng = np.random.default_rng(47)
    n = 1000
    x = rng.uniform(0, 10, n)
    y = 1.0 + 2.0 * x + rng.normal(0, 0.5, n)
    y[:50] += 500.0  # gross outliers
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double"
    )
    med = quantile_fit(df, ["x"], "y", tau=0.5, max_iter=60)
    ols = ridge_fit(df, ["x"], "y")
    assert abs(med["coef"][0] - 2.0) < 0.1  # median ignores the outliers
    assert abs(ols["intercept"] - 1.0) > 5.0  # OLS is dragged


def test_quantile_fit_matches_numpy_irls_steps(spark):
    from preprocessor_spark.operators.quantreg import quantile_fit

    rng = np.random.default_rng(53)
    n = 500
    x = np.round(rng.uniform(0, 5, n), 3)
    y = np.round(1.0 + 1.5 * x + rng.normal(0, 1, n), 3)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double"
    )
    tau, eps = 0.7, 1e-6
    got = quantile_fit(df, ["x"], "y", tau=tau, max_iter=40, tol=1e-8, eps=eps)

    # replicate the IRLS on the same 1e-9 quantization grid
    def qsum(v):
        return np.sum(np.round(v * 1e9)) / 1e9

    theta = np.zeros(2)
    X = np.column_stack([np.ones(n), x])
    for it in range(1, 41):
        r = y - X @ theta
        if it == 1:
            w = np.ones(n)
        else:
            asym = np.where(r < 0, 1.0 - tau, tau)
            w = asym / np.maximum(np.abs(r), eps)
        a = np.array([
            [qsum(w), qsum(w * x)],
            [qsum(w * x), qsum(w * x * x)],
        ])
        b = np.array([qsum(w * y), qsum(w * x * y)])
        new = np.linalg.solve(a, b)
        if np.max(np.abs(new - theta)) < 1e-8:
            theta = new
            break
        theta = new
    assert got["intercept"] == pytest.approx(theta[0], abs=1e-6)
    assert got["coef"][0] == pytest.approx(theta[1], abs=1e-6)


def test_quantile_fit_validation(spark):
    from preprocessor_spark.operators.quantreg import quantile_fit

    df = spark.createDataFrame([(1.0, 1.0)], "x double, y double")
    with pytest.raises(ValueError, match="tau"):
        quantile_fit(df, ["x"], "y", tau=1.5)
    with pytest.raises(ValueError, match="eps"):
        quantile_fit(df, ["x"], "y", eps=0.0)


@pytest.fixture(scope="module")
def gmm_frame(spark):
    rng = np.random.default_rng(59)
    rows = []
    for mu, n in [((0.0, 0.0), 700), ((6.0, 1.0), 900), ((2.0, 8.0), 800)]:
        for _ in range(n):
            rows.append((round(float(rng.normal(mu[0], 0.8)), 3),
                         round(float(rng.normal(mu[1], 0.8)), 3)))
    return spark.createDataFrame(rows, "x double, y double")


def test_gmm_recovers_planted_clusters(spark, gmm_frame):
    from preprocessor_spark.operators.gmm import gmm_fit, gmm_responsibility_exprs
    from pyspark.sql import functions as F

    fit = gmm_fit(gmm_frame, ["x", "y"], k=3, max_iter=40)
    assert fit["converged"] and fit["n"] == 2400
    got = sorted((round(m[0], 1), round(m[1], 1)) for m in fit["means"])
    for (gx, gy), (tx, ty) in zip(got, sorted([(0.0, 0.0), (6.0, 1.0), (2.0, 8.0)])):
        assert abs(gx - tx) < 0.3 and abs(gy - ty) < 0.3, (got,)
    ws = sorted(fit["weights"])
    assert ws == pytest.approx(sorted([700 / 2400, 900 / 2400, 800 / 2400]), abs=0.03)
    for var in fit["variances"]:
        assert all(0.3 < v < 1.5 for v in var)
    # hard assignments via the codegen scorer recover cluster purity
    rs = gmm_responsibility_exprs(fit, ["x", "y"])
    arr = F.array(*rs)
    assign = gmm_frame.select(
        F.array_position(arr, F.array_max(arr)).alias("c"), "x", "y"
    )
    purity = assign.groupBy("c").agg(F.avg("x").alias("mx"), F.count(F.lit(1)).alias("n")).collect()
    assert len(purity) == 3 and all(r["n"] > 500 for r in purity)


def test_gmm_is_bit_deterministic_across_partitionings(spark, gmm_frame):
    from preprocessor_spark.operators.gmm import gmm_fit

    f1 = gmm_fit(gmm_frame.repartition(3), ["x", "y"], k=3, max_iter=15)
    f2 = gmm_fit(gmm_frame.repartition(17, "y"), ["x", "y"], k=3, max_iter=15)
    assert f1["means"] == f2["means"]
    assert f1["weights"] == f2["weights"]
    assert f1["log_likelihood"] == f2["log_likelihood"]


def test_gmm_matches_numpy_em_steps(spark):
    from preprocessor_spark.operators.gmm import gmm_fit

    rng = np.random.default_rng(61)
    xs = np.round(np.concatenate([rng.normal(0, 1, 300), rng.normal(5, 1, 300)]), 3)
    df = spark.createDataFrame([(float(v),) for v in xs], "x double")
    got = gmm_fit(df, ["x"], k=2, max_iter=8, tol=0.0)  # fixed 8 EM steps

    # numpy replica on the same 1e-9 grid, same quantile init
    def qsum(v):
        return np.sum(np.round(v * 1e9)) / 1e9

    n = len(xs)
    mus = np.quantile(xs, [0.25, 0.75], method="linear")
    var = np.full(2, xs.var())
    w = np.array([0.5, 0.5])
    for _ in range(8):
        lps = np.stack([
            np.log(w[j]) - 0.5 * (np.log(2 * np.pi * var[j]) + (xs - mus[j]) ** 2 / var[j])
            for j in range(2)
        ])
        mx = lps.max(axis=0)
        e = np.exp(lps - mx)
        r = e / e.sum(axis=0)
        nj = np.array([qsum(r[j]) for j in range(2)])
        new_mu = np.array([qsum(r[j] * xs) / nj[j] for j in range(2)])
        new_var = np.array([
            max(qsum(r[j] * xs * xs) / nj[j] - new_mu[j] ** 2, 1e-6) for j in range(2)
        ])
        w = nj / n
        w = w / w.sum()
        mus, var = new_mu, new_var
    order = np.argsort(mus)
    assert [m[0] for m in got["means"]] == pytest.approx(
        [mus[j] for j in order], abs=1e-6
    )
    assert [v[0] for v in got["variances"]] == pytest.approx(
        [var[j] for j in order], abs=1e-6
    )
    assert got["weights"] == pytest.approx([w[j] for j in order], abs=1e-8)


def test_gmm_validation(spark):
    from preprocessor_spark.operators.gmm import gmm_fit

    df = spark.createDataFrame([(1.0,), (2.0,)], "x double")
    with pytest.raises(ValueError, match="k must be"):
        gmm_fit(df, ["x"], k=1)
    with pytest.raises(ValueError, match="rows <"):
        gmm_fit(df, ["x"], k=2)


def _mg_reference(values, capacity):
    counters, dec = {}, 0
    for v in values:
        if v in counters:
            counters[v] += 1
        elif len(counters) < capacity:
            counters[v] = 1
        else:
            dec += 1
            for k in list(counters):
                counters[k] -= 1
                if counters[k] == 0:
                    del counters[k]
    return counters, dec
