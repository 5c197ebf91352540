"""Round-9b operators: online CUSUM (batch + streaming twin), seasonal-ESD
anomalies, forecast backtest metrics, Huber robust regression, ALS matrix
factorization — each against an independent scalar/numpy reference."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from preprocessor_spark.operators.changepoint import cusum_online
from preprocessor_spark.operators.holt import backtest_naive_metrics
from preprocessor_spark.operators.huber import huber_fit
from preprocessor_spark.operators.linreg import ridge_fit
from preprocessor_spark.operators.seasonal import seasonal_esd_anomalies


@pytest.fixture(scope="module")
def spark():
    from preprocessor_spark.session import get_spark

    return get_spark("test-round9b", cpus=4)


def _scalar_cusum(series, mu, k, h):
    sp = sn = 0.0
    alarms = 0
    first = None
    for t, v in enumerate(series, 1):
        sp = max(0.0, sp + (v - mu - k))
        sn = max(0.0, sn - (v - mu + k))
        if sp > h or sn > h:
            alarms += 1
            if first is None:
                first = t
    return sp, sn, alarms, first


def test_cusum_online_matches_scalar(spark):
    rng = np.random.default_rng(2)
    series = np.round(np.concatenate(
        [rng.normal(10, 0.4, 50), rng.normal(11.5, 0.4, 30)]), 3)
    rows = [("a", i + 1, float(v)) for i, v in enumerate(series)]
    rows += [("b", i + 1, 10.0) for i in range(40)]  # in-control key
    df = spark.createDataFrame(rows, "k string, t int, v double")
    got = {
        r.key: r
        for r in cusum_online(
            df, "k", "t", "v", target_mean=10.0, slack=0.25, threshold=4.0
        ).collect()
    }
    sp, sn, alarms, first = _scalar_cusum(series, 10.0, 0.25, 4.0)
    r = got["a"]
    assert r.n == 80 and r.n_alarms == alarms and r.first_alarm_pos == first
    assert r.s_pos == pytest.approx(sp, abs=1e-6)
    assert r.s_neg == pytest.approx(sn, abs=1e-6)
    # the shift is detected shortly after onset at t=51
    assert 51 <= first <= 60
    b = got["b"]
    assert b.n_alarms == 0 and b.first_alarm_pos is None


def test_cusum_stream_equals_batch(spark, tmp_path):
    import json
    import os

    from preprocessor_spark.streaming import cusum_stream

    rng = np.random.default_rng(5)
    series = np.round(np.concatenate(
        [rng.normal(0, 0.3, 40), rng.normal(2.0, 0.3, 20)]), 3)
    rows = [(f"u{j}", i + 1, float(v + j))
            for j in range(3) for i, v in enumerate(series)]
    batch_df = spark.createDataFrame(rows, "user_id string, ts int, value double")
    want = {
        r.key: (r.n, r.n_alarms, r.first_alarm_pos, r.s_pos, r.s_neg)
        for r in cusum_online(
            batch_df, "user_id", "ts", "value",
            target_mean=1.0, slack=0.2, threshold=3.0,
        ).collect()
    }
    # feed the same rows through 3 micro-batch files in ts order —
    # distinct mtimes keep the file-source listing order == event order
    import time

    src = tmp_path / "src"
    os.makedirs(src)
    chunks = np.array_split(np.arange(len(series)), 3)
    for bi, idxs in enumerate(chunks):
        with open(src / f"b{bi}.json", "w") as f:
            for j in range(3):
                for i in idxs:
                    f.write(json.dumps(
                        {"user_id": f"u{j}", "ts": int(i + 1),
                         "value": float(series[i] + j)}) + "\n")
        if bi < 2:
            time.sleep(1.1)
    stream = (
        spark.readStream.schema("user_id string, ts int, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = cusum_stream(
        stream, key="user_id", order_col="ts", value_col="value",
        target_mean=1.0, slack=0.2, threshold=3.0,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("cusum_sink")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    final = {}
    for r in spark.sql("SELECT * FROM cusum_sink").collect():
        # update mode: keep the last emission per key (max n)
        if r.key not in final or r.n > final[r.key][0]:
            final[r.key] = (r.n, r.n_alarms, r.first_alarm_pos, r.s_pos, r.s_neg)
    assert final == want


def test_seasonal_esd_flags_planted_anomalies(spark):
    rng = np.random.default_rng(8)
    n, period = 120, 6
    t = np.arange(n)
    series = 10 + 0.02 * t + 1.5 * np.sin(2 * np.pi * t / period) + rng.normal(0, 0.05, n)
    planted = [30, 77]
    for p in planted:
        series[p] += 4.0
    series = np.round(series, 4)
    df = spark.createDataFrame(
        [("k", i + 1, float(v)) for i, v in enumerate(series)],
        "k string, t int, v double",
    )
    got = seasonal_esd_anomalies(df, "k", "t", "v", period=period, z_thresh=3.0)
    flagged = sorted(r.pos - 1 for r in got.collect())
    # both planted spikes flagged; tolerate their MA-window neighbors
    # (a 4-sigma spike leaks into the centered trend of adjacent rows)
    assert set(planted) <= set(flagged)
    for f in flagged:
        assert any(abs(f - p) <= period // 2 for p in planted)


def test_backtest_naive_metrics_vs_numpy(spark):
    rng = np.random.default_rng(3)
    period, h = 4, 6
    series = np.round(
        np.tile([10.0, 12.0, 9.0, 11.0], 10) + rng.normal(0, 0.2, 40), 4
    )
    df = spark.createDataFrame(
        [("k", i + 1, float(v)) for i, v in enumerate(series)],
        "k string, t int, v double",
    )
    got = backtest_naive_metrics(df, "k", "t", "v", season=period, holdout=h).collect()[0]
    n = len(series)
    test = np.arange(n - h, n)
    e = series[test] - series[test - period]
    mae = np.mean(np.abs(e))
    rmse = float(np.sqrt(np.mean(e * e)))
    train_d = np.abs(np.diff(series[: n - h]))
    mase = mae / train_d.mean()
    smape = 100.0 * np.mean(
        2 * np.abs(e) / (np.abs(series[test]) + np.abs(series[test - period]))
    )
    assert got.n == n and got.n_eval == h
    assert got.mae == pytest.approx(mae, abs=1e-5)
    assert got.rmse == pytest.approx(rmse, abs=1e-5)
    assert got.mase == pytest.approx(mase, abs=1e-4)
    assert got.smape == pytest.approx(smape, abs=1e-4)
    # a seasonal series forecast seasonally: MASE well under 1
    assert got.mase < 0.5


def test_backtest_short_series_drop(spark):
    df = spark.createDataFrame(
        [("s", i + 1, float(i)) for i in range(3)], "k string, t int, v double"
    )
    # season=10 > series length: no test row has a lag -> key drops
    assert backtest_naive_metrics(df, "k", "t", "v", season=10, holdout=2).count() == 0


def _np_huber_irls(x, y, delta, iters=50, tol=1e-8):
    X = np.column_stack([np.ones(len(x)), x])
    theta = np.zeros(2)
    for it in range(iters):
        r = y - X @ theta
        w = np.ones(len(x)) if it == 0 else np.minimum(1.0, delta / np.abs(r))
        a = X.T @ (w[:, None] * X)
        b = X.T @ (w * y)
        new = np.linalg.solve(a, b)
        if np.max(np.abs(new - theta)) < tol:
            return new
        theta = new
    return theta


def test_huber_matches_numpy_and_resists_outliers(spark):
    rng = np.random.default_rng(21)
    n = 400
    x = np.round(rng.uniform(0, 10, n), 4)
    y = np.round(3.0 + 2.0 * x + rng.normal(0, 0.3, n), 4)
    y[:8] += 80.0  # gross outliers
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double"
    )
    fit = huber_fit(df, ["x"], "y", delta=1.0)
    ref = _np_huber_irls(x, y, 1.0)
    assert fit["intercept"] == pytest.approx(ref[0], abs=1e-3)
    assert fit["coef"][0] == pytest.approx(ref[1], abs=1e-3)
    # robust: slope near truth despite outliers; OLS is pulled away
    ols = ridge_fit(df, ["x"], "y", l2=0.0)
    assert abs(fit["coef"][0] - 2.0) < 0.05
    assert abs(ols["coef"][0] - 2.0) > abs(fit["coef"][0] - 2.0)
    assert fit["n_downweighted"] >= 8
    assert fit["converged"]


def test_huber_clean_data_matches_ols(spark):
    rng = np.random.default_rng(6)
    x = np.round(rng.uniform(0, 5, 200), 4)
    y = np.round(1.0 + 0.5 * x + rng.normal(0, 0.01, 200), 4)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double"
    )
    hub = huber_fit(df, ["x"], "y", delta=1.0)
    ols = ridge_fit(df, ["x"], "y", l2=0.0)
    # residuals all << delta -> identical normal equations
    assert hub["coef"][0] == pytest.approx(ols["coef"][0], abs=1e-4)
    assert hub["intercept"] == pytest.approx(ols["intercept"], abs=1e-4)
    assert hub["n_downweighted"] == 0


def test_huber_repartition_deterministic(spark):
    rng = np.random.default_rng(7)
    x = np.round(rng.uniform(0, 5, 300), 4)
    y = np.round(2.0 - 1.0 * x + rng.normal(0, 0.5, 300), 4)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double"
    )
    f1 = huber_fit(df.repartition(7), ["x"], "y", delta=0.8)
    f2 = huber_fit(df.repartition(23), ["x"], "y", delta=0.8)
    assert f1["intercept"] == f2["intercept"]
    assert f1["coef"] == f2["coef"]


def test_als_recovers_planted_low_rank(spark):
    from preprocessor_spark.operators.als import als_fit, als_predict_topk

    rng = np.random.default_rng(12)
    n_u, n_i, k = 60, 40, 3
    p = rng.normal(0, 1, (n_u, k))
    q = rng.normal(0, 1, (n_i, k))
    full = p @ q.T
    # observe 40% of entries
    mask = rng.uniform(size=full.shape) < 0.4
    rows = [
        (u, i, float(round(full[u, i], 4)))
        for u in range(n_u)
        for i in range(n_i)
        if mask[u, i]
    ]
    df = spark.createDataFrame(rows, "u long, i long, r double")
    model = als_fit(df, "u", "i", "r", rank=k, reg=0.01, iterations=8, seed=5)
    # monotone-ish descent and a tight final fit on observed entries
    assert model.rmse_history[-1] < 0.05
    assert model.rmse_history[-1] <= model.rmse_history[0]
    # held-out reconstruction: unobserved entries predicted well
    uidx = {int(v): j for j, v in enumerate(model.user_ids)}
    iidx = {int(v): j for j, v in enumerate(model.item_ids)}
    errs = [
        full[u, i]
        - model.user_factors[uidx[u]] @ model.item_factors[iidx[i]]
        for u in range(n_u)
        for i in range(n_i)
        if not mask[u, i] and u in uidx and i in iidx
    ]
    assert float(np.sqrt(np.mean(np.square(errs)))) < 0.3
    top = als_predict_topk(model, spark, k=3)
    per_u = top.groupBy("user_id").count().collect()
    assert all(r["count"] == 3 for r in per_u)


def test_als_deterministic_across_partitionings(spark):
    from preprocessor_spark.operators.als import als_fit

    rng = np.random.default_rng(9)
    rows = [
        (int(u), int(i), float(round(rng.normal(3, 1), 3)))
        for u in range(25)
        for i in rng.choice(30, 10, replace=False)
    ]
    df = spark.createDataFrame(rows, "u long, i long, r double")
    m1 = als_fit(df.repartition(5), "u", "i", "r", rank=2, iterations=3, seed=1)
    m2 = als_fit(df.repartition(17), "u", "i", "r", rank=2, iterations=3, seed=1)
    assert m1.rmse_history == m2.rmse_history
    assert np.array_equal(m1.user_factors, m2.user_factors)
    assert np.array_equal(m1.item_factors, m2.item_factors)


def test_shortest_hops_planted_graph(spark):
    from preprocessor_spark.operators.graph import shortest_hops

    # chain 1-2-3-4-5, star 10-{11,12}, isolated 99; seeds {1, 10}
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (10, 12)]
    sym = edges + [(b, a) for a, b in edges]
    e = spark.createDataFrame(sym, "src long, dst long")
    seeds = spark.createDataFrame([(1,), (10,)], "node long")
    got = {r.node: r.hops for r in shortest_hops(e, seeds, max_hops=10).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4, 10: 0, 11: 1, 12: 1}
    # max_hops truncates the frontier
    got2 = {r.node: r.hops for r in shortest_hops(e, seeds, max_hops=2).collect()}
    assert got2 == {1: 0, 2: 1, 3: 2, 10: 0, 11: 1, 12: 1}
    # multi-source min: seed both chain ends -> distances fold inward
    seeds2 = spark.createDataFrame([(1,), (5,)], "node long")
    got3 = {r.node: r.hops for r in shortest_hops(e, seeds2, max_hops=10).collect()}
    assert got3 == {1: 0, 2: 1, 3: 2, 4: 1, 5: 0}


def test_als_layout_hoist_bitwise_equal(spark, monkeypatch):
    """Forcing the rows-gated layout hoist (ALS_LAYOUT_HOIST_MIN_ROWS = 0)
    must reproduce the per-step-repartition fit BIT-FOR-BIT: same
    partition count, same key, same in-partition sort -> identical Arrow
    batches -> identical partials -> identical factors and RMSE trace."""
    from preprocessor_spark.operators import als as als_mod

    rng = np.random.default_rng(21)
    rows = [
        (int(u), int(i), float(round(rng.normal(3, 1), 3)))
        for u in range(30)
        for i in rng.choice(25, 8, replace=False)
    ]
    df = spark.createDataFrame(rows, "u long, i long, r double")
    base = als_mod.als_fit(df, "u", "i", "r", rank=3, iterations=4, seed=2)
    monkeypatch.setattr(als_mod, "ALS_LAYOUT_HOIST_MIN_ROWS", 0)
    hoisted = als_mod.als_fit(df, "u", "i", "r", rank=3, iterations=4, seed=2)
    assert base.rmse_history == hoisted.rmse_history
    assert np.array_equal(base.user_factors, hoisted.user_factors)
    assert np.array_equal(base.item_factors, hoisted.item_factors)
    assert np.array_equal(base.user_ids, hoisted.user_ids)
    assert np.array_equal(base.item_ids, hoisted.item_ids)


def test_bfs_driver_gate_matches_distributed_loop(spark, fixpoint_route):
    """The size-gated driver BFS replay must return EXACTLY the
    distributed fixpoint's table — same reached set, same hop counts,
    same schema — including isolated seeds and the max_hops truncation."""
    from preprocessor_spark.operators.graph import shortest_hops

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (10, 12)]
    sym = edges + [(b, a) for a, b in edges]
    e = spark.createDataFrame(sym, "src long, dst long")
    for seed_rows, hops in (([(1,), (10,)], 10), ([(1,), (10,)], 2),
                            ([(1,), (5,)], 10), ([(99,)], 3)):
        seeds = spark.createDataFrame(seed_rows, "node long")
        fixpoint_route("distributed")
        want = sorted(map(tuple, shortest_hops(e, seeds, max_hops=hops).collect()))
        fixpoint_route("driver")
        got_df = shortest_hops(e, seeds, max_hops=hops)
        got = sorted(map(tuple, got_df.collect()))
        assert got == want, (seed_rows, hops)
    assert [f.name for f in got_df.schema.fields] == ["node", "hops"]
