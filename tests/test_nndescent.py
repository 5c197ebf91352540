"""NN-Descent kNN-graph construction (operators/nndescent.py): recall floor
vs the exact brute-force graph, structural invariants, plan hygiene, and
repartition determinism."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from preprocessor_spark.operators.nndescent import nndescent_knn_graph


@pytest.fixture(scope="module")
def spark():
    from preprocessor_spark.session import get_spark

    return get_spark("test-nndescent", cpus=4)


def _clustered_vectors(n=120, d=16, n_clusters=6, seed=3):
    rng = np.random.default_rng(seed)
    cents = rng.normal(0, 1, (n_clusters, d))
    rows = []
    for i in range(n):
        v = cents[i % n_clusters] + rng.normal(0, 0.15, d)
        rows.append((i, [float(x) for x in v]))
    return rows


@pytest.fixture(scope="module")
def clustered(spark):
    rows = _clustered_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    k = 5
    mat = np.array([r[1] for r in rows])
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = unit @ unit.T
    np.fill_diagonal(sims, -np.inf)
    truth = {
        i: set(np.argsort(-np.round(sims[i], 6), kind="stable")[:k])
        for i in range(len(rows))
    }
    return df, k, truth


@pytest.fixture
def graph_and_truth(clustered, nndescent_route):
    df, k, truth = clustered
    nndescent_route("iterative")
    got = nndescent_knn_graph(df, "embedding", "vec_id", k=k, rounds=3).collect()
    return df, k, got, truth


def test_recall_floor_and_structure(graph_and_truth):
    df, k, got, truth = graph_and_truth
    by_src = {}
    for r in got:
        by_src.setdefault(r.src, set()).add(r.dst)
        assert r.src != r.dst
        assert -1.0 <= r.sim <= 1.0
        assert 1 <= r.rank <= k
    assert set(by_src) == set(truth)  # every node got k neighbors
    assert all(len(v) == k for v in by_src.values())
    recall = np.mean([len(by_src[i] & truth[i]) / k for i in truth])
    assert recall >= 0.9, f"NN-descent recall {recall}"


def test_rank_orders_by_sim_desc(graph_and_truth):
    _, k, got, _ = graph_and_truth
    per = {}
    for r in got:
        per.setdefault(r.src, []).append((r.rank, r.sim, r.dst))
    for src, lst in per.items():
        lst.sort()
        sims = [s for _, s, _ in lst]
        assert sims == sorted(sims, reverse=True), src


def test_no_cartesian_and_bounded_pairs(spark, nndescent_route):
    nndescent_route("iterative")
    rows = _clustered_vectors(n=40)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    graph = nndescent_knn_graph(df, "embedding", "vec_id", k=4, rounds=1)
    plan = graph._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_repartition_determinism(spark, nndescent_route):
    nndescent_route("iterative")
    rows = _clustered_vectors(n=60, seed=9)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted(
        tuple(r) for r in nndescent_knn_graph(df, "embedding", "vec_id", k=4, rounds=2).collect()
    )
    b = sorted(
        tuple(r)
        for r in nndescent_knn_graph(
            df.repartition(7), "embedding", "vec_id", k=4, rounds=2
        ).collect()
    )
    assert a == b


def test_identical_vector_cliques_stay_bounded(spark, nndescent_route):
    """Duplicated corpora (the sf1-derived stress) make identical-vector
    groups; the cap must keep per-node candidate work bounded, and each
    duplicate must still find its twins at sim 1.0."""
    nndescent_route("iterative")
    rows = []
    for g in range(5):
        base = [float(x) for x in np.eye(8)[g % 8]]
        for c in range(10):
            rows.append((g * 10 + c, base))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    graph = nndescent_knn_graph(df, "embedding", "vec_id", k=5, rounds=2)
    got = graph.collect()
    for r in got:
        if r.rank <= 5:
            # top neighbors of a clique member are other members at sim 1.0
            assert r.sim == pytest.approx(1.0) or r.dst // 10 != r.src // 10
    per = {}
    for r in got:
        per.setdefault(r.src, []).append(r)
    same_clique_hits = np.mean(
        [
            sum(1 for r in lst if r.dst // 10 == src // 10) / 5
            for src, lst in per.items()
        ]
    )
    assert same_clique_hits >= 0.95


def test_exact_small_n_route_matches_bruteforce(clustered, nndescent_route):
    """At or under EXACT_MAX_VECTORS the builder routes to the exact
    brute-force scan (pynndescent-style): identical output contract,
    recall exactly 1.0."""
    df, k, truth = clustered
    nndescent_route("exact")
    got = nndescent_knn_graph(df, "embedding", "vec_id", k=k).collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r.src, set()).add(r.dst)
        assert 1 <= r.rank <= k and r.src != r.dst
    assert set(by_src) == set(truth)
    assert all(by_src[i] == truth[i] for i in truth)
