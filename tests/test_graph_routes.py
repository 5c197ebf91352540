"""The edge-fixpoint router in operators/graph.py: connected_components,
label_propagation and shortest_hops share one driver-or-distributed
decision. These tests pin what the router owns — the edge table's release
on every exit path, the route log line — plus the inputs the per-operator
equality tests do not cover."""

from __future__ import annotations

import logging

import pytest
from pyspark import StorageLevel

from preprocessor_spark.operators import graph

ROUTES = ("distributed", "driver")


def _run_all(spark):
    """One small call of each routed operator, fully collected."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (10, 11), (11, 12)], "id_a long, id_b long"
    )
    edges = pairs.selectExpr("id_a AS src", "id_b AS dst")
    seeds = spark.createDataFrame([(1,), (10,)], "node long")
    return {
        "connected_components": sorted(
            map(tuple, graph.connected_components(pairs).collect())
        ),
        "label_propagation": sorted(
            map(tuple, graph.label_propagation(edges, rounds=3).collect())
        ),
        "shortest_hops": sorted(
            map(tuple, graph.shortest_hops(edges, seeds, max_hops=3).collect())
        ),
    }


@pytest.mark.parametrize("route", ROUTES)
def test_edge_table_released_on_every_route(spark, monkeypatch, fixpoint_route, route):
    """Every frame the three operators persist must be unpersisted by the
    time they return, on both routes — and on connected_components'
    non-convergence error path."""
    persisted = []

    def record(df):
        persisted.append(df)
        return df

    monkeypatch.setattr(graph, "register_persisted", record)
    fixpoint_route(route)
    _run_all(spark)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    if route == "distributed":
        with pytest.raises(RuntimeError, match="did not converge"):
            graph.connected_components(chain, max_iterations=1)
    else:
        graph.connected_components(chain, max_iterations=1).collect()
    assert len(persisted) == 4
    released = StorageLevel(False, False, False, False, 1)
    assert [df.storageLevel for df in persisted] == [released] * 4


def test_route_log_line(spark, fixpoint_route, caplog):
    """One INFO line per call names the operator, the measured edge count,
    the budget and the route taken."""
    fixpoint_route("driver")
    with caplog.at_level(logging.INFO, logger=graph.__name__):
        _run_all(spark)
    lines = [r.getMessage() for r in caplog.records if r.name == graph.__name__]
    assert lines == [
        "connected_components: 10 edges, driver budget 1000000000, route driver",
        "label_propagation: 10 edges, driver budget 1000000000, route driver",
        "shortest_hops: 5 edges, driver budget 1000000000, route driver",
    ]


def test_empty_edge_list(spark):
    """No edges: empty components and communities with the id type, and
    every seed at hop 0. An empty list is within any budget, so this is the
    driver route."""
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    cc = graph.connected_components(pairs)
    assert cc.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in cc.schema.fields] == [
        ("id", "bigint"), ("component", "bigint")
    ]
    edges = spark.createDataFrame([], "src long, dst long")
    assert graph.label_propagation(edges).collect() == []
    seeds = spark.createDataFrame([(5,), (3,)], "node long")
    assert sorted(map(tuple, graph.shortest_hops(edges, seeds).collect())) == [(3, 0), (5, 0)]


def test_cc_string_ids(spark, fixpoint_route):
    """String ids on both routes: the representative is the min id in
    codepoint order (Spark's UTF8String order) — "B" < "a" and
    "a10" < "a9"."""
    pairs = spark.createDataFrame(
        [("a9", "a10"), ("a10", "b"), ("a", "B"), ("z", "y")],
        "id_a string, id_b string",
    )
    for route in ROUTES:
        fixpoint_route(route)
        out = graph.connected_components(pairs)
        assert [f.dataType.simpleString() for f in out.schema.fields] == ["string"] * 2
        assert dict(map(tuple, out.collect())) == {
            "a9": "a10", "a10": "a10", "b": "a10", "a": "B", "B": "B", "z": "y", "y": "y"
        }, route
