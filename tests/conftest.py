from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from preprocessor_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("preprocessor-spark-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def fixpoint_route(monkeypatch):
    """Force the graph edge fixpoints (connected_components,
    label_propagation, shortest_hops) onto one route for the rest of the
    test: ``fixpoint_route("distributed")`` or ``fixpoint_route("driver")``.
    Works by moving the one edge budget, ``DRIVER_SOLVE_MAX_EDGES``; an
    empty edge list rides the driver route under either setting."""
    from preprocessor_spark.operators import graph

    budgets = {"distributed": 0, "driver": 10**9}

    def force(route: str) -> None:
        monkeypatch.setattr(graph, "DRIVER_SOLVE_MAX_EDGES", budgets[route])

    return force


@pytest.fixture
def nndescent_route(monkeypatch):
    """Force ``nndescent_knn_graph`` onto one route for the rest of the
    test: ``nndescent_route("iterative")`` or ``nndescent_route("exact")``.
    Works by moving the small-input cutoff, ``EXACT_MAX_VECTORS``."""
    from preprocessor_spark.operators import nndescent

    cutoffs = {"iterative": 0, "exact": 10**9}

    def force(route: str) -> None:
        monkeypatch.setattr(nndescent, "EXACT_MAX_VECTORS", cutoffs[route])

    return force
