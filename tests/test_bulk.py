"""Value lists cross py4j in a constant number of calls (functions/bulk.py),
and a Preprocessor fit plus transform build stays within a call budget."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from preprocessor_spark import Preprocessor, persist_scope
from preprocessor_spark.functions import bulk


@pytest.fixture
def py4j_calls(monkeypatch):
    """Counts py4j round trips from this process to the JVM."""
    from py4j.clientserver import ClientServerConnection

    calls = {"n": 0}
    send = ClientServerConnection.send_command

    def counting(self, command):
        calls["n"] += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    return calls


@pytest.fixture(scope="module")
def labels_df(spark):
    rng = np.random.default_rng(4)
    vals = [f"l{i % 60}" for i in range(400)] + ["", " ", "a\nb", "c\\d", "x", "é€😀"]
    return spark.createDataFrame(
        pd.DataFrame({"s": vals, "x": rng.normal(size=len(vals))})
    )


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize(
    "values",
    [
        [],
        [""],
        ["l3"],
        ["", "l1"],
        ["l1", ""],
        ["", ""],
        ["a\nb", "c\\d", "x", "é€😀", " "],
        [f"l{i}" for i in range(0, 3000, 2)],
    ],
    ids=["empty", "blank", "one", "blank-first", "blank-last", "two-blanks", "odd-chars", "many"],
)
def test_isin_matches_pyspark_isin(spark, labels_df, values, py4j_calls):
    want = labels_df.where(F.col("s").isin(*values))
    before = py4j_calls["n"]
    cond = bulk.isin(F.col("s"), values)
    assert py4j_calls["n"] - before <= 40
    got = labels_df.where(cond)
    assert _optimized(got) == _optimized(want)
    assert sorted(got.collect()) == sorted(want.collect())


def test_approx_quantile_matches_pyspark(spark, labels_df, py4j_calls):
    probs = list(np.linspace(0.0, 1.0, 1000))
    want = labels_df.stat.approxQuantile(["x", "x"], probs, 1e-4)
    before = py4j_calls["n"]
    got = bulk.approx_quantile(labels_df, ["x", "x"], probs, 1e-4)
    assert py4j_calls["n"] - before <= 60
    assert got == want
    one = labels_df.stat.approxQuantile("x", [0.5], 1e-4)
    assert bulk.approx_quantile(labels_df, ["x"], [0.5], 1e-4) == [one]


def _many_labels_frame(spark, n=3_000, n_rare=1_200):
    """1,200 labels seen once (rare under the 2% threshold) beside three
    frequent ones, two numeric columns and a timestamp with ties."""
    rng = np.random.default_rng(9)
    cat = np.array([f"f{i % 3}" for i in range(n)], dtype=object)
    cat[rng.permutation(n)[:n_rare]] = [f"r{i:04d}" for i in range(n_rare)]
    pdf = pd.DataFrame(
        {
            "cat": cat,
            "x": rng.normal(size=n),
            "y": rng.gamma(2.0, size=n),
            "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(rng.integers(0, n // 4, n), unit="min"),
        }
    )
    pdf.loc[rng.random(n) < 0.05, "x"] = np.nan
    return spark.createDataFrame(pdf)


def test_preprocessor_py4j_budget(spark, py4j_calls):
    """Fit (1,000 quantile landmarks per column) plus the transform build
    (a 1,200-label rare-label shrink) costs a few thousand py4j calls, not
    one or more per landmark and per label."""
    df = _many_labels_frame(spark)
    with persist_scope():
        before = py4j_calls["n"]
        prep = Preprocessor(df, scaling="quantile", num_fill_null="interpolate", unseen_labels="error")
        prep.transform(df)
        used = py4j_calls["n"] - before
    assert used > 0, "py4j calls were not counted"
    assert len(prep.state.rare_labels["cat"]) == 1_200
    assert all(len(v) == 1_000 for v in prep.state.quantile_landmarks.values())
    assert used <= 4_000, used
