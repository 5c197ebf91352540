"""Parity port of the reference's tests/test_inverse_transform.py —
round-trip exactness contracts (FIXTURES.md A3/A4)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from preprocessor_spark import Preprocessor


@pytest.fixture(scope="module")
def numeric_pair(spark):
    pdf = pd.DataFrame(
        {
            "num1": [1, 2, 3, 4, 5],
            "num2": [10, 20, 30, 40, 50],
            "cat1": ["A", "B", "A", "C", "B"],
            "cat2": ["X", "Y", "X", "Z", "Y"],
        }
    )
    return pdf


def _roundtrip(spark, pdf, **kw):
    df = spark.createDataFrame(pdf)
    prep = Preprocessor(df, **kw)
    transformed = prep.transform(df)
    restored = prep.inverse_transform(transformed).toPandas()
    return restored


def test_roundtrip_exact(spark, numeric_pair):
    restored = _roundtrip(spark, numeric_pair, cat_labels_threshold=0.0)
    restored = restored.sort_values("num1").reset_index(drop=True)
    expected = numeric_pair.sort_values("num1").reset_index(drop=True)
    pd.testing.assert_frame_equal(restored[expected.columns], expected)


@pytest.mark.parametrize("scaling", ["normalize", "standardize", "quantile"])
def test_roundtrip_scaled(spark, numeric_pair, scaling):
    # reference :50-81 — float round-trip within 1e-3; ints exact
    restored = _roundtrip(
        spark, numeric_pair, cat_labels_threshold=0.0, scaling=scaling, num_fill_null="mean"
    )
    restored = restored.sort_values("num1").reset_index(drop=True)
    expected = numeric_pair.sort_values("num1").reset_index(drop=True)
    for c in ["num1", "num2"]:
        max_diff = (restored[c] - expected[c]).abs().max()
        assert max_diff < 1e-3, f"{c}: {max_diff}"
    for c in ["cat1", "cat2"]:
        assert restored[c].tolist() == expected[c].tolist()


def test_roundtrip_categorical_only(spark):
    pdf = pd.DataFrame(
        {
            "cat1": ["A", "B", "A", "C", "B", "A"],
            "cat2": ["X", "Y", "X", "Z", "Y", "X"],
        }
    )
    restored = _roundtrip(spark, pdf, cat_labels_threshold=0.0)
    restored = restored.sort_index()
    assert sorted(restored["cat1"].tolist()) == sorted(pdf["cat1"].tolist())
    assert sorted(restored["cat2"].tolist()) == sorted(pdf["cat2"].tolist())


def test_roundtrip_missing_values(spark):
    # FIXTURES.md A4 — compare non-null positions only (reference :153-165)
    pdf = pd.DataFrame(
        {
            "num1": [1.0, 2.0, np.nan, 4.0, 5.0],
            "cat1": ["A", "B", None, "C", "B"],
        }
    )
    df = spark.createDataFrame(pdf)
    prep = Preprocessor(df, cat_labels_threshold=0.0, num_fill_null="none", scaling="normalize")
    restored = prep.inverse_transform(prep.transform(df)).toPandas()
    restored = restored.sort_values("num1", na_position="last").reset_index(drop=True)
    expected = pdf.sort_values("num1", na_position="last").reset_index(drop=True)
    # sentinel round-trip restores the nulls
    assert restored["num1"].isna().sum() == 1
    mask = expected["num1"].notna()
    assert (restored.loc[mask, "num1"] - expected.loc[mask, "num1"]).abs().max() < 1e-3
    # categorical null → "None" dummy → decoded back to null
    assert restored["cat1"].isna().sum() == 1


def test_roundtrip_sentinel_standardize(spark):
    pdf = pd.DataFrame({"num1": [1.0, 2.0, np.nan, 4.0, 5.0]})
    df = spark.createDataFrame(pdf)
    prep = Preprocessor(df, num_fill_null="none", scaling="standardize")
    restored = prep.inverse_transform(prep.transform(df)).toPandas()
    assert restored["num1"].isna().sum() == 1


def test_roundtrip_datetime(spark):
    pdf = pd.DataFrame(
        {
            "time": pd.date_range("2021-01-01", periods=6, freq="D"),
            "x": np.arange(6.0),
        }
    )
    df = spark.createDataFrame(pdf)
    prep = Preprocessor(df, scaling="normalize", num_fill_null="mean")
    restored = prep.inverse_transform(prep.transform(df)).toPandas()
    restored = restored.sort_values("time").reset_index(drop=True)
    assert restored["time"].tolist() == pdf["time"].tolist()


def test_roundtrip_datetime_string(spark):
    pdf = pd.DataFrame(
        {
            "dat": ["2021-01-0%d" % (i + 1) for i in range(6)],
            "x": np.arange(6.0),
        }
    )
    df = spark.createDataFrame(pdf)
    prep = Preprocessor(df)
    restored = prep.inverse_transform(prep.transform(df)).toPandas()
    assert sorted(restored["dat"].tolist()) == pdf["dat"].tolist()


def test_roundtrip_boolean(spark):
    pdf = pd.DataFrame({"b": [True, False, True, False], "x": [1.0, 2.0, 3.0, 4.0]})
    df = spark.createDataFrame(pdf)
    prep = Preprocessor(df)
    out = prep.transform(df).toPandas()
    assert set(out["b"].unique()) <= {0, 1}
    restored = prep.inverse_transform(prep.transform(df)).toPandas()
    assert restored.sort_values("x")["b"].tolist() == pdf["b"].tolist()


def test_quantile_roundtrip_heavy_tail(spark):
    """A Student-t(3) column has sparse tails, so the landmark gaps there
    are wide and any mismatch between the normal CDF and PPF is multiplied
    by (n_quantiles - 1) x gap on the way back. Every row, the column's
    min and max included, must round-trip within the reference's 1e-3; the
    CDF/PPF pair inverts to double precision, so the check is 1e-9, which
    a mismatched pair fails long before it breaks the contract."""
    x = np.random.default_rng(501).standard_t(3, 11_500)
    pdf = pd.DataFrame({"rid": np.arange(len(x)), "t3": x})
    df = spark.createDataFrame(pdf)
    prep = Preprocessor(df, scaling="quantile", num_fill_null="mean", excluded_col=["rid"])
    back = prep.inverse_transform(prep.transform(df)).toPandas().sort_values("rid")
    err = np.abs(back["t3"].to_numpy() - x)
    assert err.max() < 1e-9, (int((err >= 1e-9).sum()), float(err.max()))
