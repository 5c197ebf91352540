"""Parity port of the reference's tests/test_preprocessor.py onto Spark
DataFrames — same fixtures (FIXTURES.md A1/A5), same assertions."""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd
import pytest

from preprocessor_spark import Preprocessor


@pytest.fixture(scope="module")
def mixed_small(spark):
    # FIXTURES.md A1 — reference tests/test_preprocessor.py:8-18
    np.random.seed(0)
    pdf = pd.DataFrame(
        {
            "time": pd.date_range("2021-01-01", periods=10, freq="D"),
            "numeric_feature": np.random.randn(10),
            "categorical_feature": ["A", "A", "B", "B", "C", "C", "C", "C", "D", ""],
            "bool_feature": [True, False] * 5,
        }
    )
    return spark.createDataFrame(pdf)


def test_init(mixed_small):
    prep = Preprocessor(mixed_small)
    assert set(prep.numerical_features) == {"numeric_feature"}
    assert set(prep.categorical_features) == {"categorical_feature"}
    assert set(prep.datetime_features) == {"time"}
    assert set(prep.boolean_features) == {"bool_feature"}


def test_threshold_validation(mixed_small):
    with pytest.raises(ValueError):
        Preprocessor(mixed_small, cat_labels_threshold=1.5)
    with pytest.raises(ValueError):
        Preprocessor(mixed_small, missing_values_threshold=-0.1)
    with pytest.raises(ValueError):
        Preprocessor(mixed_small, scaling="nope")
    with pytest.raises(ValueError):
        Preprocessor(mixed_small, num_fill_null="nope")
    with pytest.raises(ValueError):
        Preprocessor(mixed_small, ml_task="nope")


def test_transform_default(mixed_small):
    prep = Preprocessor(mixed_small)
    out = prep.transform(mixed_small).toPandas()
    assert len(out) == 10
    for c in prep.discarded_features:
        assert c not in out.columns


def test_rare_label_other(mixed_small):
    # reference :83-87 — with threshold 0.2, labels A(2) B(2) D(1) ""(1) are
    # rare vs C(4); shrunk to 'other'
    prep = Preprocessor(mixed_small, cat_labels_threshold=0.2)
    out = prep.transform(mixed_small).toPandas()
    dummy_cols = [c for c in out.columns if c.startswith("categorical_feature_")]
    assert "categorical_feature_other" in dummy_cols
    assert "categorical_feature_C" in dummy_cols
    # row count preserved, one-hot rows sum to 1
    onehot = out[dummy_cols].to_numpy()
    assert onehot.sum(axis=1).tolist() == [1] * 10


def test_kbins(mixed_small):
    prep = Preprocessor(mixed_small, scaling="kbins", n_bins=3)
    out = prep.transform(mixed_small).toPandas()
    assert out["numeric_feature"].nunique() <= 3
    assert set(out["numeric_feature"].unique()) <= {"0", "1", "2"}


def test_kbins_requires_bins(mixed_small):
    with pytest.raises(ValueError):
        Preprocessor(mixed_small, scaling="kbins", n_bins=0)


def test_quantile_scaling(mixed_small):
    prep = Preprocessor(mixed_small, scaling="quantile", num_fill_null="mean")
    out = prep.transform(mixed_small).toPandas()
    assert out["numeric_feature"].notna().all()
    assert out["numeric_feature"].abs().max() < 6  # clipped normal output


def test_feature_getters(mixed_small):
    prep = Preprocessor(mixed_small)
    assert prep.get_numerical_features() == prep.numerical_features
    assert prep.get_categorical_features() == prep.categorical_features
    num_sizes, cat_sizes = prep.get_features_sizes()
    assert num_sizes == [1]
    assert len(cat_sizes) == 1


def test_onehot_details(mixed_small):
    # reference :157-193 — most frequent label kept as its own dummy; row
    # count preserved; empty string becomes the "None" category
    prep = Preprocessor(mixed_small, cat_labels_threshold=0.2)
    out = prep.transform(mixed_small).toPandas()
    assert "categorical_feature_C" in out.columns
    assert len(out) == 10
    # "" → null → "None"... at threshold 0.2 the single "" is rare → other
    prep2 = Preprocessor(mixed_small, cat_labels_threshold=0.0)
    out2 = prep2.transform(mixed_small).toPandas()
    assert "categorical_feature_None" in out2.columns
    assert out2["categorical_feature_None"].sum() == 1


def test_ts_features(spark):
    # FIXTURES.md A5 — reference tests/test_preprocessor.py:128-154
    pdf = pd.DataFrame(
        {
            "id": [1] * 5 + [2] * 5,
            "time": list(range(5)) * 2,
            "value1": list(range(10)),
            "value2": np.sin(np.linspace(0, 10, 10)),
        }
    )
    df = spark.createDataFrame(pdf)
    prep = Preprocessor(df, time_id="time")
    feats = prep.extract_ts_features(df, y={1: 0, 2: 1}, column_id="id").toPandas()
    feats = feats.set_index("id").sort_index()
    assert feats.loc[1, "value1__mean"] == pytest.approx(2.0)
    assert feats.loc[2, "value1__mean"] == pytest.approx(7.0)


def test_ts_features_moment_catalog_numpy_parity(spark):
    """The broadened catalog (autocorrelation at lags, binned entropy, OLS
    slope, bias-corrected skewness/kurtosis) must match the straightforward
    numpy/tsfresh formulas computed per series on the driver."""
    from preprocessor_spark.operators.ts_features import extract_ts_features

    rng = np.random.RandomState(5)
    series = {1: rng.uniform(0, 100, 40), 2: np.cumsum(rng.randn(25)) + 50.0}
    pdf = pd.DataFrame(
        {
            "id": sum(([k] * len(v) for k, v in series.items()), []),
            "time": sum(([*range(len(v))] for v in series.values()), []),
            "value": np.concatenate(list(series.values())),
        }
    )
    feats = (
        extract_ts_features(spark.createDataFrame(pdf), time="time", column_id="id")
        .toPandas()
        .set_index("id")
        .sort_index()
    )
    for sid, x in series.items():
        n = len(x)
        mu, var = x.mean(), x.var()
        for lag in (1, 2, 5, 10):
            ref = ((x[lag:] - mu) * (x[:-lag] - mu)).sum() / ((n - lag) * var)
            assert feats.loc[sid, f"value__autocorrelation_lag_{lag}"] == pytest.approx(ref)
        counts, _ = np.histogram(x, bins=10)
        p = counts / n
        ent = float(-(p[p > 0] * np.log(p[p > 0])).sum())
        assert feats.loc[sid, "value__binned_entropy"] == pytest.approx(ent)
        t = np.arange(n, dtype=float)
        slope = np.polyfit(t, x, 1)[0]
        assert feats.loc[sid, "value__linear_trend_slope"] == pytest.approx(slope)
        m2 = ((x - mu) ** 2).mean()
        m3 = ((x - mu) ** 3).mean()
        m4 = ((x - mu) ** 4).mean()
        skew = np.sqrt(n * (n - 1)) / (n - 2) * m3 / m2 ** 1.5  # pandas G1
        kurt = ((n + 1) * (m4 / m2**2 - 3) + 6) * (n - 1) / ((n - 2) * (n - 3))  # pandas G2
        assert feats.loc[sid, "value__skewness"] == pytest.approx(skew)
        assert feats.loc[sid, "value__kurtosis"] == pytest.approx(kurt)
        assert feats.loc[sid, "value__absolute_sum_of_changes"] == pytest.approx(
            np.abs(np.diff(x)).sum()
        )
    # constant series: entropy 0, autocorr/skew/kurt null — not a crash
    const = pd.DataFrame({"id": [9] * 6, "time": range(6), "value": [3.0] * 6})
    f9 = (
        extract_ts_features(spark.createDataFrame(const), time="time", column_id="id")
        .toPandas()
        .iloc[0]
    )
    assert f9["value__binned_entropy"] == pytest.approx(0.0)
    assert pd.isna(f9["value__autocorrelation_lag_1"]) and pd.isna(f9["value__skewness"])


def test_datetime_string_inference(spark):
    pdf = pd.DataFrame(
        {
            "dat": ["2021-01-0%d" % (i + 1) for i in range(9)] + [None],
            "x": np.arange(10.0),
        }
    )
    df = spark.createDataFrame(pdf)
    prep = Preprocessor(df)
    assert "dat" in prep.datetime_features
    out = prep.transform(df).toPandas()
    # datetime becomes float epoch seconds
    assert out["dat"].dtype == np.float64


def test_single_value_discard(spark):
    pdf = pd.DataFrame(
        {
            "equ": ["a"] * 5 + [None],
            "num": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
            "con": [7.0] * 6,
        }
    )
    df = spark.createDataFrame(pdf)
    with pytest.warns(UserWarning):
        prep = Preprocessor(df)
    assert "con" in prep.discarded_features
    out = prep.transform(df).toPandas()
    assert "con" not in out.columns
    # 'equ' is a 2-value column ('a', null) → kept, null becomes "None" dummy
    assert "equ_None" in out.columns


def test_dominance_discard(spark):
    pdf = pd.DataFrame(
        {
            "dom": ["x"] * 99 + ["y"],
            "num": np.arange(100.0),
        }
    )
    df = spark.createDataFrame(pdf)
    with pytest.warns(UserWarning):
        prep = Preprocessor(df)
    assert "dom" in prep.discarded_features


def test_target_classification(spark):
    pdf = pd.DataFrame(
        {
            "x": np.arange(10.0),
            "y": ["b", "a", "c", "a", "b", "c", "a", "b", "c", "a"],
        }
    )
    df = spark.createDataFrame(pdf)
    prep = Preprocessor(df, ml_task="classification", target_column="y")
    out = prep.transform(df).toPandas()
    # lexicographic LabelEncoder parity: a→0, b→1, c→2
    assert out["y"].tolist() == [1, 0, 2, 0, 1, 2, 0, 1, 2, 0]
    back = prep.inverse_transform(prep.transform(df)).toPandas()
    assert back["y"].tolist() == pdf["y"].tolist()


def test_target_regression(spark):
    pdf = pd.DataFrame({"x": np.arange(10.0), "y": np.linspace(5, 25, 10)})
    df = spark.createDataFrame(pdf)
    prep = Preprocessor(df, ml_task="regression", target_column="y")
    out = prep.transform(df).toPandas()
    assert out["y"].min() == pytest.approx(0.0)
    assert out["y"].max() == pytest.approx(1.0)


def test_save_load(mixed_small, tmp_path):
    prep = Preprocessor(mixed_small, scaling="normalize", num_fill_null="mean")
    p = str(tmp_path / "state.json")
    prep.save(p)
    prep2 = Preprocessor.load(p)
    a = prep.transform(mixed_small).toPandas()
    b = prep2.transform(mixed_small).toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_unseen_labels_all_zero(spark):
    """Labels absent at fit time one-hot to all-zero rows ("ignore" policy,
    reference preprocessor.py:436-439 + categorical_transformer.py:53-68);
    transform output schema is always the fitted dummy schema."""
    import pandas as pd

    fit_df = spark.createDataFrame(pd.DataFrame({"c": ["a", "b", "a", "b", "a"], "x": [1.0, 2.0, 3.0, 4.0, 5.0]}))
    new_df = spark.createDataFrame(pd.DataFrame({"c": ["a", "z", "b"], "x": [1.0, 2.0, 3.0]}))
    prep = Preprocessor(fit_df, cat_labels_threshold=0.0)
    out = prep.transform(new_df).toPandas()
    dummies = [c for c in out.columns if c.startswith("c_")]
    assert sorted(dummies) == ["c_a", "c_b"]  # fitted schema, no c_z
    z_row = out[[d for d in dummies]].iloc[1]
    assert z_row.sum() == 0  # unseen label → all-zero
    assert out[dummies].iloc[0]["c_a"] == 1
    assert out[dummies].iloc[2]["c_b"] == 1


def test_discarded_info_reasons_and_values(spark):
    """Reference get_discarded_info parity (preprocessor.py:151,311,325,
    README:146-151): reasons per discarded column + the single value of
    single-valued ones."""
    pdf = pd.DataFrame(
        {
            "con": [7.0] * 100,                      # numeric single value
            "single_cat": ["only"] * 100,            # categorical single value
            "dom": ["x"] * 99 + ["y"],               # 98% dominance
            "num": np.arange(100.0),
            "cat": (["a"] * 50 + ["b"] * 50),
        }
    )
    df = spark.createDataFrame(pdf)
    with pytest.warns(UserWarning):
        prep = Preprocessor(df, get_discarded_info=True)
    assert sorted(prep.discarded_features) == ["con", "dom", "single_cat"]
    reasons = prep.get_discarded_features_reason()
    assert reasons["con"] == "contains a single value"
    assert reasons["single_cat"] == "contains a single value"
    assert "covers" in reasons["dom"]
    sv = prep.get_single_valued_columns()
    assert sv["con"] == 7.0
    assert sv["single_cat"] == "only"
    assert sv["dom"] == "x"  # the dominant label
    # instance attribute parity (reference preprocessor.py:97-98)
    assert prep.single_value_columns == sv


def test_discarded_info_gated_without_flag(spark):
    pdf = pd.DataFrame({"con": [1.0] * 10, "num": np.arange(10.0)})
    df = spark.createDataFrame(pdf)
    with pytest.warns(UserWarning):
        prep = Preprocessor(df)
    assert prep.discarded_features == ["con"]  # list always available
    with pytest.raises(AttributeError):
        prep.get_discarded_features_reason()
    with pytest.raises(AttributeError):
        prep.get_single_valued_columns()


def test_discarded_info_survives_save_load(spark, tmp_path):
    pdf = pd.DataFrame({"con": [3.0] * 10, "num": np.arange(10.0)})
    df = spark.createDataFrame(pdf)
    with pytest.warns(UserWarning):
        prep = Preprocessor(df, get_discarded_info=True)
    p = str(tmp_path / "state.json")
    prep.save(p)
    prep2 = Preprocessor.load(p)
    assert prep2.get_single_valued_columns() == {"con": 3.0}
    assert prep2.single_value_columns == {"con": 3.0}
    assert prep2.get_discarded_features_reason() == {"con": "contains a single value"}


def test_unseen_labels_error_warns(spark):
    """unseen_labels='error' warns (reference preprocessor.py:434-437 warns
    rather than raises) listing the out-of-fitted-set content; 'ignore'
    stays silent on the same input."""
    import warnings as w

    fit_df = spark.createDataFrame(
        pd.DataFrame({"c": ["a", "b", "a", "b", "a"], "x": [1.0, 2.0, 3.0, 4.0, 5.0]})
    )
    new_df = spark.createDataFrame(pd.DataFrame({"c": ["a", "zzz", "b"], "x": [1.0, 2.0, 3.0]}))

    prep = Preprocessor(fit_df, cat_labels_threshold=0.0, unseen_labels="error")
    with pytest.warns(UserWarning, match="unseen categorical labels.*zzz"):
        prep.transform(new_df).collect()

    # same fitted content is silent
    with w.catch_warnings():
        w.simplefilter("error")
        prep.transform(fit_df).collect()

    # 'ignore' (default) is silent even on unseen content
    prep2 = Preprocessor(fit_df, cat_labels_threshold=0.0)
    with w.catch_warnings():
        w.simplefilter("error")
        prep2.transform(new_df).collect()


def test_unseen_labels_error_with_rare_null(spark):
    """Nulls below the rare-label threshold put None among the rare labels;
    the unseen-label report must still run and report only real labels."""
    vals = ["a"] * 100 + ["b"] * 100 + ["c"] * 100 + [None]
    fit_df = spark.createDataFrame(pd.DataFrame({"c": vals, "x": range(len(vals))}))
    prep = Preprocessor(fit_df, unseen_labels="error")
    assert None in prep.state.rare_labels["c"]
    new_df = spark.createDataFrame(pd.DataFrame({"c": ["a", "zz", None], "x": [1, 2, 3]}))
    with pytest.warns(UserWarning, match=r"unseen categorical labels: \{'c': \['zz'\]\}"):
        prep.transform(new_df).collect()


def test_unseen_labels_validation(spark):
    fit_df = spark.createDataFrame(pd.DataFrame({"x": [1.0, 2.0]}))
    with pytest.raises(ValueError):
        Preprocessor(fit_df, unseen_labels="explode")
