"""Coverage for order-dependent fill strategies, the 12-format datetime
probe table, and the CSV/JSON source connectors."""

from __future__ import annotations

from contextlib import contextmanager, nullcontext

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from preprocessor_spark import Preprocessor, persist_scope
from preprocessor_spark.plans import formatted_plan


def _prep_roundtrip_values(spark, values, strategy, **kw):
    pdf = pd.DataFrame({"x": values, "k": list(range(len(values)))})
    df = spark.createDataFrame(pdf)
    prep = Preprocessor(df, num_fill_null=strategy, **kw)
    out = prep.transform(df).toPandas().sort_values("k")
    return out["x"].tolist()


def test_fill_forward(spark):
    vals = _prep_roundtrip_values(spark, [1.0, None, None, 4.0, None], "forward")
    assert vals == [1.0, 1.0, 1.0, 4.0, 4.0]


def test_fill_backward(spark):
    vals = _prep_roundtrip_values(spark, [None, 2.0, None, 4.0, None], "backward")
    assert vals == [2.0, 2.0, 4.0, 4.0, None] or (
        vals[:4] == [2.0, 2.0, 4.0, 4.0] and (vals[4] is None or np.isnan(vals[4]))
    )


def test_fill_interpolate(spark):
    vals = _prep_roundtrip_values(spark, [1.0, None, None, 4.0], "interpolate")
    assert vals == [1.0, 2.0, 3.0, 4.0]


def test_fill_literal(spark):
    vals = _prep_roundtrip_values(spark, [1.0, None, 3.0], 99.5)
    assert vals == [1.0, 99.5, 3.0]


def test_fill_zero_one_min_max(spark):
    assert _prep_roundtrip_values(spark, [2.0, None, 4.0], "zero")[1] == 0.0
    assert _prep_roundtrip_values(spark, [2.0, None, 4.0], "one")[1] == 1.0
    assert _prep_roundtrip_values(spark, [2.0, None, 4.0], "min")[1] == 2.0
    assert _prep_roundtrip_values(spark, [2.0, None, 4.0], "max")[1] == 4.0


def test_inf_clamp_then_fill(spark):
    vals = _prep_roundtrip_values(spark, [1.0, float("inf"), 3.0], "mean")
    assert vals[1] == pytest.approx(2.0)  # inf → null → mean(1,3)


@pytest.mark.parametrize(
    "strings,fmt_roundtrip",
    [
        (["2021-03-04 05:06:07", "2021-03-05 06:07:08"], True),
        (["2021-03-04T05:06:07", "2021-03-05T06:07:08"], True),
        (["04/03/2021", "05/03/2021"], True),  # %d/%m/%Y
        (["2021-03", "2021-04"], True),
        (["05:06:07", "06:07:08"], True),  # time-only → 1970-01-01 promotion
    ],
)
def test_datetime_format_probe(spark, strings, fmt_roundtrip):
    pdf = pd.DataFrame({"dat": strings, "x": [1.0, 2.0]})
    df = spark.createDataFrame(pdf)
    prep = Preprocessor(df)
    assert "dat" in prep.datetime_features
    out = prep.transform(df)
    assert dict(out.dtypes)["dat"] == "double"  # float epoch seconds
    if fmt_roundtrip:
        back = prep.inverse_transform(out).toPandas()
        assert sorted(back["dat"].tolist()) == sorted(strings)


def test_datetime_epoch_values(spark):
    pdf = pd.DataFrame({"dat": ["1970-01-01 00:00:10"], "x": [1.0]})
    df = spark.createDataFrame(pdf)
    prep = Preprocessor(df)
    out = prep.transform(df).toPandas()
    assert out["dat"].iloc[0] == pytest.approx(10.0)  # seconds since epoch


def test_asof_forward_direction(spark):
    from preprocessor_spark.operators.asof import asof_join

    left = spark.createDataFrame([("A", 1.0), ("A", 5.0)], "sym string, t double")
    right = spark.createDataFrame([("A", 2.0, 100.0)], "sym string, t double, v double")
    out = asof_join(left, right, on="t", by=["sym"], direction="forward").toPandas()
    out = out.set_index("t")
    assert out.loc[1.0, "r_v"] == 100.0  # next value at/after 1.0
    assert pd.isna(out.loc[5.0, "r_v"])  # nothing after 5.0


def test_partitioned_order_fill(spark):
    """Per-series forward fill with partition_by — the scale path."""
    pdf = pd.DataFrame(
        {
            "series": ["a", "a", "a", "b", "b"],
            "x": [1.0, None, None, 7.0, None],
        }
    )
    df = spark.createDataFrame(pdf)
    prep = Preprocessor(df, num_fill_null="forward", excluded_col=["series"], partition_by=["series"])
    out = prep.transform(df).toPandas().sort_index()
    by_series = out.groupby("series")["x"].apply(list).to_dict()
    assert by_series["a"] == [1.0, 1.0, 1.0]
    assert by_series["b"] == [7.0, 7.0]


def _time_shuffled_frame(n=60, seed=11):
    """Timestamps shuffled against ingest order, five rows per instant on
    average, three series and a numeric column with interior nulls."""
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame(
        {
            "k": np.arange(n, dtype="int64"),
            "series": rng.choice(["a", "b", "c"], size=n),
            "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(rng.integers(0, 12, n), unit="h"),
            "x": rng.normal(size=n),
        }
    )
    pdf.loc[rng.random(n) < 0.35, "x"] = np.nan
    return pdf


@pytest.mark.parametrize("partition_by", [None, ["series"]], ids=["global", "series"])
@pytest.mark.parametrize("strategy", ["forward", "backward", "interpolate"])
def test_numeric_fills_follow_time_order(spark, strategy, partition_by):
    """The reference sorts the table by the first datetime column before
    filling numerics (datetime_transformer.py:98), so forward/backward/
    interpolate fills follow time order, with ingest order among rows of
    one instant — on the global and on the per-series route."""
    pdf = _time_shuffled_frame()
    prep = Preprocessor(
        spark.createDataFrame(pdf),
        num_fill_null=strategy,
        excluded_col=["k", "series"],
        partition_by=partition_by,
    )
    out = prep.transform(spark.createDataFrame(pdf)).toPandas().sort_values("k")

    fill = {
        "forward": lambda s: s.ffill(),
        "backward": lambda s: s.bfill(),
        "interpolate": lambda s: s.interpolate(limit_area="inside"),
    }[strategy]
    ref = pdf.sort_values("ts", kind="stable")
    want = ref.groupby("series")["x"].transform(fill) if partition_by else fill(ref["x"])
    np.testing.assert_allclose(
        out["x"].to_numpy(dtype="float64"), want.sort_index().to_numpy(), rtol=1e-12
    )


def test_transform_makes_one_fill_pass(spark, monkeypatch):
    """Datetime interpolation and the numeric fill share one
    apply_order_dependent_fills pass: one persisted window frame."""
    from preprocessor_spark import caching

    df = spark.createDataFrame(_time_shuffled_frame())
    prep = Preprocessor(df, num_fill_null="interpolate", excluded_col=["k", "series"])
    persisted = []

    def record(frame):
        persisted.append(frame)
        return frame

    monkeypatch.setattr(caching, "register_persisted", record)
    try:
        prep.transform(df)
        assert len(persisted) == 1
    finally:
        for frame in persisted:
            frame.unpersist()


def test_backward_fill_tied_keys_with_tiebreak(spark):
    """Duplicate order keys + tiebreak_col: the reverse scan mirrors the
    forward order exactly, so fills at tied rows are deterministic."""
    import pandas as pd

    from preprocessor_spark.functions.numerical import backward_fill_expr, interpolate_expr

    pdf = pd.DataFrame(
        {
            "rid": [0, 1, 2, 3],
            "t": [1, 5, 5, 9],
            "v": [1.0, None, 10.0, 20.0],
        }
    )
    df = spark.createDataFrame(pdf)
    out = (
        df.withColumn("bf", backward_fill_expr(F.col("v"), "t", tiebreak_col="rid"))
        .withColumn("interp", interpolate_expr(F.col("v"), "t", tiebreak_col="rid"))
        .toPandas()
        .sort_values("rid")
    )
    # row rid=1 (t=5, null): next non-null at-or-after in (t, rid) order is
    # rid=2's 10.0; interpolation midpoint between 1.0 and 10.0 is 5.5
    assert out.loc[out.rid == 1, "bf"].iloc[0] == 10.0
    assert out.loc[out.rid == 1, "interp"].iloc[0] == pytest.approx(5.5)


# ---------------------------------------------------------------------------
# scale-safe (range-partitioned two-pass) order-dependent fills
# ---------------------------------------------------------------------------

def _fill_frame(spark, n=20_000, seed=7):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame(
        {
            "rid": np.arange(n, dtype="int64"),
            "okey": rng.permutation(n).astype("float64"),
            "v": rng.normal(size=n),
        }
    )
    pdf.loc[rng.random(n) < 0.3, "v"] = np.nan
    # null order keys exercise the nulls-first bucket-0 routing
    pdf.loc[rng.random(n) < 0.01, "okey"] = np.nan
    return spark.createDataFrame(pdf)


@contextmanager
def _sixteen_buckets(spark):
    """Size the fill pass to 16 buckets: the bucket count is the frame's
    bytes over the advisory partition size, clamped to the shuffle
    partition count, so a 1 KB advisory size hits the clamp."""
    from preprocessor_spark.caching import _conf_scope

    with _conf_scope(spark, "spark.sql.shuffle.partitions", "16"), _conf_scope(
        spark, "spark.sql.adaptive.advisoryPartitionSizeInBytes", "1k"
    ):
        yield


_BUCKET_EXCHANGE = "shufflepartitionidpassthrough(direct_shuffle_partition_id(__bkt"


@pytest.mark.parametrize("strategy", ["forward", "backward", "interpolate"])
def test_bucketed_fill_matches_global_window(spark, strategy):
    """The range-partitioned two-pass carry must be value-identical (exact,
    including FP) to the single-partition global-window formulation."""
    from preprocessor_spark.functions import numerical as N

    df = _fill_frame(spark)
    with _sixteen_buckets(spark):
        got = (
            N.apply_order_dependent_fills(df, {"v": strategy}, order_col="okey", tiebreak_col="rid")
            .select("rid", "v")
            .toPandas()
            .sort_values("rid")
            .reset_index(drop=True)
        )
    col = F.col("v")
    if strategy == "forward":
        ref = F.coalesce(col, N.forward_fill_expr(col, "okey", None))
    elif strategy == "backward":
        ref = F.coalesce(col, N.backward_fill_expr(col, "okey", None, tiebreak_col="rid"))
    else:
        ref = N.interpolate_expr(col, "okey", None, tiebreak_col="rid")
    want = (
        df.select("rid", ref.alias("v")).toPandas().sort_values("rid").reset_index(drop=True)
    )
    # exact: same values bit-for-bit, same null positions
    assert got["v"].isna().equals(want["v"].isna())
    a = got["v"].fillna(0.0).to_numpy()
    b = want["v"].fillna(0.0).to_numpy()
    assert (a == b).all()


def test_bucketed_fill_plan_is_parallel(spark):
    """The fill stage must NOT plan Exchange SinglePartition: bucket k goes
    to partition k through one partition-id exchange, and the windows run
    per bucket on it, which is the property that survives a 100× scale-up."""
    from preprocessor_spark.functions import numerical as N

    df = _fill_frame(spark, n=5_000)
    with _sixteen_buckets(spark):
        out = N.apply_order_dependent_fills(
            df, {"v": "interpolate"}, order_col="okey", tiebreak_col="rid"
        )
        plan = formatted_plan(out)
    assert "SinglePartition" not in plan, plan
    assert f"{_BUCKET_EXCHANGE}#" in plan.lower(), plan
    assert "), 16), REPARTITION_BY_NUM" in plan, plan
    assert "hashpartitioning" not in plan, plan  # no second exchange
    assert "BroadcastHashJoin" in plan, plan  # the P-row carry fix-up


def _build_jobs(spark, build):
    """Run ``build`` under a fresh job group; return its result and the
    names of the stages its eager jobs ran."""
    import uuid

    sc = spark.sparkContext
    group = f"fills-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    stages = []
    for job_id in tracker.getJobIdsForGroup(group):
        for stage_id in tracker.getJobInfo(job_id).stageIds:
            info = tracker.getStageInfo(stage_id)
            stages.append(info.name if info else "")
    return out, stages


def test_one_bucket_skips_carry_and_matches_sixteen(spark):
    """At P = 1 the fill pass runs only the count-and-edges aggregate (no
    per-bucket carry aggregate, no broadcast join), and its output equals
    the sixteen-bucket output row for row in collect order."""
    from preprocessor_spark.functions import numerical as N

    df = _fill_frame(spark, n=5_000).withColumn("f", F.col("v")).withColumn("b", F.col("v"))
    fills = {"v": "interpolate", "f": "forward", "b": "backward"}

    def build():
        return N.apply_order_dependent_fills(df, fills, order_col="okey", tiebreak_col="rid")

    with persist_scope():
        one, one_stages = _build_jobs(spark, build)
        with _sixteen_buckets(spark):
            sixteen, sixteen_stages = _build_jobs(spark, build)
            want = sixteen.collect()
        one_plan = formatted_plan(one)
        got = one.collect()
    assert "BroadcastHashJoin" not in one_plan, one_plan
    # stage names carry the call site: at P = 1 every stage is the
    # count-and-edges collect; at P = 16 the carry collect adds its own
    assert one_stages and len(set(one_stages)) == 1, one_stages
    assert set(sixteen_stages) - set(one_stages), sixteen_stages
    assert got == want


def test_transform_fill_plan_is_parallel_without_partition_by(spark):
    """Preprocessor.transform with an order-dependent fill and NO
    partition_by must plan the bucketed fill, not a single-partition
    window (the round-1 scale-killer), and no range sort after it: the
    buckets already hold the rows in time order."""
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {
            "x": rng.normal(size=3_000),
            "y": rng.normal(size=3_000),
            "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(rng.integers(0, 500, 3_000), unit="min"),
        }
    )
    pdf.loc[rng.random(3_000) < 0.2, "x"] = np.nan
    df = spark.createDataFrame(pdf)
    prep = Preprocessor(df, num_fill_null="forward")
    with _sixteen_buckets(spark):
        plan = formatted_plan(prep.transform(df))
    assert "SinglePartition" not in plan, plan
    assert _BUCKET_EXCHANGE in plan.lower(), plan
    assert "rangepartitioning" not in plan.lower(), plan


def _tied_null_ts_frame(n=400, seed=5):
    """Ingest order ``k``, timestamps with ~8 rows per instant shuffled
    against it, 5% null timestamps, and a numeric column with nulls."""
    pdf = _time_shuffled_frame(n=n, seed=seed)
    pdf["ts"] = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        np.random.default_rng(seed).integers(0, n // 8, n), unit="h"
    )
    pdf.loc[np.random.default_rng(seed + 1).random(n) < 0.05, "ts"] = pd.NaT
    return pdf


@pytest.mark.parametrize("buckets", ["sixteen", "one"])
def test_transform_output_is_in_time_order(spark, buckets):
    """Without ``partition_by`` the output comes out of the fill buckets in
    (first datetime, ingest) order with no final sort: collecting it gives
    the rows an explicit sort would, null and tied timestamps included."""
    pdf = _tied_null_ts_frame()
    df = spark.createDataFrame(pdf)
    prep = Preprocessor(df, num_fill_null="interpolate", scaling="normalize", excluded_col=["k", "series"])
    scope = _sixteen_buckets(spark) if buckets == "sixteen" else nullcontext()
    with persist_scope(), scope:
        out = prep.transform(df)
        plan = formatted_plan(out).lower()
        got = out.collect()
        want = out.orderBy("ts", "k").collect()
    assert "rangepartitioning" not in plan
    assert (_BUCKET_EXCHANGE in plan) == (buckets == "sixteen")
    assert [r["k"] for r in got] == [r["k"] for r in want]
    assert got == want
    assert got[0]["ts"] is None and got[-1]["ts"] is not None


def test_transform_with_partition_by_keeps_global_sort(spark):
    """Per-key windows leave rows grouped by key, so with ``partition_by``
    transform still sorts by (first datetime, ingest order)."""
    pdf = _tied_null_ts_frame()
    df = spark.createDataFrame(pdf)
    prep = Preprocessor(
        df, num_fill_null="forward", excluded_col=["k", "series"], partition_by=["series"]
    )
    out = prep.transform(df)
    assert "rangepartitioning" in formatted_plan(out).lower()
    got = out.collect()
    assert got == out.orderBy("ts", "k").collect()


def test_write_partitioned_alignment(spark, sf_dir, tmp_path):
    from preprocessor_spark.sources import write_partitioned

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "part_docs")
    write_partitioned(d, out, ["source"])
    back = spark.read.parquet(out)
    assert back.count() == d.count()
    # exactly one data file per partition directory
    import glob
    for p in glob.glob(f"{out}/source=*"):
        files = [f for f in glob.glob(f"{p}/*.parquet")]
        assert len(files) == 1, p
    # sharded variant: at most files_per_partition files per directory
    out2 = str(tmp_path / "part_docs_sharded")
    write_partitioned(d, out2, ["source"], files_per_partition=3)
    assert spark.read.parquet(out2).count() == d.count()
    for p in glob.glob(f"{out2}/source=*"):
        assert 1 <= len(glob.glob(f"{p}/*.parquet")) <= 3, p


def test_compact_parquet(spark, sf_dir, tmp_path):
    from preprocessor_spark.sources import compact_parquet

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    frag = str(tmp_path / "fragmented")
    d.repartition(40).write.parquet(frag)
    assert len(spark.read.parquet(frag).inputFiles()) == 40
    dest = str(tmp_path / "compacted")
    n = compact_parquet(spark, frag, dest)
    assert n == 1  # tiny dataset fits one target file
    assert len(spark.read.parquet(dest).inputFiles()) == 1
    assert spark.read.parquet(dest).count() == d.count()


def test_write_jsonl_roundtrip(spark, sf_dir, tmp_path):
    from preprocessor_spark.sources import write_jsonl

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "source", "text")
    out = str(tmp_path / "corpus_jsonl")
    write_jsonl(d, out, num_shards=4)
    files = [f for f in spark.read.json(out).inputFiles()]
    assert len(files) == 4
    back = spark.read.json(out)
    assert back.count() == d.count()
    a = {r["doc_id"]: r["text"] for r in d.collect()}
    b = {r["doc_id"]: r["text"] for r in back.collect()}
    assert a == b
