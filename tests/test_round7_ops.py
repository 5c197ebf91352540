"""Round-7 fixes: avro_py save modes + pre-epoch timestamps, fallback
option passthrough, DST-safe cohort offsets.

Reference parity notes: the save-mode contract mirrors Spark's
DataFrameWriter modes.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest


class TestAvroPyRound7:
    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "id long, ts timestamp")

    def test_pre_epoch_fractional_timestamp_roundtrip(self, spark, tmp_path):
        """1969-12-31T23:59:59.999999 must encode as -1 micro, not
        +999999 (round-6 advice: total_seconds() truncation bug)."""
        from preprocessor_spark.sources.avro_py import (
            register_avro_source,
            write_avro_py,
        )

        rows = [
            (1, dt.datetime(1969, 12, 31, 23, 59, 59, 999999)),
            (2, dt.datetime(1969, 12, 31, 23, 59, 58, 500000)),
            (3, dt.datetime(1832, 6, 1, 0, 0, 0, 123456)),  # large magnitude
            (4, dt.datetime(2024, 2, 29, 12, 0, 0, 1)),
        ]
        dest = str(tmp_path / "preepoch")
        write_avro_py(self._df(spark, rows), dest)
        register_avro_source(spark)
        back = {
            r["id"]: r["ts"]
            for r in spark.read.format("avro_py").load(dest).collect()
        }
        for i, ts in rows:
            assert back[i] == ts, (i, back[i], ts)

    def test_append_mode_accumulates_without_clobber(self, spark, tmp_path):
        from preprocessor_spark.sources.avro_py import (
            register_avro_source,
            write_avro_py,
        )

        dest = str(tmp_path / "appendable")
        df = self._df(spark, [(1, dt.datetime(2024, 1, 1))])
        write_avro_py(df, dest)
        write_avro_py(df, dest, mode="append")
        write_avro_py(df, dest, mode="append")
        register_avro_source(spark)
        assert spark.read.format("avro_py").load(dest).count() == 3

    def test_error_and_ignore_modes(self, spark, tmp_path):
        from preprocessor_spark.sources.avro_py import (
            register_avro_source,
            write_avro_py,
        )

        dest = str(tmp_path / "modal")
        df1 = self._df(spark, [(1, dt.datetime(2024, 1, 1))])
        df2 = self._df(spark, [(2, dt.datetime(2025, 1, 1))])
        write_avro_py(df1, dest)
        with pytest.raises(FileExistsError):
            write_avro_py(df2, dest, mode="error")
        write_avro_py(df2, dest, mode="ignore")  # no-op
        register_avro_source(spark)
        got = spark.read.format("avro_py").load(dest).collect()
        assert [r["id"] for r in got] == [1]
        with pytest.raises(ValueError):
            write_avro_py(df2, dest, mode="bogus")

    def test_fallback_rejects_unsupported_options(self, spark, tmp_path):
        """read_avro / write_avro refuse loudly instead of silently
        dropping spark-avro options the pure-Python path can't honor."""
        from preprocessor_spark.sources import read_avro, write_avro

        dest = str(tmp_path / "opts")
        df = self._df(spark, [(1, dt.datetime(2024, 1, 1))])
        # supported mapping: compression -> codec
        write_avro(df, dest, compression="uncompressed")
        assert read_avro(spark, dest).count() == 1
        with pytest.raises(NotImplementedError):
            write_avro(df, str(tmp_path / "opts2"), avroSchema="{}")
        with pytest.raises(NotImplementedError):
            read_avro(spark, dest, avroSchema="{}")


class TestTsFeaturesTier2:
    """Round-7 breadth tier of extract_ts_features (verdict task 6):
    130 features per value column in ONE groupBy pass, tsfresh
    {column}__{feature} naming, numpy-exact on a planted series."""

    def test_feature_breadth(self):
        from preprocessor_spark.operators.ts_features import FEATURES

        assert len(FEATURES) >= 60  # verdict floor; actual = 130
        assert len(set(FEATURES)) == len(FEATURES)

    def test_single_exchange_plan(self, spark, sf_dir):
        import re

        from preprocessor_spark.operators.ts_features import extract_ts_features

        df = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            "user_id", "event_id", "value"
        )
        plan = (
            extract_ts_features(df, time="event_id", column_id="user_id")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
        assert "SinglePartition" not in plan

    def test_tier2_numpy_parity(self, spark):
        import numpy as np
        import pandas as pd

        from preprocessor_spark.operators.ts_features import extract_ts_features

        rng = np.random.RandomState(42)
        x = np.round(rng.uniform(-3, 8, size=73), 2)
        x[10] = x[11] = x.max() + 1  # duplicate max
        pdf = pd.DataFrame({"id": 1, "t": range(len(x)), "v": x})
        row = (
            extract_ts_features(
                spark.createDataFrame(pdf), time="t", column_id="id"
            )
            .collect()[0]
        )
        n = float(len(x))

        def strike(mask):
            best = cur = 0
            for m in mask:
                cur = cur + 1 if m else 0
                best = max(best, cur)
            return float(best)

        mass = np.cumsum(np.abs(x)) / np.abs(x).sum()
        full = float(np.sum(x * x))
        want = {
            "v__quantile_q_0_2": float(np.percentile(x, 20)),
            "v__count_above_mean": float((x > x.mean()).sum()),
            "v__count_below_mean": float((x < x.mean()).sum()),
            "v__count_above_t_0": float((x >= 0).sum()) / n,
            "v__count_below_t_0": float((x <= 0).sum()) / n,
            "v__number_crossing_m_0": float((np.diff(x > 0) != 0).sum()),
            "v__number_crossing_m_m1": float((np.diff(x > -1) != 0).sum()),
            "v__longest_strike_above_mean": strike(x > x.mean()),
            "v__longest_strike_below_mean": strike(x < x.mean()),
            "v__first_location_of_maximum": float(np.argmax(x)) / n,
            "v__last_location_of_maximum": 1.0 - float(np.argmax(x[::-1])) / n,
            "v__first_location_of_minimum": float(np.argmin(x)) / n,
            "v__mean_second_derivative_central": float(
                np.mean((x[2:] - 2 * x[1:-1] + x[:-2]) / 2)
            ),
            "v__variance_larger_than_standard_deviation": float(
                np.var(x) > np.std(x)
            ),
            "v__has_duplicate": float(len(np.unique(x)) < n),
            "v__has_duplicate_max": 1.0,
            "v__has_duplicate_min": float((x == x.min()).sum() > 1),
            "v__ratio_value_number_to_time_series_length": len(np.unique(x)) / n,
            "v__absolute_maximum": float(np.abs(x).max()),
            "v__range_count_m1_1": float(((x >= -1) & (x < 1)).sum()),
            "v__index_mass_quantile_q_0_5": float(np.argmax(mass >= 0.5) + 1) / n,
            "v__time_reversal_asymmetry_statistic_lag_1": float(
                np.mean(x[2:] ** 2 * x[1:-1] - x[1:-1] * x[:-2] ** 2)
            ),
            "v__ratio_beyond_r_sigma_r_1_5": float(
                (np.abs(x - x.mean()) > 1.5 * np.std(x)).sum()
            ) / n,
            "v__large_standard_deviation_r_0_25": float(
                np.std(x) > 0.25 * (x.max() - x.min())
            ),
            "v__symmetry_looking_r_0_05": float(
                abs(x.mean() - np.median(x)) < 0.05 * (x.max() - x.min())
            ),
        }
        for k, ch in enumerate(np.array_split(x, 10)):
            want[f"v__energy_ratio_by_chunks_{k}"] = float(np.sum(ch * ch)) / full

        def npeaks(arr, nn):
            return float(
                sum(
                    all(arr[i] > arr[i - j] for j in range(1, nn + 1))
                    and all(arr[i] > arr[i + j] for j in range(1, nn + 1))
                    for i in range(nn, len(arr) - nn)
                )
            )

        for nn in (1, 3, 5, 10):
            want[f"v__number_peaks_n_{nn}"] = npeaks(x, nn)
        import math

        for k, v in want.items():
            assert row[k] is not None and math.isclose(
                row[k], v, rel_tol=1e-9, abs_tol=1e-9
            ), (k, row[k], v)


class TestCohortOffsetArithmetic:
    def test_week_offsets_from_calendar_days(self, spark):
        """Offsets are floor(datediff/7) of Monday-truncated weeks, not
        epoch-second division (DST-safe by construction)."""
        from preprocessor_spark.operators.funnel import cohort_retention

        rows = [
            ("u1", dt.datetime(2024, 1, 1, 9)),   # Mon wk0
            ("u1", dt.datetime(2024, 1, 8, 9)),   # wk1
            ("u1", dt.datetime(2024, 1, 21, 9)),  # Sun of wk2
            ("u2", dt.datetime(2024, 1, 3, 9)),   # Wed wk0 cohort 2024-01-01
            ("u2", dt.datetime(2024, 1, 15, 9)),  # wk2
        ]
        df = spark.createDataFrame(pd.DataFrame(rows, columns=["user_id", "ts"]))
        got = {
            (str(r["cohort_week"]), r["week_offset"]): r["n_users"]
            for r in cohort_retention(df, "user_id", "ts").collect()
        }
        assert got == {
            ("2024-01-01 00:00:00", 0): 2,
            ("2024-01-01 00:00:00", 1): 1,
            ("2024-01-01 00:00:00", 2): 2,
        }


class TestLabelPropagation:
    def _edges(self, spark):
        # two 5-cliques bridged by ONE edge: LPA must keep them separate
        rows = []
        for base in (0, 100):
            for i in range(5):
                for j in range(i + 1, 5):
                    rows.append((base + i, base + j))
        rows.append((4, 100))  # the bridge
        return spark.createDataFrame(rows, "src long, dst long")

    def test_planted_cliques_split(self, spark):
        from preprocessor_spark.operators.graph import label_propagation

        out = label_propagation(self._edges(spark), rounds=5).collect()
        comm = {r.node: r.community for r in out}
        assert len(comm) == 10
        left = {comm[i] for i in range(5)}
        right = {comm[100 + i] for i in range(5)}
        assert len(left) == 1 and len(right) == 1, (left, right)
        assert left != right  # the bridge must not merge the cliques
        # community names are member ids
        assert left.pop() in range(5) and right.pop() in range(100, 105)

    def test_repartition_determinism(self, spark, fixpoint_route):
        from preprocessor_spark.operators.graph import label_propagation

        fixpoint_route("distributed")
        e = self._edges(spark)
        a = sorted(map(tuple, label_propagation(e, rounds=4).collect()))
        b = sorted(
            map(tuple, label_propagation(e.repartition(7), rounds=4).collect())
        )
        assert a == b

    def test_star_adopts_hub_or_leaf_consistently(self, spark):
        """A star graph: leaves see only the hub; after round 1 every leaf
        carries the hub's (round-0) label — one community total."""
        from preprocessor_spark.operators.graph import label_propagation

        rows = [(0, i) for i in range(1, 9)]
        e = spark.createDataFrame(rows, "src long, dst long")
        out = label_propagation(e, rounds=3).collect()
        assert len({r.community for r in out}) == 1

    def test_driver_gate_matches_distributed_loop(self, spark, fixpoint_route):
        """The size-gated driver replay must return EXACTLY the distributed
        synchronous loop's table — same nodes, same communities — on the
        bridged-cliques graph (long ids) and on a string-keyed bipartite
        graph where the tie-break exercises lexicographic label order."""
        from pyspark.sql import functions as F

        from preprocessor_spark.operators.graph import label_propagation

        e = self._edges(spark)
        es = e.select(
            F.concat(F.lit("c"), F.col("src")).alias("src"),
            F.concat(F.lit("s"), F.col("dst")).alias("dst"),
        )
        fixpoint_route("distributed")
        want = sorted(map(tuple, label_propagation(e, rounds=5).collect()))
        want_s = sorted(map(tuple, label_propagation(es, rounds=5).collect()))
        fixpoint_route("driver")
        got = sorted(map(tuple, label_propagation(e, rounds=5).collect()))
        assert got == want
        got_s = sorted(map(tuple, label_propagation(es, rounds=5).collect()))
        assert got_s == want_s
        # symmetric_distinct contract: pre-symmetrized input, same table
        sym = es.unionByName(
            es.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
        got_sym = sorted(
            map(
                tuple,
                label_propagation(sym, rounds=5, symmetric_distinct=True).collect(),
            )
        )
        assert got_sym == want_s

    def test_no_cartesian(self, spark, fixpoint_route):
        from preprocessor_spark.operators.graph import label_propagation

        fixpoint_route("distributed")
        plan = (
            label_propagation(self._edges(spark), rounds=1)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan
