"""Round-10 regression tests for the round-9 ADVICE items plus the
round-10 operator hardening work.

- kfold_cv_ols2: the held-out SSE path gets the same overflow-certificate
  discipline as the moment path (a |residual| >= 1e9 squares past
  DECIMAL(28,10) and would silently NULL out of the fold SSE).
- decision_stump: empty / all-null input returns an empty frame with the
  output schema instead of a driver-side ZeroDivisionError.
- holt_stream (and the cusum stream twin): null order_col rows are
  filtered exactly like the batch twins' where clause, preserving the
  documented exact batch/stream equivalence.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest


def test_kfold_cv_sse_overflow_certificate_raises(spark):
    from preprocessor_spark.operators.crossval import kfold_cv_ols2

    rng = np.random.default_rng(5)
    # x magnitudes pass the DECIMAL(18,4) moment certificate, but y is an
    # alternating +-1e13 signal no plane can track: held-out residuals are
    # ~1e13, residual^2 ~1e26 > DECIMAL(28,10)'s 18 integer digits
    rows = [
        (
            int(i),
            round(float(rng.uniform(0, 10)), 2),
            round(float(rng.uniform(-5, 5)), 2),
            float(1e13 if i % 2 else -1e13),
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "rid long, x1 double, x2 double, y double")
    # under ANSI (Spark 4 default) the quantization cast itself raises;
    # under non-ANSI the new count certificate fires — both are loud
    with pytest.raises(
        Exception,
        match="squared residual|overflows|NUMERIC_VALUE_OUT_OF_RANGE|cannot be represented",
    ):
        kfold_cv_ols2(df, "x1", "x2", "y", "rid", k=4).collect()

    # verify the certificate itself under non-ANSI semantics
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(Exception, match="squared residual"):
            kfold_cv_ols2(df, "x1", "x2", "y", "rid", k=4).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_kfold_cv_sane_inputs_still_pass_certificate(spark):
    from preprocessor_spark.operators.crossval import kfold_cv_ols2

    rng = np.random.default_rng(6)
    rows = [
        (
            int(i),
            round(float(rng.uniform(0, 10)), 2),
            round(float(rng.uniform(-5, 5)), 2),
            round(float(rng.normal(100, 20)), 2),
        )
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "rid long, x1 double, x2 double, y double")
    out = kfold_cv_ols2(df, "x1", "x2", "y", "rid", k=3).collect()
    assert len(out) == 3
    assert all(r["rmse_test"] is not None for r in out)


def test_decision_stump_empty_input_returns_empty_frame(spark):
    from preprocessor_spark.operators.cart import decision_stump

    empty = spark.createDataFrame([], "x double, y int")
    out = decision_stump(empty, "x", "y")
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "threshold", "n_left", "pos_left", "n_right", "pos_right",
        "gini_root", "gini_split", "gain",
    ]
    # all-null feature column is the same degenerate case
    allnull = spark.createDataFrame(
        [(None, 1), (None, 0)], "x double, y int"
    )
    assert decision_stump(allnull, "x", "y").count() == 0


def test_holt_stream_drops_null_order_rows_like_batch(spark, tmp_path):
    """A null-timestamp event must not enter the recursion (the batch twin
    filters both value and order nulls); equivalence must hold when the
    source contains null order_col rows."""
    import time

    from preprocessor_spark.operators.holt import holt_forecast
    from preprocessor_spark.streaming import holt_stream, run_available_now

    rng = np.random.default_rng(41)
    m = 4
    rows = []
    for uid in (1, 2):
        base = rng.uniform(50, 60)
        prof = rng.normal(0, 3, m)
        for t in range(24):
            rows.append((
                uid * 1000 + t,
                pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=t),
                uid, "m",
                float(base + 0.3 * t + prof[t % m] + rng.normal(0, 0.2)),
                "{}",
            ))
    # poison rows: null ts (and one null value) that the batch twin drops
    rows.append((9001, None, 1, "m", 999.0, "{}"))
    rows.append((9002, None, 2, "m", -999.0, "{}"))
    rows.append((9003, pd.Timestamp("2024-01-01 00:05:30"), 1, "m", None, "{}"))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    src = str(tmp_path / "holt_null_events")
    early = pdf[pdf.ts.isna() | (pdf.ts < pd.Timestamp("2024-01-01 00:11:00"))]
    late = pdf[pdf.ts.notna() & (pdf.ts >= pd.Timestamp("2024-01-01 00:11:00"))]
    spark.createDataFrame(early).coalesce(1).write.mode("overwrite").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(late).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_available_now(
        holt_stream(stream, "user_id", "ts", "value"),
        "holt_null_state", output_mode="update",
    )
    out = spark.table("holt_null_state").toPandas()
    final = (
        out.sort_values("n").groupby("user_id").last().reset_index().set_index("user_id")
    )
    batch = (
        holt_forecast(spark.createDataFrame(pdf), "user_id", "ts", "value")
        .toPandas()
        .set_index("user_id")
    )
    assert set(final.index) == set(batch.index)
    for uid in batch.index:
        for col in ("n", "level", "trend", "rmse"):
            assert final.loc[uid, col] == batch.loc[uid, col], (uid, col)
        assert list(final.loc[uid, "forecast"]) == list(batch.loc[uid, "forecast"])


class TestPhashClusters:
    """Round-10: cluster output is the scale-safe default for image dedup
    (one row per image at any duplication factor; member pairs never
    materialize)."""

    def _clusters(self, spark, ids_hashes, **kw):
        import pandas as pd

        from preprocessor_spark.operators.phash import phash_neardup_clusters

        pdf = pd.DataFrame(ids_hashes, columns=["id", "dhash"])
        return {
            r["id"]: r
            for r in phash_neardup_clusters(
                spark.createDataFrame(pdf), "id", "dhash", **kw
            ).collect()
        }

    def test_matches_pairs_then_cc_reference(self, spark):
        """Clusters equal the transitive closure of the exact pair list."""
        import itertools

        import numpy as np

        rng = np.random.RandomState(11)
        # planted: 3 exact-dup groups, a chain of 1-bit neighbors, singletons
        rows = []
        nid = 0
        for h in (0x1234, -77, 1 << 40):
            for _ in range(4):
                rows.append((nid, h)); nid += 1
        chain_base = 0x0F0F0F0F
        for k in range(4):  # any two differ in exactly 2 bits: one cluster
            rows.append((nid, chain_base ^ (1 << k))); nid += 1
        for _ in range(5):
            v = int(rng.randint(0, 2**31)) | (1 << 62)
            rows.append((nid, v)); nid += 1
        got = self._clusters(spark, rows, max_hamming=3)
        assert len(got) == len(rows)
        # scalar reference: union-find over brute-force hamming<=3 pairs
        parent = {i: i for i, _ in rows}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        def ham(a, b):
            return bin((a ^ b) & ((1 << 64) - 1)).count("1")

        for (ia, ha), (ib, hb) in itertools.combinations(rows, 2):
            if ham(ha, hb) <= 3:
                union(ia, ib)
        want = {i: find(i) for i, _ in rows}
        # normalize: component label = min member id
        comp_members = {}
        for i, c in want.items():
            comp_members.setdefault(c, []).append(i)
        for c, members in comp_members.items():
            m = min(members)
            for i in members:
                assert got[i]["cluster"] == m, (i, got[i], m)
                assert got[i]["cluster_size"] == len(members)
                assert got[i]["keep"] == (i == m)

    def test_mega_clique_is_linear_output(self, spark):
        """1000 identical hashes (over max_bucket): output is 1000 rows,
        one keeper — never the C(1000,2) pair list."""
        rows = [(i, 12345) for i in range(1000)]
        got = self._clusters(spark, rows, max_hamming=3, max_bucket=100)
        assert len(got) == 1000
        assert sum(1 for r in got.values() if r["keep"]) == 1
        assert all(r["cluster"] == 0 and r["cluster_size"] == 1000 for r in got.values())

    def test_no_cross_product_plan(self, spark):
        import pandas as pd

        from preprocessor_spark.operators.phash import phash_neardup_clusters

        pdf = pd.DataFrame({"id": [1, 2, 3], "dhash": [7, 7, 99]})
        plan = (
            phash_neardup_clusters(spark.createDataFrame(pdf), "id", "dhash")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestAvroFlatFastPath:
    """Round-10: the exec-generated flat-record block decoder must be
    value-identical to the generic closure-tree decoder on every supported
    primitive kind, including nulls, pre-epoch timestamps, unicode and
    empty strings."""

    def _write(self, spark, tmp_path, rows, schema, codec="deflate"):
        from preprocessor_spark.sources.avro_py import write_avro_py

        dest = str(tmp_path / "flat")
        write_avro_py(spark.createDataFrame(rows, schema), dest, codec=codec)
        return dest

    def test_plan_detection(self, spark, tmp_path):
        import glob as g

        from preprocessor_spark.sources.avro_py import (
            _flat_plan,
            read_avro_schema,
            write_avro_py,
        )

        flat = self._write(
            spark, tmp_path, [(1, "a", 2.5)], "id long, s string, x double"
        )
        sch, _ = read_avro_schema(g.glob(f"{flat}/part-*.avro")[0])
        plan = _flat_plan(sch)
        assert plan is not None and [k for _, k, _ in plan] == [
            "long", "string", "double",
        ]
        nested = str(tmp_path / "nested")
        write_avro_py(
            spark.createDataFrame([(1, [1, 2])], "id long, arr array<int>"), nested
        )
        sch2, _ = read_avro_schema(g.glob(f"{nested}/part-*.avro")[0])
        assert _flat_plan(sch2) is None

    def test_fast_path_equals_generic_rows(self, spark, tmp_path):
        import datetime as dt
        import glob as g

        from preprocessor_spark.sources.avro_py import (
            _flat_plan,
            _gen_flat_decoder,
            _iter_file_rows,
            _iter_raw_blocks,
            read_avro_schema,
            register_avro_source,
        )

        rows = [
            (1, "héllo wörld", "", 1.5, -2.25, True, 42, -(2**40),
             bytearray(b"\x00\xff"), dt.date(2024, 2, 29),
             dt.datetime(2024, 2, 29, 12, 34, 56, 789012)),
            (2, None, None, None, None, None, None, None, None, None, None),
            (3, "z" * 1000, "x", float("inf"), -0.0, False, -1, 0,
             bytearray(b""), dt.date(1969, 12, 31),
             dt.datetime(1969, 12, 31, 23, 59, 59, 999999)),
        ]
        schema = (
            "id long, s string, s2 string, f float, x double, b boolean, "
            "i int, big long, raw binary, d date, ts timestamp"
        )
        dest = self._write(spark, tmp_path, rows, schema)
        path = g.glob(f"{dest}/part-*.avro")[0]
        sch, _ = read_avro_schema(path)
        plan = _flat_plan(sch)
        assert plan is not None
        # generic row decode (Python datetimes, utf8-decoded strings)
        generic = list(_iter_file_rows(path))
        # specialized decode (raw ints, bytes slices)
        import struct as st

        dec = _gen_flat_decoder(plan)
        cols_all = [[] for _ in plan]
        for n, block in _iter_raw_blocks(path):
            cols = dec(block, n, st.Struct("<f").unpack_from,
                       st.Struct("<d").unpack_from)
            for acc, c in zip(cols_all, cols):
                acc.extend(c)
        epoch_d = dt.date(1970, 1, 1)
        epoch_t = dt.datetime(1970, 1, 1)
        for ri, grow in enumerate(generic):
            for ci, (name, kind, _) in enumerate(plan):
                gv, fv = grow[ci], cols_all[ci][ri]
                if gv is None:
                    assert fv is None, (name, ri)
                elif kind == "string":
                    assert fv.decode("utf-8") == gv, name
                elif kind == "bytes":
                    assert fv == gv, name
                elif kind == "date":
                    assert epoch_d + dt.timedelta(days=fv) == gv, name
                elif kind in ("ts_us", "ts_ms", "ts_ntz"):
                    assert epoch_t + dt.timedelta(microseconds=fv) == gv, name
                else:
                    assert fv == gv, name
        # and the registered source end-to-end returns the same frame
        register_avro_source(spark)
        back = spark.read.format("avro_py").load(dest)
        got = sorted(back.collect(), key=lambda r: r["id"])
        assert got[0]["s"] == "héllo wörld" and got[0]["s2"] == ""
        assert got[0]["ts"] == dt.datetime(2024, 2, 29, 12, 34, 56, 789012)
        assert got[2]["ts"] == dt.datetime(1969, 12, 31, 23, 59, 59, 999999)
        assert got[2]["d"] == dt.date(1969, 12, 31)
        assert got[2]["x"] == 0.0 and got[2]["f"] == float("inf")
        assert bytes(got[0]["raw"]) == b"\x00\xff" and bytes(got[2]["raw"]) == b""
        assert all(got[1][c] is None for c in back.columns if c != "id")


def _mg_ref(seq, cap):
    counters, dec = {}, 0
    for v in seq:
        if v in counters:
            counters[v] += 1
        elif len(counters) < cap:
            counters[v] = 1
        else:
            dec += 1
            for key in list(counters):
                counters[key] -= 1
                if counters[key] == 0:
                    del counters[key]
    return counters, dec
