"""Round-10 applied-analytics operators: Gini/Lorenz, Benford audit,
sequence mining, Cox proportional hazards.

The three SQL-expressible operators are value-oracled end-to-end in
test_queries.py; these tests grade the math against independent scalar
references on planted data and assert the scale shapes. Cox is rows-only
(iterative partial-likelihood fit) — graded here by numpy-Breslow
equivalence, planted-effect recovery, and repartition bit-determinism.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest


class TestGini:
    def test_matches_scalar_reference(self, spark):
        rng = np.random.default_rng(19)
        rows = []
        data = {}
        for g, (lo, hi, n) in {
            "a": (1.0, 100.0, 400),
            "b": (50.0, 60.0, 300),
            "c": (0.01, 1e6, 200),
        }.items():
            vals = np.round(rng.uniform(lo, hi, n), 2)
            data[g] = vals
            rows += [(g, float(v)) for v in vals]
        from preprocessor_spark.operators.inequality import gini_by_group

        df = spark.createDataFrame(rows, "g string, x double")
        got = {r["group"]: r for r in gini_by_group(df, "g", "x").collect()}
        for g, vals in data.items():
            xs = np.sort(vals)
            n = len(xs)
            i = np.arange(1, n + 1)
            ref = float(((2 * i - n - 1) * xs).sum() / (n * xs.sum()))
            assert got[g]["gini"] == pytest.approx(ref, abs=1e-6), g
            assert got[g]["n"] == n
            assert got[g]["total"] == pytest.approx(float(xs.sum()), abs=1e-4)
            b50 = float(xs[: n // 2].sum() / xs.sum())
            t10 = float(xs[n - n // 10 :].sum() / xs.sum()) if n // 10 else 0.0
            assert got[g]["bottom50_share"] == pytest.approx(b50, abs=1e-6), g
            assert got[g]["top10_share"] == pytest.approx(t10, abs=1e-6), g

    def test_known_extremes(self, spark):
        from preprocessor_spark.operators.inequality import gini_by_group

        rows = [("eq", 5.0)] * 10 + [("one", 0.0001)] * 9 + [("one", 1000.0)]
        df = spark.createDataFrame(rows, "g string, x double")
        got = {r["group"]: r for r in gini_by_group(df, "g", "x").collect()}
        assert got["eq"]["gini"] == 0.0  # perfect equality
        # single holder: G -> (n-1)/n = 0.9 (up to the epsilon holdings)
        assert got["one"]["gini"] == pytest.approx(0.9, abs=1e-3)
        assert got["one"]["top10_share"] == pytest.approx(1.0, abs=1e-3)

    def test_single_keyed_exchange_no_single_partition(self, spark):
        from preprocessor_spark.operators.inequality import gini_by_group

        df = spark.createDataFrame([("a", 1.0), ("a", 2.0)], "g string, x double")
        plan = (
            gini_by_group(df, "g", "x")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        body = plan.split("Sort [group")[-1]  # ignore the final orderBy
        assert "Exchange SinglePartition" not in body, plan
        assert plan.count("Exchange hashpartitioning") <= 2, plan


class TestBenford:
    def test_digit_extraction_cases(self, spark):
        from preprocessor_spark.operators.benford import first_digit_expr

        from pyspark.sql import functions as F

        rows = [
            (12345.6,), (0.052,), (-700.1,), (0.0,), (None,), (9.0,),
            (0.0001,), (0.00004,),
        ]
        df = spark.createDataFrame(rows, "x double")
        got = df.select(first_digit_expr(F.col("x")).alias("d")).collect()
        # 0.0001 sits exactly on the DECIMAL(18,4) grid (digit 1);
        # 0.00004 quantizes to 0.0000 — no significant digit
        assert [r["d"] for r in got] == [1, 5, 7, None, None, 9, 1, None]

    def test_report_matches_scalar_and_covers_all_digits(self, spark):
        from collections import Counter

        from preprocessor_spark.operators.benford import (
            BENFORD_P,
            benford_mad,
            benford_report,
        )

        rng = np.random.default_rng(23)
        # log-uniform sample IS Benford-distributed; plus a skewed group
        ben = np.round(10 ** rng.uniform(0, 4, 3000), 2)
        skew = np.round(rng.uniform(100, 199, 500), 2)  # all start with 1
        rows = [("ben", float(v)) for v in ben] + [("skew", float(v)) for v in skew]
        df = spark.createDataFrame(rows, "g string, x double")
        out = benford_report(df, "g", "x").collect()
        by_group = {}
        for r in out:
            by_group.setdefault(r["group"], []).append(r)
        for g in ("ben", "skew"):
            assert sorted(r["digit"] for r in by_group[g]) == list(range(1, 10))
        # scalar reference on the skewed group: every value starts with 1
        skew_rows = {r["digit"]: r for r in by_group["skew"]}
        assert skew_rows[1]["n_obs"] == 500 and skew_rows[2]["n_obs"] == 0
        assert skew_rows[1]["frac_obs"] == 1.0
        assert skew_rows[3]["expected"] == pytest.approx(BENFORD_P[3], abs=1e-6)
        chi1 = (500 - 500 * BENFORD_P[1]) ** 2 / (500 * BENFORD_P[1])
        assert skew_rows[1]["chi2_part"] == pytest.approx(chi1, rel=1e-5)
        # the log-uniform group conforms, the skewed one does not
        assert benford_mad(by_group["ben"]) < 0.015
        assert benford_mad(by_group["skew"]) > 0.05
        # scalar recount of the conforming group
        digits = Counter(int(str(f"{v:.4f}").lstrip("-0.")[0]) for v in ben)
        ben_rows = {r["digit"]: r for r in by_group["ben"]}
        for d in range(1, 10):
            assert ben_rows[d]["n_obs"] == digits.get(d, 0), d

    def test_broadcast_template_and_partial_agg(self, spark):
        from preprocessor_spark.operators.benford import benford_report

        df = spark.createDataFrame([("a", 12.0), ("a", 7.0)], "g string, x double")
        plan = (
            benford_report(df, "g", "x")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
        assert "partial_count" in plan or "partial_sum" in plan


class TestSequences:
    def test_matches_pandas_reference(self, spark):
        from preprocessor_spark.operators.seqmine import frequent_sequences

        rng = np.random.default_rng(31)
        toks = ["view", "click", "cart", "purchase"]
        rows = []
        for uid in range(40):
            for i in range(int(rng.integers(3, 20))):
                rows.append((uid, uid * 1000 + i, toks[int(rng.integers(0, 4))]))
        df = spark.createDataFrame(rows, "u long, o long, t string")
        got = {
            r["seq"]: (r["n_occurrences"], r["n_keys"])
            for r in frequent_sequences(df, "u", "o", "t", k=2).collect()
        }
        pdf = pd.DataFrame(rows, columns=["u", "o", "t"]).sort_values(["u", "o"])
        ref: dict = {}
        for u, g in pdf.groupby("u"):
            ts = list(g["t"])
            for a, b in zip(ts, ts[1:]):
                k = f"{a}>{b}"
                c, users = ref.get(k, (0, set()))
                users.add(u)
                ref[k] = (c + 1, users)
        assert got == {k: (c, len(us)) for k, (c, us) in ref.items()}

    def test_no_cross_key_grams_and_validation(self, spark):
        from preprocessor_spark.operators.seqmine import frequent_sequences

        rows = [(1, 1, "a"), (1, 2, "b"), (2, 3, "c"), (2, 4, "d")]
        df = spark.createDataFrame(rows, "u long, o long, t string")
        got = {r["seq"] for r in frequent_sequences(df, "u", "o", "t", k=2).collect()}
        assert got == {"a>b", "c>d"}  # never "b>c" across the key boundary
        with pytest.raises(ValueError, match="k must be"):
            frequent_sequences(df, "u", "o", "t", k=1)

    def test_single_exchange_topk_plan(self, spark):
        from preprocessor_spark.operators.seqmine import frequent_sequences

        rows = [(1, 1, "a"), (1, 2, "b"), (1, 3, "c")]
        df = spark.createDataFrame(rows, "u long, o long, t string")
        plan = (
            frequent_sequences(df, "u", "o", "t", k=3, top=10)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "TakeOrderedAndProject" in plan, plan
        assert "CartesianProduct" not in plan


def _cox_breslow_numpy(t, e, x, max_iter=12, tol=1e-9):
    """Independent scalar Breslow reference."""
    t, e, x = np.asarray(t, float), np.asarray(e, int), np.asarray(x, float)
    beta = 0.0
    for it in range(1, max_iter + 1):
        r = np.exp(beta * x)
        times = np.unique(t[e == 1])
        u = info = 0.0
        for tt in sorted(times):
            risk = t >= tt
            s0 = r[risk].sum()
            s1 = (x[risk] * r[risk]).sum()
            s2 = (x[risk] ** 2 * r[risk]).sum()
            ev = (t == tt) & (e == 1)
            dk = ev.sum()
            u += x[ev].sum() - dk * s1 / s0
            info += dk * (s2 / s0 - (s1 / s0) ** 2)
        step = u / info
        beta += step
        if abs(step) < tol:
            return beta, info, it
    return beta, info, max_iter


class TestCoxPH:
    def _frame(self, spark, rng, n=800, beta_true=0.8):
        x = rng.normal(0.0, 1.0, n).round(3)
        lam = 0.05 * np.exp(beta_true * x)
        dur = np.ceil(rng.exponential(1.0 / lam)).astype(int)
        cens = np.ceil(rng.exponential(40.0, n)).astype(int)
        t = np.minimum(dur, cens)
        e = (dur <= cens).astype(int)
        rows = [(int(a), int(b), float(c)) for a, b, c in zip(t, e, x)]
        return spark.createDataFrame(rows, "t int, e int, x double"), t, e, x

    def test_matches_numpy_breslow(self, spark):
        from preprocessor_spark.operators.survival import cox_ph

        rng = np.random.default_rng(7)
        df, t, e, x = self._frame(spark, rng)
        fit = cox_ph(df, "t", "e", "x")
        ref_beta, ref_info, _ = _cox_breslow_numpy(t, e, x)
        assert fit["converged"]
        assert fit["beta"] == pytest.approx(ref_beta, abs=1e-6)
        assert fit["se"] == pytest.approx(1.0 / math.sqrt(ref_info), rel=1e-5)
        assert fit["n"] == len(t) and fit["n_events"] == int(e.sum())

    def test_planted_effect_recovery_and_null(self, spark):
        from preprocessor_spark.operators.survival import cox_ph

        rng = np.random.default_rng(11)
        df, *_ = self._frame(spark, rng, n=1500, beta_true=0.8)
        fit = cox_ph(df, "t", "e", "x")
        # planted log-hazard-ratio recovered within ~3 SE
        assert abs(fit["beta"] - 0.8) < 3 * fit["se"] + 0.05
        assert fit["hr"] == pytest.approx(math.exp(fit["beta"]), rel=1e-9)
        # null covariate: beta ~ 0 within 3 SE
        df0, *_ = self._frame(spark, rng, n=1000, beta_true=0.0)
        fit0 = cox_ph(df0, "t", "e", "x")
        assert abs(fit0["beta"]) < 3 * fit0["se"] + 0.02

    def test_repartition_bit_determinism(self, spark):
        from preprocessor_spark.operators.survival import cox_ph

        rng = np.random.default_rng(13)
        df, *_ = self._frame(spark, rng, n=600)
        a = cox_ph(df.repartition(3), "t", "e", "x")
        b = cox_ph(df.repartition(17), "t", "e", "x")
        assert a["beta"] == b["beta"] and a["se"] == b["se"]

    def test_no_events_degenerate(self, spark):
        from preprocessor_spark.operators.survival import cox_ph

        df = spark.createDataFrame([(5, 0, 1.0), (7, 0, 2.0)], "t int, e int, x double")
        fit = cox_ph(df, "t", "e", "x")
        assert fit["n_events"] == 0 and fit["beta"] is None and not fit["converged"]


def test_funnel_stream_equals_batch_after_drain(spark, tmp_path):
    """Round-10 streaming funnel twin: after an in-order drain the
    aggregated per-user states reproduce the batch funnel_report
    bit-exactly (same BIGINT-microsecond arithmetic), including repeated
    step types, ts ties, and users who never convert."""
    import time

    from preprocessor_spark.operators.funnel import funnel_report
    from preprocessor_spark.streaming import (
        funnel_report_from_states,
        funnel_stream,
        run_available_now,
    )

    rng = np.random.default_rng(59)
    toks = ["view", "click", "purchase", "noise"]
    rows = []
    eid = 0
    t0 = pd.Timestamp("2024-01-01")
    for uid in range(60):
        n = int(rng.integers(2, 25))
        for i in range(n):
            # coarse second grid to force ts ties within and across users
            ts = t0 + pd.Timedelta(seconds=int(rng.integers(0, 40)))
            rows.append(
                (eid, ts.to_pydatetime(), uid, toks[int(rng.integers(0, 4))], 0.0, "{}")
            )
            eid += 1
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    # in-order drain contract: split by event time, early file then late
    cut = t0 + pd.Timedelta(seconds=20)
    src = str(tmp_path / "funnel_events")
    spark.createDataFrame(pdf[pdf.ts < cut]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(pdf[pdf.ts >= cut]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    steps = ["view", "click", "click", "purchase"]  # repeated step type
    run_available_now(
        funnel_stream(stream, steps, "user_id", "ts", "event_type"),
        "funnel_state", output_mode="update",
    )
    got = funnel_report_from_states(spark.table("funnel_state"), steps).collect()
    want = funnel_report(
        spark.createDataFrame(pdf), "user_id", "ts", "event_type", steps
    ).collect()
    assert len(got) == len(want) == len(steps)
    for g, w in zip(got, want):
        assert g == w, (g, w)


class TestWeightedQuantiles:
    def test_matches_scalar_reference(self, spark):
        from preprocessor_spark.operators.wquantile import weighted_quantiles

        rng = np.random.default_rng(43)
        rows = []
        data = {}
        for g in ("a", "b"):
            vals = np.round(rng.uniform(0, 100, 300), 2)
            wts = rng.integers(1, 20, 300).astype(float)
            data[g] = (vals, wts)
            rows += [(g, float(v), float(w)) for v, w in zip(vals, wts)]
        df = spark.createDataFrame(rows, "g string, v double, w double")
        got = {
            r["group"]: r
            for r in weighted_quantiles(
                df, "g", "v", "w", probs=(0.25, 0.5, 0.9)
            ).collect()
        }
        for g, (vals, wts) in data.items():
            order = np.argsort(vals, kind="stable")
            sv, sw = vals[order], wts[order]
            # merge ties (the operator's distinct-value collapse)
            uv = np.unique(sv)
            uw = np.array([sw[sv == x].sum() for x in uv])
            cw = np.cumsum(uw)
            W = uw.sum()
            for p, col in ((0.25, "p25"), (0.5, "p50"), (0.9, "p90")):
                ref = float(uv[np.searchsorted(cw, p * W, side="left")])
                assert got[g][col] == ref, (g, col, got[g][col], ref)
            assert got[g]["n"] == len(vals)
            assert got[g]["w_total"] == pytest.approx(float(W), abs=1e-6)

    def test_unweighted_degenerates_to_lower_quantile(self, spark):
        from preprocessor_spark.operators.wquantile import weighted_quantiles

        vals = [float(v) for v in range(1, 11)]
        df = spark.createDataFrame([("g", v, 1.0) for v in vals], "g string, v double, w double")
        r = weighted_quantiles(df, "g", "v", "w", probs=(0.5, 1.0)).collect()[0]
        assert r["p50"] == 5.0 and r["p100"] == 10.0

    def test_validation(self, spark):
        from preprocessor_spark.operators.wquantile import weighted_quantiles

        df = spark.createDataFrame([("g", 1.0, 1.0)], "g string, v double, w double")
        with pytest.raises(ValueError, match="probs"):
            weighted_quantiles(df, "g", "v", "w", probs=(1.5,))
        with pytest.raises(ValueError, match="grid"):
            weighted_quantiles(df, "g", "v", "w", probs=(1 / 3,))


class TestTwoProportionZ:
    def test_matches_scipy_free_reference(self, spark):
        import math

        from preprocessor_spark.operators.abtest import (
            _norm_ppf,
            two_proportion_ztest,
        )

        # planted: control 200/1000, treatment 260/1000
        rows = [("c", 1)] * 200 + [("c", 0)] * 800 + [("t", 1)] * 260 + [("t", 0)] * 740
        df = spark.createDataFrame(rows, "variant string, success int")
        r = two_proportion_ztest(df, "variant", "success", control="c").collect()[0]
        p_c, p_t = 0.2, 0.26
        pool = (200 + 260) / 2000
        z = (p_t - p_c) / math.sqrt(pool * (1 - pool) * (1 / 1000 + 1 / 1000))
        assert r["z"] == pytest.approx(z, abs=1e-6)
        # normal two-sided p via erfc
        p_ref = math.erfc(abs(z) / math.sqrt(2))
        assert r["p_value"] == pytest.approx(p_ref, abs=1e-5)  # A&S poly 7.5e-8
        se = math.sqrt(p_c * (1 - p_c) / 1000 + p_t * (1 - p_t) / 1000)
        z_a = _norm_ppf(0.975)
        assert r["ci_lo"] == pytest.approx(p_t - p_c - z_a * se, abs=1e-6)
        assert r["ci_hi"] == pytest.approx(p_t - p_c + z_a * se, abs=1e-6)
        # standard planning formula vs statsmodels-style closed form
        z_b = _norm_ppf(0.8)
        n_req = math.ceil(
            (z_a + z_b) ** 2 * (p_c * (1 - p_c) + p_t * (1 - p_t)) / (p_t - p_c) ** 2
        )
        assert r["n_per_arm_for_observed_diff"] == n_req
        # the observed experiment (n=1000/arm) is big enough iff n_req <= 1000
        assert n_req < 1000 and r["p_value"] < 0.05

    def test_norm_ppf_accuracy(self):
        from preprocessor_spark.operators.abtest import _norm_ppf

        # classic table values
        assert _norm_ppf(0.975) == pytest.approx(1.959963985, abs=1e-7)
        assert _norm_ppf(0.8) == pytest.approx(0.841621234, abs=1e-7)
        assert _norm_ppf(0.5) == 0.0
        assert _norm_ppf(0.025) == pytest.approx(-1.959963985, abs=1e-7)

    def test_multi_treatment(self, spark):
        from preprocessor_spark.operators.abtest import two_proportion_ztest

        rows = (
            [("a", 1)] * 10 + [("a", 0)] * 90
            + [("b", 1)] * 20 + [("b", 0)] * 80
            + [("c", 1)] * 30 + [("c", 0)] * 70
        )
        df = spark.createDataFrame(rows, "variant string, success int")
        out = two_proportion_ztest(df, "variant", "success").collect()
        assert [r["treatment"] for r in out] == ["b", "c"]  # control = min = 'a'
        assert all(r["control"] == "a" for r in out)


class TestSkewReport:
    def test_counts_and_salt_suggestion(self, spark):
        from preprocessor_spark.operators.skew import skew_report

        rows = [("whale",)] * 900 + [(f"k{i}",) for i in range(100)]
        df = spark.createDataFrame(rows, "k string")
        out = skew_report(df, ["k"], top=3).collect()
        assert out[0]["key"] == "whale" and out[0]["n"] == 900
        n_keys, n_rows = 101, 1000
        mean = n_rows / n_keys
        assert out[0]["skew_factor"] == pytest.approx(900 / mean, abs=1e-6)
        assert out[0]["suggested_salt"] == math.ceil(900 / mean)
        assert out[0]["share"] == pytest.approx(0.9, abs=1e-9)
        # remaining keys: 1 row each, deterministic key tiebreak
        assert [r["key"] for r in out[1:]] == ["k0", "k1"]
        assert all(r["suggested_salt"] == math.ceil(1 / mean) for r in out[1:])

    def test_composite_keys_and_validation(self, spark):
        from preprocessor_spark.operators.skew import skew_report

        df = spark.createDataFrame(
            [("a", 1), ("a", 1), ("a", 2)], "x string, y int"
        )
        out = skew_report(df, ["x", "y"], top=5).collect()
        assert out[0]["key"] == "a|1" and out[0]["n"] == 2
        with pytest.raises(ValueError, match="key_cols"):
            skew_report(df, [], top=5)


class TestMediaHeaderSniff:
    """Header-only metadata vs the repo's own full decoders on
    encoder-built fixtures — the no-decode cheap pass."""

    def _fixtures(self):
        from preprocessor_spark.operators.gif import encode_gif
        from preprocessor_spark.operators.jpeg import encode_jpeg
        from preprocessor_spark.operators.multimodal import _encode_pgm
        from preprocessor_spark.operators.tiff import encode_tiff

        rng = np.random.RandomState(7)
        img = rng.randint(0, 256, (19, 13)).astype(np.uint8)
        rgb = rng.randint(0, 256, (19, 13, 3)).astype(np.uint8)
        pal = rng.randint(0, 256, (16, 3)).astype(np.uint8)
        idx = rng.randint(0, 16, (19, 13)).astype(np.uint8)
        g16 = rng.randint(0, 65536, (9, 7)).astype(np.uint16)
        return {
            "pgm": (bytes(_encode_pgm(img)), 13, 19, 8),
            "ppm": (b"P6\n# c\n13 19\n255\n" + rgb.tobytes(), 13, 19, 8),
            "jpeg": (bytes(encode_jpeg(rgb, qval=2)), 13, 19, 8),
            "jpeg420": (bytes(encode_jpeg(rgb, qval=1, subsample=True)), 13, 19, 8),
            "gif": (bytes(encode_gif(idx, pal)), 13, 19, None),
            "tiff_le": (bytes(encode_tiff(img)), 13, 19, 8),
            "tiff_be": (bytes(encode_tiff(img, endian=">")), 13, 19, 8),
            "tiff16": (bytes(encode_tiff(g16, lzw=True)), 7, 9, 16),
        }

    def test_sniff_matches_encoders(self):
        from preprocessor_spark.operators.media_meta import sniff_image_meta

        fmt_of = {"pgm": "pnm", "ppm": "pnm", "jpeg": "jpeg", "jpeg420": "jpeg",
                  "gif": "gif", "tiff_le": "tiff", "tiff_be": "tiff",
                  "tiff16": "tiff"}
        for name, (payload, w, h, depth) in self._fixtures().items():
            m = sniff_image_meta(payload)
            assert m["format"] == fmt_of[name], (name, m)
            assert (m["width"], m["height"]) == (w, h), (name, m)
            if depth is not None:
                assert m["bit_depth"] == depth, (name, m)

    def test_png_bmp_and_garbage(self):
        import struct as st

        from preprocessor_spark.operators.media_meta import sniff_image_meta

        png = (b"\x89PNG\r\n\x1a\n" + st.pack(">I", 13) + b"IHDR"
               + st.pack(">II", 640, 480) + bytes([8, 2, 0, 0, 0]))
        m = sniff_image_meta(png)
        assert (m["format"], m["width"], m["height"], m["bit_depth"]) == (
            "png", 640, 480, 8)
        bmp = b"BM" + b"\x00" * 16 + st.pack("<ii", 320, -200) + b"\x00\x00" + st.pack("<H", 24)
        m = sniff_image_meta(bmp)
        assert (m["format"], m["width"], m["height"], m["bit_depth"]) == (
            "bmp", 320, 200, 24)
        for junk in (b"", b"\x00" * 40, b"not an image at all", b"P5", b"\xff\xd8\xff"):
            m = sniff_image_meta(junk)
            assert m["format"] is None and m["width"] is None

    def test_flac_and_wav_headers(self):
        import struct as st

        from preprocessor_spark.operators.media_meta import sniff_audio_meta

        rate, channels, bps, total = 44100, 2, 16, 441000
        word = (rate << 44) | ((channels - 1) << 41) | ((bps - 1) << 36) | total
        info = b"\x00" * 10 + word.to_bytes(8, "big") + b"\x00" * 16
        payload = b"fLaC" + bytes([0x80, 0, 0, len(info)]) + info
        m = sniff_audio_meta(payload)
        assert m == {
            "format": "flac", "sample_rate": 44100, "channels": 2,
            "bits_per_sample": 16, "total_samples": 441000,
            "duration_secs": 10.0,
        }
        # canonical PCM WAV: fmt(16) + data
        n, ch, r, b = 8000, 1, 8000, 16
        data = b"\x00" * (n * ch * (b // 8))
        fmt = st.pack("<HHIIHH", 1, ch, r, r * ch * b // 8, ch * b // 8, b)
        wav = (b"RIFF" + st.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
               + b"WAVE" + b"fmt " + st.pack("<I", len(fmt)) + fmt
               + b"data" + st.pack("<I", len(data)) + data)
        m = sniff_audio_meta(wav)
        assert m == {
            "format": "wav", "sample_rate": 8000, "channels": 1,
            "bits_per_sample": 16, "total_samples": 8000,
            "duration_secs": 1.0,
        }
        assert sniff_audio_meta(b"fLa")["sample_rate"] is None
        assert sniff_audio_meta(b"RIFF....")["sample_rate"] is None

    def test_audio_meta_matches_synth_wav(self, spark):
        """Distributed audio sniff on the SAME WAV synth the
        multimodal_audio_features query uses."""
        import struct as st

        from preprocessor_spark.operators.media_meta import audio_header_meta

        rows = []
        for did in range(6):
            rate = 8000
            n = 800 + (did % 5) * 80
            t = np.arange(n) / rate
            sig = (np.sin(2 * np.pi * (200 + did) * t) * 32767 * 0.4).astype("<i2")
            data = sig.tobytes()
            fmt = st.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
            wav = (b"RIFF" + st.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
                   + b"WAVE" + b"fmt " + st.pack("<I", len(fmt)) + fmt
                   + b"data" + st.pack("<I", len(data)) + data)
            rows.append((did, wav))
        df = spark.createDataFrame(rows, "clip_id long, payload binary")
        got = {r["id"]: r for r in audio_header_meta(df, "clip_id", "payload").collect()}
        for did in range(6):
            r = got[did]
            assert r["format"] == "wav" and r["sample_rate"] == 8000
            assert r["total_samples"] == 800 + (did % 5) * 80
            assert r["channels"] == 1 and r["bits_per_sample"] == 16

    def test_distributed_sniff_and_triage(self, spark):
        from preprocessor_spark.operators.media_meta import image_header_meta

        fx = self._fixtures()
        rows = [(i, p) for i, (p, *_) in enumerate(fx.values())]
        rows.append((99, b"garbage bytes"))
        rows.append((100, None))
        df = spark.createDataFrame(rows, "img_id long, payload binary")
        got = {r["id"]: r for r in image_header_meta(df, "img_id", "payload").collect()}
        assert len(got) == len(rows)
        n_known = sum(1 for r in got.values() if r["format"] is not None)
        assert n_known == len(fx)
        assert got[99]["format"] is None and got[99]["n_bytes"] == 13
        assert got[100]["format"] is None and got[100]["n_bytes"] == 0
        # every known fixture's dims match
        for i, (name, (_, w, h, _d)) in enumerate(fx.items()):
            assert (got[i]["width"], got[i]["height"]) == (w, h), name

    def test_sniff_vs_full_decode(self):
        """The sniffed dims equal the full decoders' shapes."""
        from preprocessor_spark.operators.gif import decode_gif
        from preprocessor_spark.operators.jpeg import decode_jpeg
        from preprocessor_spark.operators.media_meta import sniff_image_meta
        from preprocessor_spark.operators.multimodal import decode_image
        from preprocessor_spark.operators.tiff import decode_tiff

        for name, (payload, *_rest) in self._fixtures().items():
            m = sniff_image_meta(payload)
            if name.startswith("tiff"):
                shape = decode_tiff(payload).shape
            elif name.startswith("jpeg"):
                shape = decode_jpeg(payload).shape[:2]
            elif name == "gif":
                shape = decode_gif(payload).shape
            else:
                shape = decode_image(payload).shape
            assert (m["height"], m["width"]) == shape[:2], name


class TestRankStats:
    def test_spearman_matches_numpy_rankdata(self, spark):
        from preprocessor_spark.operators.rankstats import spearman_by_group

        rng = np.random.default_rng(61)
        rows = []
        data = {}
        for g in ("mono", "noisy", "ties"):
            x = np.round(rng.uniform(0, 100, 400), 1)
            if g == "mono":
                y = np.round(x ** 2 / 10, 1)      # monotone: rho = 1
            elif g == "ties":
                x = np.round(x / 10) * 10          # heavy ties
                y = np.round(-x + rng.normal(0, 5, 400), 0)
            else:
                y = np.round(rng.uniform(0, 100, 400), 1)
            data[g] = (x, y)
            rows += [(g, float(a), float(b)) for a, b in zip(x, y)]
        df = spark.createDataFrame(rows, "g string, x double, y double")
        got = {r["group"]: r for r in spearman_by_group(df, "g", "x", "y").collect()}

        def rankdata(a):
            order = np.argsort(a, kind="stable")
            ranks = np.empty(len(a), float)
            sa = a[order]
            i = 0
            r = np.arange(1, len(a) + 1, dtype=float)
            while i < len(a):
                j = i
                while j + 1 < len(a) and sa[j + 1] == sa[i]:
                    j += 1
                ranks[order[i : j + 1]] = r[i : j + 1].mean()
                i = j + 1
            return ranks

        for g, (x, y) in data.items():
            rx, ry = rankdata(x), rankdata(y)
            ref = float(np.corrcoef(rx, ry)[0, 1])
            assert got[g]["rho"] == pytest.approx(ref, abs=1e-6), g
            assert got[g]["n"] == 400
        # y = round(x^2/10) collapses some distinct x into tied y, so the
        # tie-corrected rho sits just under 1
        assert got["mono"]["rho"] >= 0.999998

    def test_kruskal_matches_scipy_free_reference(self, spark):
        from preprocessor_spark.operators.rankstats import kruskal_wallis

        rng = np.random.default_rng(67)
        groups = {"a": rng.normal(10, 2, 300), "b": rng.normal(11, 2, 250),
                  "c": rng.normal(10.2, 2, 350)}
        rows = []
        for g, vals in groups.items():
            rows += [(g, round(float(v), 1)) for v in vals]  # 1dp → real ties
        df = spark.createDataFrame(rows, "g string, x double")
        r = kruskal_wallis(df, "x", "g").collect()[0]
        # scalar reference (standard tie-corrected H)
        allv = np.array([v for _, v in rows])
        labels = np.array([g for g, _ in rows])
        order = np.argsort(allv, kind="stable")
        sa = allv[order]
        ranks = np.empty(len(allv), float)
        i = 0
        rr = np.arange(1, len(allv) + 1, dtype=float)
        tie_sum = 0.0
        while i < len(allv):
            j = i
            while j + 1 < len(allv) and sa[j + 1] == sa[i]:
                j += 1
            ranks[order[i : j + 1]] = rr[i : j + 1].mean()
            t = j - i + 1
            tie_sum += t ** 3 - t
            i = j + 1
        N = len(allv)
        H = 12.0 / (N * (N + 1)) * sum(
            ranks[labels == g].sum() ** 2 / (labels == g).sum() for g in groups
        ) - 3 * (N + 1)
        C = 1 - tie_sum / (N ** 3 - N)
        assert r["n"] == N and r["k"] == 3 and r["dof"] == 2
        assert r["h"] == pytest.approx(H, abs=1e-6)
        assert r["h_corrected"] == pytest.approx(H / C, abs=1e-6)
        # planted shift makes the statistic clearly significant (chi2_0.95(2)=5.99)
        assert r["h_corrected"] > 5.99

    def test_identical_groups_h_near_zero(self, spark):
        from preprocessor_spark.operators.rankstats import kruskal_wallis

        rows = [(g, float(v)) for g in ("a", "b") for v in range(1, 101)]
        df = spark.createDataFrame(rows, "g string, x double")
        r = kruskal_wallis(df, "x", "g").collect()[0]
        assert abs(r["h_corrected"]) < 1e-6  # identical distributions


class TestACF:
    def test_matches_numpy_reference(self, spark):
        from preprocessor_spark.operators.ar import acf_by_key

        rng = np.random.default_rng(71)
        rows = []
        series = {}
        for key in (1, 2):
            n = 200
            x = np.zeros(n)
            phi = 0.7 if key == 1 else -0.4
            for t in range(1, n):
                x[t] = phi * x[t - 1] + rng.normal(0, 1)
            x = np.round(x + 10, 2)
            series[key] = x
            rows += [(key, i, float(v)) for i, v in enumerate(x)]
        df = spark.createDataFrame(rows, "k long, o long, x double")
        got = {r["key"]: r for r in acf_by_key(df, "k", "o", "x", max_lag=4).collect()}
        for key, x in series.items():
            n = len(x)
            xm = x - x.mean()
            c0 = (xm ** 2).sum()
            q_terms = []
            for l in range(1, 5):
                r_l = float((xm[l:] * xm[:-l]).sum() / c0)
                assert got[key][f"acf{l}"] == pytest.approx(r_l, abs=1e-6), (key, l)
                q_terms.append(r_l ** 2 / (n - l))
            q_ref = n * (n + 2) * sum(sorted(q_terms))
            assert got[key]["lb_q"] == pytest.approx(q_ref, abs=1e-4)
        # AR(0.7) series: positive decaying acf; AR(-0.4): alternating sign
        assert got[1]["acf1"] > 0.5 > got[1]["acf2"] > got[1]["acf4"]
        assert got[2]["acf1"] < 0 < got[2]["acf2"]

    def test_short_series_dropped_and_single_exchange(self, spark):
        from preprocessor_spark.operators.ar import acf_by_key

        rows = [(1, i, float(i)) for i in range(3)] + [
            (2, i, float(i % 7)) for i in range(50)
        ]
        df = spark.createDataFrame(rows, "k long, o long, x double")
        out = acf_by_key(df, "k", "o", "x", max_lag=5)
        keys = [r["key"] for r in out.collect()]
        assert keys == [2]  # n=3 <= max_lag drops
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") <= 2, plan
        with pytest.raises(ValueError, match="max_lag"):
            acf_by_key(df, "k", "o", "x", max_lag=0)


def test_wquantile_and_spearman_plan_shapes(spark):
    """No SinglePartition on data-sized frames; keyed exchanges only."""
    from preprocessor_spark.operators.rankstats import spearman_by_group
    from preprocessor_spark.operators.wquantile import weighted_quantiles

    df = spark.createDataFrame(
        [("a", 1.0, 2.0), ("a", 3.0, 1.0)], "g string, v double, w double"
    )
    plan_wq = (
        weighted_quantiles(df, "g", "v", "w", probs=(0.5,))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    body = plan_wq.split("Sort [group")[-1]
    assert "Exchange SinglePartition" not in body, plan_wq
    plan_sp = (
        spearman_by_group(df, "g", "v", "w")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    body = plan_sp.split("Sort [group")[-1]
    assert "Exchange SinglePartition" not in body, plan_sp
    assert "CartesianProduct" not in plan_sp


def test_gini_negative_values_still_evaluate(spark):
    """Negatives are accepted (documented) — the identity still computes
    and the scalar reference agrees."""
    from preprocessor_spark.operators.inequality import gini_by_group

    vals = [-5.0, -1.0, 2.0, 10.0]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, x double")
    r = gini_by_group(df, "g", "x").collect()[0]
    xs = np.sort(np.array(vals))
    n = len(xs)
    i = np.arange(1, n + 1)
    ref = float(((2 * i - n - 1) * xs).sum() / (n * xs.sum()))
    assert r["gini"] == pytest.approx(ref, abs=1e-6)


def test_wquantile_overflow_certificate(spark):
    from preprocessor_spark.operators.wquantile import weighted_quantiles

    df = spark.createDataFrame(
        [("g", 1.0, 1e13), ("g", 2.0, 1.0)], "g string, v double, w double"
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(Exception, match="weight magnitude|overflows"):
            weighted_quantiles(df, "g", "v", "w", probs=(0.5,)).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
