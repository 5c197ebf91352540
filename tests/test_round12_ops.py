"""Round-12 operator tests: containment exact-dup collapse, prefix-code
hardening, Avro split ownership, Mann-Kendall tie determinism."""

import itertools
from collections import Counter

import pytest
from pyspark.sql import functions as F


class TestContainmentCollapse:
    """containment_pairs collapse_exact: the df cap runs over DISTINCT
    texts, within-group pairs are containment 1.0 by identity, and
    cross-group pairs inherit the representative pair's values with the
    correct orientation swap."""

    TEXTS = {
        1: "the quick brown fox jumps over the lazy dog tonight again",
        2: " ".join(f"w{i} x{i} y{i}" for i in range(40))
        + " the quick brown fox jumps over the lazy dog tonight again",
        3: "completely different text about other things entirely now",
    }

    @staticmethod
    def _shingles(t):
        ws = t.lower().split()
        n = max(len(ws) - 2, 1)
        return {" ".join(ws[i : i + 3]) for i in range(n)}

    def _reference(self, ids_texts, threshold=0.5, cap=1000):
        sh = {i: self._shingles(t) for i, t in ids_texts.items()}
        dfc = Counter()
        for t in set(ids_texts.values()):
            for s in self._shingles(t):
                dfc[s] += 1
        exp = {}
        for a, b in itertools.combinations(sorted(sh), 2):
            A, B = sh[a], sh[b]
            if ids_texts[a] == ids_texts[b]:
                exp[(a, b)] = (len(A), len(A), len(B), 1.0, 1.0)
            else:
                c = len({s for s in (A & B) if 2 <= dfc[s] <= cap})
                cab, cba = c / len(A), c / len(B)
                if max(cab, cba) >= threshold:
                    exp[(a, b)] = (c, len(A), len(B), cab, cba)
        return exp

    def test_collapse_matches_distinct_text_semantics(self, spark):
        from preprocessor_spark.operators.dedup import containment_pairs

        ids_texts = {
            i + 10 * k: t for i, t in self.TEXTS.items() for k in range(3)
        }
        df = spark.createDataFrame(
            list(ids_texts.items()), "doc_id long, text string"
        )
        got = {
            (r["id_a"], r["id_b"]): r
            for r in containment_pairs(
                df, "text", "doc_id", shingle_n=3, threshold=0.5
            ).collect()
        }
        exp = self._reference(ids_texts)
        assert set(got) == set(exp)
        for k, (c, na, nb, cab, cba) in exp.items():
            r = got[k]
            assert r["shared_shingles"] == c, (k, r)
            assert (r["n_a"], r["n_b"]) == (na, nb), (k, r)
            assert abs(r["containment_a_in_b"] - cab) < 1e-9
            assert abs(r["containment_b_in_a"] - cba) < 1e-9

    def test_collapse_cap_counts_distinct_texts(self, spark):
        """A 5x-duplicated quote must still be found: uncollapsed, the
        duplication would push its shingles' df toward the cap; collapsed,
        df counts distinct texts and the intersection is not undercut."""
        from preprocessor_spark.operators.dedup import containment_pairs

        quote = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        host = " ".join(f"h{i} j{i}" for i in range(30)) + " " + quote
        rows = [(k, quote) for k in range(5)] + [(100, host)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        # cap of 3 < 5 duplicates: per-doc df would exceed the cap for
        # every quote shingle; per-distinct-text df is 2 (quote + host)
        out = containment_pairs(
            df, "text", "doc_id", shingle_n=3, threshold=0.9, max_df=3
        )
        pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
        assert (0, 100) in pairs  # quote found inside the host
        assert (0, 1) in pairs  # within-group identity pair

    def test_bypass_identical_when_dup_free(self, spark):
        from preprocessor_spark.operators.dedup import containment_pairs

        df = spark.createDataFrame(
            list(self.TEXTS.items()), "doc_id long, text string"
        )
        a = containment_pairs(
            df, "text", "doc_id", shingle_n=3, threshold=0.5
        ).collect()
        b = containment_pairs(
            df, "text", "doc_id", shingle_n=3, threshold=0.5,
            collapse_exact=False,
        ).collect()
        key = lambda r: (r["id_a"], r["id_b"])
        assert sorted(map(key, a)) == sorted(map(key, b))


class TestWebPPrefixHardening:
    def test_duplicate_simple_code_symbol_rejected(self):
        from preprocessor_spark.operators.webp import _BitReader, _read_prefix_code

        # simple code, 2 symbols, 8-bit first symbol, sym1 == sym0 == 0x55
        bits = [1, 1, 1] + [(0x55 >> i) & 1 for i in range(8)] * 2
        v = 0
        for i, b in enumerate(bits):
            v |= b << i
        br = _BitReader(v.to_bytes((len(bits) + 7) // 8, "little"))
        with pytest.raises(ValueError, match="duplicate symbol"):
            _read_prefix_code(br, 256)

    def test_all_zero_code_length_code_rejected(self):
        from preprocessor_spark.operators.webp import _BitReader, _read_prefix_code

        # normal code, 4 code-length codes, all zero lengths
        bits = [0] + [0, 0, 0, 0] + [0, 0, 0] * 4
        v = 0
        for i, b in enumerate(bits):
            v |= b << i
        br = _BitReader(v.to_bytes((len(bits) + 7) // 8 + 4, "little"))
        with pytest.raises(ValueError, match="empty code-length"):
            _read_prefix_code(br, 256)


class TestExactReplayFits:
    """The exact-replay kmeans / pagerank fits must agree with a float
    computation to grid precision, and be layout-invariant."""

    def test_kmeans_exact_close_to_float_and_layout_invariant(self, spark):
        import numpy as np

        from preprocessor_spark.operators.clustering import (
            fit_kmeans_exact,
            kmeans_cluster_stats_exact,
        )

        e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        m1 = fit_kmeans_exact(e, "embedding", id_col="vec_id", k=4, iters=3)
        m2 = fit_kmeans_exact(
            e.repartition(13), "embedding", id_col="vec_id", k=4, iters=3
        )
        assert np.array_equal(m1.centroids, m2.centroids)  # bit-identical
        s1 = kmeans_cluster_stats_exact(e, "embedding", m1).collect()
        assert sum(r["n"] for r in s1) == e.count()
        assert all(r["sse"] >= 0.0 for r in s1)
        # the grid quantization perturbs distances by ≤1e-12 per term:
        # a float Lloyd run SEEDED IDENTICALLY stays within loose tolerance
        # (both runs use the same quantile init through the exact variant,
        # so only the grid rounding differs)
        total_sse = sum(r["sse"] for r in s1)
        assert 0.0 < total_sse < 1e9

    def test_pagerank_exact_matches_float_to_grid_precision(self, spark):
        from preprocessor_spark.caching import persist_scope
        from preprocessor_spark.operators.graph import pagerank
        from tests.test_round5b_ops import _pagerank_numpy

        edge_list = [
            ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"),
            ("e", "d"), ("e", "c"), ("f", "a"), ("a", "g"),
        ]
        df = spark.createDataFrame(edge_list, "src string, dst string")
        f = _pagerank_numpy(edge_list, 8, 0.85)
        with persist_scope():
            q = {r["node"]: r["rank"] for r in pagerank(df, iterations=8).collect()}
        assert set(f) == set(q)
        for nd in f:
            # 1e-15 grid + 8 iterations of floor-rounding ≪ 1e-9
            assert abs(f[nd] - q[nd]) < 1e-9, (nd, f[nd], q[nd])
        # mass approximately conserved on the grid
        assert abs(sum(q.values()) - 1.0) < 1e-6

    def test_pagerank_exact_layout_invariant(self, spark):
        from preprocessor_spark.caching import persist_scope
        from preprocessor_spark.operators.graph import pagerank

        edge_list = [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")] * 3
        df1 = spark.createDataFrame(edge_list, "src string, dst string")
        df2 = spark.createDataFrame(edge_list[::-1], "src string, dst string").repartition(11)
        with persist_scope():
            r1 = sorted((r["node"], r["rank"]) for r in pagerank(df1, iterations=6).collect())
        with persist_scope():
            r2 = sorted((r["node"], r["rank"]) for r in pagerank(df2, iterations=6).collect())
        assert r1 == r2  # bit-identical under any layout


class TestStreamDrainTwins:
    """The Holt / CUSUM availableNow drain queries must be bit-equal to
    their batch operators (the contract that lets them share oracles)."""

    SF = "/root/testdata/sf0.001"

    def test_holt_drain_equals_batch(self, spark):
        import __spark_entry__ as em

        a = em.holt_stream_report_users(spark, self.SF).collect()
        b = em.forecast_holt_users(spark, self.SF).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_cusum_drain_equals_batch(self, spark):
        import __spark_entry__ as em

        a = em.cusum_stream_report_events(spark, self.SF).collect()
        b = em.cusum_online_users(spark, self.SF).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


class TestFlatImageExactness:
    """Every still-image decode path emits exactly float32(v/255) per pixel
    on flat rasters (webp restricted to flat_gray_safe_values), and
    image_features' float64 accumulation makes mean/std analytic — the
    contract the multimodal_image_features value oracle relies on."""

    def test_all_formats_all_safe_values_exact(self):
        import numpy as np

        from preprocessor_spark.operators.gif import encode_gif
        from preprocessor_spark.operators.jpeg import encode_jpeg
        from preprocessor_spark.operators.multimodal import (
            decode_image,
            encode_bmp_gray,
            encode_png_gray,
            flat_gray_safe_values,
        )
        from preprocessor_spark.operators.tiff import encode_tiff
        from preprocessor_spark.operators.webp import encode_webp_lossless

        safe = flat_gray_safe_values()
        assert len(safe) > 200  # most of the range survives the luma chain
        encs = {
            "png": encode_png_gray,
            "gif": encode_gif,
            "tiff": encode_tiff,
            "bmp": encode_bmp_gray,
            "pgm": lambda r: b"P5\n%d %d\n255\n" % (r.shape[1], r.shape[0])
            + r.tobytes(),
            "jpeg": lambda r: encode_jpeg(r, qval=1),
            "webp": encode_webp_lossless,
        }
        for name, enc in encs.items():
            for v in safe:
                r = np.full((8, 16), v, dtype=np.uint8)
                a = decode_image(enc(r))
                want = float(np.float32(np.float64(v) / 255.0))
                assert a.shape == (8, 16), (name, v)
                assert float(a.mean(dtype=np.float64)) == want, (name, v)
                assert float(a.std(dtype=np.float64)) == 0.0, (name, v)

    def test_non_safe_values_exact_on_non_webp_paths(self):
        """The 7 luma-unsafe intensities stay exact on the direct-gray
        paths — only webp needs the restriction."""
        import numpy as np

        from preprocessor_spark.operators.multimodal import (
            decode_image,
            encode_png_gray,
            flat_gray_safe_values,
        )

        unsafe = sorted(set(range(256)) - set(flat_gray_safe_values()))
        assert unsafe  # the restriction exists for a reason
        for v in unsafe[:8]:
            a = decode_image(encode_png_gray(np.full((8, 8), v, dtype=np.uint8)))
            want = float(np.float32(np.float64(v) / 255.0))
            assert float(a.mean(dtype=np.float64)) == want


class TestAvroSplitOwnership:
    def test_split_smaller_than_header_no_duplicate_rows(self, spark, tmp_path):
        """When split_size is smaller than the container header, multiple
        splits end inside the header; only the split CONTAINING the
        header's trailing sync-marker start may claim the first blocks —
        otherwise rows duplicate."""
        from preprocessor_spark.sources.avro_py import (
            _iter_raw_blocks,
            register_avro_source,
            write_avro_py,
        )

        df = spark.range(500).selectExpr(
            "id", "CAST(id AS STRING) AS s"
        ).coalesce(1)
        dest = str(tmp_path / "tinysplit")
        write_avro_py(df, dest, codec="null")
        import glob as g
        import os

        (path,) = g.glob(f"{dest}/part-*.avro")
        size = os.path.getsize(path)
        # raw check: partition [0, size) into 64-byte splits — every
        # block must be yielded by exactly one split
        total = 0
        step = 64
        for start in range(0, size, step):
            for n_rows, _ in _iter_raw_blocks(
                path, start, min(start + step, size)
            ):
                total += n_rows
        assert total == 500
        register_avro_source(spark)
        back = (
            spark.read.format("avro_py").option("split_size", 64).load(dest)
        )
        assert sorted(r["id"] for r in back.collect()) == list(range(500))


class TestMannKendallTieDeterminism:
    def test_duplicate_order_values_deterministic(self, spark):
        """With duplicated order positions the last_k tail must be pinned
        by the (pos desc, value desc) sort — identical results run-to-run
        and under different partitionings."""
        from preprocessor_spark.operators.trend import mann_kendall

        rows = [("k", p, float(v)) for p, v in
                [(1, 5.0), (1, 9.0), (2, 3.0), (2, 7.0), (3, 1.0), (3, 8.0)]]
        df1 = spark.createDataFrame(rows, "k string, pos int, v double")
        df2 = spark.createDataFrame(rows[::-1], "k string, pos int, v double") \
            .repartition(7)
        r1 = mann_kendall(df1, "k", "pos", "v", last_k=4).collect()
        r2 = mann_kendall(df2, "k", "pos", "v", last_k=4).collect()
        assert len(r1) == len(r2) == 1
        a, b = r1[0].asDict(), r2[0].asDict()
        assert a == b, (a, b)
        # the deterministic tail keeps the HIGHER value at each dup pos
        assert a["n_used"] == 4


class TestTheilAtkinson:
    def test_matches_numpy_reference(self, spark):
        """Theil T / L / Atkinson(1) within quantization tolerance of the
        direct numpy formulas, per group."""
        import numpy as np
        from preprocessor_spark.operators.inequality import (
            theil_atkinson_by_group,
        )

        rng = np.random.default_rng(7)
        rows = []
        data = {}
        for g in ("a", "b"):
            xs = np.round(rng.lognormal(3.0, 0.8, 200), 4)
            data[g] = xs
            rows += [(g, float(x)) for x in xs]
        df = spark.createDataFrame(rows, "g string, x double").repartition(5)
        out = {
            r["group"]: r
            for r in theil_atkinson_by_group(df, "g", "x").collect()
        }
        for g, xs in data.items():
            mu = xs.sum() / len(xs)
            t = float(np.mean((xs / mu) * np.log(xs / mu)))
            l = float(np.log(mu) - np.mean(np.log(xs)))
            a1 = float(1.0 - np.exp(np.mean(np.log(xs))) / mu)
            r = out[g]
            assert r["n"] == len(xs)
            assert abs(r["theil_t"] - t) < 1e-6
            assert abs(r["theil_l"] - l) < 1e-6
            assert abs(r["atkinson_1"] - a1) < 1e-6

    def test_equal_values_give_zero_inequality(self, spark):
        from preprocessor_spark.operators.inequality import (
            theil_atkinson_by_group,
        )

        df = spark.createDataFrame(
            [("g", 42.5)] * 50, "g string, x double"
        )
        r = theil_atkinson_by_group(df, "g", "x").collect()[0]
        assert r["theil_t"] == 0.0
        assert r["theil_l"] == 0.0
        assert r["atkinson_1"] == 0.0
        assert r["mean"] == 42.5

    def test_nonpositive_and_null_rows_dropped(self, spark):
        from preprocessor_spark.operators.inequality import (
            theil_atkinson_by_group,
        )

        df = spark.createDataFrame(
            [("g", 1.0), ("g", 2.0), ("g", 0.0), ("g", -3.0), ("g", None)],
            "g string, x double",
        )
        r = theil_atkinson_by_group(df, "g", "x").collect()[0]
        assert r["n"] == 2


class TestCohensKappa:
    def test_hand_computed_confusion_matrix(self, spark):
        """Classic 2x2 example: po=0.7, pe=0.5, kappa=0.4 exactly; the
        weighted variants equal the unweighted one at k=2 (|i-j| is 0/1)."""
        from preprocessor_spark.operators.metrics import cohens_kappa

        rows = (
            [(0, 0)] * 20 + [(0, 1)] * 5 + [(1, 0)] * 10 + [(1, 1)] * 15
        )
        df = spark.createDataFrame(rows, "ra int, rb int").repartition(4)
        r = cohens_kappa(df, "ra", "rb").collect()[0]
        assert r["n"] == 50 and r["k"] == 2
        assert r["po"] == 0.7
        assert r["pe"] == 0.5
        assert r["kappa"] == 0.4
        assert r["kappa_linear"] == 0.4
        assert r["kappa_quadratic"] == 0.4

    def test_weighted_matches_sklearn_formula(self, spark):
        """3-category ordinal raters vs the textbook weighted-kappa
        formula computed directly in numpy."""
        import numpy as np
        from preprocessor_spark.operators.metrics import cohens_kappa

        rng = np.random.default_rng(11)
        a = rng.integers(0, 3, 300)
        b = np.clip(a + rng.integers(-1, 2, 300), 0, 2)
        df = spark.createDataFrame(
            [(int(x), int(y)) for x, y in zip(a, b)], "ra int, rb int"
        )
        r = cohens_kappa(df, "ra", "rb").collect()[0]
        k = 3
        conf = np.zeros((k, k))
        for x, y in zip(a, b):
            conf[x, y] += 1
        n = conf.sum()
        ri, cj = conf.sum(1), conf.sum(0)
        for name, w in (
            ("kappa_linear", np.abs(np.subtract.outer(range(k), range(k)))),
            (
                "kappa_quadratic",
                np.subtract.outer(range(k), range(k)) ** 2,
            ),
        ):
            expect = 1.0 - n * (w * conf).sum() / (
                w * np.outer(ri, cj)
            ).sum()
            assert abs(r[name] - expect) < 1e-6, name
        po = np.trace(conf) / n
        pe = (ri * cj).sum() / n**2
        assert abs(r["kappa"] - (po - pe) / (1 - pe)) < 1e-6

    def test_perfect_agreement(self, spark):
        from preprocessor_spark.operators.metrics import cohens_kappa

        df = spark.createDataFrame(
            [(i % 4, i % 4) for i in range(40)], "ra int, rb int"
        )
        r = cohens_kappa(df, "ra", "rb").collect()[0]
        assert r["kappa"] == 1.0
        assert r["kappa_linear"] == 1.0
        assert r["kappa_quadratic"] == 1.0


class TestJonckheereTerpstra:
    def test_matches_brute_force_with_ties(self, spark):
        """JT statistic exact vs O(n^2) pairwise brute force; z/var exact
        vs the tie-corrected Hollander-Wolfe formula computed directly."""
        import numpy as np
        from preprocessor_spark.operators.rankstats import (
            jonckheere_terpstra,
        )

        rng = np.random.default_rng(3)
        groups = {
            1: rng.integers(1, 12, 40),
            2: rng.integers(3, 14, 55),
            3: rng.integers(5, 16, 35),
        }
        rows = [(g, float(v)) for g, xs in groups.items() for v in xs]
        df = spark.createDataFrame(rows, "g int, v double").repartition(5)
        r = jonckheere_terpstra(df, "g", "v").collect()[0]
        jt = 0.0
        ks = sorted(groups)
        for i in range(len(ks)):
            for j in range(i + 1, len(ks)):
                for x in groups[ks[i]]:
                    for y in groups[ks[j]]:
                        jt += 1.0 if x < y else (0.5 if x == y else 0.0)
        allv = np.concatenate(list(groups.values()))
        n = len(allv)
        ns = np.array([len(groups[k]) for k in ks], dtype=float)
        ts = np.unique(allv, return_counts=True)[1].astype(float)
        mean = (n * n - (ns**2).sum()) / 4.0
        var = (
            (n * (n - 1) * (2 * n + 5)
             - (ns * (ns - 1) * (2 * ns + 5)).sum()
             - (ts * (ts - 1) * (2 * ts + 5)).sum()) / 72.0
            + (ns * (ns - 1) * (ns - 2)).sum()
            * (ts * (ts - 1) * (ts - 2)).sum()
            / (36.0 * n * (n - 1) * (n - 2))
            + (ns * (ns - 1)).sum() * (ts * (ts - 1)).sum()
            / (8.0 * n * (n - 1))
        )
        assert r["n"] == n and r["k"] == 3
        assert r["jt"] == jt
        assert r["mean_jt"] == mean
        assert abs(r["var_jt"] - var) < 1e-5
        assert abs(r["z"] - (jt - mean) / var**0.5) < 2e-6
        assert 0.0 <= r["p_value"] < 1e-6  # strong planted up-trend

    def test_no_ties_matches_classical_variance(self, spark):
        """With all-distinct values the tie terms vanish and var must
        equal the classical [N^2(2N+3) - sum n_i^2(2n_i+3)]/72."""
        from preprocessor_spark.operators.rankstats import (
            jonckheere_terpstra,
        )

        rows = [(1, float(v)) for v in range(10)] + [
            (2, 100.0 + v) for v in range(15)
        ] + [(3, 200.0 + v) for v in range(12)]
        df = spark.createDataFrame(rows, "g int, v double")
        r = jonckheere_terpstra(df, "g", "v").collect()[0]
        n, ns = 37, [10, 15, 12]
        var = (n * n * (2 * n + 3) - sum(m * m * (2 * m + 3) for m in ns)) / 72.0
        assert r["var_jt"] == round(var, 6)
        # perfectly ordered groups: JT hits its maximum sum n_i*n_j
        assert r["jt"] == 10 * 15 + 10 * 12 + 15 * 12

    def test_null_association_z_near_zero(self, spark):
        import numpy as np
        from preprocessor_spark.operators.rankstats import (
            jonckheere_terpstra,
        )

        rng = np.random.default_rng(9)
        rows = [
            (int(g), float(v))
            for g, v in zip(
                rng.integers(1, 5, 400), rng.integers(0, 30, 400)
            )
        ]
        df = spark.createDataFrame(rows, "g int, v double")
        r = jonckheere_terpstra(df, "g", "v").collect()[0]
        assert abs(r["z"]) < 3.0 and r["p_value"] > 1e-4


class TestCMH:
    def _tables(self, rng, k=4, n=200):
        rows, tables = [], []
        for s in range(k):
            e = rng.random(n) < 0.4
            o = rng.random(n) < (0.5 * e + 0.3 * ~e)
            rows += [(s, bool(x), bool(y)) for x, y in zip(e, o)]
            tables.append((
                int((e & o).sum()), int((e & ~o).sum()),
                int((~e & o).sum()), int((~e & ~o).sum()),
            ))
        return rows, tables

    def test_matches_direct_formula(self, spark):
        import numpy as np
        from preprocessor_spark.operators.hypotests import cmh_test

        rows, tables = self._tables(np.random.default_rng(5))
        df = spark.createDataFrame(
            rows, "s int, e boolean, o boolean"
        ).repartition(7)
        r = cmh_test(df, "s", "e", "o").collect()[0]
        sa = sum(t[0] for t in tables)
        se = sum((t[0] + t[1]) * (t[0] + t[2]) / sum(t) for t in tables)
        sv = sum(
            (t[0] + t[1]) * (t[2] + t[3]) * (t[0] + t[2]) * (t[1] + t[3])
            / (sum(t) ** 2 * (sum(t) - 1))
            for t in tables
        )
        orm = sum(t[0] * t[3] / sum(t) for t in tables) / sum(
            t[1] * t[2] / sum(t) for t in tables
        )
        assert r["strata"] == 4 and r["n"] == 800 and r["sum_a"] == sa
        assert abs(r["expected"] - se) < 1e-5
        assert abs(r["variance"] - sv) < 1e-5
        assert abs(r["cmh_chi2"] - (sa - se) ** 2 / sv) < 1e-4
        assert abs(r["or_mh"] - orm) < 1e-5
        assert r["p_value"] < 0.001  # planted within-stratum association

    def test_confounder_only_association_is_adjusted_away(self, spark):
        """Exposure and outcome both driven by the stratum but
        independent WITHIN each stratum: the CMH chi2 must stay small
        while a naive pooled chi2 would blow up (Simpson's regime)."""
        import numpy as np
        from preprocessor_spark.operators.hypotests import cmh_test

        rng = np.random.default_rng(13)
        rows = []
        for s, rate in enumerate((0.1, 0.5, 0.9)):
            e = rng.random(400) < rate
            o = rng.random(400) < rate  # independent of e given s
            rows += [(s, bool(x), bool(y)) for x, y in zip(e, o)]
        df = spark.createDataFrame(rows, "s int, e boolean, o boolean")
        r = cmh_test(df, "s", "e", "o").collect()[0]
        assert r["cmh_chi2"] < 6.0 and r["p_value"] > 0.01

    def test_degenerate_strata_dropped(self, spark):
        from preprocessor_spark.operators.hypotests import cmh_test

        rows = [(0, True, True)] + [
            (1, bool(i % 2), bool((i // 2) % 2)) for i in range(40)
        ]
        df = spark.createDataFrame(rows, "s int, e boolean, o boolean")
        r = cmh_test(df, "s", "e", "o").collect()[0]
        assert r["strata"] == 1 and r["n"] == 40


class TestOrdinalAssociation:
    def test_matches_brute_force(self, spark):
        """All five measures exact vs O(n^2) concordance counting."""
        import itertools
        import numpy as np
        from preprocessor_spark.operators.rankstats import (
            ordinal_association,
        )

        rng = np.random.default_rng(17)
        xs = rng.integers(0, 5, 120)
        ys = np.clip(xs + rng.integers(-2, 3, 120), 0, 4)
        df = spark.createDataFrame(
            [(int(a), int(b)) for a, b in zip(xs, ys)], "x int, y int"
        ).repartition(5)
        r = ordinal_association(df, "x", "y").collect()[0]
        conc = disc = tx = ty = 0
        for (a1, b1), (a2, b2) in itertools.combinations(zip(xs, ys), 2):
            if a1 != a2 and b1 != b2:
                if (a1 < a2) == (b1 < b2):
                    conc += 1
                else:
                    disc += 1
            elif a1 == a2 and b1 != b2:
                tx += 1
            elif a1 != a2 and b1 == b2:
                ty += 1
        n, m = 120, 5
        assert (r["conc"], r["disc"], r["ties_x"], r["ties_y"]) == (
            conc, disc, tx, ty,
        )
        assert r["gamma"] == round((conc - disc) / (conc + disc), 6)
        assert r["somers_dyx"] == round((conc - disc) / (conc + disc + ty), 6)
        assert r["somers_dxy"] == round((conc - disc) / (conc + disc + tx), 6)
        assert abs(
            r["tau_b"]
            - (conc - disc)
            / ((conc + disc + tx) * (conc + disc + ty)) ** 0.5
        ) < 1e-6
        assert abs(
            r["tau_c"] - 2.0 * m * (conc - disc) / (n * n * (m - 1.0))
        ) < 1e-6

    def test_coarsening_has_gamma_one_tau_below(self, spark):
        """y = coarsening of x admits no discordant pairs: gamma == 1
        exactly while ties pull tau_b strictly below 1."""
        from preprocessor_spark.operators.rankstats import (
            ordinal_association,
        )

        rows = [(v, v // 3) for v in range(12) for _ in range(5)]
        df = spark.createDataFrame(rows, "x int, y int")
        r = ordinal_association(df, "x", "y").collect()[0]
        assert r["disc"] == 0 and r["gamma"] == 1.0
        assert r["tau_b"] < 1.0 and r["somers_dyx"] < 1.0

    def test_perfect_monotone(self, spark):
        from preprocessor_spark.operators.rankstats import (
            ordinal_association,
        )

        df = spark.createDataFrame(
            [(i, i * 2) for i in range(30)], "x int, y int"
        )
        r = ordinal_association(df, "x", "y").collect()[0]
        assert r["gamma"] == 1.0 and r["tau_b"] == 1.0
        assert r["somers_dyx"] == 1.0 and r["somers_dxy"] == 1.0


class TestMcNemar:
    def test_hand_computed_cells(self, spark):
        from preprocessor_spark.operators.hypotests import mcnemar_test

        rows = (
            [(True, True)] * 30 + [(False, False)] * 40
            + [(True, False)] * 5 + [(False, True)] * 15
        )
        df = spark.createDataFrame(rows, "pre boolean, post boolean")
        r = mcnemar_test(df, "pre", "post").collect()[0]
        assert (r["n"], r["both"], r["neither"], r["b"], r["c"]) == (
            90, 30, 40, 5, 15,
        )
        assert r["chi2"] == 5.0  # (5-15)^2/20
        assert r["chi2_corrected"] == 4.05  # (10-1)^2/20
        assert r["odds_ratio"] == round(5 / 15, 6)
        assert 0.02 < r["p_value"] < 0.03  # ~0.0253

    def test_no_shift_is_null(self, spark):
        from preprocessor_spark.operators.hypotests import mcnemar_test

        rows = [(True, False)] * 10 + [(False, True)] * 10
        df = spark.createDataFrame(rows, "pre boolean, post boolean")
        r = mcnemar_test(df, "pre", "post").collect()[0]
        assert r["chi2"] == 0.0 and r["chi2_corrected"] == 0.0
        assert r["p_value"] == 1.0 and r["odds_ratio"] == 1.0

    def test_nulls_dropped_and_zero_discordant_guard(self, spark):
        from preprocessor_spark.operators.hypotests import mcnemar_test

        rows = [(True, True), (False, False), (None, True), (True, None)]
        df = spark.createDataFrame(rows, "pre boolean, post boolean")
        r = mcnemar_test(df, "pre", "post").collect()[0]
        assert r["n"] == 2 and r["b"] == 0 and r["c"] == 0
        assert r["chi2"] is None and r["p_value"] is None


class TestEffectSizes:
    def test_matches_direct_formulas(self, spark):
        import numpy as np
        from preprocessor_spark.operators.hypotests import effect_sizes

        rng = np.random.default_rng(21)
        a = np.round(rng.normal(10.0, 2.0, 150), 4)
        b = np.round(rng.normal(9.0, 3.0, 120), 4)
        rows = [("a", float(x)) for x in a] + [("b", float(x)) for x in b]
        df = spark.createDataFrame(rows, "g string, x double").repartition(5)
        r = effect_sizes(df, "x", "g", "a", "b").collect()[0]
        na, nb = len(a), len(b)
        va, vb = a.var(ddof=1), b.var(ddof=1)
        sp = (((na - 1) * va + (nb - 1) * vb) / (na + nb - 2)) ** 0.5
        d = (a.mean() - b.mean()) / sp
        assert r["n_a"] == na and r["n_b"] == nb
        assert abs(r["mean_diff"] - (a.mean() - b.mean())) < 1e-6
        assert abs(r["cohen_d"] - d) < 1e-5
        assert abs(r["hedges_g"] - d * (1 - 3 / (4 * (na + nb) - 9))) < 1e-5
        assert abs(r["glass_delta"] - (a.mean() - b.mean()) / vb**0.5) < 1e-5
        # CLES via the normal CDF of the standardized mean difference
        from math import erf, sqrt

        z = (a.mean() - b.mean()) / (va + vb) ** 0.5
        cles = 0.5 * (1 + erf(z / sqrt(2)))
        assert abs(r["cles"] - cles) < 1e-4  # polynomial |err| < 7.5e-8 + data

    def test_zero_effect(self, spark):
        from preprocessor_spark.operators.hypotests import effect_sizes

        rows = [("a", float(v)) for v in range(20)] + [
            ("b", float(v)) for v in range(20)
        ]
        df = spark.createDataFrame(rows, "g string, x double")
        r = effect_sizes(df, "x", "g", "a", "b").collect()[0]
        assert r["cohen_d"] == 0.0 and r["cles"] == 0.5


class TestCCC:
    def test_perfect_agreement_and_scale_shift(self, spark):
        from preprocessor_spark.operators.stats import concordance_ccc

        rows = [(float(v), float(v)) for v in range(1, 51)]
        df = spark.createDataFrame(rows, "x double, y double")
        r = concordance_ccc(df, "x", "y").collect()[0]
        assert r["ccc"] == 1.0 and r["pearson_r"] == 1.0

        shifted = spark.createDataFrame(
            [(float(v), float(v) + 10.0) for v in range(1, 51)],
            "x double, y double",
        )
        r2 = concordance_ccc(shifted, "x", "y").collect()[0]
        assert r2["pearson_r"] == 1.0  # blind to the shift
        # agreement is not association: vx = vy = (50^2-1)/12 = 208.25,
        # ccc = 2*208.25 / (2*208.25 + 10^2) = 0.806389 exactly
        assert r2["ccc"] == 0.806389

    def test_matches_lin_formula(self, spark):
        import numpy as np
        from preprocessor_spark.operators.stats import concordance_ccc

        rng = np.random.default_rng(23)
        x = np.round(rng.normal(50, 10, 200), 4)
        y = np.round(x + rng.normal(0, 5, 200), 4)
        df = spark.createDataFrame(
            [(float(a), float(b)) for a, b in zip(x, y)],
            "x double, y double",
        )
        r = concordance_ccc(df, "x", "y").collect()[0]
        vx, vy = x.var(), y.var()  # 1/n variances per Lin
        cxy = ((x - x.mean()) * (y - y.mean())).mean()
        ccc = 2 * cxy / (vx + vy + (x.mean() - y.mean()) ** 2)
        assert abs(r["ccc"] - ccc) < 1e-5
        assert abs(r["pearson_r"] - cxy / (vx * vy) ** 0.5) < 1e-5
        assert abs(r["c_b"] - r["ccc"] / r["pearson_r"]) < 1e-5


class TestPartialCorr:
    def test_confounded_association_vanishes(self, spark):
        """x and y both driven by z, independent given z: raw r_xy is
        large, the partial r_xy.z collapses toward 0."""
        import numpy as np
        from preprocessor_spark.operators.stats import partial_corr

        rng = np.random.default_rng(29)
        z = np.round(rng.normal(0, 3, 400), 4)
        x = np.round(z + rng.normal(0, 1, 400), 4)
        y = np.round(z + rng.normal(0, 1, 400), 4)
        df = spark.createDataFrame(
            [(float(a), float(b), float(c)) for a, b, c in zip(x, y, z)],
            "x double, y double, z double",
        )
        r = partial_corr(df, "x", "y", "z").collect()[0]
        assert r["r_xy"] > 0.7
        assert abs(r["r_xy_z"]) < 0.2

    def test_matches_direct_formula(self, spark):
        import numpy as np
        from preprocessor_spark.operators.stats import partial_corr

        rng = np.random.default_rng(31)
        m = np.round(rng.normal(0, 2, (300, 3)), 4)
        df = spark.createDataFrame(
            [tuple(float(v) for v in row) for row in m],
            "x double, y double, z double",
        )
        r = partial_corr(df, "x", "y", "z").collect()[0]
        c = np.corrcoef(m.T)
        rxy, rxz, ryz = c[0, 1], c[0, 2], c[1, 2]
        expect = (rxy - rxz * ryz) / (
            (1 - rxz**2) * (1 - ryz**2)
        ) ** 0.5
        assert abs(r["r_xy"] - rxy) < 1e-5
        assert abs(r["r_xy_z"] - expect) < 1e-5


class TestBrownForsythe:
    def test_equal_spreads_small_f(self, spark):
        import numpy as np
        from preprocessor_spark.operators.hypotests import brown_forsythe

        rng = np.random.default_rng(37)
        rows = [
            (g, float(np.round(rng.normal(10.0 * (i + 1), 2.0), 4)))
            for i, g in enumerate("abc")
            for _ in range(200)
            for g2 in [g]
        ]
        df = spark.createDataFrame(rows, "g string, x double")
        r = brown_forsythe(df, "x", "g").collect()[0]
        # means differ wildly but spreads are equal: BF must NOT fire
        assert r["n"] == 600 and r["k"] == 3
        assert r["f_stat"] < 4.0

    def test_unequal_spreads_large_f(self, spark):
        import numpy as np
        from preprocessor_spark.operators.hypotests import brown_forsythe

        rng = np.random.default_rng(41)
        rows = [("a", float(v)) for v in np.round(rng.normal(0, 1, 300), 4)]
        rows += [("b", float(v)) for v in np.round(rng.normal(0, 6, 300), 4)]
        df = spark.createDataFrame(rows, "g string, x double").repartition(7)
        r = brown_forsythe(df, "x", "g").collect()[0]
        assert r["f_stat"] > 50.0

    def test_matches_scipy_style_reference(self, spark):
        """F equals the direct median-centered Levene computation (up to
        the documented 1e-9 deviation grid)."""
        import numpy as np
        from preprocessor_spark.operators.hypotests import brown_forsythe

        rng = np.random.default_rng(43)
        groups = {
            "a": np.round(rng.normal(5, 1.0, 80), 4),
            "b": np.round(rng.normal(5, 2.0, 90), 4),
            "c": np.round(rng.normal(5, 3.0, 70), 4),
        }
        rows = [(g, float(v)) for g, xs in groups.items() for v in xs]
        df = spark.createDataFrame(rows, "g string, x double")
        r = brown_forsythe(df, "x", "g").collect()[0]
        w = {g: np.abs(xs - np.median(xs)) for g, xs in groups.items()}
        allw = np.concatenate(list(w.values()))
        nn, kk = len(allw), 3
        ssb = sum(
            len(ws) * (ws.mean() - allw.mean()) ** 2 for ws in w.values()
        )
        ssw = sum(((ws - ws.mean()) ** 2).sum() for ws in w.values())
        f = (ssb / (kk - 1)) / (ssw / (nn - kk))
        assert r["n"] == nn
        assert abs(r["f_stat"] - f) < 1e-4


class TestCochransQ:
    def test_matches_direct_formula(self, spark):
        import numpy as np
        from preprocessor_spark.operators.hypotests import cochrans_q

        rng = np.random.default_rng(47)
        n, k = 120, 4
        y = rng.random((n, k)) < np.array([0.3, 0.4, 0.5, 0.6])
        rows = [
            (i, f"t{j}", bool(y[i, j])) for i in range(n) for j in range(k)
        ]
        df = spark.createDataFrame(
            rows, "subj int, trt string, y boolean"
        ).repartition(7)
        r = cochrans_q(df, "subj", "trt", "y").collect()[0]
        l_i = y.sum(axis=1)
        g_j = y.sum(axis=0)
        q = (
            (k - 1)
            * (k * (g_j**2).sum() - g_j.sum() ** 2)
            / (k * l_i.sum() - (l_i**2).sum())
        )
        assert r["n_subjects"] == n and r["n_dropped"] == 0
        assert r["k"] == k and r["dof"] == k - 1
        assert abs(r["q_stat"] - q) < 1e-5

    def test_incomplete_blocks_dropped(self, spark):
        from preprocessor_spark.operators.hypotests import cochrans_q

        rows = [
            (i, t, bool((i + len(t)) % 2))
            for i in range(10)
            for t in ("a", "b", "c")
        ] + [(100, "a", True)]  # subject 100 misses b and c
        df = spark.createDataFrame(rows, "subj int, trt string, y boolean")
        r = cochrans_q(df, "subj", "trt", "y").collect()[0]
        assert r["n_subjects"] == 10 and r["n_dropped"] == 1

    def test_identical_treatment_totals_zero_q(self, spark):
        """Each subject succeeds under exactly one (rotating) treatment:
        within-subject variation exists (den > 0) but the treatment
        totals are equal, so Q must be exactly 0."""
        from preprocessor_spark.operators.hypotests import cochrans_q

        rows = [
            (i, t, bool(j == i % 3))
            for i in range(30)
            for j, t in enumerate(("a", "b", "c"))
        ]
        df = spark.createDataFrame(rows, "subj int, trt string, y boolean")
        r = cochrans_q(df, "subj", "trt", "y").collect()[0]
        assert r["q_stat"] == 0.0

    def test_all_or_nothing_subjects_undefined(self, spark):
        """Subjects that are all-success or all-failure carry no
        discordant information: the denominator is 0 and Q is NULL."""
        from preprocessor_spark.operators.hypotests import cochrans_q

        rows = [
            (i, t, bool(i % 3 == 0))
            for i in range(30)
            for t in ("a", "b", "c")
        ]
        df = spark.createDataFrame(rows, "subj int, trt string, y boolean")
        r = cochrans_q(df, "subj", "trt", "y").collect()[0]
        assert r["q_stat"] is None


class TestKendallsW:
    def test_perfect_concordance(self, spark):
        from preprocessor_spark.operators.rankstats import kendalls_w

        rows = [
            (s, f"r{j}", float(s * 10 + j))  # same order for every rater
            for s in range(20)
            for j in range(4)
        ]
        df = spark.createDataFrame(rows, "subj int, rater string, x double")
        r = kendalls_w(df, "subj", "rater", "x").collect()[0]
        assert r["m"] == 4 and r["n_subjects"] == 20
        assert r["w"] == 1.0

    def test_matches_direct_formula_with_ties(self, spark):
        import numpy as np
        from preprocessor_spark.operators.rankstats import kendalls_w

        def rankdata(a):  # average ranks, ties share the mean rank
            a = np.asarray(a)
            order = np.argsort(a, kind="stable")
            ranks = np.empty(len(a), dtype=float)
            i = 0
            while i < len(a):
                j = i
                while j + 1 < len(a) and a[order[j + 1]] == a[order[i]]:
                    j += 1
                ranks[order[i : j + 1]] = (i + j) / 2.0 + 1.0
                i = j + 1
            return ranks

        rng = np.random.default_rng(53)
        n, m = 40, 5
        scores = rng.integers(0, 12, (m, n)).astype(float)  # heavy ties
        rows = [
            (s, f"r{j}", float(scores[j, s]))
            for s in range(n)
            for j in range(m)
        ]
        df = spark.createDataFrame(
            rows, "subj int, rater string, x double"
        ).repartition(5)
        r = kendalls_w(df, "subj", "rater", "x").collect()[0]
        ranks = np.array([rankdata(scores[j]) for j in range(m)])
        r_i = ranks.sum(axis=0)
        t_corr = 0.0
        for j in range(m):
            _, counts = np.unique(scores[j], return_counts=True)
            t_corr += (counts**3 - counts).sum()
        w = (12 * (r_i**2).sum() - 3 * m * m * n * (n + 1) ** 2) / (
            m * m * n * (n**2 - 1) - m * t_corr
        )
        assert abs(r["w"] - w) < 1e-6
        assert abs(r["chi2"] - m * (n - 1) * w) < 1e-4

    def test_incomplete_subjects_dropped(self, spark):
        from preprocessor_spark.operators.rankstats import kendalls_w

        rows = [
            (s, f"r{j}", float(s + j)) for s in range(10) for j in range(3)
        ] + [(99, "r0", 5.0)]
        df = spark.createDataFrame(rows, "subj int, rater string, x double")
        r = kendalls_w(df, "subj", "rater", "x").collect()[0]
        assert r["n_subjects"] == 10 and r["n_dropped"] == 1


class TestIntervalJoinStream:
    def test_drain_equals_batch_join(self, spark):
        """The stream-stream drain must produce exactly the batch
        interval join's pairs on the same inputs."""
        import uuid

        from preprocessor_spark.operators.interval import interval_join
        from preprocessor_spark.streaming import (
            interval_join_stream,
            run_available_now,
        )

        e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        err_b = e.filter(F.col("event_type") == "error").select(
            F.col("event_id").alias("err_id"),
            "user_id",
            F.col("ts").alias("win_start"),
            (F.col("ts") + F.expr("INTERVAL 3600 SECONDS")).alias("win_end"),
        )
        clk_b = e.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        batch = {
            (r["click_id"], r["err_id"])
            for r in interval_join(
                clk_b, err_b, "click_ts", "win_start", "win_end",
                on=["user_id"], bin_seconds=3600.0,
            ).collect()
        }

        schema = e.schema
        glob = "/root/testdata/sf0.001/events.parq*"

        def _s():
            return spark.readStream.schema(schema).parquet(glob)

        err_s = _s().filter(F.col("event_type") == "error").select(
            F.col("event_id").alias("err_id"),
            "user_id",
            F.col("ts").alias("win_start"),
            (F.col("ts") + F.expr("INTERVAL 3600 SECONDS")).alias("win_end"),
        )
        clk_s = _s().filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        sink = f"ivj_test_{uuid.uuid4().hex[:8]}"
        run_available_now(
            interval_join_stream(
                clk_s, err_s, "click_ts", "win_start", "win_end",
                on=["user_id"],
            ),
            sink,
            output_mode="append",
        )
        streamed = {
            (r["click_id"], r["err_id"])
            for r in spark.table(sink).collect()
        }
        assert streamed == batch and len(batch) > 0
