"""Round-6 operator tests: streaming WARC parsing, Avro data source,
tsfresh-parity relevance filter, embed-neardup collapse, IVF pruning
proof."""

from __future__ import annotations

import gzip
import re

import pytest
from pyspark.sql import functions as F


def _warc_record(rid: bytes, uri: bytes, body: bytes) -> bytes:
    http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
    payload = http + body
    hdr = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Record-ID: <urn:uuid:" + rid + b">\r\n"
        b"WARC-Target-URI: " + uri + b"\r\n"
        b"Content-Length: " + str(len(payload)).encode() + b"\r\n\r\n"
    )
    return hdr + payload + b"\r\n\r\n"


class TestStreamingWebPipeline:
    def test_streaming_web_capstone_checkpoint_restart(self, spark, tmp_path):
        """The round-5 batch web capstone's STREAMING twin: tail a crawl
        directory with the WARC stream source, extract HTML visible text
        (JVM regexp chain), canonicalize URLs + host, and foreachBatch-merge
        per-host stats into an accumulating sink. Run 2 reuses the
        checkpoint: only the shard that arrived afterwards is folded in —
        final stats equal a batch recompute over all shards, and the
        second run's delta contains only the new shard's host."""
        from preprocessor_spark.operators.text import html_text_expr
        from preprocessor_spark.operators.urls import parse_urls
        from preprocessor_spark.sources.warc import register_warc_source

        def page(rid, host, body_text):
            html = (
                f"<html><head><title>t</title><style>x{{}}</style></head>"
                f"<body><h1>H</h1><p>{body_text}</p>"
                f"<script>var a=1;</script></body></html>"
            ).encode()
            return _warc_record(rid, f"https://{host}/doc/{rid.decode()}".encode(), html)

        crawl = tmp_path / "crawl"
        crawl.mkdir()
        (crawl / "s0.warc").write_bytes(
            page(b"1", "alpha.example.com", "first doc")
            + page(b"2", "alpha.example.com", "second doc here")
            + page(b"3", "beta.example.com", "other host")
        )
        register_warc_source(spark)

        stats: dict[str, list] = {}
        batches: list[dict] = []

        def merge(batch_df, _batch_id):
            agg = (
                parse_urls(
                    batch_df.where(F.col("warc_type") == "response").withColumn(
                        "extracted", html_text_expr(F.col("payload").cast("string"))
                    ),
                    "target_uri",
                )
                .groupBy(F.col("url_host").alias("host"))
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.length("extracted")).alias("chars"),
                )
            )
            delta = {}
            for r in agg.collect():
                delta[r["host"]] = [r["n"], r["chars"]]
                cur = stats.setdefault(r["host"], [0, 0])
                cur[0] += r["n"]
                cur[1] += r["chars"]
            if delta:
                batches.append(delta)

        ckpt = str(tmp_path / "ckpt")

        def drain():
            q = (
                spark.readStream.format("warc")
                .load(str(crawl))
                .writeStream.foreachBatch(merge)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        drain()
        assert stats["alpha.example.com"][0] == 2
        assert stats["beta.example.com"][0] == 1

        (crawl / "s1.warc").write_bytes(
            page(b"4", "gamma.example.com", "late arrival")
        )
        drain()
        # run 2 folded ONLY the new shard
        assert batches[-1] == {"gamma.example.com": stats["gamma.example.com"]}
        assert stats["alpha.example.com"][0] == 2  # not re-ingested

        # final stats == batch recompute over the whole directory
        batch_df = spark.read.format("warc").load(str(crawl))
        want = {
            r["host"]: [r["n"], r["chars"]]
            for r in parse_urls(
                batch_df.where(F.col("warc_type") == "response").withColumn(
                    "extracted", html_text_expr(F.col("payload").cast("string"))
                ),
                "target_uri",
            )
            .groupBy(F.col("url_host").alias("host"))
            .agg(
                F.count(F.lit(1)).alias("n"), F.sum(F.length("extracted")).alias("chars")
            )
            .collect()
        }
        assert stats == want
        assert all(chars > 0 for _, chars in stats.values())


class TestIvfPartitionPruning:
    def test_probe_reads_only_probed_cell_files(self, spark, tmp_path):
        """An IVF-PQ index saved ``partitionBy("__cell")`` and read back:
        a 2-probe search must (a) return exactly the in-memory index's
        results and (b) push the probed cells into the scan as a partition
        filter, so only those cells' directories are read — asserted at
        the file level via input_file_name on the pruned scan."""
        import numpy as np

        from preprocessor_spark.operators.pq import (
            ivfpq_assign_encode,
            ivfpq_search,
            pq_train,
        )
        from preprocessor_spark.operators.similarity import (
            _nearest_cells_udf,
            ivf_train_centroids,
        )
        from preprocessor_spark.plans import formatted_plan

        rng = np.random.RandomState(2)
        rows = [
            (i, [float(x) for x in rng.randn(8)]) for i in range(200)
        ]
        corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cents = ivf_train_centroids(corpus, "embedding", n_cells=8, seed=2)
        books = pq_train(corpus, "embedding", m=4, n_codes=16, seed=2)
        idx = ivfpq_assign_encode(corpus, cents, books, "embedding", "vec_id")
        path = str(tmp_path / "ivfpq")
        idx.write.mode("overwrite").partitionBy("__cell").parquet(path)
        loaded = spark.read.parquet(path)

        q = corpus.filter(F.col("vec_id") < 3)
        got = ivfpq_search(loaded, cents, books, q, "embedding", "vec_id", k=4, n_probe=2)
        want = ivfpq_search(idx, cents, books, q, "embedding", "vec_id", k=4, n_probe=2)
        canon = lambda df: sorted(  # noqa: E731
            (r["query_id"], r["rank"], r["neighbor_id"], round(r["adc_score"], 9))
            for r in df.collect()
        )
        assert canon(got) == canon(want) and len(canon(got)) == 12

        # file-level pruning proof: the probed-cells filter over the
        # partitioned layout must touch only those cells' directories
        probe_rows = (
            q.select(
                F.explode(
                    F.slice(_nearest_cells_udf(cents)(F.col("embedding")), 1, 2)
                ).alias("__cell")
            )
            .distinct()
            .collect()
        )
        probed = sorted(r["__cell"] for r in probe_rows)
        all_cells = sorted(
            r["__cell"] for r in loaded.select("__cell").distinct().collect()
        )
        assert len(probed) < len(all_cells), "fixture must leave unprobed cells"
        # the search itself pushes exactly those cells into the scan
        cells = ",".join(str(c) for c in probed)
        assert re.search(
            rf"PartitionFilters: \[__cell#\d+ IN \({cells}\)", formatted_plan(got)
        ), formatted_plan(got)
        files = [
            r["f"]
            for r in loaded.filter(F.col("__cell").isin(probed))
            .select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        ]
        assert files, "pruned scan read no files"
        for f in files:
            assert any(f"__cell={c}/" in f for c in probed), f
        # and the full scan does touch more directories
        all_files = [
            r["f"]
            for r in loaded.select(F.input_file_name().alias("f")).distinct().collect()
        ]
        assert len(set(all_files)) > len(set(files))


class TestAvroPySource:
    """Pure-Python Avro container source/sink (sources/avro_py.py) — the
    runnable fallback for the jar-gated spark-avro module."""

    def test_roundtrip_rich_types(self, spark, tmp_path):
        import datetime as dt

        from preprocessor_spark.sources.avro_py import (
            register_avro_source,
            write_avro_py,
        )

        rows = [
            (
                1,
                "alpha",
                1.5,
                True,
                bytearray(b"\x00\x01"),
                dt.date(2024, 2, 29),
                dt.datetime(2024, 2, 29, 12, 34, 56, 789012),
                [1, 2, 3],
                {"k": 2.5},
                (7, "nested"),
            ),
            (
                2,
                None,
                None,
                None,
                None,
                None,
                None,
                None,
                None,
                None,
            ),
        ]
        schema = (
            "id bigint, s string, x double, b boolean, raw binary, d date, "
            "ts timestamp, arr array<int>, m map<string,double>, "
            "rec struct<a:int, b:string>"
        )
        df = spark.createDataFrame(rows, schema)
        dest = str(tmp_path / "rich")
        write_avro_py(df, dest, codec="deflate")
        register_avro_source(spark)
        back = spark.read.format("avro_py").load(dest)
        got = sorted(back.collect(), key=lambda r: r["id"])
        assert got[0]["s"] == "alpha" and got[0]["x"] == 1.5 and got[0]["b"] is True
        assert bytes(got[0]["raw"]) == b"\x00\x01"
        assert got[0]["d"] == dt.date(2024, 2, 29)
        assert got[0]["ts"] == dt.datetime(2024, 2, 29, 12, 34, 56, 789012)
        assert got[0]["arr"] == [1, 2, 3]
        assert got[0]["m"] == {"k": 2.5}
        assert got[0]["rec"]["a"] == 7 and got[0]["rec"]["b"] == "nested"
        assert all(got[1][c] is None for c in back.columns if c != "id")

    def test_sync_marker_split_of_single_large_file(self, spark, tmp_path):
        """A single multi-block container file must fan out across byte-
        range splits keyed on sync markers, with every block read exactly
        once regardless of where the range boundaries land."""
        from preprocessor_spark.sources.avro_py import (
            register_avro_source,
            write_avro_py,
        )

        # force many small container blocks: one block per Arrow batch
        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
        try:
            df = spark.range(5000).selectExpr(
                "id", "CAST(id AS STRING) AS s", "CAST(id AS DOUBLE) * 1.5 AS x"
            ).coalesce(1)
            dest = str(tmp_path / "bigfile")
            write_avro_py(df, dest, codec="deflate")
        finally:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
        import glob as g
        import os

        (path,) = g.glob(f"{dest}/part-*.avro")
        size = os.path.getsize(path)
        register_avro_source(spark)
        # several awkward split sizes, incl. ones not aligned to anything
        for split in (size + 1, size // 3, 1777, 4096):
            back = (
                spark.read.format("avro_py")
                .option("split_size", split)
                .load(dest)
            )
            nparts = back.rdd.getNumPartitions()
            if split > size:
                assert nparts == 1
            else:
                assert nparts > 1, (split, nparts)
            assert sorted(r["id"] for r in back.collect()) == list(range(5000))

    def test_partition_per_file_and_null_codec(self, spark, tmp_path):
        import glob as g

        from preprocessor_spark.sources.avro_py import (
            register_avro_source,
            write_avro_py,
        )

        df = spark.range(100).repartition(4)
        dest = str(tmp_path / "parts")
        write_avro_py(df, dest, codec="null")
        files = g.glob(f"{dest}/part-*.avro")
        assert len(files) == 4
        register_avro_source(spark)
        back = spark.read.format("avro_py").load(dest)
        # one input partition per container file — parallel read preserved
        assert back.rdd.getNumPartitions() == 4
        assert back.count() == 100
        assert sorted(r["id"] for r in back.collect()) == list(range(100))

    def test_negative_varints_and_large_values(self, spark, tmp_path):
        """Zigzag encoding exercised on negative and >2^31 longs."""
        from preprocessor_spark.sources.avro_py import (
            register_avro_source,
            write_avro_py,
        )

        vals = [-1, -(2**40), 2**40, 0, 2**62, -(2**62)]
        df = spark.createDataFrame([(v,) for v in vals], "v long")
        dest = str(tmp_path / "zz")
        write_avro_py(df, dest)
        register_avro_source(spark)
        got = sorted(
            r["v"] for r in spark.read.format("avro_py").load(dest).collect()
        )
        assert got == sorted(vals)

    def test_corrupt_sync_marker_fails_loudly(self, spark, tmp_path):
        from preprocessor_spark.sources.avro_py import _iter_file_rows, write_avro_py

        df = spark.range(10).coalesce(1)
        dest = tmp_path / "c"
        write_avro_py(df, str(dest), codec="null")
        f = next(dest.glob("part-*.avro"))
        blob = bytearray(f.read_bytes())
        blob[-1] ^= 0xFF  # flip a byte of the trailing sync marker
        f.write_bytes(bytes(blob))
        with pytest.raises(ValueError, match="sync marker"):
            list(_iter_file_rows(str(f)))

    def test_schema_from_header_no_data_read(self, spark, tmp_path):
        from preprocessor_spark.sources.avro_py import read_avro_schema, write_avro_py

        df = spark.createDataFrame([(1, "x")], "id int, name string")
        dest = tmp_path / "s"
        write_avro_py(df, str(dest))
        _, struct = read_avro_schema(str(next(dest.glob("part-*.avro"))))
        assert [f.name for f in struct.fields] == ["id", "name"]
        assert struct["id"].dataType.simpleString() == "int"


class TestRelevanceFilter:
    """tsfresh-parity relevance semantics (operators/relevance.py): the
    reference runs hypothesis tests + Benjamini-Yekutieli FDR, not a
    Pearson threshold — and the two disagree exactly where it matters."""

    def test_planted_mw_vs_pearson_divergence(self):
        """Feature A: groups with (near-)equal MEANS but separated RANKS —
        Mann-Whitney keeps it, the old |Pearson| >= 0.3 rule drops it.
        Feature B: outlier-driven correlation — Pearson keeps it, the rank
        test correctly drops it."""
        import numpy as np

        from preprocessor_spark.operators.relevance import relevance_table

        labels = np.array([0.0] * 10 + [1.0] * 10)
        # A: g0 = nine zeros + one 100 (mean 10); g1 = ten values ~10.0x
        feat_a = np.array([0.0] * 9 + [100.0] + [10.0 + 0.01 * i for i in range(10)])
        # B: tiny interleaved noise both groups + two huge outliers in g1
        rng = np.random.RandomState(11)
        noise = rng.randn(20) * 1e-3
        feat_b = 5.0 + noise
        feat_b[18:] = 1e6

        def pearson(f):
            return float(np.corrcoef(f, labels)[0, 1])

        assert abs(pearson(feat_a)) < 0.3  # old rule drops A
        assert abs(pearson(feat_b)) >= 0.3  # old rule keeps B

        table = relevance_table({"a": feat_a, "b": feat_b}, labels, fdr_level=0.05)
        p_a, rel_a = table["a"]
        p_b, rel_b = table["b"]
        assert rel_a and p_a < 0.02
        assert not rel_b and p_b > 0.05

    def test_mann_whitney_against_exact_enumeration(self):
        """Asymptotic MW p within loose tolerance of the exact permutation
        null for small distinct samples, and behaviorally sound at size."""
        import itertools

        import numpy as np

        from preprocessor_spark.operators.relevance import mann_whitney_u_p

        x0 = np.array([1.0, 3.0, 5.0, 7.0])
        x1 = np.array([2.0, 4.0, 9.0, 11.0])
        pooled = np.concatenate([x0, x1])

        def u_stat(idx1):
            s1 = pooled[list(idx1)]
            s0 = np.delete(pooled, list(idx1))
            return sum((a > b) + 0.5 * (a == b) for a in s1 for b in s0)

        u_obs = u_stat(range(4, 8))
        mu = 8.0
        us = [u_stat(c) for c in itertools.combinations(range(8), 4)]
        exact = sum(abs(u - mu) >= abs(u_obs - mu) - 1e-9 for u in us) / len(us)
        approx = mann_whitney_u_p(x0, x1)
        assert approx == pytest.approx(exact, abs=0.06)
        # symmetry + separation behavior
        assert mann_whitney_u_p(x1, x0) == pytest.approx(approx)
        big0, big1 = np.arange(30.0), np.arange(100.0, 130.0)
        assert mann_whitney_u_p(big0, big1) < 1e-6
        same = np.tile(np.arange(5.0), 6)
        assert mann_whitney_u_p(same, same) > 0.9

    def test_kendall_monotonic_vs_noise(self):
        import numpy as np

        from preprocessor_spark.operators.relevance import kendall_tau_p

        y = np.arange(30.0)
        assert kendall_tau_p(y**3, y) < 1e-9  # non-linear but monotonic
        rng = np.random.RandomState(4)
        assert kendall_tau_p(rng.randn(30), y) > 0.05
        # blocked pairwise path == small-block path (same S, same p)
        x = rng.randn(50)
        assert kendall_tau_p(x, np.arange(50.0), block=7) == pytest.approx(
            kendall_tau_p(x, np.arange(50.0)), rel=1e-12
        )

    def test_fisher_exact_tea_tasting(self):
        """[[3,1],[1,3]]: hypergeometric by hand gives 34/70."""
        from preprocessor_spark.operators.relevance import fisher_exact_p

        assert fisher_exact_p(3, 1, 1, 3) == pytest.approx(34 / 70, rel=1e-9)
        assert fisher_exact_p(5, 0, 0, 5) == pytest.approx(2 / 252, rel=1e-9)
        assert fisher_exact_p(2, 2, 2, 2) == pytest.approx(1.0)

    def test_benjamini_yekutieli_step_up(self):
        """Step-up: a later passing rank rescues earlier-failing smaller
        p-values. m=4, q=0.05, c(4)=25/12 -> thresholds 0.006k."""
        from preprocessor_spark.operators.relevance import benjamini_yekutieli

        assert benjamini_yekutieli([0.005, 0.013, 0.02, 0.8], 0.05) == [
            True, False, False, False,
        ]
        assert benjamini_yekutieli([0.005, 0.011, 0.017, 0.9], 0.05) == [
            True, True, True, False,
        ]
        assert benjamini_yekutieli([float("nan"), 0.001], 0.05) == [False, True]

    def test_extract_ts_features_filters_with_tests(self, spark):
        """End-to-end: a label-separated value column's features survive the
        FDR filter; a pure-noise column's features are dropped (none of its
        features should clear BY at q=0.05 with this seed)."""
        import numpy as np

        from preprocessor_spark.operators.ts_features import extract_ts_features

        rng = np.random.RandomState(8)
        rows = []
        y = {}
        for sid in range(30):
            label = sid % 2
            y[sid] = label
            for t in range(10):
                rows.append(
                    (
                        sid,
                        t,
                        float(rng.randn() + 10.0 * label),
                        float(rng.randn()),
                    )
                )
        df = spark.createDataFrame(rows, "id int, t int, signal double, noise double")
        out = extract_ts_features(df, y=y, time="t", column_id="id")
        cols = set(out.columns)
        assert "signal__mean" in cols
        assert "noise__mean" not in cols
        assert out.count() == 30


class TestEmbedNeardupCollapse:
    def test_collapsed_equals_uncollapsed_on_duplicated_corpus(self, spark):
        """collapse_exact is an equivalence, not an approximation:
        identical vectors share band keys, so rep-level LSH + group
        expansion emits EXACTLY the member-level pair set, on a corpus
        with 4-way exact duplication plus near-dups."""
        import numpy as np

        from preprocessor_spark.operators.dedup import embedding_neardup_pairs

        rng = np.random.RandomState(3)
        base_vecs = rng.randn(12, 16)
        rows = []
        vid = 0
        for i, v in enumerate(base_vecs):
            copies = 4 if i % 3 == 0 else 1
            for _ in range(copies):
                rows.append((vid, [float(x) for x in v]))
                vid += 1
            if i % 4 == 0:  # a near (not exact) duplicate
                w = v.copy()
                w[0] *= 1.02
                rows.append((vid, [float(x) for x in w]))
                vid += 1
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

        got = sorted(
            (r["id_a"], r["id_b"], round(r["cosine"], 9))
            for r in embedding_neardup_pairs(
                df, "embedding", "vec_id", threshold=0.9,
                n_planes=16, bands=4, collapse_exact=True,
            ).collect()
        )
        want = sorted(
            (r["id_a"], r["id_b"], round(r["cosine"], 9))
            for r in embedding_neardup_pairs(
                df, "embedding", "vec_id", threshold=0.9,
                n_planes=16, bands=4, collapse_exact=False,
            ).collect()
        )
        assert got == want and len(got) > 0
        # duplication actually exercised: within-group 1.0 pairs exist
        assert any(c == 1.0 for _, _, c in got)

    def test_thin_corpus_bypass_identical_output(self, spark):
        """On an all-distinct corpus the ≥98%-distinct probe bypasses the
        collapse machinery entirely; output must be identical to the
        explicit collapse_exact=False run (the bypass is purely a cost
        optimization, like ngram_jaccard's)."""
        import numpy as np

        from preprocessor_spark.operators.dedup import embedding_neardup_pairs

        rng = np.random.RandomState(11)
        base = rng.randn(20, 16)
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
        # two near (not exact) duplicates so the pair set is non-empty
        for j, src in enumerate((0, 5)):
            w = base[src].copy()
            w[0] *= 1.01
            rows.append((len(base) + j, [float(x) for x in w]))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = sorted(
            (r["id_a"], r["id_b"], round(r["cosine"], 9))
            for r in embedding_neardup_pairs(
                df, "embedding", "vec_id", threshold=0.9, collapse_exact=True,
            ).collect()
        )
        want = sorted(
            (r["id_a"], r["id_b"], round(r["cosine"], 9))
            for r in embedding_neardup_pairs(
                df, "embedding", "vec_id", threshold=0.9, collapse_exact=False,
            ).collect()
        )
        assert got == want and len(got) >= 2


class TestWarcStreamingParse:
    def test_chunked_equals_oneshot(self):
        """Framing is chunk-boundary-invariant: 1-byte chunks produce the
        same records as the whole buffer at once (headers, CRLF skips and
        payloads may all straddle chunk boundaries)."""
        from preprocessor_spark.sources.warc import (
            parse_warc_records,
            parse_warc_stream,
        )

        blob = b"".join(
            _warc_record(b"r%d" % i, b"https://ex.com/%d" % i, b"b\r\n\r\nody%d" % i)
            for i in range(5)
        )
        one = list(parse_warc_records(blob))
        tiny = list(parse_warc_stream(bytes([c]) for c in blob))
        assert tiny == one and len(one) == 5

    def test_gz_member_streaming_bounded(self, tmp_path):
        """.warc.gz inflates member-by-member: the chunk iterator never
        yields (hence the parser never buffers) anything near the full
        decompressed shard size."""
        from preprocessor_spark.sources.warc import _shard_chunks, parse_warc_stream

        recs = [
            _warc_record(b"r%d" % i, b"https://ex.com/%d" % i, b"x" * 10_000)
            for i in range(50)
        ]
        p = tmp_path / "big.warc.gz"
        p.write_bytes(b"".join(gzip.compress(r) for r in recs))
        total = sum(len(r) for r in recs)
        seen = 0
        max_chunk = 0
        out = []
        chunks = []
        for c in _shard_chunks(str(p)):
            max_chunk = max(max_chunk, len(c))
            seen += len(c)
            chunks.append(c)
        assert seen == total
        # one member decompresses to ~10 KB; nothing near the 500 KB shard
        assert max_chunk < 64 * 1024
        out = list(parse_warc_stream(iter(chunks)))
        assert len(out) == 50
        assert out[7][5] == b"x" * 10_000

    def test_file_handle_closed(self, tmp_path):
        """The shard file handle lives in a context manager — closed both
        on full consumption and on early generator drop."""
        from preprocessor_spark.sources.warc import _shard_chunks, iter_warc_records

        p = tmp_path / "s.warc"
        p.write_bytes(_warc_record(b"a", b"https://e.com/1", b"hello") * 3)
        list(iter_warc_records(str(p)))
        g = _shard_chunks(str(p))
        next(g)
        g.close()  # must not raise; context manager unwinds

    def test_truncated_tail_raises(self, tmp_path):
        from preprocessor_spark.sources.warc import iter_warc_records

        good = _warc_record(b"a", b"https://e.com/1", b"hello world")
        p = tmp_path / "t.warc"
        p.write_bytes(good[:-10])
        with pytest.raises(ValueError, match="truncated"):
            list(iter_warc_records(str(p)))

    def test_mov_mdhd_version1_timescale(self):
        """A version-1 mdhd (64-bit create/modify times) shifts the
        timescale field by 8 bytes; the decoder must read it from the
        right offset instead of silently misreading fps (ADVICE r5).
        Built by box surgery on the v0 encoder output (mdat precedes
        moov, so growing moov can't break stco offsets)."""
        import numpy as np

        from preprocessor_spark.operators import multimodal as mm
        from preprocessor_spark.operators.jpeg import encode_jpeg

        jpegs = [encode_jpeg(np.full((8, 8), 100, dtype=np.uint8), qval=1)] * 4
        mov = mm.encode_mov_mjpeg(jpegs, fps=25)

        moov_b, moov_e = mm._find_box(mov, 0, len(mov), b"moov")
        trak = next(
            (b, e) for t, b, e in mm._iter_boxes(mov, moov_b, moov_e) if t == b"trak"
        )
        mdia_b, mdia_e = mm._find_box(mov, *trak, b"mdia")
        mdhd_b, mdhd_e = mm._find_box(mov, mdia_b, mdia_e, b"mdhd")
        assert mov[mdhd_b] == 0
        ts4 = mov[mdhd_b + 12 : mdhd_b + 16]
        dur4 = mov[mdhd_b + 16 : mdhd_b + 20]
        rest = mov[mdhd_b + 20 : mdhd_e]
        v1_body = (
            bytes([1])
            + mov[mdhd_b + 1 : mdhd_b + 4]  # flags
            + b"\x00" * 16  # 64-bit ctime + mtime
            + ts4
            + b"\x00" * 4
            + dur4  # 64-bit duration
            + rest
        )
        new_box = (8 + len(v1_body)).to_bytes(4, "big") + b"mdhd" + v1_body
        delta = len(new_box) - (mdhd_e - (mdhd_b - 8))
        assert delta == 12
        patched = bytearray(mov[: mdhd_b - 8] + new_box + mov[mdhd_e:])
        for start in (moov_b - 8, trak[0] - 8, mdia_b - 8):
            old = int.from_bytes(patched[start : start + 4], "big")
            patched[start : start + 4] = (old + delta).to_bytes(4, "big")

        frames, fps = mm.decode_mov_mjpeg(bytes(patched))
        assert fps == pytest.approx(25.0)
        assert frames == jpegs

        # unknown version fails loudly instead of misreading
        bad = bytearray(patched)
        bad[mdhd_b - 8 + 8] = 2
        with pytest.raises(NotImplementedError, match="mdhd version 2"):
            mm.decode_mov_mjpeg(bytes(bad))

    def test_gz_multi_member_chunk_boundary(self, tmp_path):
        """Member boundaries falling inside a 1 MiB compressed read are
        handled: many small members per read block."""
        from preprocessor_spark.sources.warc import iter_warc_records

        recs = [
            _warc_record(b"m%d" % i, b"https://ex.com/m%d" % i, b"body%d" % i)
            for i in range(200)
        ]
        p = tmp_path / "many.warc.gz"
        p.write_bytes(b"".join(gzip.compress(r) for r in recs))
        got = list(iter_warc_records(str(p)))
        assert [g[2] for g in got] == [f"https://ex.com/m{i}" for i in range(200)]


class TestDsir:
    """DSIR importance resampling (operators/dsir.py): planted-domain
    separation, resampling (not hard top-k) behavior, and partition
    invariance. The engine-parity check is tests/test_queries.py's
    dsir_select_docs oracle (exact floats)."""

    def _corpus(self, spark):
        # target domain talks about cooking; raw background about finance;
        # a few raw docs are cooking-like and should surface
        rows = []
        for i in range(30):
            rows.append((i, "simmer the stock then season the broth with herbs", "tgt"))
        for i in range(30, 130):
            rows.append((i, "quarterly revenue margin guidance beat analyst estimates", "raw"))
        for i in range(130, 140):
            rows.append((i, "season the broth and simmer slowly with fresh herbs", "raw"))
        return spark.createDataFrame(rows, "doc_id long, text string, domain string")

    def test_weights_separate_planted_domains(self, spark):
        from preprocessor_spark.operators.dsir import dsir_weights

        d = self._corpus(spark)
        w = dsir_weights(d, "text", "doc_id", F.col("domain") == "tgt").toPandas()
        w = w.set_index("doc_id").dsir_weight
        cooking_raw = [w[i] for i in range(130, 140)]
        finance_raw = [w[i] for i in range(30, 130)]
        assert min(cooking_raw) > max(finance_raw), (
            "cooking-like raw docs must outweigh every finance doc"
        )

    def test_gumbel_select_is_resampling_and_deterministic(self, spark):
        from preprocessor_spark.operators.dsir import dsir_select

        d = self._corpus(spark)
        sel = dsir_select(
            d, "text", "doc_id", F.col("domain") == "tgt", k=45
        ).toPandas()
        ids = set(sel.doc_id)
        assert len(ids) == 45
        # all 40 cooking docs dominate by weight, but Gumbel noise must let
        # SOME low-weight finance docs in (resampling, not a hard cut) ...
        assert ids & set(range(30, 130)), "pure top-k cut: no finance doc sampled"
        # ... while still being weight-driven: cooking docs are selected at
        # a far higher rate than finance docs
        cook_rate = len(ids & (set(range(30)) | set(range(130, 140)))) / 40
        fin_rate = len(ids & set(range(30, 130))) / 100
        assert cook_rate > 3 * fin_rate
        # determinism + partition invariance (content-addressed throughout)
        sel2 = dsir_select(
            d.repartition(13), "text", "doc_id", F.col("domain") == "tgt", k=45
        ).toPandas()
        assert sorted(sel2.doc_id) == sorted(sel.doc_id)
        got = sel.sort_values("doc_id").reset_index(drop=True)
        got2 = sel2.sort_values("doc_id").reset_index(drop=True)
        assert (got.dsir_weight == got2.dsir_weight).all()


def _ks_statistic(report):
    """KS = max(d_abs) over the report (a max is order-independent)."""
    return float(report.agg(F.max("d_abs")).collect()[0][0])


class TestKSDrift:
    def test_ks_matches_numpy_ecdf(self, spark):
        """Exact KS report vs a numpy searchsorted ECDF oracle, including
        duplicated values across both snapshots."""
        import numpy as np
        import pandas as pd

        from preprocessor_spark.operators.drift import ks_report

        rng = np.random.RandomState(7)
        a = np.round(rng.normal(0.0, 1.0, 400), 2)        # ties guaranteed
        b = np.round(rng.normal(0.4, 1.3, 300), 2)
        ref = spark.createDataFrame(pd.DataFrame({"x": a}))
        cur = spark.createDataFrame(pd.DataFrame({"x": b}))
        rep = ks_report(ref, cur, "x", num_partitions=5)
        pdf = rep.toPandas().sort_values("x" if "x" in rep.columns else "value")

        sa, sb = np.sort(a), np.sort(b)
        allv = np.sort(pdf["value"].values)
        er = np.searchsorted(sa, allv, side="right") / len(a)
        ec = np.searchsorted(sb, allv, side="right") / len(b)
        assert np.allclose(pdf["ecdf_ref"].values, np.round(er, 6))
        assert np.allclose(pdf["ecdf_cur"].values, np.round(ec, 6))
        want = float(np.max(np.abs(er - ec)))
        got = _ks_statistic(ks_report(ref, cur, "x", num_partitions=5))
        # the report's d_abs is rounded to 6 decimals (driver-hash contract)
        assert abs(got - want) <= 5e-7
        # row count = pooled distinct values
        assert len(pdf) == len(np.unique(np.concatenate([a, b])))

    def test_ks_nulls_excluded_and_empty_side_raises(self, spark):
        import pandas as pd

        from preprocessor_spark.operators.drift import ks_report

        ref = spark.createDataFrame(pd.DataFrame({"x": [1.0, None, 2.0]}))
        cur = spark.createDataFrame(pd.DataFrame({"x": [1.5, None]}))
        rep = ks_report(ref, cur, "x").toPandas()
        assert rep["ref_n"].sum() == 2 and rep["cur_n"].sum() == 1
        empty = spark.createDataFrame(pd.DataFrame({"x": [None]}), "x double")
        with pytest.raises(ValueError, match="no non-null"):
            ks_report(ref, empty, "x")

    def test_ks_plan_has_no_single_partition(self, spark):
        """The scale claim: the cumulative sums never plan Exchange
        SinglePartition — range exchange + per-partition windows only."""
        import pandas as pd

        from preprocessor_spark.operators.drift import ks_report

        ref = spark.createDataFrame(pd.DataFrame({"x": [float(i) for i in range(50)]}))
        cur = spark.createDataFrame(pd.DataFrame({"x": [float(i) + 0.5 for i in range(50)]}))
        rep = ks_report(ref, cur, "x", num_partitions=4)
        plan = rep._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan, plan


class TestKeywordExtract:
    def test_keywords_match_sklearn_style_numpy(self, spark):
        """Raw-idf keyword ranking vs a dense numpy TF-IDF on a tiny corpus
        (hand-checkable): the rare discriminative term must outrank the
        common one, ranks dense 1..k, ties broken by term."""
        import pandas as pd

        from preprocessor_spark.operators.search import keyword_extract_tfidf

        corpus = pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "spark spark shuffle common common",
                    "common zebra common",
                    "common quartz quartz shuffle",
                ],
            }
        )
        out = keyword_extract_tfidf(
            spark.createDataFrame(corpus), k=2, id_col="doc_id"
        ).toPandas().sort_values(["doc_id", "rank"]).reset_index(drop=True)
        # doc 1: spark tf=2 df=1 -> 6.0, then common tf=2 df=3 -> 2.0
        # (beats shuffle tf=1 df=2 -> 1.5)
        d1 = out[out.doc_id == 1]
        assert list(d1.term) == ["spark", "common"]
        assert list(d1.score) == [6.0, 2.0]
        # doc 2: zebra (tf=1, df=1 -> 3.0) beats common (tf=2, df=3 -> 2.0)
        d2 = out[out.doc_id == 2]
        assert list(d2.term) == ["zebra", "common"]
        # ranks are dense 1..2 per doc
        assert all(list(g["rank"]) == [1, 2] for _, g in out.groupby("doc_id"))

    def test_keywords_min_df_and_log_idf(self, spark):
        import math

        import pandas as pd

        from preprocessor_spark.operators.search import keyword_extract_tfidf

        corpus = pd.DataFrame(
            {"doc_id": [1, 2], "text": ["alpha beta", "beta gamma"]}
        )
        sdf = spark.createDataFrame(corpus)
        out = keyword_extract_tfidf(sdf, k=5, min_df=2).toPandas()
        assert set(out.term) == {"beta"}  # df>=2 keeps only the shared term
        logd = keyword_extract_tfidf(sdf, k=1, log_idf=True).toPandas()
        # classic smoothed idf: tf=1, N=2, df=1 -> ln(3/2)+1
        want = round(1.0 * (math.log(3.0 / 2.0) + 1.0), 6)
        assert all(abs(s - want) < 1e-9 for s in logd[logd.term != "beta"].score)


class TestProductQuantization:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def test_adc_score_is_exact_reconstruction_dot(self, spark, emb):
        """The ADC LUT sum must equal <q, reconstruct(code)> up to float
        accumulation order (<=1e-12) — the defining ADC identity."""
        import numpy as np

        from preprocessor_spark.operators.pq import (
            _encode_mat,
            _unit_rows,
            pq_encode,
            pq_reconstruct,
            pq_search_adc,
            pq_train,
        )

        books = pq_train(emb, "embedding", m=8, sample_rows=512, seed=3)
        enc = pq_encode(emb, books, "embedding", "vec_id")
        queries = emb.limit(3)
        got = pq_search_adc(
            enc, books, queries, "embedding", "vec_id", k=4
        ).toPandas()

        pdf = emb.toPandas()
        mat = _unit_rows(np.array(pdf["embedding"].tolist(), dtype="float64"))
        ids = pdf["vec_id"].to_numpy()
        codes = _encode_mat(mat, books)
        recon = pq_reconstruct(codes, books)
        by_id = {int(i): recon[n] for n, i in enumerate(ids)}
        qmap = {int(i): mat[n] for n, i in enumerate(ids)}
        for r in got.itertuples():
            want = float(qmap[r.query_id] @ by_id[r.neighbor_id])
            assert abs(r.adc_score - want) < 1e-12, (r, want)
        # k rows per query, no self matches, dense ranks
        assert (got.groupby("query_id").size() == 4).all()
        assert (got.query_id != got.neighbor_id).all()

    def test_pq_recall_vs_bruteforce(self, spark, emb):
        """PQ-ADC top-10 must recall most of the exact cosine top-10 —
        the quality contract that makes the 384x compression usable."""
        from preprocessor_spark.operators.pq import pq_encode, pq_search_adc, pq_train
        from preprocessor_spark.operators.similarity import cosine_topk

        books = pq_train(emb, "embedding", m=16, sample_rows=512, seed=3)
        enc = pq_encode(emb, books, "embedding", "vec_id")
        queries = emb.limit(20)
        approx = pq_search_adc(enc, books, queries, "embedding", "vec_id", k=10).toPandas()
        exact = cosine_topk(emb, queries, "embedding", "vec_id", k=10).toPandas()
        hits = tot = 0
        for qid, g in exact.groupby("query_id"):
            truth = set(g.neighbor_id)
            found = set(approx[approx.query_id == qid].neighbor_id)
            hits += len(truth & found)
            tot += len(truth)
        recall = hits / tot
        assert recall >= 0.6, f"recall@10 = {recall:.3f}"


    def test_pq_encode_plan_is_pure_projection(self, spark, emb):
        """Encoding is a zero-shuffle projection — no Exchange at all."""
        from preprocessor_spark.operators.pq import pq_encode, pq_train

        books = pq_train(emb, "embedding", m=4, n_codes=16, sample_rows=128)
        enc = pq_encode(emb, books, "embedding", "vec_id")
        plan = enc._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan

    def test_pq_train_validates_divisibility(self, spark):
        import pandas as pd

        from preprocessor_spark.operators.pq import pq_train

        df = spark.createDataFrame(
            pd.DataFrame({"v": [[1.0, 2.0, 3.0]], "id": [1]})
        )
        with pytest.raises(ValueError, match="not divisible"):
            pq_train(df, "v", m=2)

    def test_pq_train_matches_naive_lloyds_bitwise(self, spark, emb):
        """The vectorized Lloyd's loop (hoisted |x|², in-place d2 assembly,
        dirty-cluster-only means, fixed-point early stop) must reproduce
        the naive masked-mean reference BIT-FOR-BIT — the optimization
        contract that keeps the PQ queries' outputs unchanged."""
        import numpy as np

        from preprocessor_spark.operators.pq import _unit_rows, pq_train

        sample = np.array(
            [r[0] for r in emb.select("embedding").limit(512).collect()],
            dtype="float64",
        )
        sample = _unit_rows(sample)
        m, n_codes, iters, seed = 8, 64, 10, 3
        d = sample.shape[1]
        dsub = d // m
        rng = np.random.RandomState(seed)
        want = np.empty((m, n_codes, dsub), dtype="float64")
        for j in range(m):
            x = sample[:, j * dsub : (j + 1) * dsub]
            cents = x[rng.choice(len(x), n_codes, replace=False)].copy()
            for _ in range(iters):
                d2 = (
                    (x * x).sum(axis=1, keepdims=True)
                    - 2.0 * (x @ cents.T)
                    + (cents * cents).sum(axis=1)[None, :]
                )
                assign = d2.argmin(axis=1)
                for c in range(n_codes):
                    members = x[assign == c]
                    if len(members):
                        cents[c] = members.mean(axis=0)
            want[j] = cents
        got = pq_train(
            emb, "embedding", m=m, n_codes=n_codes, sample_rows=512,
            kmeans_iters=iters, seed=seed,
        )
        assert np.array_equal(got, want)


class TestMMRRerank:
    def test_mmr_skips_near_duplicate(self, spark):
        """The defining MMR behavior: with a near-duplicate of the top hit
        in the candidate set, lambda=0.5 picks the diverse doc second;
        pure relevance (lambda=1) keeps the duplicate."""
        import pandas as pd

        from preprocessor_spark.operators.rerank import mmr_rerank

        vecs = pd.DataFrame(
            {
                "vec_id": [1, 2, 3],
                "embedding": [
                    [1.0, 0.0, 0.0],          # A
                    [0.999, 0.01, 0.0],       # A' near-dup of A
                    [0.0, 1.0, 0.0],          # B diverse
                ],
            }
        )
        cands = pd.DataFrame(
            {
                "query_id": [7, 7, 7],
                "neighbor_id": [1, 2, 3],
                "relevance": [0.99, 0.98, 0.60],
            }
        )
        vdf, cdf = spark.createDataFrame(vecs), spark.createDataFrame(cands)
        div = mmr_rerank(cdf, vdf, k=2, lam=0.5).toPandas().sort_values("mmr_rank")
        assert list(div.neighbor_id) == [1, 3]
        rel = mmr_rerank(cdf, vdf, k=2, lam=1.0).toPandas().sort_values("mmr_rank")
        assert list(rel.neighbor_id) == [1, 2]

    def test_mmr_equals_independent_reference(self, spark):
        """Distributed MMR == an independently coded greedy loop, across
        lambdas and multiple query groups."""
        import numpy as np
        import pandas as pd

        from preprocessor_spark.operators.rerank import mmr_rerank

        rng = np.random.RandomState(5)
        n_vec = 40
        raw = rng.normal(size=(n_vec, 8))
        unit = raw / np.linalg.norm(raw, axis=1, keepdims=True)
        vecs = pd.DataFrame(
            {"vec_id": range(n_vec), "embedding": [list(v) for v in unit]}
        )
        rows = []
        for q in range(3):
            cand = rng.choice(n_vec, 12, replace=False)
            for c in cand:
                rows.append((q, int(c), float(rng.uniform(0.2, 1.0))))
        cands = pd.DataFrame(rows, columns=["query_id", "neighbor_id", "relevance"])

        def reference(q, lam, k):
            sub = cands[cands.query_id == q].sort_values("neighbor_id")
            ids = sub.neighbor_id.to_numpy()
            rel = np.round(sub.relevance.to_numpy(), 6)
            V = unit[ids]
            S = V @ V.T
            picked, rest = [], list(range(len(ids)))
            while len(picked) < k and rest:
                best, best_key = None, None
                for i in rest:
                    pen = max(np.round(S[i, j], 6) for j in picked) if picked else 0.0
                    sc = lam * rel[i] - (1 - lam) * pen
                    key = (-sc, ids[i])
                    if best is None or key < best_key:
                        best, best_key = i, key
                picked.append(best)
                rest.remove(best)
            return [int(ids[i]) for i in picked]

        vdf, cdf = spark.createDataFrame(vecs), spark.createDataFrame(cands)
        for lam in (0.3, 0.5, 0.8):
            got = (
                mmr_rerank(cdf, vdf, k=6, lam=lam)
                .toPandas()
                .sort_values(["query_id", "mmr_rank"])
            )
            for q in range(3):
                want = reference(q, lam, 6)
                assert list(got[got.query_id == q].neighbor_id) == want, (q, lam)


class TestSnapshotTable:
    def test_append_time_travel_and_diff(self, spark, tmp_path):
        import pandas as pd

        from preprocessor_spark.sources.snapshots import SnapshotTable

        t = SnapshotTable(spark, str(tmp_path / "tbl"))
        d1 = spark.createDataFrame(pd.DataFrame({"k": [1, 2], "v": ["a", "b"]}))
        d2 = spark.createDataFrame(pd.DataFrame({"k": [3], "v": ["c"]}))
        assert t.write(d1) == 1
        assert t.write(d2) == 2
        assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 3]
        # time travel: v1 unchanged after the append
        assert sorted(r["k"] for r in t.read(version=1).collect()) == [1, 2]
        # incremental diff reads ONLY v2's added files
        delta = t.diff(1, 2)
        assert [r["k"] for r in delta.collect()] == [3]
        files = delta.inputFiles()
        assert files and all("v000002" in f for f in files)

    def test_overwrite_rollback_and_schema_guard(self, spark, tmp_path):
        import pandas as pd
        import pytest as _pt

        from preprocessor_spark.sources.snapshots import SnapshotTable

        t = SnapshotTable(spark, str(tmp_path / "tbl"))
        t.write(spark.createDataFrame(pd.DataFrame({"k": [1]})))
        t.write(spark.createDataFrame(pd.DataFrame({"k": [9, 10]})), mode="overwrite")
        assert sorted(r["k"] for r in t.read().collect()) == [9, 10]
        assert [r["k"] for r in t.read(version=1).collect()] == [1]
        v3 = t.rollback(1)
        assert v3 == 3
        assert [r["k"] for r in t.read().collect()] == [1]
        # appends must match the table schema
        bad = spark.createDataFrame(pd.DataFrame({"other": [1.5]}))
        with _pt.raises(ValueError, match="schema"):
            t.write(bad, mode="append")
        # diff across the overwrite refuses (not a pure file addition)
        with _pt.raises(ValueError, match="non-append"):
            t.diff(1, 2)

    def test_concurrent_commit_conflict(self, spark, tmp_path):
        import pandas as pd

        from preprocessor_spark.sources.snapshots import SnapshotConflict, SnapshotTable

        t = SnapshotTable(spark, str(tmp_path / "tbl"))
        t.write(spark.createDataFrame(pd.DataFrame({"k": [1]})))
        # a racing writer that resolved the same next version loses the
        # O_CREAT|O_EXCL manifest create — the protocol's conflict point
        with pytest.raises(SnapshotConflict):
            t._commit(1, {"version": 1})

    def test_read_plans_only_manifest_files(self, spark, tmp_path):
        """The scale claim: a versioned read never lists the data tree —
        its scan touches exactly the manifest's file set."""
        import pandas as pd

        from preprocessor_spark.sources.snapshots import SnapshotTable

        t = SnapshotTable(spark, str(tmp_path / "tbl"))
        t.write(spark.createDataFrame(pd.DataFrame({"k": [1, 2]})))
        t.write(spark.createDataFrame(pd.DataFrame({"k": [3]})))
        man_files = set(t.versions()[0]["files"])
        got = set(t.read(version=1).inputFiles())
        assert {f.replace("file://", "") for f in got} == man_files


class TestIVFPQ:
    @pytest.fixture(scope="class")
    def emb6(self, spark):
        return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def test_full_probe_equals_exhaustive_adc(self, spark, emb6):
        """With n_probe >= n_cells the IVF routing is a no-op: ivfpq_search
        must reproduce the exhaustive ADC result exactly (same pairs, same
        ranks) — proving the cell join loses nothing but unprobed cells."""
        from preprocessor_spark.operators.pq import (
            ivfpq_assign_encode,
            ivfpq_search,
            pq_encode,
            pq_search_adc,
            pq_train,
        )
        from preprocessor_spark.operators.similarity import ivf_train_centroids

        books = pq_train(emb6, "embedding", m=8, sample_rows=512, seed=3)
        cents = ivf_train_centroids(emb6, "embedding", n_cells=8, sample_rows=512)
        index = ivfpq_assign_encode(emb6, cents, books, "embedding", "vec_id")
        queries = emb6.filter(F.col("vec_id") < 5)
        full = (
            ivfpq_search(index, cents, books, queries, "embedding", "vec_id",
                         k=4, n_probe=8)
            .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        )
        enc = pq_encode(emb6, books, "embedding", "vec_id")
        exhaustive = (
            pq_search_adc(enc, books, queries, "embedding", "vec_id", k=4)
            .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        )
        assert list(full.query_id) == list(exhaustive.query_id)
        assert list(full.neighbor_id) == list(exhaustive.neighbor_id)
        assert list(full["rank"]) == list(exhaustive["rank"])

    def test_refine_recovers_exact_topk(self, spark, emb6):
        """IVFADC+R (round 8): with every cell probed and a refine_factor
        wide enough that the ADC candidate set is the whole corpus, the
        exact-rerank stage must reproduce brute-force cosine top-k exactly
        — proving the refine join computes true cosine, not another
        approximation. (At production factors the candidate set is
        k·refine_factor rows; the committed recall table
        bench_results/pq_recall_sf01_r8.json shows the measured trade.)"""
        from preprocessor_spark.operators.pq import (
            ivfpq_assign_encode,
            ivfpq_search,
            pq_train,
        )
        from preprocessor_spark.operators.similarity import (
            cosine_topk,
            ivf_train_centroids,
        )

        books = pq_train(emb6, "embedding", m=8, sample_rows=512, seed=3)
        cents = ivf_train_centroids(emb6, "embedding", n_cells=8, sample_rows=512)
        index = ivfpq_assign_encode(emb6, cents, books, "embedding", "vec_id")
        queries = emb6.filter(F.col("vec_id") < 5)
        refined = (
            ivfpq_search(
                index, cents, books, queries, "embedding", "vec_id",
                k=4, n_probe=8, refine=emb6, refine_factor=200,  # 4*200 > 500
            )
            .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        )
        exact = (
            cosine_topk(emb6, queries, "embedding", "vec_id", k=4)
            .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        )
        assert list(refined.query_id) == list(exact.query_id)
        assert list(refined.neighbor_id) == list(exact.neighbor_id)
        import numpy as np

        # JVM fold vs numpy-GEMM dot products: identical math, different
        # summation order — allow float-addition jitter only
        np.testing.assert_allclose(
            refined.cosine.to_numpy(), exact.cosine.to_numpy(), atol=1e-6
        )

    def test_probed_cells_only(self, spark, emb6):
        """With n_probe=2, every returned neighbor must live in one of its
        query's 2 nearest cells — recomputed independently in numpy."""
        import numpy as np

        from preprocessor_spark.operators.pq import (
            _unit_rows,
            ivfpq_assign_encode,
            ivfpq_search,
            pq_train,
        )
        from preprocessor_spark.operators.similarity import ivf_train_centroids

        books = pq_train(emb6, "embedding", m=8, sample_rows=512, seed=3)
        cents = ivf_train_centroids(emb6, "embedding", n_cells=8, sample_rows=512)
        index = ivfpq_assign_encode(emb6, cents, books, "embedding", "vec_id")
        queries = emb6.filter(F.col("vec_id") < 5)
        got = ivfpq_search(
            index, cents, books, queries, "embedding", "vec_id", k=4, n_probe=2
        ).toPandas()

        pdf = emb6.toPandas()
        mat = _unit_rows(np.array(pdf["embedding"].tolist(), dtype="float64"))
        ids = pdf["vec_id"].to_numpy()
        cell_of = {int(i): int((mat[n] @ cents.T).argmax()) for n, i in enumerate(ids)}
        probes = {
            int(i): set(np.argsort(-(mat[n] @ cents.T))[:2])
            for n, i in enumerate(ids)
            if i < 5
        }
        for r in got.itertuples():
            assert cell_of[r.neighbor_id] in probes[r.query_id], r


class TestStreamingDriftMonitor:
    def test_ks_in_foreachbatch_matches_batch(self, spark, tmp_path):
        """Composition: the exact KS report runs per micro-batch against a
        static reference snapshot (the fit/serve drift-monitor shape).
        The streamed final-batch statistic equals a batch recompute."""
        import numpy as np
        import pandas as pd

        from preprocessor_spark.operators.drift import ks_report

        rng = np.random.RandomState(11)
        ref_pdf = pd.DataFrame({"x": np.round(rng.normal(0, 1, 300), 3)})
        cur_pdf = pd.DataFrame({"x": np.round(rng.normal(0.5, 1, 200), 3)})
        ref = spark.createDataFrame(ref_pdf)

        src = tmp_path / "src"
        src.mkdir()
        spark.createDataFrame(cur_pdf).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "stage")
        )
        import glob
        import shutil

        shutil.copy(
            glob.glob(str(tmp_path / "stage" / "part-*.parquet"))[0],
            str(src / "batch0.parquet"),
        )

        seen: list[float] = []

        def monitor(batch_df, _bid):
            if batch_df.count():
                seen.append(_ks_statistic(ks_report(ref, batch_df, "x")))

        q = (
            spark.readStream.schema("x double")
            .parquet(str(src))
            .writeStream.foreachBatch(monitor)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        want = _ks_statistic(ks_report(ref, spark.createDataFrame(cur_pdf), "x"))
        assert seen and abs(seen[-1] - want) < 1e-12
        assert want > 0.15  # the planted mean shift is detectable


class TestFunnelCohort:
    def _events(self, spark, rows):
        import pandas as pd

        pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_type"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        return spark.createDataFrame(pdf)

    def test_funnel_strict_ordering_and_gaps(self, spark):
        """User A converts fully; user B's click PRECEDES their view so it
        must not count for step 2 (strict ordering); user C stops at view;
        user D has a click at exactly the view timestamp — strictly-after
        excludes it."""
        from preprocessor_spark.operators.funnel import funnel_report

        ev = self._events(
            spark,
            [
                ("A", "2024-01-01 00:00:00", "view"),
                ("A", "2024-01-01 00:00:10", "click"),
                ("A", "2024-01-01 00:01:10", "purchase"),
                ("B", "2024-01-01 00:00:00", "click"),
                ("B", "2024-01-01 00:00:05", "view"),
                ("C", "2024-01-01 00:00:00", "view"),
                ("D", "2024-01-01 00:02:00", "view"),
                ("D", "2024-01-01 00:02:00", "click"),  # same instant: no
            ],
        )
        out = funnel_report(
            ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
        ).collect()
        by_step = {r["step"]: r for r in out}
        assert [r["step_idx"] for r in out] == [0, 1, 2]
        assert by_step["view"]["n_users"] == 4
        assert by_step["click"]["n_users"] == 1  # only A
        assert by_step["purchase"]["n_users"] == 1
        assert by_step["view"]["conv_from_prev"] == 1.0
        assert by_step["click"]["conv_from_prev"] == 0.25
        assert by_step["purchase"]["conv_from_prev"] == 1.0
        assert by_step["view"]["avg_gap_secs"] is None
        assert by_step["click"]["avg_gap_secs"] == 10.0
        assert by_step["purchase"]["avg_gap_secs"] == 60.0

    def test_funnel_single_exchange_for_window_chain(self, spark):
        """Every chained MIN(CASE) window reuses the same user_id
        partitioning: exactly ONE hash exchange feeds the whole per-user
        stage (the only other exchange is the final one-row global agg)."""
        from preprocessor_spark.operators.funnel import funnel_report

        ev = self._events(spark, [("A", "2024-01-01 00:00:00", "view")])
        plan = funnel_report(
            ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
        )._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1, plan

    def test_cohort_offsets(self, spark):
        """u1 first in week of Jan 1 (Mon), active weeks 0 and 2; u2 first
        in week of Jan 8, active that week only."""
        from preprocessor_spark.operators.funnel import cohort_retention

        ev = self._events(
            spark,
            [
                ("u1", "2024-01-02 10:00:00", "view"),
                ("u1", "2024-01-03 10:00:00", "click"),
                ("u1", "2024-01-16 10:00:00", "view"),
                ("u2", "2024-01-08 00:00:00", "view"),
            ],
        )
        out = cohort_retention(ev, "user_id", "ts").collect()
        cells = {(str(r["cohort_week"]), r["week_offset"]): r["n_users"] for r in out}
        assert cells == {
            ("2024-01-01 00:00:00", 0): 1,
            ("2024-01-01 00:00:00", 2): 1,
            ("2024-01-08 00:00:00", 0): 1,
        }

    def test_cohort_max_offset_cap(self, spark):
        from preprocessor_spark.operators.funnel import cohort_retention

        ev = self._events(
            spark,
            [
                ("u1", "2024-01-01 00:00:00", "view"),
                ("u1", "2024-03-01 00:00:00", "view"),
            ],
        )
        out = cohort_retention(ev, "user_id", "ts", max_offset=1).collect()
        assert [(r["week_offset"], r["n_users"]) for r in out] == [(0, 1)]


class TestTriangleCount:
    def _edges(self, spark, pairs):
        return spark.createDataFrame(pairs, "src: bigint, dst: bigint")

    def test_k4_plus_path_with_noise(self, spark):
        """K4 has 4 triangles, 3 per node; the appended path and star add
        none; duplicate, reversed, and self-loop edges must collapse."""
        from preprocessor_spark.operators.graph import triangle_count

        k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
        noise = [(3, 3), (1, 0), (2, 1)]  # self-loop + reversed dups
        path = [(10, 11), (11, 12), (12, 13)]
        star = [(20, 21), (20, 22), (20, 23), (20, 24)]
        out = triangle_count(
            self._edges(spark, k4 + noise + path + star)
        ).collect()
        got = {r["node"]: r["n_triangles"] for r in out}
        assert got == {0: 3, 1: 3, 2: 3, 3: 3}

    def test_two_shared_edge_triangles(self, spark):
        """Two triangles sharing edge (1,2): nodes 1,2 in two each."""
        from preprocessor_spark.operators.graph import triangle_count

        e = [(1, 2), (1, 3), (2, 3), (1, 4), (2, 4)]
        got = {
            r["node"]: r["n_triangles"]
            for r in triangle_count(self._edges(spark, e)).collect()
        }
        assert got == {1: 2, 2: 2, 3: 1, 4: 1}

    def test_clustering_coefficient(self, spark):
        """Triangle 1-2-3 plus pendant 3-4: nodes 1,2 have coeff 1.0;
        node 3 has degree 3 -> 1/3; pendant node 4 (degree 1) -> 0.0."""
        from preprocessor_spark.operators.graph import clustering_coefficient

        e = [(1, 2), (1, 3), (2, 3), (3, 4)]
        rows = clustering_coefficient(self._edges(spark, e)).collect()
        got = {r["node"]: (r["degree"], r["n_triangles"], r["coeff"]) for r in rows}
        assert got[1] == (2, 1, 1.0)
        assert got[2] == (2, 1, 1.0)
        assert got[3] == (3, 1, 1.0 / 3.0)
        assert got[4] == (1, 0, 0.0)

    def test_no_cross_product_in_plan(self, spark):
        from preprocessor_spark.operators.graph import triangle_count

        plan = (
            triangle_count(self._edges(spark, [(1, 2), (2, 3), (1, 3)]))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestIntervalJoin:
    def _dfs(self, spark):
        import pandas as pd

        pts = pd.DataFrame(
            {
                "pid": [1, 2, 3, 4, 5],
                "k": ["a", "a", "a", "b", "a"],
                "pts_ts": pd.to_datetime(
                    [
                        "2024-01-01 00:00:00",  # == interval start: in
                        "2024-01-01 00:10:00",  # == interval end: in
                        "2024-01-01 00:10:01",  # 1s past end: out
                        "2024-01-01 00:05:00",  # right time, wrong key
                        "2024-01-01 02:00:00",  # no interval
                    ]
                ),
            }
        )
        iv = pd.DataFrame(
            {
                "iid": [10, 11],
                "k": ["a", "a"],
                "s": pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 00:09:00"]),
                "e": pd.to_datetime(["2024-01-01 00:10:00", "2024-01-01 00:19:00"]),
            }
        )
        return spark.createDataFrame(pts), spark.createDataFrame(iv)

    def test_inclusive_bounds_keys_and_exactly_once(self, spark):
        """Boundary points are inclusive both ends; key mismatch excludes;
        overlapping intervals each match once (no bin-induced dups)."""
        from preprocessor_spark.operators.interval import interval_join

        pts, iv = self._dfs(spark)
        out = interval_join(
            pts, iv, "pts_ts", "s", "e", on=["k"], bin_seconds=120.0
        ).select("pid", "iid")
        got = sorted((r["pid"], r["iid"]) for r in out.collect())
        # pid1 in iv10 only; pid2 in both (end-inclusive for 10, mid for
        # 11); pid3 is 1s past iv10's end but inside iv11
        assert got == [(1, 10), (2, 10), (2, 11), (3, 11)]

    def test_matches_naive_join(self, spark):
        """Property: binned decomposition == naive theta join, pair for
        pair, on a random-ish fixture with several bin widths."""
        import pandas as pd

        from preprocessor_spark.operators.interval import interval_join

        n = 300
        pts = pd.DataFrame(
            {
                "pid": range(n),
                "k": [f"k{i % 7}" for i in range(n)],
                "pts_ts": pd.to_datetime("2024-01-01")
                + pd.to_timedelta([(i * 137) % 86400 for i in range(n)], unit="s"),
            }
        )
        iv = pd.DataFrame(
            {
                "iid": range(60),
                "k": [f"k{i % 7}" for i in range(60)],
                "s": pd.to_datetime("2024-01-01")
                + pd.to_timedelta([(i * 1441) % 86400 for i in range(60)], unit="s"),
            }
        )
        iv["e"] = iv["s"] + pd.to_timedelta([(i * 313) % 7200 for i in range(60)], unit="s")
        P, I = spark.createDataFrame(pts), spark.createDataFrame(iv)
        naive = (
            P.join(I, "k")
            .filter((P.pts_ts >= I.s) & (P.pts_ts <= I.e))
            .select("pid", "iid")
        )
        want = sorted((r["pid"], r["iid"]) for r in naive.collect())
        for width in (60.0, 600.0, 7200.0):
            got = sorted(
                (r["pid"], r["iid"])
                for r in interval_join(
                    P, I, "pts_ts", "s", "e", on=["k"], bin_seconds=width
                )
                .select("pid", "iid")
                .collect()
            )
            assert got == want, f"width={width}"

    def test_equi_join_plan_no_nested_loop(self, spark):
        from preprocessor_spark.operators.interval import interval_join

        pts, iv = self._dfs(spark)
        plan = (
            interval_join(pts, iv, "pts_ts", "s", "e", on=["k"], bin_seconds=60.0)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_fanout_guard_fires(self, spark):
        import pandas as pd
        import pytest as _pytest

        from preprocessor_spark.operators.interval import interval_join

        pts = spark.createDataFrame(
            pd.DataFrame(
                {"pid": [1], "pts_ts": pd.to_datetime(["2024-01-01"])}
            )
        )
        iv = spark.createDataFrame(
            pd.DataFrame(
                {
                    "iid": [1],
                    "s": pd.to_datetime(["2024-01-01"]),
                    "e": pd.to_datetime(["2024-03-01"]),  # 60 days
                }
            )
        )
        with _pytest.raises(Exception, match="bins"):
            interval_join(
                pts, iv, "pts_ts", "s", "e", bin_seconds=60.0, max_bins=100
            ).collect()


class TestMadOutliers:
    def test_planted_outliers_and_degenerate_group(self, spark):
        """Group 'a': tight cluster + two extreme points -> exactly those
        flagged. Group 'b': constant values (MAD=0) -> NULL z, 0 outliers."""
        import pandas as pd

        from preprocessor_spark.operators.stats import mad_outlier_report

        a_vals = [10.0, 10.1, 9.9, 10.2, 9.8, 10.05, 9.95, 10.15, 500.0, -400.0]
        b_vals = [7.0] * 6
        pdf = pd.DataFrame(
            {
                "g": ["a"] * len(a_vals) + ["b"] * len(b_vals),
                "x": a_vals + b_vals,
            }
        )
        out = mad_outlier_report(
            spark.createDataFrame(pdf), "x", ["g"], z_thresh=3.5
        ).collect()
        got = {r["g"]: r for r in out}
        assert got["a"]["n"] == 10
        assert got["a"]["n_outliers"] == 2
        assert abs(got["a"]["median"] - 10.025) < 1e-12
        assert got["a"]["z_max"] > 3.5
        assert got["b"]["n"] == 6
        assert got["b"]["n_outliers"] == 0
        assert got["b"]["mad"] == 0.0
        assert got["b"]["z_max"] is None

    def test_matches_numpy(self, spark):
        """Median/MAD/outlier count agree with a numpy reference on a
        deterministic mixed fixture."""
        import numpy as np
        import pandas as pd

        from preprocessor_spark.operators.stats import mad_outlier_report

        rng = np.random.RandomState(7)
        x = np.concatenate([rng.normal(50, 5, 400), rng.normal(300, 1, 8)])
        pdf = pd.DataFrame({"g": ["only"] * len(x), "x": x})
        row = mad_outlier_report(
            spark.createDataFrame(pdf), "x", ["g"], z_thresh=3.5
        ).collect()[0]
        med = np.percentile(x, 50)  # linear interpolation, same definition
        mad = np.percentile(np.abs(x - med), 50)
        z = np.abs(x - med) / (1.4826 * mad)
        assert abs(row["median"] - med) < 1e-9
        assert abs(row["mad"] - mad) < 1e-9
        assert row["n_outliers"] == int((z > 3.5).sum())
        assert row["n_outliers"] >= 8


class TestDistributedKMeans:
    def _blobs(self, spark, n_per=120, d=8, seed=3):
        import numpy as np
        import pandas as pd

        rng = np.random.RandomState(seed)
        centers = np.array(
            [[10.0] * d, [-10.0] * d, [10.0] * (d // 2) + [-10.0] * (d - d // 2)]
        )
        X = np.concatenate(
            [c + rng.normal(0, 0.5, (n_per, d)) for c in centers]
        )
        labels = np.repeat(np.arange(3), n_per)
        pdf = pd.DataFrame(
            {
                "vid": range(len(X)),
                "emb": list(X),
                "true_label": labels,
            }
        )
        return spark.createDataFrame(pdf), X, labels

    def test_planted_blob_recovery_and_invariants(self, spark):
        import numpy as np

        from preprocessor_spark.operators.clustering import (
            fit_kmeans_exact,
            kmeans_cluster_stats_exact,
        )

        df, X, labels = self._blobs(spark)
        model = fit_kmeans_exact(df, "emb", id_col="vid", k=3, iters=4)
        cents = model.centroids
        # purity: each planted blob is exactly one fitted cluster
        want = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
        for t in range(3):
            assert len(set(want[labels == t])) == 1
        assert len(set(want)) == 3
        # stats: sizes match the numpy assignment, SSE close to numpy's
        stats = kmeans_cluster_stats_exact(df, "emb", model).collect()
        assert {r["cluster"]: r["n"] for r in stats} == {
            c: int((want == c).sum()) for c in range(3)
        }
        sse_np = float((((X - cents[want]) ** 2).sum(axis=1)).sum())
        assert abs(sum(r["sse"] for r in stats) - sse_np) < 1e-6 * max(1.0, sse_np)

    def test_more_clusters_than_points(self, spark):
        import pandas as pd

        from preprocessor_spark.operators.clustering import fit_kmeans_exact

        pdf = pd.DataFrame(
            {"vid": [0, 1], "emb": [[0.0, 0.0], [1.0, 1.0]]}
        )
        with pytest.raises(ValueError, match="k larger than the sample"):
            fit_kmeans_exact(spark.createDataFrame(pdf), "emb", id_col="vid", k=5, iters=3)


class TestPerceptualHash:
    def _pgm(self, img):
        import numpy as np

        u8 = np.clip(np.round(img * 255.0), 0, 255).astype(np.uint8)
        h, w = u8.shape
        return b"P5\n%d %d\n255\n" % (w, h) + u8.tobytes()

    def test_dhash_robust_to_noise_distinct_for_different(self, spark):
        """A mild-noise re-render of an image stays within a few bits; the
        horizontally-mirrored image (all gradients flipped) is far."""
        import numpy as np

        from preprocessor_spark.operators.phash import dhash64
        from preprocessor_spark.operators.multimodal import decode_image

        rng = np.random.RandomState(11)
        base = np.linspace(0, 1, 64)[None, :] * np.linspace(0.3, 1, 48)[:, None]
        noisy = np.clip(base + rng.normal(0, 0.004, base.shape), 0, 1)
        h0 = dhash64(decode_image(self._pgm(base)))
        h1 = dhash64(decode_image(self._pgm(noisy)))
        h2 = dhash64(decode_image(self._pgm(base[:, ::-1])))
        ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")
        assert ham(h0, h1) <= 3
        assert ham(h0, h2) >= 20

    def _clusters(self, spark, pdf, **kw):
        from preprocessor_spark.operators.phash import phash_neardup_clusters

        return {
            r["id"]: (r["cluster"], r["cluster_size"])
            for r in phash_neardup_clusters(
                spark.createDataFrame(pdf), "id", "dhash", **kw
            ).collect()
        }

    def test_pigeonhole_pairs_exact_vs_bruteforce(self, spark):
        """Chunk-join + bit_count recheck == numpy all-pairs popcount for
        a deterministic hash set mixing near and far values: the clusters
        equal the components of the brute-force pair graph."""
        import numpy as np
        import pandas as pd

        rng = np.random.RandomState(5)
        base = rng.randint(-(2**63), 2**63, size=40, dtype=np.int64)
        rows = []
        for i, h in enumerate(base):
            rows.append((i * 10, int(h)))
            flip = int(h) ^ (1 << int(rng.randint(64)))  # 1-bit neighbor
            flip = flip - (1 << 64) if flip >= 1 << 63 else flip
            rows.append((i * 10 + 1, flip))
        pdf = pd.DataFrame(rows, columns=["id", "dhash"])
        got = self._clusters(spark, pdf, max_hamming=3)
        ids = [int(i) for i in pdf["id"]]
        hs = pdf["dhash"].to_numpy().astype(np.uint64)
        label = {i: i for i in ids}  # min-label propagation to a fixpoint
        pairs = [
            (ids[i], ids[j])
            for i in range(len(ids))
            for j in range(i + 1, len(ids))
            if bin(int(hs[i]) ^ int(hs[j])).count("1") <= 3
        ]
        assert len(pairs) >= 40  # every planted 1-bit neighbor is a pair
        changed = True
        while changed:
            changed = False
            for a, b in pairs:
                m = min(label[a], label[b])
                if label[a] != m or label[b] != m:
                    label[a] = label[b] = m
                    changed = True
        sizes = {}
        for c in label.values():
            sizes[c] = sizes.get(c, 0) + 1
        assert got == {i: (label[i], sizes[label[i]]) for i in ids}

    def test_mega_clique_dedups_through_exact_collapse(self, spark):
        """1000 identical hashes — far over max_bucket — collapse to ONE
        representative before the chunk join, so the degenerate-bucket
        guard never sees the duplication: a 1-bit neighbor of the clique
        still joins it, and all 1001 images form one cluster."""
        import pandas as pd

        pdf = pd.DataFrame(
            {"id": range(1001), "dhash": [12345] * 1000 + [12345 ^ 1]}
        )
        got = self._clusters(spark, pdf, max_hamming=3, max_bucket=100)
        assert set(got.values()) == {(0, 1001)}

    def test_bucket_guard_drops_adversarial_distinct_chunk(self, spark):
        """max_bucket still bounds DISTINCT-hash chunk buckets: 200
        distinct hashes sharing three whole chunks put 200 rows in each
        shared (chunk, value) bucket — over the 100 cap — so the guard
        drops those buckets (documented recall sacrifice on adversarial
        diversity) and no quadratic candidate join runs: every image stays
        its own cluster."""
        import pandas as pd

        # distinct values that agree on chunks 0-2 (bits 0..47) and pack
        # their differences into the top 16 bits (any two differ there)
        def signed(v):
            v &= (1 << 64) - 1
            return v - (1 << 64) if v >= 1 << 63 else v

        pdf = pd.DataFrame(
            {"id": range(200), "dhash": [signed(i << 48) for i in range(200)]}
        )
        got = self._clusters(spark, pdf, max_hamming=3, max_bucket=100)
        assert got == {i: (i, 1) for i in range(200)}

    def test_dhash_batch_matches_scalar(self, spark):
        """Vectorized reduceat pooling is bit-identical to the scalar
        looped pooler on integer-valued grids (uint8 decoder output),
        including sub-grid shapes through the fallback."""
        import numpy as np

        from preprocessor_spark.operators.phash import dhash64, dhash64_batch

        rng = np.random.RandomState(3)
        imgs = [
            rng.randint(0, 256, size=(48, 63)).astype(np.float64)
            for _ in range(20)
        ]
        imgs += [rng.randint(0, 256, size=(5, 4)).astype(np.float64)]  # sub-grid
        imgs += [rng.randint(0, 256, size=(8, 9)).astype(np.float64)]  # exact grid
        assert dhash64_batch(imgs) == [dhash64(a) for a in imgs]

    def test_no_cross_product_plan(self, spark):
        """The rep-level pigeonhole pairing is a chunk equi-join."""
        import pandas as pd

        from preprocessor_spark.operators.phash import _rep_near_pairs

        pdf = pd.DataFrame({"__id": [1, 2, 3], "__h": [7, 7, 99]})
        plan = (
            _rep_near_pairs(spark.createDataFrame(pdf), 3, 10_000)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
