"""Round-5 breadth tests: Bloom-filter pre-filtered join, URL
canonicalization / registered-domain / domain caps, and the recursive-CTE
hierarchy walk."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- bloom join


def _revenue(join_df):
    return sorted(
        (r[0], r[1]) for r in
        join_df.groupBy("s_name").agg(F.count(F.lit(1)).alias("n")).collect()
    )


def test_bloom_join_equals_plain_join(spark):
    from preprocessor_spark.operators.bloomjoin import bloom_join

    sf = "/root/testdata/sf0.001"
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select("l_suppkey", "l_quantity")
    supp = (
        spark.read.parquet(f"{sf}/supplier.parquet")
        .where("s_acctbal > 0")
        .select("s_suppkey", "s_name")
    )
    got = _revenue(bloom_join(li, supp, "l_suppkey", "s_suppkey"))
    want = _revenue(li.join(supp, li.l_suppkey == supp.s_suppkey))
    assert got == want and len(got) > 0


def test_bloom_join_exact_even_at_high_fp_rate(spark):
    """With a deliberately tiny bitmap (huge false-positive rate) the
    composite result is STILL exactly the plain join — the exact join
    sweeps up every Bloom false positive."""
    from preprocessor_spark.operators.bloomjoin import bloom_join

    sf = "/root/testdata/sf0.001"
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select("l_suppkey", "l_quantity")
    supp = (
        spark.read.parquet(f"{sf}/supplier.parquet")
        .where("s_acctbal > 5000")
        .select("s_suppkey", "s_name")
    )
    got = _revenue(bloom_join(li, supp, "l_suppkey", "s_suppkey", num_bits=64, num_hashes=2))
    want = _revenue(li.join(supp, li.l_suppkey == supp.s_suppkey))
    assert got == want


def test_bloom_prefilter_never_drops_true_matches(spark):
    from preprocessor_spark.operators.bloomjoin import bloom_bitmap, bloom_prefilter

    sf = "/root/testdata/sf0.001"
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select("l_suppkey")
    supp = (
        spark.read.parquet(f"{sf}/supplier.parquet")
        .where("s_acctbal > 5000")
        .select("s_suppkey")
    )
    bm = bloom_bitmap(supp, "s_suppkey", num_bits=256, num_hashes=3)
    kept = {
        r[0]
        for r in bloom_prefilter(li, bm, "l_suppkey", num_bits=256, num_hashes=3)
        .select("l_suppkey").distinct().collect()
    }
    true_keys = {r[0] for r in supp.collect()}
    li_keys = {r[0] for r in li.select("l_suppkey").distinct().collect()}
    assert (true_keys & li_keys) <= kept


def test_bloom_join_selectivity_and_plan(spark):
    """The default bitmap prunes most non-matching rows, and the probe
    runs as BroadcastHashJoins (map-side) — no extra shuffle of the large
    side beyond the final exact join."""
    from preprocessor_spark.operators.bloomjoin import (
        bloom_bitmap, bloom_join, bloom_prefilter,
    )

    sf = "/root/testdata/sf0.001"
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select("l_suppkey")
    supp = (
        spark.read.parquet(f"{sf}/supplier.parquet")
        .where("s_acctbal > 5000")
        .select("s_suppkey", "s_name")
    )
    n_match_keys = supp.count()
    bm = bloom_bitmap(supp, "s_suppkey")
    kept_keys = (
        bloom_prefilter(li, bm, "l_suppkey").select("l_suppkey").distinct().count()
    )
    # 10 distinct suppkeys at sf0.001; <1% FP rate => kept ~= true matches
    assert kept_keys <= n_match_keys + 1
    j = bloom_join(li, supp, "l_suppkey", "s_suppkey")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 5
    assert "SortMergeJoin" not in plan


def test_bloom_join_rejects_mismatched_key_types(spark):
    from preprocessor_spark.operators.bloomjoin import bloom_join

    sf = "/root/testdata/sf0.001"
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select(
        F.col("l_suppkey").cast("int").alias("l_suppkey")
    )
    supp = spark.read.parquet(f"{sf}/supplier.parquet").select("s_suppkey")
    with pytest.raises(ValueError, match="types must match"):
        bloom_join(li, supp, "l_suppkey", "s_suppkey")


# ---------------------------------------------------------------------- urls


URL_CASES = [
    # (raw, canonical, domain)
    ("HTTP://Example.COM:80/a//b/?utm_source=x&z=1&a=2#f",
     "http://example.com/a/b?a=2&z=1", "example.com"),
    ("https://www.Sub.Shop.co.uk:443/",
     "https://www.sub.shop.co.uk/", "shop.co.uk"),
    ("http://example.com:8080/path/",
     "http://example.com:8080/path", "example.com"),
    ("https://a.example.com", "https://a.example.com/", "example.com"),
    ("http://example.com/?gclid=g&ref=r", "http://example.com/", "example.com"),
    ("http://localhost/x", "http://localhost/x", "localhost"),
    ("http://example.com/a/b/c?b=2&a=1&a=0",
     "http://example.com/a/b/c?a=0&a=1&b=2", "example.com"),
]


def test_parse_urls_cases(spark):
    from preprocessor_spark.operators.urls import parse_urls

    df = spark.createDataFrame([(i, u) for i, (u, _, _) in enumerate(URL_CASES)], "i int, url string")
    rows = {
        r["i"]: r
        for r in parse_urls(df, "url").collect()
    }
    for i, (_, canon, dom) in enumerate(URL_CASES):
        assert rows[i]["url_canonical"] == canon, (i, rows[i]["url_canonical"], canon)
        assert rows[i]["url_domain"] == dom, (i, rows[i]["url_domain"], dom)


def test_parse_urls_no_shuffle(spark):
    """Pure narrow projection: the parse must not introduce an Exchange."""
    from preprocessor_spark.operators.urls import parse_urls

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", F.concat(F.lit("https://h.example.com/p?a=1"), F.col("doc_id").cast("string")).alias("url")
    )
    plan = parse_urls(df, "url")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_domain_cap_sample_deterministic_and_capped(spark):
    from preprocessor_spark.operators.urls import domain_cap_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", F.col("source").alias("domain")
    )
    kept1 = domain_cap_sample(docs, "domain", "doc_id", cap=7)
    kept2 = domain_cap_sample(docs, "domain", "doc_id", cap=7)
    ids1 = sorted(r[0] for r in kept1.select("doc_id").collect())
    ids2 = sorted(r[0] for r in kept2.select("doc_id").collect())
    assert ids1 == ids2
    per_dom = kept1.groupBy("domain").count().collect()
    assert all(r["count"] <= 7 for r in per_dom)
    # every domain with >=7 docs is kept at exactly the cap
    totals = {r["domain"]: r["count"] for r in docs.groupBy("domain").count().collect()}
    got = {r["domain"]: r["count"] for r in per_dom}
    for dom, n in totals.items():
        assert got[dom] == min(n, 7)


# ------------------------------------------------------------ recursive CTE


def test_recursive_cte_depths_match_binary_tree(spark):
    """Every supplier key k>0 sits at depth floor(log2(k))+... — computed
    independently in Python by chasing parents — and the recursion must
    visit each node exactly once."""
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    out = {r["depth"]: (r["n_nodes"], r["sum_node"]) for r in
           em.recursive_cte_tree(spark, sf).collect()}
    keys = [r[0] for r in
            spark.read.parquet(f"{sf}/supplier.parquet").select("s_suppkey").collect()]

    def depth(k):
        d = 0
        while k > 0:
            k >>= 1
            d += 1
        return d

    from collections import defaultdict
    want = defaultdict(lambda: [0, 0])
    for k in keys:
        want[depth(k)][0] += 1
        want[depth(k)][1] += k
    assert out == {d: tuple(v) for d, v in want.items()}


# ----------------------------------------------------------- ring negatives


def test_ring_negatives_balanced_and_deterministic(spark):
    from preprocessor_spark.caching import persist_scope
    from preprocessor_spark.operators.sampling import ring_negatives

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select("doc_id")
    with persist_scope():
        out1 = ring_negatives(docs, "doc_id", k=3).collect()
    with persist_scope():
        out2 = ring_negatives(docs, "doc_id", k=3).collect()
    assert sorted(out1) == sorted(out2)
    n = docs.count()
    assert len(out1) == 3 * n
    from collections import Counter
    anchor_counts = Counter(r["anchor_id"] for r in out1)
    neg_counts = Counter(r["negative_id"] for r in out1)
    # ring bijectivity: every row is an anchor 3x AND a negative 3x
    assert set(anchor_counts.values()) == {3}
    assert set(neg_counts.values()) == {3}
    # no self pairs, k distinct negatives per anchor
    assert all(r["anchor_id"] != r["negative_id"] for r in out1)
    per_anchor = Counter((r["anchor_id"], r["negative_id"]) for r in out1)
    assert set(per_anchor.values()) == {1}


def test_ring_negatives_rejects_tiny_corpus(spark):
    from preprocessor_spark.operators.sampling import ring_negatives

    df = spark.createDataFrame([(1,), (2,)], "id long")
    with pytest.raises(ValueError, match="need more than"):
        ring_negatives(df, "id", k=3).collect()


# ----------------------------------------------------------------- z-order


def _morton_py(vals, bits):
    out = 0
    n = len(vals)
    for j, v in enumerate(vals):
        for i in range(bits):
            out |= ((v >> i) & 1) << (i * n + j)
    return out


def test_zorder_value_matches_python_reference(spark):
    from preprocessor_spark.operators.layout import zorder_value

    rows = [(3, 5), (0, 0), (65535, 65535), (12345, 54321), (1, 65534)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.select("a", "b", zorder_value(["a", "b"]).alias("z")).collect()
    }
    for a, b in rows:
        assert got[(a, b)] == _morton_py([a, b], 16)


def test_zorder_value_three_cols_and_guards(spark):
    from preprocessor_spark.operators.layout import zorder_value

    df = spark.createDataFrame([(1, 2, 3)], "a long, b long, c long")
    z = df.select(zorder_value(["a", "b", "c"], bits=8).alias("z")).collect()[0]["z"]
    assert z == _morton_py([1, 2, 3], 8)
    with pytest.raises(ValueError):
        zorder_value(["a"], 16)
    with pytest.raises(ValueError):
        zorder_value(["a", "b", "c", "d"], 16)


def test_quantize_minmax_bounds(spark):
    from preprocessor_spark.operators.layout import quantize_minmax

    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    q = quantize_minmax(df, "o_totalprice", bits=10)
    stats = q.agg(
        F.min("o_totalprice__q"), F.max("o_totalprice__q"),
        F.count_distinct("o_totalprice__q"),
    ).collect()[0]
    assert stats[0] == 0 and stats[1] == 1023 and stats[2] > 500


def test_zorder_cluster_prunes_both_dimensions(tmp_path, spark):
    """Layout evidence: write the same table (a) sorted linearly on
    o_custkey and (b) Z-order clustered on (custkey, orderkey); a box
    predicate on the NON-leading dimension must touch fewer files under
    the Z layout (per-file min/max = exactly what parquet row-group
    pruning uses)."""
    from preprocessor_spark.operators.layout import zorder_cluster

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    linear_dir, z_dir = str(tmp_path / "linear"), str(tmp_path / "zorder")
    orders.repartitionByRange(8, "o_custkey").sortWithinPartitions(
        "o_custkey"
    ).write.mode("overwrite").parquet(linear_dir)
    zorder_cluster(orders, ["o_custkey", "o_orderkey"], num_partitions=8).write.mode(
        "overwrite"
    ).parquet(z_dir)

    def files_overlapping(path, col, lo, hi):
        df = spark.read.parquet(path).select(
            F.input_file_name().alias("f"), F.col(col)
        )
        mm = df.groupBy("f").agg(F.min(col).alias("mn"), F.max(col).alias("mx"))
        return mm.where((F.col("mx") >= lo) & (F.col("mn") <= hi)).count()

    # box on o_orderkey (the non-leading dim for the linear layout)
    lo, hi = 100, 180
    n_linear = files_overlapping(linear_dir, "o_orderkey", lo, hi)
    n_z = files_overlapping(z_dir, "o_orderkey", lo, hi)
    assert n_z < n_linear, (n_z, n_linear)
    # correctness: same rows either way
    a = spark.read.parquet(linear_dir).where(F.col("o_orderkey").between(lo, hi)).count()
    b = spark.read.parquet(z_dir).where(F.col("o_orderkey").between(lo, hi)).count()
    assert a == b


# --------------------------------------------------------- count-min sketch


def test_cms_never_undercounts_and_is_tight_on_skew(spark):
    from preprocessor_spark.operators.sketches import cms_build, cms_estimate

    import duckdb

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    words = docs.select(
        F.explode(F.split(F.col("text"), r"\s+")).alias("word")
    ).where(F.col("word") != "")
    sketch = cms_build(words, "word", width=2048, depth=4)
    est_pdf = cms_estimate(sketch, words.distinct(), "word").toPandas()
    true_pdf = words.groupBy("word").count().toPandas()

    con = duckdb.connect()
    con.register("est", est_pdf)
    con.register("tru", true_pdf)
    under = con.execute(
        "SELECT COUNT(*) FROM est JOIN tru USING (word) WHERE est < count"
    ).fetchone()[0]
    assert under == 0
    n_total, max_over = con.execute(
        "SELECT (SELECT SUM(count) FROM tru), MAX(est - count) FROM est JOIN tru USING (word)"
    ).fetchone()
    # CMS bound: overcount <= e*N/width whp; generous 4x slack
    assert max_over <= 4 * 2.72 * n_total / 2048


def test_cms_merge_equals_whole(spark):
    """Mergeability: sketch(part1) + sketch(part2) re-summed on (row, col)
    is cell-identical to sketching the whole corpus."""
    from preprocessor_spark.operators.sketches import cms_build

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), r"\s+")).alias("word")
    ).where(F.col("word") != "")
    half1, half2 = words.where("doc_id % 2 = 0"), words.where("doc_id % 2 = 1")
    merged = (
        cms_build(half1, "word").unionByName(cms_build(half2, "word"))
        .groupBy("row", "col").agg(F.sum("cnt").alias("cnt"))
    )
    whole = cms_build(words, "word")
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_cms_weighted_input_matches_raw(spark):
    from preprocessor_spark.operators.sketches import cms_build

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    words = docs.select(
        F.explode(F.split(F.col("text"), r"\s+")).alias("word")
    ).where(F.col("word") != "")
    pre = words.groupBy("word").count()
    from_raw = cms_build(words, "word")
    from_weighted = cms_build(pre, "word", count_col="count")
    assert from_raw.exceptAll(from_weighted).count() == 0
    assert from_weighted.exceptAll(from_raw).count() == 0


# ------------------------------------------------------- binaryFile source


def _gradient_ppm(w, h):
    import numpy as np
    rgb = np.zeros((h, w, 3), dtype=np.uint8)
    rgb[:, :, 0] = (np.arange(w)[None, :] * 255 // max(w - 1, 1)).astype(np.uint8)
    rgb[:, :, 1] = (np.arange(h)[:, None] * 255 // max(h - 1, 1)).astype(np.uint8)
    rgb[:, :, 2] = 7
    return b"P6\n%d %d\n255\n" % (w, h) + rgb.tobytes(), rgb


def test_read_binary_files_to_image_features(tmp_path, spark):
    """Raw-file ingestion end to end: plant PPM files on disk, read them
    with the binaryFile source (glob filter + metadata-level size filter),
    decode through the multimodal pipeline, and check pixel-exact means."""
    from preprocessor_spark.operators.multimodal import image_features
    from preprocessor_spark.sources import read_binary_files

    import numpy as np

    truth = {}
    for i, (w, h) in enumerate([(8, 6), (5, 9), (16, 4)]):
        payload, rgb = _gradient_ppm(w, h)
        (tmp_path / f"img_{i}.ppm").write_bytes(payload)
        truth[i] = (w, h, float(rgb.astype(np.float64).mean() / 255.0))
    (tmp_path / "notes.txt").write_bytes(b"not an image")
    big, _ = _gradient_ppm(200, 200)
    (tmp_path / "img_999.ppm").write_bytes(big)

    files = read_binary_files(
        spark, str(tmp_path), glob="*.ppm", max_bytes=len(big) - 1
    )
    assert files.count() == 3  # txt excluded by glob, big by size
    named = files.select(
        F.regexp_extract(F.col("path"), r"img_(\d+)\.ppm", 1)
        .cast("long")
        .alias("img_id"),
        "content",
    )
    feats = {
        r["id"]: r
        for r in image_features(named, "img_id", "content").collect()
    }
    assert set(feats) == set(truth)
    for name, (w, h, mean) in truth.items():
        r = feats[name]
        assert (r["width"], r["height"]) == (w, h)
        assert abs(r["mean_intensity"] - mean) < 1e-6


def test_read_binary_files_length_matches_metadata(tmp_path, spark):
    from preprocessor_spark.sources import read_binary_files

    p = tmp_path / "blob.bin"
    p.write_bytes(b"\x00" * 1234)
    row = read_binary_files(spark, str(tmp_path)).collect()[0]
    assert row["length"] == 1234 and len(row["content"]) == 1234


# -------------------------------------------------------------- pagerank


def _pagerank_numpy(edge_list, iterations, damping):
    import numpy as np
    nodes = sorted({u for u, _ in edge_list} | {v for _, v in edge_list})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    deg = np.zeros(n)
    for u, _ in edge_list:
        deg[idx[u]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        contrib = np.zeros(n)
        share = np.where(deg > 0, r / np.maximum(deg, 1), 0.0)
        for u, v in edge_list:
            contrib[idx[v]] += share[idx[u]]
        dangling = r[deg == 0].sum()
        r = (1 - damping) / n + damping * (contrib + dangling / n)
    return {nd: r[i] for nd, i in idx.items()}


def test_pagerank_matches_numpy_power_iteration(spark):
    from preprocessor_spark.caching import persist_scope
    from preprocessor_spark.operators.graph import pagerank

    edge_list = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"),
        ("e", "d"), ("e", "c"), ("f", "a"),  # g only appears as a dst
        ("a", "g"),
    ]
    df = spark.createDataFrame(edge_list, "src string, dst string")
    with persist_scope():
        got = {r["node"]: r["rank"] for r in pagerank(df, iterations=12).collect()}
    want = _pagerank_numpy(edge_list, 12, 0.85)
    assert set(got) == set(want)
    for nd in want:
        assert abs(got[nd] - want[nd]) < 1e-9, (nd, got[nd], want[nd])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_invariants_on_trade_graph(spark):
    from preprocessor_spark.caching import persist_scope
    import __spark_entry__ as em

    with persist_scope():
        rows = em.pagerank_custsupp(spark, "/root/testdata/sf0.001").collect()
    total = sum(r["rank"] for r in rows)
    assert abs(total - 1.0) < 1e-6
    n = len(rows)
    floor = (1 - 0.85) / n
    assert all(r["rank"] >= floor - 1e-12 for r in rows)
    # suppliers receive trade-volume rank: some supplier must outrank the floor
    assert any(r["node"].startswith("s") and r["rank"] > 2 * floor for r in rows)


def test_pagerank_duplicate_edges_ignored(spark):
    """Edge multiplicity must not change the result (distinct inside)."""
    from preprocessor_spark.caching import persist_scope
    from preprocessor_spark.operators.graph import pagerank

    base = [("a", "b"), ("b", "a"), ("a", "c")]
    df1 = spark.createDataFrame(base, "src string, dst string")
    df2 = spark.createDataFrame(base * 5, "src string, dst string")
    with persist_scope():
        r1 = sorted((r["node"], round(r["rank"], 12)) for r in pagerank(df1, iterations=6).collect())
    with persist_scope():
        r2 = sorted((r["node"], round(r["rank"], 12)) for r in pagerank(df2, iterations=6).collect())
    assert r1 == r2


# --------------------------------------- minhash corpus dedup exact collapse


def test_minhash_corpus_collapse_equals_uncollapsed(spark):
    """On a heavily exact-duplicated corpus the collapsed plan must keep a
    bit-identical document set to the uncollapsed plan."""
    from preprocessor_spark.caching import persist_scope
    from preprocessor_spark.operators.dedup import minhash_dedup_corpus

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    ).limit(60)
    dup = base.filter(F.col("doc_id") % 2 == 0)
    corpus = base
    for off in (10_000, 20_000, 30_000):
        corpus = corpus.unionByName(
            dup.select((F.col("doc_id") + off).alias("doc_id"), "text")
        )
    kw = dict(num_hashes=64, bands=16, threshold=0.6)
    with persist_scope():
        kept_c = sorted(
            r["doc_id"]
            for r in minhash_dedup_corpus(corpus, "text", "doc_id", **kw)
            .select("doc_id").collect()
        )
    with persist_scope():
        kept_u = sorted(
            r["doc_id"]
            for r in minhash_dedup_corpus(
                corpus, "text", "doc_id", collapse_exact=False, **kw
            ).select("doc_id").collect()
        )
    assert kept_c == kept_u and len(kept_c) > 0


def test_minhash_corpus_collapse_survives_mega_groups(spark):
    """A content group BIGGER than max_bucket: the uncollapsed run's skew
    guard drops its buckets, but the collapsed run must still deduplicate
    it to one survivor (the explicit exact-dup edges don't go through
    LSH buckets)."""
    from preprocessor_spark.caching import persist_scope
    from preprocessor_spark.operators.dedup import minhash_dedup_corpus

    one = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    ).limit(1)
    copies = one
    for off in range(1, 30):
        copies = copies.unionByName(
            one.select((F.col("doc_id") + 1000 * off).alias("doc_id"), "text")
        )
    with persist_scope():
        kept = minhash_dedup_corpus(
            copies, "text", "doc_id",
            num_hashes=64, bands=16, threshold=0.6, max_bucket=10,
        ).count()
    assert kept == 1


# ------------------------------------------------------ WARC python source


def _warc_record(rid, uri, body, wtype=b"response", http=True):
    payload = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body if http else body
    )
    hdr = (
        b"WARC/1.0\r\n"
        b"WARC-Type: " + wtype + b"\r\n"
        b"WARC-Record-ID: <urn:uuid:" + rid + b">\r\n"
        b"WARC-Target-URI: " + uri + b"\r\n"
        b"Content-Type: application/http; msgtype=response\r\n"
        b"Content-Length: " + str(len(payload)).encode() + b"\r\n"
        b"\r\n"
    )
    return hdr + payload + b"\r\n\r\n"


def test_warc_source_plain_and_gzip(tmp_path, spark):
    import gzip

    from preprocessor_spark.sources.warc import register_warc_source

    recs = [
        _warc_record(b"r1", b"https://example.com/a", b"<html>alpha</html>"),
        _warc_record(b"r2", b"https://example.org/b", b"<html>beta</html>"),
        _warc_record(b"r3", b"", b"warcinfo body", wtype=b"warcinfo", http=False),
    ]
    (tmp_path / "shard0.warc").write_bytes(b"".join(recs[:2]))
    # CommonCrawl layout: one gzip member per record
    gz = b"".join(gzip.compress(r) for r in recs)
    (tmp_path / "shard1.warc.gz").write_bytes(gz)

    register_warc_source(spark)
    df = spark.read.format("warc").load(str(tmp_path))
    rows = df.collect()
    # shard0 has 2 records; shard1 has all 3
    assert len(rows) == 5
    by_uri = {}
    for r in rows:
        by_uri.setdefault(r["target_uri"], []).append(r)
    assert len(by_uri["https://example.com/a"]) == 2
    r = by_uri["https://example.com/a"][0]
    assert r["warc_type"] == "response"
    assert bytes(r["payload"]) == b"<html>alpha</html>"
    assert "HTTP/1.1 200 OK" in r["http_headers"]
    info = [x for x in rows if x["warc_type"] == "warcinfo"]
    assert len(info) == 1 and bytes(info[0]["payload"]) == b"warcinfo body"
    # partition-per-file: as many input partitions as shards
    assert df.rdd.getNumPartitions() == 2


def test_warc_source_feeds_url_pipeline(tmp_path, spark):
    from preprocessor_spark.operators.urls import parse_urls
    from preprocessor_spark.sources.warc import register_warc_source

    recs = b"".join(
        _warc_record(
            b"r%d" % i,
            b"HTTP://Example.COM:80/p%d//x?utm_source=s&a=1" % i,
            b"body%d" % i,
        )
        for i in range(4)
    )
    (tmp_path / "c.warc").write_bytes(recs)
    register_warc_source(spark)
    df = spark.read.format("warc").load(str(tmp_path / "c.warc"))
    out = parse_urls(df.where("warc_type = 'response'"), "target_uri")
    got = sorted(r["url_canonical"] for r in out.collect())
    assert got == [f"http://example.com/p{i}/x?a=1" for i in range(4)]


def test_warc_corrupt_shard_fails_loudly(tmp_path, spark):
    from preprocessor_spark.sources.warc import parse_warc_records

    with pytest.raises(ValueError, match="WARC version"):
        list(parse_warc_records(b"not a warc\r\n\r\n"))
    good = _warc_record(b"r1", b"u", b"body")
    with pytest.raises(ValueError, match="truncated"):
        list(parse_warc_records(good[:-8]))


def test_warc_stream_tails_directory(tmp_path, spark):
    """Streaming WARC ingest: batch 1 sees the initial shard, batch 2 sees
    only the shard that arrived afterwards; offsets replay exactly."""
    import time

    from preprocessor_spark.sources.warc import register_warc_source

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    (crawl / "s0.warc").write_bytes(
        _warc_record(b"a", b"https://ex.com/1", b"one")
        + _warc_record(b"b", b"https://ex.com/2", b"two")
    )
    register_warc_source(spark)
    stream = spark.readStream.format("warc").load(str(crawl))
    assert stream.isStreaming

    seen = []

    def sink(batch_df, batch_id):
        seen.append(sorted(r["target_uri"] for r in batch_df.collect()))

    chk = str(tmp_path / "chk")
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    (crawl / "s1.warc").write_bytes(_warc_record(b"c", b"https://ex.com/3", b"three"))
    q2 = (
        spark.readStream.format("warc").load(str(crawl))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    flat = [u for batch in seen for u in batch]
    assert sorted(flat) == [
        "https://ex.com/1", "https://ex.com/2", "https://ex.com/3"
    ]
    # the restarted query must NOT have re-ingested the first shard
    assert ["https://ex.com/3"] in seen


# ------------------------------------------------------------- html extract


def test_html_text_expr_cases(spark):
    from preprocessor_spark.operators.text import html_text_expr

    cases = [
        ("<p>hello <b>world</b></p>", "hello world"),
        ("<script>var x = '<p>';</script>after", "after"),
        ("<style>p{}</style>text", "text"),
        ("<!-- c -->keep", "keep"),
        ("<h1>Title</h1><p>Body one</p><p>Body two</p>", "Title\nBody one\nBody two"),
        ("a &amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end", "a & b <tag> \"q\" 's' end"),
        ("  <div> spaced   out </div>  ", "spaced out"),
        ("<ul><li>one</li><li>two</li></ul>", "one\ntwo"),
    ]
    df = spark.createDataFrame([(i, h) for i, (h, _) in enumerate(cases)], "i int, html string")
    got = {r["i"]: r["t"] for r in df.select("i", html_text_expr(F.col("html")).alias("t")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, repr(got[i]), repr(want))


def test_html_extract_idempotent_and_no_shuffle(spark):
    """Extracting from already-extracted text is a no-op (no tags left),
    and the whole extraction is a narrow projection."""
    from preprocessor_spark.operators.text import extract_html_text

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", F.concat(F.lit("<p>"), F.col("text"), F.lit("</p>")).alias("html")
    )
    once = extract_html_text(docs, "html", "t1")
    twice = extract_html_text(once, "t1", "t2")
    assert twice.where(F.col("t1") != F.col("t2")).count() == 0
    plan = once._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_parse_urls_canonical_idempotent_property(spark):
    """Property: canonicalization is idempotent — canon(canon(u)) ==
    canon(u) over the synthesized messy-URL corpus."""
    from preprocessor_spark.operators.urls import parse_urls

    import __spark_entry__ as em

    urls = em.url_normalize_docs(spark, "/root/testdata/sf0.001").select(
        "doc_id", F.col("url_canonical").alias("url")
    )
    again = parse_urls(urls, "url")
    diff = again.where(F.col("url_canonical") != F.col("url")).count()
    assert diff == 0


# ------------------------------------------------------------ applyInArrow


def test_warc_push_filters_prunes_at_parse(tmp_path, spark):
    from pyspark.sql.datasource import EqualTo, GreaterThan

    from preprocessor_spark.sources.warc import (
        WarcReaderPushdown,
        register_warc_source,
    )

    recs = (
        _warc_record(b"a", b"https://ex.com/1", b"one")
        + _warc_record(b"w", b"", b"info", wtype=b"warcinfo", http=False)
        + _warc_record(b"b", b"https://ex.com/2", b"two")
    )
    (tmp_path / "s.warc").write_bytes(recs)

    reader = WarcReaderPushdown({"path": str(tmp_path)})
    unsupported = list(
        reader.pushFilters(
            [EqualTo(("warc_type",), "response"), GreaterThan(("target_uri",), "a")]
        )
    )
    # the EqualTo was consumed; the range filter handed back to Spark
    assert len(unsupported) == 1 and isinstance(unsupported[0], GreaterThan)
    part = reader.partitions()[0]
    rows = list(reader.read(part))
    assert len(rows) == 2 and all(r[2] == "response" for r in rows)

    # end-to-end: pushdown opt-in gives the same rows the plain scan does
    register_warc_source(spark)
    plain = spark.read.format("warc").load(str(tmp_path))
    pushed = (
        spark.read.format("warc").option("pushdown", "true").load(str(tmp_path))
    )
    want = sorted(
        r["target_uri"] for r in plain.where("warc_type = 'response'").collect()
    )
    got = sorted(
        r["target_uri"] for r in pushed.where("warc_type = 'response'").collect()
    )
    assert got == want == ["https://ex.com/1", "https://ex.com/2"]


def test_avro_roundtrip_via_fallback(spark, tmp_path):
    """The spark-avro jar is absent in this container; read_avro/write_avro
    must transparently fall back to the pure-Python container source
    (sources/avro_py.py) and round-trip real data — see
    tests/test_round6_ops.py for the format-level coverage."""
    from preprocessor_spark.sources import read_avro, write_avro

    df = spark.range(3).selectExpr("id", "cast(id * 1.5 as double) as x")
    dest = str(tmp_path / "avro_probe")
    write_avro(df, dest)
    back = read_avro(spark, dest)
    assert sorted((r["id"], r["x"]) for r in back.collect()) == [
        (0, 0.0), (1, 1.5), (2, 3.0),
    ]


# ------------------------------------------------- leakage-safe split


def test_neardup_safe_split_no_cross_split_pairs(spark):
    """Invariant: after splitting with the pair graph, NO near-dup pair
    straddles splits; unpaired rows match the plain hash split."""
    from preprocessor_spark.caching import persist_scope
    from preprocessor_spark.operators.dedup import minhash_lsh_pairs
    from preprocessor_spark.operators.splits import hash_split, neardup_safe_split

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    # plant verbatim duplicates so the pair graph is non-trivial
    corpus = base.unionByName(
        base.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 50_000).alias("doc_id"), "text"
        )
    )
    fractions = {"train": 0.8, "test": 0.2}
    with persist_scope():
        pairs = minhash_lsh_pairs(
            corpus, "text", "doc_id", num_hashes=64, bands=16, threshold=0.6
        ).select("id_a", "id_b")
        out = neardup_safe_split(corpus, pairs, "doc_id", fractions)
        rows = {r["doc_id"]: r["split"] for r in out.collect()}
        pair_rows = pairs.collect()
    assert len(pair_rows) > 0
    crossing = [
        (p["id_a"], p["id_b"])
        for p in pair_rows
        if rows[p["id_a"]] != rows[p["id_b"]]
    ]
    assert crossing == []
    # unpaired rows: identical to the plain hash split
    paired_ids = {x for p in pair_rows for x in (p["id_a"], p["id_b"])}
    plain = {
        r["doc_id"]: r["split"]
        for r in hash_split(corpus, "doc_id", fractions).collect()
    }
    for did, sp in rows.items():
        if did not in paired_ids:
            assert sp == plain[did]
    # both splits are populated
    assert set(rows.values()) == {"train", "test"}


# -------------------------------------------------- hypothesis properties


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    recs=st.lists(
        st.tuples(
            st.sampled_from([b"response", b"request", b"metadata", b"warcinfo"]),
            st.binary(min_size=0, max_size=300),
            st.text(
                alphabet=st.characters(
                    codec="ascii", exclude_characters="\r\n", min_codepoint=33
                ),
                max_size=60,
            ),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_warc_parser_roundtrip_property(recs):
    """Property: encode arbitrary records (binary bodies included) →
    parse → identical (type, uri, payload) triples in order. Bodies may
    embed CRLF-CRLF and even 'WARC/1.0' — Content-Length framing must not
    care."""
    from preprocessor_spark.sources.warc import parse_warc_records

    blob = b""
    for wtype, body, uri in recs:
        hdr = (
            b"WARC/1.0\r\nWARC-Type: " + wtype + b"\r\n"
            b"WARC-Target-URI: " + uri.encode("ascii") + b"\r\n"
            b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
        )
        blob += hdr + body + b"\r\n\r\n"
    parsed = list(parse_warc_records(blob))
    assert [(p[1], p[5], p[2]) for p in parsed] == [
        (t.decode(), b, u) for t, b, u in recs
    ]


@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    host=st.from_regex(r"[a-z]{1,8}(\.[a-z]{2,6}){1,3}", fullmatch=True),
    path=st.from_regex(r"(/[A-Za-z0-9._~-]{0,6}){0,4}/?", fullmatch=True),
    params=st.lists(
        st.tuples(
            st.from_regex(r"[a-z]{1,6}", fullmatch=True),
            st.from_regex(r"[A-Za-z0-9]{0,4}", fullmatch=True),
        ),
        max_size=4,
    ),
    scheme=st.sampled_from(["http", "https", "HTTP", "Https"]),
)
def test_url_canonical_idempotent_property(spark, scheme, host, path, params):
    """Property: canon(canon(u)) == canon(u) for randomized URLs."""
    from preprocessor_spark.operators.urls import parse_urls

    q = "&".join(f"{k}={v}" for k, v in params)
    url = f"{scheme}://{host}{path}" + (f"?{q}" if q else "")
    df = spark.createDataFrame([(url,)], "url string")
    once = parse_urls(df, "url").select(F.col("url_canonical").alias("url"))
    c1 = once.collect()[0]["url"]
    c2 = parse_urls(once, "url").collect()[0]["url_canonical"]
    assert c1 == c2
