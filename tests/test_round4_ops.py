"""Round-4 operator tests: distributed BPE training/encoding, incremental
batch-vs-corpus dedup, and the hashed-n-gram logistic-regression quality
classifier."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from preprocessor_spark.operators.bpe import (
    END,
    BPEModel,
    bpe_encode_udf,
    train_bpe,
    word_counts,
)
from preprocessor_spark.operators.classifier import (
    fit_quality_classifier,
    score_quality_udf,
)
from preprocessor_spark.operators.dedup import incremental_dedup_stats


# --------------------------------------------------------------------------
# BPE
# --------------------------------------------------------------------------

def _corpus(spark, rows):
    return spark.createDataFrame([(i, t) for i, t in enumerate(rows)], ["id", "text"])


def test_bpe_classic_merge_sequence(spark):
    """The canonical Sennrich corpus: {'low':5,'lower':2,'newest':6,
    'widest':3}. The first merges must assemble 'est</w>' (count 9 beats
    every alternative); a frequent word eventually becomes ONE token."""
    rows = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    df = _corpus(spark, rows)
    model = train_bpe(df, "text", num_merges=30)
    assert model.merges[0] == ("e", "s")
    assert model.merges[1] == ("es", "t")
    assert model.merges[2] == ("est", END)
    enc = bpe_encode_udf(model)
    out = {
        r["text"]: r["toks"]
        for r in df.select("text", enc(F.col("text")).alias("toks")).distinct().collect()
    }
    # with 30 merges this tiny vocab is fully memorized
    assert out["newest"] == ["newest" + END]
    assert out["low"] == ["low" + END]


def test_bpe_deterministic_and_roundtrip(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    m1 = train_bpe(docs, "text", num_merges=40, min_freq=2)
    m2 = train_bpe(docs, "text", num_merges=40, min_freq=2)
    assert m1.merges == m2.merges  # same corpus -> same merge sequence

    enc = bpe_encode_udf(m1)
    sample = docs.limit(20).select("text", enc(F.col("text")).alias("toks")).collect()
    for r in sample:
        # lossless: concatenating tokens and stripping end markers restores
        # the lowercased word sequence
        restored = "".join(r["toks"]).replace(END, " ").strip()
        expected = " ".join((r["text"] or "").lower().split())
        assert restored == expected


def test_bpe_word_counts_match_duckdb(spark, sf_dir):
    import duckdb

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {r["word"]: r["n"] for r in word_counts(docs, "text").collect()}
    want = dict(
        duckdb.sql(
            f"""SELECT w, COUNT(*) FROM (
                   SELECT unnest(list_filter(
                       regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')) AS w
                   FROM '{sf_dir}/documents.parquet') GROUP BY w"""
        ).fetchall()
    )
    assert got == want


def test_bpe_partial_vocab_splits_rare_words(spark):
    """With merges exhausted early, unseen/rare words stay multi-token but
    still decode losslessly."""
    rows = ["aaaa aaaa aaaa bbbb"]
    df = _corpus(spark, rows)
    model = train_bpe(df, "text", num_merges=3)
    enc = bpe_encode_udf(model)
    toks = df.select(enc(F.col("text")).alias("t")).collect()[0]["t"]
    assert "".join(toks).replace(END, " ").strip() == "aaaa aaaa aaaa bbbb"
    # 'bbbb' never merged (freq-1 pairs) -> stays char-split, END separate
    assert toks[-5:] == ["b", "b", "b", "b", END]


# --------------------------------------------------------------------------
# incremental dedup
# --------------------------------------------------------------------------

def test_incremental_dedup_stats(spark):
    base = "w%d " * 40
    corpus = _corpus(
        spark,
        [" ".join(f"c{i}w{j}" for j in range(40)) for i in range(5)],
    ).withColumnRenamed("id", "doc_id")
    c0 = " ".join(f"c0w{j}" for j in range(40))
    half_overlap = " ".join(f"c1w{j}" for j in range(20)) + " " + " ".join(
        f"new{j}" for j in range(20)
    )
    fresh = " ".join(f"z{j}" for j in range(40))
    batch = spark.createDataFrame(
        [(100, c0), (101, half_overlap), (102, fresh)], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r
        for r in incremental_dedup_stats(
            corpus, batch, "text", "doc_id", window_tokens=10
        ).collect()
    }
    # verbatim copy: exact dup, full containment, dropped
    assert out[100]["exact_dup"] == 1
    assert out[100]["seen_window_frac"] == 1.0
    assert out[100]["keep"] == 0
    # half overlap: not exact; windows fully inside the first 20 tokens are
    # seen (11 of 31), frac < 0.5 -> kept
    assert out[101]["exact_dup"] == 0
    assert 0.0 < out[101]["seen_window_frac"] < 0.5
    assert out[101]["keep"] == 1
    # fresh doc: nothing seen, kept
    assert out[102]["exact_dup"] == 0
    assert out[102]["n_seen_windows"] == 0
    assert out[102]["keep"] == 1


def test_incremental_dedup_high_containment_dropped(spark):
    corpus = spark.createDataFrame(
        [(0, " ".join(f"w{j}" for j in range(40)))], ["doc_id", "text"]
    )
    # 38 of 40 tokens shared -> nearly all windows seen -> dropped
    near = " ".join(f"w{j}" for j in range(38)) + " x1 x2"
    batch = spark.createDataFrame([(10, near)], ["doc_id", "text"])
    row = incremental_dedup_stats(
        corpus, batch, "text", "doc_id", window_tokens=10
    ).collect()[0]
    assert row["exact_dup"] == 0
    assert row["seen_window_frac"] > 0.5
    assert row["keep"] == 0


def test_incremental_dedup_short_doc_kept(spark):
    """Docs shorter than the window have no windows: frac 0, kept (no
    containment evidence) unless exact."""
    corpus = spark.createDataFrame(
        [(0, " ".join(f"w{j}" for j in range(40)))], ["doc_id", "text"]
    )
    batch = spark.createDataFrame([(10, "tiny doc"), (11, None)], ["doc_id", "text"])
    rows = {
        r["doc_id"]: r
        for r in incremental_dedup_stats(
            corpus, batch, "text", "doc_id", window_tokens=10
        ).collect()
    }
    assert rows[10]["n_windows"] == 0 and rows[10]["keep"] == 1
    assert rows[11]["n_windows"] == 0


# --------------------------------------------------------------------------
# quality classifier
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def planted_quality(spark):
    rng = np.random.RandomState(7)
    words = ["table", "query", "window", "stream", "batch", "join", "sort", "merge"]
    clean = [
        (i, " ".join(rng.choice(words, size=30)), 1) for i in range(120)
    ]
    junk_syms = ["$$$", "###!!", "??%%", "@@@@", "^^^^^", "!!!!"]
    junk = [
        (1000 + i, " ".join(rng.choice(junk_syms, size=30)), 0) for i in range(120)
    ]
    return spark.createDataFrame(clean + junk, ["id", "text", "label"]).repartition(8)


def test_classifier_separates_planted_junk(spark, planted_quality):
    model = fit_quality_classifier(
        planted_quality, "text", "label", dim=256, iterations=25, lr=4.0
    )
    # training loss must strictly improve from the first iteration
    assert model.losses[-1] < model.losses[0] * 0.5
    scored = planted_quality.withColumn(
        "p", score_quality_udf(model)(F.col("text"))
    ).collect()
    acc = np.mean([(r["p"] >= 0.5) == (r["label"] == 1) for r in scored])
    assert acc >= 0.95
    # calibrated direction: clean scores above junk on average
    mc = np.mean([r["p"] for r in scored if r["label"] == 1])
    mj = np.mean([r["p"] for r in scored if r["label"] == 0])
    assert mc > 0.7 > 0.3 > mj


def test_feature_matrix_matches_per_occurrence_hashing_bitwise():
    """The memoized Counter featurizer must reproduce the naive
    hash-every-occurrence reference BIT-FOR-BIT — the optimization
    contract that keeps classifier training and scores unchanged."""
    import hashlib

    from preprocessor_spark.operators.classifier import _feature_matrix

    def naive(texts, dim, ngram=3):
        out = np.zeros((len(texts), dim), dtype=np.float64)
        for r, t in enumerate(texts):
            t = (t or "").lower()
            if len(t) < ngram:
                continue
            idx = np.fromiter(
                (
                    int.from_bytes(
                        hashlib.blake2b(
                            t[i : i + ngram].encode(), digest_size=4
                        ).digest(),
                        "big",
                    )
                    % dim
                    for i in range(len(t) - ngram + 1)
                ),
                dtype=np.int64,
                count=len(t) - ngram + 1,
            )
            row = np.bincount(idx, minlength=dim).astype(np.float64)
            n = np.linalg.norm(row)
            if n > 0:
                row /= n
            out[r] = row
        return out

    texts = [
        "The quick brown fox jumps over the lazy dog",
        "$$$ ###!! ??%% @@@@ ^^^ " * 8,
        "aaaaaaaaaaaaaaaaaaaaaa",          # heavy within-doc repetition
        "ab",                               # shorter than ngram
        "",
        None,
        "naïve café résumé — ünïcödé",
        "MiXeD CaSe LOWERS to the same grams",
    ]
    for dim in (64, 256):
        got = _feature_matrix(texts, dim)
        want = naive(texts, dim)
        assert np.array_equal(got, want)
    # second call hits the memo — still identical
    assert np.array_equal(_feature_matrix(texts, 256), naive(texts, 256))


def test_classifier_deterministic(spark, planted_quality):
    m1 = fit_quality_classifier(
        planted_quality, "text", "label", dim=128, iterations=5, lr=2.0
    )
    m2 = fit_quality_classifier(
        planted_quality, "text", "label", dim=128, iterations=5, lr=2.0
    )
    assert np.array_equal(m1.weights, m2.weights) and m1.bias == m2.bias


# --------------------------------------------------------------------------
# data-quality expectations
# --------------------------------------------------------------------------

def test_expectations_counts_each_violation_kind(spark):
    from preprocessor_spark.operators.expectations import (
        accepted_values,
        in_range,
        matches_regex,
        non_negative,
        not_null,
        referential_check,
        run_checks,
        unique,
    )

    rows = [
        (1, 10.0, "A", "ok-1"),
        (1, -5.0, "A", "ok-2"),      # dup id, negative
        (2, None, "B", "bad"),        # null price, regex violation
        (None, 999.0, "Z", "ok-3"),   # null id, out-of-range, bad value
    ]
    df = spark.createDataFrame(rows, ["id", "price", "status", "tag"])
    rep = {
        r["check"]: r
        for r in run_checks(
            df,
            [
                not_null("id"),
                unique("id"),
                not_null("price"),
                accepted_values("status", ["A", "B"]),
                in_range("price", 0.0, 100.0),
                matches_regex("tag", "^ok-"),
                non_negative("price"),
            ],
        ).collect()
    }
    assert rep["not_null(id)"]["n_violations"] == 1
    assert rep["unique(id)"]["n_violations"] == 1  # one surplus duplicate
    assert rep["not_null(price)"]["n_violations"] == 1
    assert rep["accepted_values(status)"]["n_violations"] == 1
    assert rep["in_range(price)"]["n_violations"] == 2  # -5 and 999
    assert rep["matches_regex(tag)"]["n_violations"] == 1
    assert rep["non_negative(price)"]["n_violations"] == 1
    assert all(r["passed"] == 0 for r in rep.values())

    parent = spark.createDataFrame([(1,)], ["pk"])
    fk = referential_check(df, "id", parent, "pk").collect()[0]
    assert fk["n_violations"] == 1 and fk["passed"] == 0  # id=2 orphaned


def test_expectations_single_pass_plan(spark):
    """All column checks must compile into ONE aggregation job — a single
    scan, no joins, no extra exchanges beyond the 1-row final agg."""
    from preprocessor_spark.plans import formatted_plan
    from preprocessor_spark.operators.expectations import (
        in_range,
        not_null,
        run_checks,
        unique,
    )

    docs = spark.read.parquet(f"/root/testdata/sf0.001/orders.parquet")
    plan = formatted_plan(
        run_checks(docs, [not_null("o_orderkey"), unique("o_orderkey"), in_range("o_totalprice", 0, 1e6)])
    )
    assert "Join" not in plan, plan
    # formatted plans print the scan once in the tree and once in the node
    # detail — one PHYSICAL scan = at most 2 mentions
    assert plan.count("Scan parquet") <= 2, plan


def test_expectations_all_pass_on_clean_data(spark):
    from preprocessor_spark.operators.expectations import not_null, run_checks, unique

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    rep = run_checks(df, [not_null("id"), unique("id"), not_null("v")]).collect()
    assert all(r["passed"] == 1 and r["n_violations"] == 0 for r in rep)


# --------------------------------------------------------------------------
# streaming incremental dedup
# --------------------------------------------------------------------------

def test_streaming_corpus_screen_equals_batch(spark, sf_dir, tmp_path):
    """Stream-static anti-join screen: streamed survivors == batch anti-join
    survivors on the same arriving docs (half are verbatim corpus copies)."""
    from preprocessor_spark.streaming import run_available_now, screen_stream_against_corpus

    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet")
    arriving = (
        corpus.filter(F.col("doc_id") % 2 == 0)  # copies -> dropped
        .select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
        .unionByName(
            corpus.filter(F.col("doc_id") % 2 == 1)  # fresh tails -> kept
            .select(
                (F.col("doc_id") + 20_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" fresh-"), F.col("doc_id")).alias("text"),
            )
        )
    )
    src = str(tmp_path / "arriving")
    arriving.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(arriving.schema).parquet(src)
    screened = screen_stream_against_corpus(stream, corpus, "text")
    run_available_now(screened, "stream_screen", output_mode="append")
    streamed = {r["doc_id"] for r in spark.table("stream_screen").collect()}

    batch = {
        r["doc_id"]
        for r in screen_stream_against_corpus(
            spark.read.parquet(src), corpus, "text"
        ).collect()
    }
    assert streamed == batch
    assert streamed and all(d >= 20_000 for d in streamed)  # only fresh docs survive


# --------------------------------------------------------------------------
# PSI drift
# --------------------------------------------------------------------------

def test_psi_detects_planted_shift(spark):
    from preprocessor_spark.operators.drift import psi_report

    rng = np.random.RandomState(3)
    ref = spark.createDataFrame(
        [(float(v),) for v in rng.normal(100, 10, 4000)], ["x"]
    )
    same = spark.createDataFrame(
        [(float(v),) for v in rng.normal(100, 10, 4000)], ["x"]
    )
    shifted = spark.createDataFrame(
        [(float(v),) for v in rng.normal(130, 10, 4000)], ["x"]
    )
    stable = sum(r["psi_contrib"] for r in psi_report(ref, same, "x").collect())
    drifted = sum(r["psi_contrib"] for r in psi_report(ref, shifted, "x").collect())
    # PSI < 0.1 reads as stable, > 0.25 as drifted
    assert drifted > 1.0 > 0.1 > stable


def test_psi_fractions_sum_to_one(spark):
    from preprocessor_spark.operators.drift import psi_report

    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    rows = psi_report(
        o.filter(F.col("o_orderkey") % 2 == 0),
        o.filter(F.col("o_orderkey") % 2 == 1),
        "o_totalprice",
    ).collect()
    assert abs(sum(r["ref_frac"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["cur_frac"] for r in rows) - 1.0) < 1e-4
    assert len(rows) == 10
    # decile binning on the reference: every ref bin holds ~10%
    assert all(0.05 < r["ref_frac"] < 0.15 for r in rows)


def test_categorical_psi_detects_new_level(spark):
    from preprocessor_spark.operators.drift import categorical_drift_report

    ref = spark.createDataFrame([("a",)] * 50 + [("b",)] * 50, ["g"])
    cur = spark.createDataFrame([("a",)] * 20 + [("b",)] * 20 + [("c",)] * 60, ["g"])
    rows = categorical_drift_report(ref, cur, "g").collect()
    total = float(sum(r["psi_contrib"] for r in rows))
    assert total > 0.25  # new dominant level = drift
    c_row = [r for r in rows if r["g"] == "c"][0]
    assert c_row["ref_n"] == 0 and c_row["cur_n"] == 60


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup-style) and scale-safe row ids
# ---------------------------------------------------------------------------

def _planted_embedding_corpus(spark):
    """3 well-separated clusters; within each, ids (10k, 10k+1) are exact
    near-dups (tiny perturbation) and 10k+2 is distinct."""
    import numpy as np

    rng = np.random.RandomState(0)
    base = np.eye(3, 8, dtype="float64") * 10  # 3 orthogonal anchors in R^8
    rows = []
    for c in range(3):
        a = base[c] + rng.normal(0, 0.01, 8)
        rows.append((10 * c, [float(v) for v in a]))
        rows.append((10 * c + 1, [float(v) for v in a + rng.normal(0, 0.001, 8)]))
        far = base[c] + rng.normal(0, 3.0, 8)
        rows.append((10 * c + 2, [float(v) for v in far]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_semantic_dedup_drops_planted_neardups(spark):
    from preprocessor_spark.operators.semdedup import semantic_dedup, semantic_dedup_pairs

    df = _planted_embedding_corpus(spark)
    pairs = semantic_dedup_pairs(
        df, "embedding", "vec_id", threshold=0.99, n_clusters=3, sample_rows=64, seed=1
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert {(0, 1), (10, 11), (20, 21)} <= found, found
    # verified cosines are genuinely high and pairs stay within a cluster
    assert all(r["cosine"] >= 0.99 for r in pairs)

    kept = semantic_dedup(
        df, "embedding", "vec_id", threshold=0.99, n_clusters=3, sample_rows=64, seed=1
    )
    ids = {r["vec_id"] for r in kept.collect()}
    # min-id canonical survives, its twin is dropped, the distinct row stays
    for c in (0, 10, 20):
        assert c in ids and (c + 1) not in ids and (c + 2) in ids


def test_semantic_dedup_pairs_match_bruteforce_within_cluster(spark):
    """Within-cluster recall is exact: every brute-force pair above the
    threshold whose members share a cluster must be emitted."""
    import numpy as np

    from preprocessor_spark.operators.semdedup import (
        assign_clusters,
        semantic_dedup_pairs,
        train_spherical_centroids,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    thr = 0.85
    cents = train_spherical_centroids(df, "embedding", 4, sample_rows=512, seed=3)
    assigned = assign_clusters(df, "embedding", cents, "cl").select("vec_id", "cl").toPandas()
    cl = dict(zip(assigned["vec_id"], assigned["cl"]))

    pdf = df.toPandas()
    m = np.array(pdf["embedding"].tolist(), dtype="float64")
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    ids = pdf["vec_id"].to_numpy()
    sims = m @ m.T
    ia, ib = np.triu_indices(len(ids), k=1)
    want = {
        (int(min(ids[i], ids[j])), int(max(ids[i], ids[j])))
        for i, j in zip(ia[sims[ia, ib] >= thr], ib[sims[ia, ib] >= thr])
        if cl[ids[i]] == cl[ids[j]]
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in semantic_dedup_pairs(
            df, "embedding", "vec_id", threshold=thr, n_clusters=4, sample_rows=512, seed=3
        ).collect()
    }
    assert got == want, f"missing={want - got} extra={got - want}"


def test_semantic_dedup_cluster_guard(spark):
    from preprocessor_spark.operators.semdedup import semantic_dedup_pairs

    df = _planted_embedding_corpus(spark)
    with pytest.raises(Exception, match="max_cluster_rows"):
        semantic_dedup_pairs(
            df, "embedding", "vec_id", n_clusters=1, sample_rows=64, max_cluster_rows=3
        ).collect()


def test_assign_row_ids_matches_global_window(spark):
    from preprocessor_spark.operators.ids import assign_row_ids

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = assign_row_ids(docs, ["doc_id"], num_partitions=8).select("doc_id", "row_id")
    want = docs.select(
        "doc_id",
        (F.row_number().over(Window.orderBy("doc_id")) - 1).cast("long").alias("row_id"),
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_assign_row_ids_plan_has_no_single_partition(spark):
    from preprocessor_spark.operators.ids import assign_row_ids

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        assign_row_ids(docs, ["doc_id"], num_partitions=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SinglePartition" not in plan, plan


# ---------------------------------------------------------------------------
# CDC merge/upsert + SCD2
# ---------------------------------------------------------------------------

def test_merge_upsert_semantics(spark):
    from preprocessor_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["id", "name", "val"]
    )
    source = spark.createDataFrame(
        [(2, "B", 200.0, False), (3, None, 0.0, True), (4, "d", 40.0, False), (9, "x", 0.0, True)],
        ["id", "name", "val", "deleted"],
    )
    out = {r["id"]: (r["name"], r["val"]) for r in
           merge_upsert(target, source, ["id"], delete_col="deleted").collect()}
    assert out == {1: ("a", 10.0), 2: ("B", 200.0), 4: ("d", 40.0)}  # 3 deleted, 9 no-op


def test_merge_upsert_rejects_dup_source_keys(spark):
    from preprocessor_spark.operators.merge import merge_upsert

    t = spark.createDataFrame([(1, 1.0)], ["id", "v"])
    s = spark.createDataFrame([(1, 2.0), (1, 3.0)], ["id", "v"])
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_upsert(t, s, ["id"])


def test_merge_upsert_broadcast_plan(spark):
    """With broadcast_source the target side must not shuffle: the join is
    a BroadcastHashJoin outer, no Exchange hashpartitioning on the target."""
    from preprocessor_spark.operators.merge import merge_upsert

    t = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    s = t.limit(10).withColumn("o_totalprice", F.col("o_totalprice") + 1)
    plan = (
        merge_upsert(t, s, ["o_orderkey"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    # the full target table must never shuffle: no sort-merge join anywhere,
    # and the only permitted hash exchange is the tiny matched-keys distinct
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_scd2_apply_chains_versions(spark):
    import datetime as dt

    from preprocessor_spark.operators.merge import scd2_apply

    t0 = dt.datetime(2020, 1, 1)
    dim = spark.createDataFrame(
        [(1, "bronze", t0, None, True), (2, "silver", t0, None, True)],
        "id int, tier string, valid_from timestamp, valid_to timestamp, is_current boolean",
    )
    t1, t2 = dt.datetime(2021, 1, 1), dt.datetime(2022, 6, 1)
    updates = spark.createDataFrame(
        [(1, "silver", t1), (1, "gold", t2), (3, "bronze", t1)],
        "id int, tier string, effective_ts timestamp",
    )
    rows = scd2_apply(dim, updates, "id", ["tier"]).collect()
    hist = sorted(
        [(r["id"], r["tier"], r["valid_from"], r["valid_to"], r["is_current"]) for r in rows]
    )
    assert hist == sorted([
        (1, "bronze", t0, t1, False),   # closed at first update
        (1, "silver", t1, t2, False),   # intra-batch chain
        (1, "gold", t2, None, True),
        (2, "silver", t0, None, True),  # untouched key passes through
        (3, "bronze", t1, None, True),  # brand-new key
    ])
    # exactly one current row per key, ranges don't overlap
    cur = [h for h in hist if h[4]]
    assert len(cur) == 3


def test_corr_matrix_matches_numpy_with_nulls(spark):
    from preprocessor_spark.operators.stats import corr_matrix

    rows = [
        (1.0, 2.0, 3.0),
        (2.0, 4.5, None),
        (3.0, 5.5, 1.0),
        (4.0, 9.0, 4.0),
        (None, 1.0, 5.0),
        (6.0, 13.0, 2.0),
    ]
    df = spark.createDataFrame(rows, "x double, y double, z double")
    got = {(r["col_a"], r["col_b"]): r for r in corr_matrix(df, ["x", "y", "z"]).collect()}
    assert set(got) == {("x", "y"), ("x", "z"), ("y", "z")}

    for (a, b), r in got.items():
        pairs = [(p[{"x": 0, "y": 1, "z": 2}[a]], p[{"x": 0, "y": 1, "z": 2}[b]]) for p in rows]
        pairs = [(u, v) for u, v in pairs if u is not None and v is not None]
        xs = np.array([u for u, _ in pairs])
        ys = np.array([v for _, v in pairs])
        assert r["n"] == len(pairs)
        assert abs(r["corr"] - np.corrcoef(xs, ys)[0, 1]) < 1e-9, (a, b)
        assert abs(r["cov_samp"] - np.cov(xs, ys, ddof=1)[0, 1]) < 1e-9, (a, b)


def test_corr_matrix_single_scan_plan(spark):
    """p pairs must NOT mean p scans: the plan reads lineitem exactly once."""
    from preprocessor_spark.operators.stats import corr_matrix

    l = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    plan = (
        corr_matrix(l, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Scan parquet") == 1, plan


def test_streaming_cdc_apply_equals_batch_merge(spark, tmp_path):
    """CDC-over-streams: micro-batches of upserts/deletes drained through
    foreachBatch + merge_upsert must land on the same final state as one
    batch merge of the concatenated (latest-per-key) changes."""
    import json
    import os

    from preprocessor_spark.operators.merge import merge_upsert

    target0 = spark.createDataFrame(
        [(i, f"v{i}", float(i)) for i in range(20)], ["id", "name", "val"]
    )
    # three CDC files -> three micro-batches (maxFilesPerTrigger=1)
    batches = [
        [{"id": 1, "name": "b1", "val": 100.0, "deleted": False, "seq": 1},
         {"id": 2, "name": "x", "val": 0.0, "deleted": True, "seq": 1}],
        [{"id": 1, "name": "b2", "val": 200.0, "deleted": False, "seq": 2},
         {"id": 30, "name": "new", "val": 30.0, "deleted": False, "seq": 2}],
        [{"id": 30, "name": "x", "val": 0.0, "deleted": True, "seq": 3},
         {"id": 3, "name": "b3", "val": 300.0, "deleted": False, "seq": 3}],
    ]
    src = tmp_path / "cdc"
    os.makedirs(src)
    import time

    now = time.time()
    for i, b in enumerate(batches):
        p = src / f"{i:03d}.json"
        with open(p, "w") as f:
            f.write("\n".join(json.dumps(r) for r in b))
        # FileStreamSource orders micro-batches by modification time; equal
        # mtimes would make batch order (and thus CDC replay) arbitrary
        os.utime(p, (now + i * 10, now + i * 10))

    state = {"df": target0}

    def _apply(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        # within a micro-batch, reduce to final state per key (max seq)
        from pyspark.sql import Window as W

        latest = (
            batch_df.withColumn(
                "rn",
                F.row_number().over(
                    W.partitionBy("id").orderBy(F.desc("seq"))
                ),
            )
            .filter("rn = 1")
            .drop("rn", "seq")
        )
        merged = merge_upsert(
            state["df"], latest, ["id"], delete_col="deleted"
        ).localCheckpoint(eager=True)
        state["df"] = merged

    stream = (
        spark.readStream.schema("id long, name string, val double, deleted boolean, seq long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    stream.writeStream.foreachBatch(_apply).trigger(availableNow=True).start().awaitTermination(120)

    got = {r["id"]: (r["name"], r["val"]) for r in state["df"].collect()}
    # batch twin: latest change per key across ALL batches, one merge
    allc = [r for b in batches for r in b]
    latest = {}
    for r in sorted(allc, key=lambda r: r["seq"]):
        latest[r["id"]] = r
    batch_df = spark.createDataFrame(
        [(r["id"], r["name"], r["val"], r["deleted"]) for r in latest.values()],
        ["id", "name", "val", "deleted"],
    )
    want = {
        r["id"]: (r["name"], r["val"])
        for r in merge_upsert(target0, batch_df, ["id"], delete_col="deleted").collect()
    }
    assert got == want
    assert got[1] == ("b2", 200.0) and 2 not in got and 30 not in got
    assert got[3] == ("b3", 300.0)


def test_fuzzy_join_links_planted_variants(spark):
    from preprocessor_spark.operators.fuzzy import fuzzy_join

    left = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight"),
            (3, "completely different words entirely here now"),
        ],
        ["lid", "text"],
    )
    right = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta eta iota"),   # near-copy of 1
            (20, "unrelated tokens that match nothing at all ok"),
        ],
        ["rid", "text"],
    )
    rows = fuzzy_join(left, right, "text", "lid", "rid", threshold=0.4, shingle_n=3).collect()
    got = {(r["lid"], r["rid"]) for r in rows}
    assert got == {(1, 10)}, got
    assert all(0.4 <= r["jaccard"] <= 1.0 for r in rows)
    # no same-side pairs ever leak through the parity filter
    assert all(r["lid"] in (1, 2, 3) and r["rid"] in (10, 20) for r in rows)


def test_heavy_hitters_misra_gries_guarantees(spark):
    """MG guarantees: every item with true count > N/capacity is present;
    est <= true <= est + err for every reported item."""
    from preprocessor_spark.operators.sketches import heavy_hitters

    rng = np.random.RandomState(3)
    # zipf-ish: item i appears ~ 4000/i times
    vals = [f"item{i}" for i in range(1, 60) for _ in range(4000 // i)]
    rng.shuffle(vals)
    df = spark.createDataFrame([(v,) for v in vals], ["term"]).repartition(8)
    true = {}
    for v in vals:
        true[v] = true.get(v, 0) + 1
    n = len(vals)

    out = heavy_hitters(df, "term", k=10, capacity=40).collect()
    assert len(out) == 10
    got = {r["item"]: (r["est"], r["err"]) for r in out}
    for item, (est, err) in got.items():
        assert est <= true[item] <= est + err, (item, est, err, true[item])
    # guaranteed-present items (true > N/capacity across the merged view:
    # conservative per-partition bound is N/cap overall)
    for item, cnt in true.items():
        if cnt > n / 40:
            # a guaranteed-heavy item must rank into the top-10 estimates
            # when k covers the heavy set (top-10 true counts here)
            if sorted(true.values(), reverse=True)[9] < cnt:
                assert item in got, item


def test_heavy_hitters_no_shuffle_of_raw_rows(spark):
    """The raw table must not shuffle: only the |partitions|*capacity
    summary rows pass through an exchange."""
    from preprocessor_spark.operators.sketches import heavy_hitters

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        heavy_hitters(docs, "source", k=5, capacity=50)
        ._jdf.queryExecution().executedPlan().toString()
    )
    scan_idx = plan.find("Scan parquet")
    mip_idx = plan.find("MapInPandas")
    assert mip_idx != -1 and scan_idx != -1
    # no Exchange between the scan and the mapInPandas summary stage
    between = plan[mip_idx:scan_idx] if mip_idx < scan_idx else plan[scan_idx:mip_idx]
    assert "Exchange" not in between, plan


def test_ngram_jaccard_collapse_equals_uncollapsed(spark):
    """Exact-dup collapse must be invisible in the output: pairs and
    jaccard values identical to the uncollapsed run on a corpus salted
    with verbatim duplicates."""
    from preprocessor_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    dup1 = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    dup2 = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 20000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(dup1).unionByName(dup2)

    def canon(df):
        return sorted(
            (r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in df.collect()
        )

    a = canon(ngram_jaccard_pairs(corpus, "text", "doc_id", 3, 0.5, collapse_exact=False))
    b = canon(ngram_jaccard_pairs(corpus, "text", "doc_id", 3, 0.5, collapse_exact=True))
    assert a == b
    assert len(a) > 0  # the salted duplicates guarantee pairs exist


def test_edit_distance_join_exact_vs_bruteforce(spark):
    """PassJoin candidates must lose NO true pair: compare against a full
    cross-product DP Levenshtein over random short strings, k=1 and k=2,
    including duplicates, near-misses, and sub-k-length strings."""
    from preprocessor_spark.operators.fuzzy import edit_distance_join

    def lev(a, b):
        m, n = len(a), len(b)
        prev = list(range(n + 1))
        for i in range(1, m + 1):
            cur = [i] + [0] * n
            for j in range(1, n + 1):
                cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (a[i - 1] != b[j - 1]))
            prev = cur
        return prev[n]

    rng = np.random.RandomState(11)
    alpha = "abcd"
    lefts = ["".join(rng.choice(list(alpha), rng.randint(1, 9))) for _ in range(40)]
    lefts += ["ab", "a", "abcd", "abcd"]  # short + exact dups
    rights = ["".join(rng.choice(list(alpha), rng.randint(1, 9))) for _ in range(40)]
    rights += ["ab", "b", "abcd"]
    ldf = spark.createDataFrame(list(enumerate(lefts)), ["lid", "s"])
    rdf = spark.createDataFrame(list(enumerate(rights)), ["rid", "s"])

    for k in (1, 2):
        got = {
            (r["lid"], r["rid"]): r["dist"]
            for r in edit_distance_join(ldf, rdf, "s", "lid", "rid", max_dist=k).collect()
        }
        want = {
            (i, j): lev(a, b)
            for i, a in enumerate(lefts)
            for j, b in enumerate(rights)
            if lev(a, b) <= k
        }
        assert got == want, f"k={k}: missing={set(want)-set(got)} extra={set(got)-set(want)}"


def test_profile_table_single_scan_and_values(spark):
    from preprocessor_spark.operators.stats import profile_table

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", None), (2, None, 3.5)], "id int, s string, v double"
    )
    rows = {r["column"]: r for r in profile_table(df).collect()}
    assert rows["id"]["n_rows"] == 3 and rows["id"]["n_nulls"] == 0
    assert rows["id"]["n_distinct"] == 2 and rows["id"]["mean"] == (1 + 2 + 2) / 3
    assert rows["s"]["n_nulls"] == 1 and rows["s"]["n_distinct"] == 2
    assert rows["s"]["min_value"] == "a" and rows["s"]["mean"] is None
    assert rows["v"]["n_nulls"] == 1 and rows["v"]["mean"] == (1.5 + 3.5) / 2

    l = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    plan = profile_table(l, exact_distinct=False)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "Expand" not in plan  # approx mode must not multiply the input


def test_cosine_topk_engines_agree(spark, sf_dir):
    """The Arrow scan (integral ids) and the expression fallback that a
    non-integral id column selects must produce identical top-k —
    including the per-batch prune's tie-break at the boundary. String ids
    are zero-padded so their order is the integer order."""
    from preprocessor_spark.operators.similarity import cosine_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")

    def as_str(df):
        return df.select(F.format_string("%08d", "vec_id").alias("vec_id"), "embedding")

    def canon(df):
        return sorted(
            (int(r["query_id"]), r["rank"], int(r["neighbor_id"]), round(r["cosine"], 6))
            for r in df.collect()
        )

    def both(corpus, queries):
        scan = cosine_topk(corpus, queries, "embedding", "vec_id", k=5)
        expr = cosine_topk(as_str(corpus), as_str(queries), "embedding", "vec_id", k=5)
        assert "MapInPandas" in scan._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in expr._jdf.queryExecution().executedPlan().toString()
        return canon(scan), canon(expr)

    q = e.filter(F.col("vec_id") < 8)
    a, b = both(e, q)
    assert a == b and len(a) == 8 * 5
    # tie stress: duplicated embeddings force exact cosine collisions
    dup = e.limit(20).select((F.col("vec_id") + 1000).alias("vec_id"), "embedding")
    a2, b2 = both(e.unionByName(dup), q)
    assert a2 == b2 and len(a2) == 8 * 5


def test_cosine_topk_arrow_guard(spark):
    from preprocessor_spark.operators.similarity import cosine_topk

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = (
        cosine_topk(e, e.limit(5), "embedding", "vec_id", k=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # one scan, no shuffle before the ranking window's own exchange
    assert plan.count("Scan parquet") == 1


def test_cosine_topk_empty_queries(spark, sf_dir):
    """An empty query set yields an empty top-k, not a shape error."""
    from preprocessor_spark.operators.similarity import cosine_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assert cosine_topk(e, e.filter(F.col("vec_id") < 0), "embedding", "vec_id", k=3).count() == 0


# ---------------------------------------------------------------------------
# GIF decode (pure numpy LZW)
# ---------------------------------------------------------------------------

def _pal_gray(pal, idx):
    return (pal[idx].astype(np.float64).mean(axis=2) / 255.0).astype(np.float32)


def test_gif_roundtrip_pixel_exact():
    from preprocessor_spark.operators.gif import decode_gif, decode_gif_frames, encode_gif

    rng = np.random.RandomState(3)
    pal = rng.randint(0, 256, (16, 3)).astype(np.uint8)
    img = rng.randint(0, 16, (11, 7)).astype(np.uint8)
    assert np.array_equal(decode_gif(encode_gif(img, pal)), _pal_gray(pal, img))

    # 64x64 forces LZW code-width overflow -> mid-stream clear codes
    big = rng.randint(0, 16, (64, 64)).astype(np.uint8)
    assert np.array_equal(decode_gif(encode_gif(big, pal)), _pal_gray(pal, big))

    # full 8-bit palette (9-bit LZW codes)
    pal256 = rng.randint(0, 256, (256, 3)).astype(np.uint8)
    img256 = rng.randint(0, 256, (33, 29)).astype(np.uint8)
    assert np.array_equal(decode_gif(encode_gif(img256, pal256)), _pal_gray(pal256, img256))

    # animation: every frame composites and is returned
    frames = [rng.randint(0, 16, (11, 7)).astype(np.uint8) for _ in range(3)]
    outs = decode_gif_frames(encode_gif(frames, pal))
    assert len(outs) == 3
    for o, f in zip(outs, frames):
        assert np.array_equal(o, _pal_gray(pal, f))


def test_gif_transparency_composites_over_background():
    """A spliced Graphic Control Extension with a transparent index must
    leave the background color showing through those pixels."""
    from preprocessor_spark.operators.gif import decode_gif, encode_gif

    pal = np.array([[10, 10, 10], [250, 250, 250], [0, 200, 0], [5, 5, 5]], dtype=np.uint8)
    img = np.array([[1, 2], [2, 1]], dtype=np.uint8)
    raw = bytearray(encode_gif(img, pal))
    desc = raw.index(0x2C, 13)  # image descriptor (after header+GCT)
    gce = bytes([0x21, 0xF9, 0x04, 0x01, 0, 0, 2, 0x00])  # transparent idx 2
    payload = bytes(raw[:desc]) + gce + bytes(raw[desc:])
    out = decode_gif(payload)
    bg = pal[0].astype(np.float64).mean() / 255.0  # bg_index 0
    want = _pal_gray(pal, img).astype(np.float64)
    want[img == 2] = bg
    assert np.allclose(out, want.astype(np.float32))


def test_gif_deinterlace_passes():
    from preprocessor_spark.operators.gif import _deinterlace

    h = 13
    rows = (
        list(range(0, h, 8)) + list(range(4, h, 8)) + list(range(2, h, 4)) + list(range(1, h, 2))
    )
    src = np.arange(h)[:, None] * np.ones((1, 3), dtype=np.int64)
    shuffled = src[rows]
    assert np.array_equal(_deinterlace(shuffled), src)


def test_decode_image_dispatches_gif():
    from preprocessor_spark.operators.gif import encode_gif
    from preprocessor_spark.operators.multimodal import decode_image

    rng = np.random.RandomState(5)
    pal = rng.randint(0, 256, (4, 3)).astype(np.uint8)
    img = rng.randint(0, 4, (9, 9)).astype(np.uint8)
    out = decode_image(encode_gif(img, pal))
    assert out.shape == (9, 9) and out.dtype == np.float32


def test_semantic_dedup_collapse_equals_uncollapsed(spark, sf_dir):
    """Exact-vector collapse must be invisible: same kept set on a corpus
    salted with verbatim embedding duplicates."""
    from preprocessor_spark.operators.semdedup import semantic_dedup

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    dups = e.filter(F.col("vec_id") % 4 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = e.unionByName(dups)
    kw = dict(threshold=0.9, n_clusters=4, sample_rows=256, seed=2)
    a = {r["vec_id"] for r in semantic_dedup(corpus, "embedding", "vec_id", collapse_exact=False, **kw).collect()}
    b = {r["vec_id"] for r in semantic_dedup(corpus, "embedding", "vec_id", collapse_exact=True, **kw).collect()}
    assert a == b
    # every salted duplicate must be dropped in favor of its original
    assert all(v + 100000 not in b for v in range(0, 50, 4) if v in b)


def test_tiff_roundtrip_matrix():
    from preprocessor_spark.operators.multimodal import decode_image
    from preprocessor_spark.operators.tiff import decode_tiff, encode_tiff

    rng = np.random.RandomState(0)
    g = rng.randint(0, 256, (13, 9)).astype(np.uint8)
    c = rng.randint(0, 256, (13, 9, 3)).astype(np.uint8)
    runs = np.repeat(rng.randint(0, 256, (5, 4)), 4, axis=1).astype(np.uint8)
    cases = [
        (encode_tiff(g), g.astype(np.float32) / 255.0),
        (encode_tiff(g, endian=">"), g.astype(np.float32) / 255.0),          # big-endian
        (encode_tiff(c), (c.astype(np.float32) / 255.0).mean(axis=2)),
        (encode_tiff(c, rows_per_strip=5), (c.astype(np.float32) / 255.0).mean(axis=2)),
        (encode_tiff(runs, packbits=True), runs.astype(np.float32) / 255.0),  # RLE
        (encode_tiff(c, packbits=True, rows_per_strip=4), (c.astype(np.float32) / 255.0).mean(axis=2)),
    ]
    for payload, want in cases:
        assert np.allclose(decode_tiff(payload), want, atol=1e-7)
    # dispatch through the generic entry point
    out = decode_image(encode_tiff(g, endian=">"))
    assert out.shape == g.shape and out.dtype == np.float32


def test_tiff_unsupported_raises_clearly():
    import struct as st

    from preprocessor_spark.operators.tiff import decode_tiff, encode_tiff

    payload = bytearray(encode_tiff(np.zeros((4, 4), dtype=np.uint8)))
    # flip the Compression tag value (259) to 4 (CCITT G4 — unsupported;
    # JPEG-in-TIFF 6/7 is supported as of round 5, see test_round5_ops)
    i = payload.index(st.pack("<HH", 259, 3))
    payload[i + 8 : i + 10] = st.pack("<H", 4)
    with pytest.raises(NotImplementedError, match="compression 4"):
        decode_tiff(bytes(payload))


def test_mixed_format_corpus_through_thumbnail_pipeline(spark):
    """One binary column holding FOUR formats (PPM, progressive JPEG,
    animated GIF, big-endian PackBits TIFF) flows through decode + resize +
    JPEG re-encode in a single mapInPandas pass — the real mixed-crawl
    shape. Every thumbnail must decode back at the target size."""
    from preprocessor_spark.operators.gif import encode_gif
    from preprocessor_spark.operators.jpeg import decode_jpeg, encode_jpeg_progressive
    from preprocessor_spark.operators.multimodal import resize_images
    from preprocessor_spark.operators.tiff import encode_tiff

    rng = np.random.RandomState(4)
    img = rng.randint(0, 256, (19, 13, 3)).astype(np.uint8)
    gray = rng.randint(0, 256, (19, 13)).astype(np.uint8)
    pal = rng.randint(0, 256, (16, 3)).astype(np.uint8)
    gif_frames = [rng.randint(0, 16, (19, 13)).astype(np.uint8) for _ in range(2)]
    ppm = (b"P6\n13 19\n255\n" + img.tobytes())
    rows = [
        (0, ppm),
        (1, bytes(encode_jpeg_progressive(img, qval=2, subsample=True))),
        (2, bytes(encode_gif(gif_frames, pal))),
        (3, bytes(encode_tiff(gray, endian=">", packbits=True))),
    ]
    df = spark.createDataFrame(rows, "img_id long, payload binary")
    thumbs = resize_images(df, "img_id", "payload", 8, 6, out_format="jpeg").collect()
    assert len(thumbs) == 4
    for r in thumbs:
        out = decode_jpeg(bytes(r["payload"]))
        assert out.shape == (6, 8), r["id"]


def test_tiff_lzw_and_predictor_variants():
    from preprocessor_spark.operators.tiff import decode_tiff, encode_tiff

    rng = np.random.RandomState(1)
    g = rng.randint(0, 256, (21, 14)).astype(np.uint8)
    c = rng.randint(0, 256, (21, 14, 3)).astype(np.uint8)
    cases = [
        (encode_tiff(g, lzw=True), g.astype(np.float32) / 255.0),
        (encode_tiff(c, lzw=True, rows_per_strip=6), (c.astype(np.float32) / 255.0).mean(axis=2)),
        (encode_tiff(g, lzw=True, predictor=True), g.astype(np.float32) / 255.0),
        (encode_tiff(c, endian=">", lzw=True, predictor=True), (c.astype(np.float32) / 255.0).mean(axis=2)),
        (encode_tiff(c, predictor=True), (c.astype(np.float32) / 255.0).mean(axis=2)),
    ]
    for payload, want in cases:
        assert np.allclose(decode_tiff(payload), want, atol=1e-7)


def test_tiff_16bit_variants():
    from preprocessor_spark.operators.tiff import decode_tiff, encode_tiff

    rng = np.random.RandomState(2)
    g16 = rng.randint(0, 65536, (9, 7)).astype(np.uint16)
    c16 = rng.randint(0, 65536, (9, 7, 3)).astype(np.uint16)
    cases = [
        (encode_tiff(g16), g16.astype(np.float32) / 65535.0),
        (encode_tiff(g16, endian=">"), g16.astype(np.float32) / 65535.0),
        (encode_tiff(c16, lzw=True), (c16.astype(np.float32) / 65535.0).mean(axis=2)),
        (encode_tiff(g16, predictor=True, lzw=True), g16.astype(np.float32) / 65535.0),
    ]
    for payload, want in cases:
        assert np.allclose(decode_tiff(payload), want, atol=1e-7)


# ---------------------------------------------------------------------------
# FLAC decode
# ---------------------------------------------------------------------------

def _flac_fixed_frame_bits(samples, bps=16, order=1, rice_param=6):
    """Hand-encode ONE FLAC frame with a FIXED-order subframe and Rice
    residuals (partition order 0) — exercises the predictor + Rice paths
    the verbatim planted encoder doesn't touch."""
    out = bytearray()
    acc = [0, 0]  # acc, nbits

    def put(v, bits):
        v &= (1 << bits) - 1
        for k in range(bits - 1, -1, -1):
            acc[0] = (acc[0] << 1) | ((v >> k) & 1)
            acc[1] += 1
            if acc[1] == 8:
                out.append(acc[0]); acc[0] = 0; acc[1] = 0

    n = len(samples)
    put(0x3FFE, 14); put(0, 1); put(0, 1)
    put(7, 4)   # 16-bit blocksize follows
    put(0, 4)   # rate from streaminfo
    put(0, 4)   # 1 channel
    put(4, 3)   # 16 bps
    put(0, 1); put(0, 8)      # frame number 0
    put(n - 1, 16); put(0, 8)  # blocksize-1, header crc

    put(0, 1); put(8 + order, 6); put(0, 1)  # FIXED subframe, no wasted bits
    for w in samples[:order]:
        put(int(w), bps)
    # residuals: method 0 (rice), partition order 0
    put(0, 2); put(0, 4); put(rice_param, 4)
    coefs = {1: [1], 2: [2, -1]}[order]
    hist = list(samples[:order])
    for v in samples[order:]:
        pred = sum(c * hist[-i - 1] for i, c in enumerate(coefs))
        r = int(v) - pred
        hist.append(int(v))
        zz = (r << 1) ^ (r >> 63) if r >= 0 else ((-r) << 1) - 1
        zz = (abs(r) << 1) - (1 if r < 0 else 0)
        q, rem = zz >> rice_param, zz & ((1 << rice_param) - 1)
        for _ in range(q):
            put(0, 1)
        put(1, 1)
        put(rem, rice_param)
    while acc[1]:
        put(0, 1)
    put(0, 16)  # frame crc
    return bytes(out)


def test_flac_verbatim_roundtrip_and_dispatch(spark):
    from preprocessor_spark.operators.flac import decode_flac, encode_flac_verbatim
    from preprocessor_spark.operators.multimodal import audio_features

    rng = np.random.RandomState(0)
    mono = rng.randint(-32768, 32768, 5000).astype(np.int64)
    pcm, rate = decode_flac(encode_flac_verbatim(mono, rate=22050))
    assert rate == 22050 and np.array_equal(pcm[:, 0], (mono / 32768.0).astype(np.float32))
    st = rng.randint(-32768, 32768, (9000, 2)).astype(np.int64)
    pcm2, _ = decode_flac(encode_flac_verbatim(st, rate=44100))
    assert np.array_equal(pcm2, (st / 32768.0).astype(np.float32))

    rows = [(0, bytes(encode_flac_verbatim(mono, rate=8000)))]
    df = spark.createDataFrame(rows, "clip_id long, payload binary")
    f = audio_features(df, "clip_id", "payload").collect()[0]
    assert f["sample_rate"] == 8000 and f["n_channels"] == 1
    assert abs(f["duration_ms"] - 5000 / 8.0) < 1e-6


def test_flac_fixed_predictor_rice_residuals():
    from preprocessor_spark.operators.flac import decode_flac, encode_flac_verbatim

    rng = np.random.RandomState(1)
    # smooth ramp + noise: small order-1 residuals, rice-friendly
    base = np.cumsum(rng.randint(-40, 41, 600)).astype(np.int64)
    base = np.clip(base, -30000, 30000)
    # container = magic + STREAMINFO from the verbatim encoder (its frame
    # dropped), followed by our hand-built FIXED frame
    info_end = 4 + 4 + 34  # fLaC + block header + STREAMINFO(34)
    full = encode_flac_verbatim(base, rate=16000)
    container = bytearray(full[:info_end])
    for order in (1, 2):
        payload = bytes(container) + _flac_fixed_frame_bits(base, order=order)
        pcm, rate = decode_flac(payload)
        assert rate == 16000
        assert np.array_equal(pcm[: len(base), 0], (base / 32768.0).astype(np.float32)), order


def test_tiff_deflate_variants():
    from preprocessor_spark.operators.tiff import decode_tiff, encode_tiff

    rng = np.random.RandomState(3)
    c16 = rng.randint(0, 65536, (12, 10, 3)).astype(np.uint16)
    g8 = rng.randint(0, 256, (12, 10)).astype(np.uint8)
    assert np.allclose(
        decode_tiff(encode_tiff(g8, deflate=True)), g8.astype(np.float32) / 255.0, atol=1e-7
    )
    assert np.allclose(
        decode_tiff(encode_tiff(c16, endian=">", deflate=True, predictor=True, rows_per_strip=4)),
        (c16.astype(np.float32) / 65535.0).mean(axis=2),
        atol=1e-7,
    )


def test_streaming_checkpoint_restart_exactly_once(spark, tmp_path):
    """Checkpointed availableNow drains must resume, not reprocess: run 1
    sees files A, run 2 (same checkpoint) sees A+B but must only process B
    — per-key totals end exactly once per event."""
    import json
    import os

    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def write(name, rows):
        with open(src / name, "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows))

    def drain(table):
        stream = spark.readStream.schema("k long, v long").json(str(src))
        agg = stream.groupBy("k").sum("v").withColumnRenamed("sum(v)", "total")
        q = (
            agg.writeStream.format("memory")
            .queryName(table)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write("a.json", [{"k": 1, "v": 10}, {"k": 2, "v": 20}])
    drain("ck_run1")
    got1 = {r["k"]: r["total"] for r in spark.table("ck_run1").collect()}
    assert got1 == {1: 10, 2: 20}

    write("b.json", [{"k": 1, "v": 5}, {"k": 3, "v": 7}])
    drain("ck_run2")
    got2 = {r["k"]: r["total"] for r in spark.table("ck_run2").collect()}
    # resumed state: file A NOT reprocessed, new file folded in exactly once
    assert got2 == {1: 15, 2: 20, 3: 7}


def test_image_meta_sniffs_all_formats(spark):
    """Header-only dimension sniffing across decodable formats PLUS
    WebP (VP8L), whose decode needs codec libs but whose dims are plain
    header fields."""
    import struct as st

    from preprocessor_spark.operators.gif import encode_gif
    from preprocessor_spark.operators.jpeg import encode_jpeg_progressive
    from preprocessor_spark.operators.media_meta import image_header_meta
    from preprocessor_spark.operators.tiff import encode_tiff

    rng = np.random.RandomState(0)
    img = rng.randint(0, 256, (19, 13, 3)).astype(np.uint8)
    bits = 99 | (49 << 14)
    # VP8L chunk: signature byte, packed dims, then (stand-in) image data
    vp8l_body = bytes([0x2F]) + st.pack("<I", bits) + bytes(8)
    vp8l = (
        b"RIFF" + st.pack("<I", 12 + len(vp8l_body)) + b"WEBPVP8L"
        + st.pack("<I", len(vp8l_body)) + vp8l_body
    )
    rows = [
        (0, bytes(encode_jpeg_progressive(img))),
        (1, bytes(encode_tiff(img, endian=">", lzw=True))),
        (2, bytes(encode_gif(rng.randint(0, 4, (19, 13)).astype(np.uint8),
                             rng.randint(0, 256, (4, 3)).astype(np.uint8)))),
        (3, vp8l),
        (4, b"garbage-not-an-image-format-at-all"),
    ]
    df = spark.createDataFrame(rows, "img_id long, payload binary")
    got = {r["id"]: (r["format"], r["width"], r["height"]) for r in
           image_header_meta(df, "img_id", "payload").collect()}
    assert got[0] == ("jpeg", 13, 19)
    assert got[1] == ("tiff", 13, 19)
    assert got[2] == ("gif", 13, 19)
    assert got[3] == ("webp", 100, 50)
    assert got[4] == (None, None, None)
