"""Local emulation of the driver's t2 correctness gate: run every
``__spark_entry__.queries()`` entry and its DuckDB oracle side-by-side at
sf0.001 and require identical (order-insensitive) results. Stricter than the
driver in one way: floats must match exactly — any fp nondeterminism in a
query design shows up here before it costs a round."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")

ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str):
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count {len(spark_pdf)} vs oracle {len(oracle_pdf)}"
    )
    # dtype-kind parity BEFORE canonicalization: the driver hashes string
    # representations, so a Spark bigint vs a DuckDB HUGEINT→float64 column
    # ('1275' vs '1275.0') hash-mismatches even with identical values.
    # Datetime resolution (ns vs us) is exempt — the driver normalizes it.
    def _kind(d):
        d = str(d)
        if d.startswith(("int", "uint", "Int")):
            return "int"
        if d.startswith(("float", "Float")):
            return "float"
        if d.startswith("datetime"):
            return "datetime"
        return "object"

    for c in sorted(set(spark_pdf.columns) & set(oracle_pdf.columns)):
        sk, ok = _kind(spark_pdf[c].dtype), _kind(oracle_pdf[c].dtype)
        assert sk == ok, f"{name}.{c}: spark dtype {spark_pdf[c].dtype} vs oracle {oracle_pdf[c].dtype}"

    a, b = _canon(spark_pdf), _canon(oracle_pdf)
    assert list(a.columns) == list(b.columns), f"{name}: columns {list(a.columns)} vs {list(b.columns)}"
    for c in a.columns:
        if a[c].dtype == "float64":
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            for i, (x, y) in enumerate(zip(av, bv)):
                both_nan = (isinstance(x, float) and math.isnan(x)) and (
                    isinstance(y, float) and math.isnan(y)
                )
                assert both_nan or x == y, f"{name}.{c}[{i}]: {x!r} != {y!r} (diff {x - y!r})"
        else:
            assert a[c].tolist() == b[c].tolist(), f"{name}.{c}: mismatch"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_vs_oracle(spark, ddb, name):
    assert name in QUERIES, f"oracle without query: {name}"
    spark_pdf = QUERIES[name](spark, SF_DIR).toPandas()
    oracle_pdf = ddb.execute(ORACLES[name]).fetchdf()
    _compare(spark_pdf, oracle_pdf, name)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_query_runs(spark, name):
    """Rows-only check for non-SQL-expressible operators."""
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


# Every registry query whose graph step goes through the edge-fixpoint
# router (operators/graph.py); at sf0.1 all of them ride the driver route.
GATED_FIXPOINT_QUERIES = [
    "dedup_connected_components",
    "dedup_minhash_corpus",
    "dbscan_embeddings",
    "image_phash_neardup",
    "semantic_dedup_embeddings",
    "communities_lpa",
    "graph_hops_custsupp",
]


@pytest.mark.parametrize("name", GATED_FIXPOINT_QUERIES)
def test_gated_query_routes_agree(spark, fixpoint_route, name):
    """The same query must return the same table on the driver route and on
    the distributed route that runs at scale."""
    out = {}
    for route in ("driver", "distributed"):
        fixpoint_route(route)
        out[route] = QUERIES[name](spark, SF_DIR).toPandas()
    _compare(out["distributed"], out["driver"], name)


def test_entry(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_graded_window_is_all_oracle_backed():
    """Driver contract: the first 50 registry entries are the graded window —
    every one of them must carry a DuckDB oracle (an oracle-backed query
    outside the window is invisible to the scoreboard)."""
    names = list(QUERIES)
    window = names[:50]
    missing = [n for n in window if n not in ORACLES]
    assert not missing, f"graded-window entries without oracle: {missing}"


def test_graded_window_contract():
    """Driver contract: every entry in the first-50 graded window must have
    an oracle, every oracle must have a query, and the bench headline list
    must reference real registry entries."""
    names = list(QUERIES)
    assert len(names) >= 50
    missing = [n for n in names[:50] if n not in ORACLES]
    assert not missing, f"graded-window entries without oracles: {missing}"
    orphans = [k for k in ORACLES if k not in QUERIES]
    assert not orphans, f"oracles without queries: {orphans}"

    import bench

    ghost = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not ghost, f"bench headline entries not in queries(): {ghost}"


# sha256 of "\n".join(queries()) and of json.dumps(oracle_sql(), sort_keys=True).
# A change that moves, adds or drops a query, or edits an oracle's text,
# must update these on purpose and say so.
QUERIES_ORDER_SHA256 = "c405732551663a9871f59fb6ede5a0f2ae577060db33f05abd614180789000d5"
ORACLE_SQL_SHA256 = "07023ed87e41e422152c9eb1443b38900ef5f3b37b75ec70c001e241c3d9ae88"


def test_registry_order_and_oracle_text_pinned():
    """Driver contract pin: queries() order and oracle_sql() text are
    byte-identical to their recorded hashes."""
    import hashlib
    import json

    order = hashlib.sha256("\n".join(QUERIES).encode()).hexdigest()
    oracles = hashlib.sha256(json.dumps(ORACLES, sort_keys=True).encode()).hexdigest()
    assert order == QUERIES_ORDER_SHA256, "queries() order or names changed"
    assert oracles == ORACLE_SQL_SHA256, "oracle_sql() text changed"


def test_minhash_corpus_dedup_invariants_duckdb(spark):
    """Round-3 verdict task 7: the end-to-end minhash corpus dedup is
    rows-only by necessity (hash-family specific), but its EXACT invariants
    are SQL — so grade them in DuckDB over the emitted pair/component/kept
    tables:

      1. pair consistency — both ends of every candidate pair share a
         component label;
      2. canonical labeling — every component label is the min id of its
         members;
      3. survivor arithmetic — n_kept = n_docs - (n_component_members -
         n_components), i.e. exactly the non-canonical members drop;
      4. dropped mapping — every dropped id appears in the component table
         with a SURVIVING canonical of smaller id.
    """
    from preprocessor_spark.caching import persist_scope
    from preprocessor_spark.operators.dedup import minhash_dedup_corpus, minhash_lsh_pairs
    from preprocessor_spark.operators.graph import connected_components

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    kw = dict(num_hashes=64, bands=16, threshold=0.6)
    with persist_scope():
        pairs_pdf = minhash_lsh_pairs(docs, "text", "doc_id", **kw).select("id_a", "id_b").toPandas()
        comps_pdf = connected_components(
            minhash_lsh_pairs(docs, "text", "doc_id", **kw)
        ).toPandas()
        kept_pdf = minhash_dedup_corpus(docs, "text", "doc_id", **kw).select("doc_id").toPandas()
    docs_pdf = docs.select("doc_id").toPandas()

    con = duckdb.connect()
    con.register("pairs", pairs_pdf)
    con.register("comps", comps_pdf)
    con.register("kept", kept_pdf)
    con.register("docs", docs_pdf)

    bad_pairs = con.execute(
        """SELECT COUNT(*) FROM pairs p
           JOIN comps a ON p.id_a = a.id JOIN comps b ON p.id_b = b.id
           WHERE a.component <> b.component"""
    ).fetchone()[0]
    assert bad_pairs == 0

    unmatched_ends = con.execute(
        """SELECT COUNT(*) FROM (
               SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs
           ) e LEFT JOIN comps c ON e.id = c.id WHERE c.id IS NULL"""
    ).fetchone()[0]
    assert unmatched_ends == 0

    bad_labels = con.execute(
        """SELECT COUNT(*) FROM (
               SELECT component, MIN(id) AS m FROM comps GROUP BY component
           ) WHERE component <> m"""
    ).fetchone()[0]
    assert bad_labels == 0

    n_docs, n_kept, n_members, n_components = (
        con.execute("SELECT COUNT(*) FROM docs").fetchone()[0],
        con.execute("SELECT COUNT(*) FROM kept").fetchone()[0],
        con.execute("SELECT COUNT(*) FROM comps").fetchone()[0],
        con.execute("SELECT COUNT(DISTINCT component) FROM comps").fetchone()[0],
    )
    assert n_kept == n_docs - (n_members - n_components)

    bad_dropped = con.execute(
        """WITH dropped AS (
               SELECT doc_id FROM docs EXCEPT SELECT doc_id FROM kept
           )
           SELECT COUNT(*) FROM dropped d
           LEFT JOIN comps c ON d.doc_id = c.id
           LEFT JOIN kept k ON c.component = k.doc_id
           WHERE c.id IS NULL            -- dropped but in no cluster
              OR c.component >= d.doc_id -- canonical not strictly smaller
              OR k.doc_id IS NULL        -- canonical itself didn't survive"""
    ).fetchone()[0]
    assert bad_dropped == 0


def test_knn_lsh_ivf_invariants_duckdb(spark, ddb):
    """Round-4 verdict task 6: knn_lsh / knn_ivf are rows-only by design
    (hash-family / centroid-sample specific), but their invariants ARE SQL —
    grade them in DuckDB:

      1. no fabricated neighbors — every returned cosine equals the
         DuckDB-recomputed cosine of the two embedding vectors;
      2. result structure — per query at most k rows, ranks contiguous
         from 1, cosine non-increasing with rank;
      3. optimality bound — no approximate engine can beat the (already
         oracle-backed) brute-force rank-1 cosine for its query;
      4. recall floor vs brute-force top-k for IVF (probes real cells).
         LSH gets no top-k recall floor on THIS corpus by design: the
         embeddings are near-orthogonal (bf top-k cosines ~0.3, see
         DuckDB below), and sign-LSH only surfaces high-cosine pairs —
         its planted-near-duplicate recall is tested at the operator
         level (test_operators.test_lsh_topk_recalls_neardup).
    """
    from preprocessor_spark.caching import persist_scope

    bf = ddb.execute(ORACLES["knn_bruteforce"]).df()
    bf_pairs = set(zip(bf["query_id"], bf["neighbor_id"]))
    bf_top1 = bf[bf["rank"] == 1].set_index("query_id")["cosine"].to_dict()
    # corpus sanity for the LSH carve-out: brute-force neighbors really are
    # low-cosine here, so top-k recall is not an LSH invariant on this data
    assert float(bf["cosine"].max()) < 0.6

    for name, recall_floor in (("knn_lsh", None), ("knn_ivf", 0.5)):
        with persist_scope():
            pdf = QUERIES[name](spark, SF_DIR).toPandas()
        ddb.register("knn_res", pdf)

        fabricated = ddb.execute(
            """SELECT COUNT(*) FROM knn_res r
               JOIN embeddings q ON r.query_id = q.vec_id
               JOIN embeddings n ON r.neighbor_id = n.vec_id
               WHERE abs(r.cosine - list_cosine_similarity(
                   q.embedding::DOUBLE[], n.embedding::DOUBLE[])) > 5e-5"""
        ).fetchone()[0]
        assert fabricated == 0, name

        missing_vec = ddb.execute(
            """SELECT COUNT(*) FROM knn_res r
               LEFT JOIN embeddings n ON r.neighbor_id = n.vec_id
               WHERE n.vec_id IS NULL"""
        ).fetchone()[0]
        assert missing_vec == 0, name

        bad_structure = ddb.execute(
            """SELECT COUNT(*) FROM (
                   SELECT query_id, COUNT(*) c, MIN(rank) mn, MAX(rank) mx,
                          COUNT(DISTINCT rank) dr
                   FROM knn_res GROUP BY query_id
               ) WHERE c > 5 OR mn <> 1 OR mx <> c OR dr <> c"""
        ).fetchone()[0]
        assert bad_structure == 0, name

        non_monotone = ddb.execute(
            """SELECT COUNT(*) FROM knn_res a
               JOIN knn_res b ON a.query_id = b.query_id AND b.rank = a.rank + 1
               WHERE b.cosine > a.cosine + 1e-9"""
        ).fetchone()[0]
        assert non_monotone == 0, name

        for _, r in pdf.iterrows():
            assert r["cosine"] <= bf_top1[r["query_id"]] + 1e-6, (name, r["query_id"])

        if recall_floor is not None:
            got = set(zip(pdf["query_id"], pdf["neighbor_id"]))
            recall = len(got & bf_pairs) / len(bf_pairs)
            assert recall >= recall_floor, (name, recall)
        ddb.unregister("knn_res")


def test_embed_pca_invariants_duckdb(spark, ddb):
    """Round-4 verdict task 6: embed_pca_project is rows-only (iterative
    eigendecomposition), but the fitted model's contract is SQL over emitted
    tables: the component matrix is orthonormal, each projected coordinate
    equals the centered-input dot product with its axis, and per-component
    projected variance is non-increasing and matches the model's
    explained_variance."""
    import numpy as np

    from preprocessor_spark.operators.embeddings import pca_fit, pca_transform

    e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    model = pca_fit(e, k=8)
    proj = pca_transform(e, model).select("vec_id", "pca").toPandas()

    comp = pd.DataFrame(
        [
            {"ci": ci + 1, "di": di + 1, "v": float(model.components[ci, di])}
            for ci in range(model.k)
            for di in range(model.components.shape[1])
        ]
    )
    meanv = pd.DataFrame(
        {"di": range(1, len(model.mean) + 1), "m": model.mean.astype(float)}
    )
    projlong = pd.DataFrame(
        [
            {"vec_id": int(r["vec_id"]), "ci": ci + 1, "val": float(v)}
            for _, r in proj.iterrows()
            for ci, v in enumerate(r["pca"])
        ]
    )
    ddb.register("pca_comp", comp)
    ddb.register("pca_mean", meanv)
    ddb.register("pca_proj", projlong)

    max_ortho_err = ddb.execute(
        """SELECT MAX(ABS(s - CASE WHEN ci_a = ci_b THEN 1 ELSE 0 END)) FROM (
               SELECT a.ci ci_a, b.ci ci_b, SUM(a.v * b.v) s
               FROM pca_comp a JOIN pca_comp b USING (di)
               GROUP BY a.ci, b.ci)"""
    ).fetchone()[0]
    assert max_ortho_err < 1e-9

    max_proj_err = ddb.execute(
        """WITH ev AS (
               SELECT vec_id,
                      generate_subscripts(embedding, 1) AS di,
                      unnest(embedding)::DOUBLE AS x
               FROM embeddings
           ), calc AS (
               SELECT ev.vec_id, c.ci, SUM((ev.x - m.m) * c.v) AS val
               FROM ev JOIN pca_mean m USING (di) JOIN pca_comp c USING (di)
               GROUP BY ev.vec_id, c.ci
           )
           SELECT MAX(ABS(calc.val - p.val))
           FROM calc JOIN pca_proj p USING (vec_id, ci)"""
    ).fetchone()[0]
    assert max_proj_err < 1e-6

    vars_sql = ddb.execute(
        "SELECT ci, var_samp(val) FROM pca_proj GROUP BY ci ORDER BY ci"
    ).df()["var_samp(val)"].to_numpy()
    assert all(vars_sql[i] >= vars_sql[i + 1] - 1e-9 for i in range(len(vars_sql) - 1))
    assert np.allclose(vars_sql, model.explained_variance, rtol=1e-6)
    for t in ("pca_comp", "pca_mean", "pca_proj"):
        ddb.unregister(t)


def test_simhash_pairs_invariants_duckdb(spark):
    """simhash pairs are rows-only (hash-family specific), but given the
    SIGNATURES the exactness is SQL: soundness — every emitted pair's
    hamming equals bit_count(xor(sig_a, sig_b)) and respects the
    threshold; completeness — every signature pair within Hamming 3 (the
    4-chunk pigeonhole guarantee) is emitted."""
    from preprocessor_spark.operators.dedup import simhash_pairs, simhash_udf
    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    pairs = simhash_pairs(docs, "text", "doc_id", max_hamming=8).toPandas()
    sigs = docs.select(
        F.col("doc_id"), simhash_udf(2)(F.col("text")).alias("sig")
    ).toPandas()

    con = duckdb.connect()
    con.register("pairs", pairs)
    con.register("sigs", sigs)
    bad_sound = con.execute(
        """SELECT COUNT(*) FROM pairs p
           JOIN sigs a ON p.id_a = a.doc_id JOIN sigs b ON p.id_b = b.doc_id
           WHERE p.hamming <> bit_count(xor(a.sig, b.sig)) OR p.hamming > 8"""
    ).fetchone()[0]
    assert bad_sound == 0
    missed = con.execute(
        """SELECT COUNT(*) FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
           LEFT JOIN pairs p ON p.id_a = a.doc_id AND p.id_b = b.doc_id
           WHERE bit_count(xor(a.sig, b.sig)) <= 3 AND p.id_a IS NULL"""
    ).fetchone()[0]
    assert missed == 0
    # and the corpus actually exercises the check
    n_close = con.execute(
        """SELECT COUNT(*) FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.sig, b.sig)) <= 8"""
    ).fetchone()[0]
    assert n_close > 0


def test_hll_rollup_error_vs_exact_duckdb(spark, ddb):
    """HLL rollup estimates (rows-only) vs DuckDB-exact distincts: lg_k=12
    ⇒ relative error ≈1.04/√4096 ≈1.6%; assert <5% on every group."""
    got = QUERIES["hll_user_rollup"](spark, SF_DIR).toPandas()
    exact = ddb.execute(
        "SELECT event_type, COUNT(DISTINCT user_id) AS c FROM events GROUP BY event_type"
    ).df()
    m = got.merge(exact, on="event_type")
    assert len(m) == len(exact) > 0
    rel = (m.iloc[:, 1].astype(float) - m.c) / m.c
    assert rel.abs().max() < 0.05


def test_approx_distinct_error_vs_exact_duckdb(spark, ddb):
    got = QUERIES["approx_distinct_parts"](spark, SF_DIR).toPandas()
    exact = ddb.execute(
        "SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS c FROM lineitem GROUP BY l_returnflag"
    ).df()
    m = got.merge(exact, on="l_returnflag")
    assert (m.exact_parts == m.c).all()
    assert ((m.approx_parts - m.c).abs() / m.c).max() < 0.05


def test_quantile_sketch_rollup_rank_error_duckdb(spark, ddb):
    """Landmark-sketch p50/p90 (rows-only): the estimate must sit between
    the exact (p±0.15) quantiles of its group — a rank-error bound the
    k=32 landmark pooling comfortably meets, checked per group in SQL."""
    got = QUERIES["quantile_sketch_rollup"](spark, SF_DIR).toPandas()
    assert len(got) > 0
    for _, row in got.iterrows():
        for p, col in ((0.5, "p50"), (0.9, "p90")):
            lo, hi = ddb.execute(
                f"""SELECT quantile_cont(l_extendedprice, {max(p - 0.15, 0.0)}),
                           quantile_cont(l_extendedprice, {min(p + 0.15, 1.0)})
                    FROM lineitem WHERE l_returnflag = ?""",
                [row["l_returnflag"]],
            ).fetchone()
            assert lo <= row[col] <= hi, (row["l_returnflag"], col, row[col], lo, hi)


def test_heavy_hitters_guarantees_duckdb(spark, ddb):
    """Misra–Gries output (rows-only): est ≤ true ≤ est + err for every
    emitted term, and every term with true count > N/capacity appears."""
    got = QUERIES["heavy_hitters_terms"](spark, SF_DIR).toPandas()
    truth = ddb.execute(
        """SELECT word, COUNT(*) AS c FROM (
               SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word
               FROM documents) WHERE word <> '' GROUP BY word"""
    ).df()
    n_total = int(truth.c.sum())
    con = duckdb.connect()
    con.register("got", got)
    con.register("truth", truth)
    bad_bounds = con.execute(
        """SELECT COUNT(*) FROM got JOIN truth ON got.item = truth.word
           WHERE NOT (got.est <= truth.c AND truth.c <= got.est + got.err)"""
    ).fetchone()[0]
    assert bad_bounds == 0
    # the query truncates the summary to top-k, so absolute presence applies
    # pre-truncation; post-truncation the boundary invariant holds: no
    # omitted term can truly outrank the weakest emitted one beyond its
    # error allowance (true_omitted <= min emitted est + max err)
    boundary_violations = con.execute(
        """SELECT COUNT(*) FROM truth LEFT JOIN got ON got.item = truth.word
           WHERE got.item IS NULL
             AND truth.c > (SELECT MIN(est) FROM got) + (SELECT MAX(err) FROM got)"""
    ).fetchone()[0]
    assert boundary_violations == 0
    assert n_total > 0 and len(got) == 15


def test_embed_neardup_lsh_invariants_duckdb(spark, ddb):
    """Round-5 verdict task 9 sweep: embed_neardup_lsh is rows-only (sign-
    LSH family), but its invariants ARE SQL:

      1. no fabricated pairs — every output cosine matches DuckDB's exact
         cosine over the SAME synthesized corpus (base embeddings plus the
         query's perturbed copies of every 10th vector);
      2. threshold — all cosines >= 0.95 (minus the 1e-6 rounding);
      3. recall — >= 99% of the planted (v, v+1_000_000) pairs appear;
      4. determinism — two runs produce identical rows.
    """
    from preprocessor_spark.caching import persist_scope

    with persist_scope():
        got = QUERIES["embed_neardup_lsh"](spark, SF_DIR).toPandas()
    with persist_scope():
        again = QUERIES["embed_neardup_lsh"](spark, SF_DIR).toPandas()
    key = ["id_a", "id_b", "cosine"]
    assert sorted(map(tuple, got[key].values.tolist())) == sorted(
        map(tuple, again[key].values.tolist())
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_DIR}/embeddings.parquet'"
    )
    con.register("pairs", got)
    con.execute(
        """CREATE VIEW corpus AS
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           UNION ALL
           SELECT vec_id + 1000000 AS vec_id,
                  list_prepend(embedding[1] * 1.05, embedding[2:])::DOUBLE[] AS v
           FROM embeddings WHERE vec_id % 10 = 0"""
    )
    fabricated = con.execute(
        """SELECT COUNT(*) FROM pairs p
           JOIN corpus a ON p.id_a = a.vec_id
           JOIN corpus b ON p.id_b = b.vec_id
           WHERE abs(p.cosine - list_cosine_similarity(a.v, b.v)) > 5e-5"""
    ).fetchone()[0]
    assert fabricated == 0
    assert (got["cosine"] >= 0.95 - 1e-6).all()

    planted = con.execute(
        "SELECT COUNT(*) FROM embeddings WHERE vec_id % 10 = 0"
    ).fetchone()[0]
    found = con.execute(
        """SELECT COUNT(*) FROM pairs
           WHERE id_b = id_a + 1000000 AND id_a % 10 = 0"""
    ).fetchone()[0]
    assert planted > 0 and found >= 0.99 * planted


def test_text_fingerprint_invariants_duckdb(spark, ddb):
    """text_fingerprint is rows-only (hash values have no DuckDB twin), but
    fingerprint SEMANTICS are SQL-checkable: identical texts must map to
    identical (fingerprint, rolling_fp); distinct texts must stay almost
    perfectly discriminated; one row per document; deterministic."""
    got = QUERIES["text_fingerprint"](spark, SF_DIR).toPandas()
    again = QUERIES["text_fingerprint"](spark, SF_DIR).toPandas()
    assert sorted(map(tuple, got.values.tolist())) == sorted(
        map(tuple, again.values.tolist())
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    con.register("fp", got)
    n_docs, n_rows = con.execute(
        "SELECT (SELECT COUNT(*) FROM documents), (SELECT COUNT(*) FROM fp)"
    ).fetchone()
    assert n_rows == n_docs
    inconsistent = con.execute(
        """SELECT COUNT(*) FROM (
             SELECT d.text
             FROM fp JOIN documents d ON fp.doc_id = d.doc_id
             GROUP BY d.text
             HAVING COUNT(DISTINCT fp.fingerprint) > 1
                 OR COUNT(DISTINCT fp.rolling_fp) > 1)"""
    ).fetchone()[0]
    assert inconsistent == 0
    # the fingerprint is defined on the sorted distinct lowercased token
    # SET; DuckDB recomputes that canonical form and the equivalence must
    # be exact both ways: same set <=> same fingerprint (64-bit xxhash —
    # collisions at this corpus size would be a real bug)
    canonical = (
        "array_to_string(list_sort(list_distinct(list_transform("
        "  list_filter(string_split_regex(d.text, '\\s+'), x -> x <> ''),"
        "  x -> lower(x)))), ' ')"
    )
    split_sets = con.execute(
        f"""SELECT COUNT(*) FROM (
             SELECT {canonical} AS canon
             FROM fp JOIN documents d ON fp.doc_id = d.doc_id
             GROUP BY canon HAVING COUNT(DISTINCT fp.fingerprint) > 1)"""
    ).fetchone()[0]
    assert split_sets == 0
    n_sets, n_fps = con.execute(
        f"""SELECT COUNT(DISTINCT {canonical}), COUNT(DISTINCT fp.fingerprint)
           FROM fp JOIN documents d ON fp.doc_id = d.doc_id"""
    ).fetchone()
    assert n_fps == n_sets


def test_multimodal_feature_queries_invariants(spark, ddb):
    """Frame invariants for the multimodal queries: one feature row per
    covered document (DuckDB count parity), features inside their
    domains, and bit-deterministic across runs. Since the round-12
    redesign the image query covers doc_id < 240 (seven real containers
    over flat rasters, VALUE-oracled — the exactness lives in the
    oracle); audio stays rows-only over doc_id < 200."""
    img = QUERIES["multimodal_image_features"](spark, SF_DIR).toPandas()
    img2 = QUERIES["multimodal_image_features"](spark, SF_DIR).toPandas()
    assert sorted(map(tuple, img.values.tolist())) == sorted(
        map(tuple, img2.values.tolist())
    )
    n_img = ddb.execute(
        "SELECT COUNT(*) FROM documents WHERE doc_id < 240"
    ).fetchone()[0]
    assert len(img) == n_img
    assert (img["width"] > 0).all() and (img["height"] > 0).all()
    assert img["mean_intensity"].between(0.0, 1.0).all()
    assert (img["std_intensity"] >= 0.0).all()

    aud = QUERIES["multimodal_audio_features"](spark, SF_DIR).toPandas()
    n_audio = ddb.execute(
        "SELECT COUNT(*) FROM documents WHERE doc_id < 200"
    ).fetchone()[0]
    assert len(aud) == n_audio  # the query synthesizes audio for doc_id<200
    num_cols = [c for c in aud.columns if aud[c].dtype.kind in "fi"]
    assert all(aud[c].notna().all() for c in num_cols)
    assert (aud["rms"] > 0).all() and (aud["peak"] <= 1.0).all()


def test_quality_classifier_auc_floor(spark):
    """Round-5 verdict task 9: the learned quality filter must actually
    SEPARATE the weak labels it trains on — per-doc scores on the query's
    own salted corpus achieve AUC >= 0.9 against the Gopher-gate labels
    (rank-sum AUC, computed exactly)."""
    import numpy as np

    from preprocessor_spark.operators.classifier import (
        fit_quality_classifier,
        score_quality_udf,
    )
    from preprocessor_spark.operators.text import gopher_rules_exprs
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    d = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat_ws(" ", F.array_repeat(F.lit("$$$ ###!! ??%% @@@@ ^^^"), 8)),
        ).otherwise(F.col("text")),
    )
    rules = gopher_rules_exprs(F.col("text"), min_words=15, min_stopword_hits=1)
    labeled = d.select(
        "doc_id", "text", rules["gopher_pass"].cast("int").alias("label")
    )
    model = fit_quality_classifier(labeled, "text", "label", dim=256, iterations=6, lr=2.0)
    pdf = (
        labeled.withColumn("score", score_quality_udf(model)(F.col("text")))
        .select("label", "score")
        .toPandas()
    )
    pos = pdf[pdf.label == 1]["score"].to_numpy()
    neg = pdf[pdf.label == 0]["score"].to_numpy()
    assert len(pos) > 0 and len(neg) > 0
    ranks = pd.Series(np.concatenate([pos, neg])).rank().to_numpy()
    auc = (ranks[: len(pos)].sum() - len(pos) * (len(pos) + 1) / 2) / (
        len(pos) * len(neg)
    )
    assert auc >= 0.9, auc


def test_knn_pq_adc_invariants_duckdb(spark, ddb):
    """knn_pq_adc is rows-only (codebooks are centroid-sample-specific),
    but its invariants ARE SQL:

      1. structure — exactly 5 rows per query, dense ranks, ADC score
         non-increasing with rank, no self matches;
      2. no fabricated neighbors — every neighbor id exists in embeddings;
      3. quantization bound — ADC approximates the true cosine: the DuckDB-
         recomputed cosine of every returned pair is within 0.25 of the
         reported ADC score (m=16 on 64-dim unit vectors quantizes far
         tighter than that in practice);
      4. recall floor vs the brute-force oracle's top-5 pairs.
    """
    from preprocessor_spark.caching import persist_scope

    bf = ddb.execute(ORACLES["knn_bruteforce"]).df()
    bf_pairs = set(zip(bf["query_id"], bf["neighbor_id"]))

    for qname in ("knn_pq_adc", "knn_ivfpq"):
        _check_pq_invariants(spark, ddb, qname, bf_pairs)


def _check_pq_invariants(spark, ddb, qname, bf_pairs):
    from preprocessor_spark.caching import persist_scope

    with persist_scope():
        pdf = QUERIES[qname](spark, SF_DIR).toPandas()
    ddb.register("pq_res", pdf)

    bad_structure = ddb.execute(
        """SELECT COUNT(*) FROM (
               SELECT query_id, COUNT(*) c, MIN(rank) mn, MAX(rank) mx,
                      COUNT(DISTINCT rank) dr
               FROM pq_res GROUP BY query_id
           ) WHERE c <> 5 OR mn <> 1 OR mx <> c OR dr <> c"""
    ).fetchone()[0]
    assert bad_structure == 0
    assert (pdf["query_id"] != pdf["neighbor_id"]).all()

    missing_vec = ddb.execute(
        """SELECT COUNT(*) FROM pq_res r
           LEFT JOIN embeddings n ON r.neighbor_id = n.vec_id
           WHERE n.vec_id IS NULL"""
    ).fetchone()[0]
    assert missing_vec == 0

    non_monotone = ddb.execute(
        """SELECT COUNT(*) FROM pq_res a
           JOIN pq_res b ON a.query_id = b.query_id AND b.rank = a.rank + 1
           WHERE b.adc_score > a.adc_score + 1e-9"""
    ).fetchone()[0]
    assert non_monotone == 0

    off_bound = ddb.execute(
        """SELECT COUNT(*) FROM pq_res r
           JOIN embeddings q ON r.query_id = q.vec_id
           JOIN embeddings n ON r.neighbor_id = n.vec_id
           WHERE abs(r.adc_score - list_cosine_similarity(
               q.embedding::DOUBLE[], n.embedding::DOUBLE[])) > 0.25"""
    ).fetchone()[0]
    assert off_bound == 0

    got = set(zip(pdf["query_id"], pdf["neighbor_id"]))
    recall = len(got & bf_pairs) / len(bf_pairs)
    assert recall >= 0.5, recall
    ddb.unregister("pq_res")


def test_mmr_rerank_invariants_duckdb(spark, ddb):
    """mmr_rerank_docs is rows-only (float greedy trajectory), but its
    invariants ARE SQL:

      1. structure — 4 rows per query, dense mmr_rank 1..4;
      2. subset — every (query, neighbor) pair is one of the query's
         brute-force top-8 candidates (recomputed in DuckDB);
      3. first pick — MMR's rank-1 equals pure-relevance rank-1 (the
         lambda*rel term alone decides the first pick, same tie-break);
      4. relevance column equals the DuckDB-recomputed cosine.
    """
    from preprocessor_spark.caching import persist_scope

    with persist_scope():
        pdf = QUERIES["mmr_rerank_docs"](spark, SF_DIR).toPandas()
    ddb.register("mmr_res", pdf)

    bad_structure = ddb.execute(
        """SELECT COUNT(*) FROM (
               SELECT query_id, COUNT(*) c, MIN(mmr_rank) mn,
                      MAX(mmr_rank) mx, COUNT(DISTINCT mmr_rank) dr
               FROM mmr_res GROUP BY query_id
           ) WHERE c <> 4 OR mn <> 1 OR mx <> 4 OR dr <> 4"""
    ).fetchone()[0]
    assert bad_structure == 0

    # brute-force top-8 candidates per query, DuckDB-side
    ddb.execute(
        """CREATE OR REPLACE TEMP VIEW bf8 AS
           WITH sims AS (
               SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                      list_cosine_similarity(q.embedding::DOUBLE[],
                                             n.embedding::DOUBLE[]) AS cosine
               FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
               WHERE q.vec_id < 10
           )
           SELECT * FROM (
               SELECT *, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY round(cosine, 6) DESC, neighbor_id) AS rnk
               FROM sims
           ) WHERE rnk <= 8"""
    )
    outside = ddb.execute(
        """SELECT COUNT(*) FROM mmr_res m
           LEFT JOIN bf8 b USING (query_id, neighbor_id)
           WHERE b.neighbor_id IS NULL"""
    ).fetchone()[0]
    assert outside == 0

    first_mismatch = ddb.execute(
        """SELECT COUNT(*) FROM mmr_res m
           JOIN bf8 b USING (query_id, neighbor_id)
           WHERE m.mmr_rank = 1 AND b.rnk <> 1"""
    ).fetchone()[0]
    assert first_mismatch == 0

    fabricated = ddb.execute(
        """SELECT COUNT(*) FROM mmr_res m
           JOIN bf8 b USING (query_id, neighbor_id)
           WHERE abs(m.relevance - round(b.cosine, 6)) > 2e-6"""
    ).fetchone()[0]
    assert fabricated == 0
    ddb.unregister("mmr_res")
