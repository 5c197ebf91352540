"""Full-text relevance search (TF-IDF / BM25) as distributed DataFrame ops.

The inverted-index shape, Spark-first: postings are ``explode(tokens)``
rows, filtered to the query's terms **before** any shuffle — so for a
fixed query only matching (doc, term) pairs ever leave the scan stage,
regardless of corpus size. Corpus-level statistics (N, avgdl) are one
aggregate broadcast back as a literal-free cross join of a 1-row frame;
per-term document frequencies are at most |query| rows, joined broadcast.

Scale shape at 100 TB: two corpus scans — one aggregate for (N, avgdl),
one projecting (id, dl, matched terms only) → groupBy(id, term)
partial-count into a persisted matched-postings frame (re-referenced by
the df branch and the scoring join; without the cache each branch would
re-scan the corpus) → two broadcast joins (1-row stats, |query|-row df)
→ groupBy(id) score sum → top-k via TakeOrderedAndProject. No full
inverted index is materialized; for a standing index, persist the
exploded postings bucketed by term.

BM25 formula (public, Robertson–Sparck Jones): idf = ln(1 + (N − df +
0.5)/(df + 0.5)); score = Σ_t idf_t · tf·(k1+1)/(tf + k1·(1 − b +
b·dl/avgdl)).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from preprocessor_spark.caching import register_persisted

_WORD_RE = "[a-z0-9]+"


def search_tokens_expr(text: Column) -> Column:
    """Lowercased alphanumeric-run tokenization (engine-portable: the
    DuckDB twin is ``regexp_extract_all(lower(text), '[a-z0-9]+')``)."""
    return F.regexp_extract_all(F.lower(text), F.lit(_WORD_RE), 0)


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score every document matching >=1 query term. Returns
    (id, n_matched_terms, score)."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted({t.lower() for t in query_terms})

    base = docs.select(
        F.col(id_col).alias("__id"), search_tokens_expr(F.col(text_col)).alias("__toks")
    )
    with_dl = base.select("__id", "__toks", F.size("__toks").alias("__dl"))

    # Corpus stats: ONE aggregate row, joined to postings without a shuffle
    # (Catalyst plans a broadcast nested loop over a single row).
    stats = with_dl.agg(
        F.count(F.lit(1)).alias("__n_docs"), F.avg("__dl").alias("__avgdl")
    )

    # Postings restricted to the query's terms BEFORE the shuffle: only
    # matching (doc, term) pairs carry weight through the exchange.
    postings = with_dl.select("__id", "__dl", F.explode("__toks").alias("__term")).filter(
        F.col("__term").isin(terms)
    )
    # persisted: both the per-term document frequencies and the scoring join
    # re-reference tf — without the cache each branch re-scans and re-explodes
    # the whole corpus (lineage recompute). Lifetime is caller-managed via
    # persist_scope (preprocessor_spark.caching); tf holds only matched
    # postings, a tiny fraction of the corpus.
    tf = register_persisted(
        postings.groupBy("__id", "__term")
        .agg(F.count(F.lit(1)).alias("__tf"), F.first("__dl").alias("__dl"))
        .persist()
    )

    # Per-term document frequency: at most |query| rows — broadcast.
    df_t = tf.groupBy("__term").agg(F.count(F.lit(1)).alias("__df"))

    scored = (
        tf.join(F.broadcast(df_t), "__term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "__idf",
            F.log(
                F.lit(1.0)
                + (F.col("__n_docs") - F.col("__df") + F.lit(0.5)) / (F.col("__df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "__w",
            F.col("__idf")
            * (F.col("__tf") * (1.0 + k1))
            / (
                F.col("__tf")
                + k1 * (1.0 - b + b * F.col("__dl").cast("double") / F.col("__avgdl"))
            ),
        )
    )
    return scored.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_matched_terms"), F.sum("__w").alias("score")
    ).select(F.col("__id").alias(id_col), "n_matched_terms", "score")


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k BM25. Rank on the score rounded to 6 decimals with the id as
    tiebreaker, so the ordering is reproducible bit-for-bit across engines
    (the raw doubles agree to ~1e-12 but not necessarily beyond)."""
    scores = bm25_scores(docs, query_terms, id_col, text_col, k1, b)
    ranked = scores.select(
        id_col, "n_matched_terms", F.round("score", 6).alias("score")
    )
    return ranked.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def keyword_extract_tfidf(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    log_idf: bool = False,
    min_df: int = 1,
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF.

    Returns (id, term, tf, df, score, rank) with rank 1..k per document.

    ``log_idf=False`` (default) scores with the *raw* inverse frequency
    ``tf · (N / df)`` — every arithmetic step is an IEEE multiply/divide
    (correctly rounded by spec), so the ranking is bit-identical across
    engines and the query carries an exact SQL oracle. ``log_idf=True``
    switches to the classic smoothed ``tf · (ln((1+N)/(1+df)) + 1)``;
    ``ln`` is not correctly-rounded in libm, so cross-engine ordering of
    near-tied terms is not guaranteed — use for ranking quality, not for
    hash-compared outputs. Ties break on the term ascending.

    Scale shape: explode → ONE groupBy(id, term) with map-side combine;
    per-term document frequencies are a groupBy(term) joined back ON TERM
    (a keyed shuffle — the vocabulary is unbounded, so no broadcast); the
    per-doc top-k is a bounded keyed window. No SinglePartition, no
    driver-side vocabulary.
    """
    from pyspark.sql import Window

    base = docs.select(
        F.col(id_col).alias("__id"), search_tokens_expr(F.col(text_col)).alias("__toks")
    )
    stats = base.agg(F.count(F.lit(1)).alias("__n_docs"))
    tf = (
        base.select("__id", F.explode("__toks").alias("__term"))
        .groupBy("__id", "__term")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    df_t = tf.groupBy("__term").agg(F.count(F.lit(1)).alias("__df"))
    if min_df > 1:
        df_t = df_t.filter(F.col("__df") >= min_df)

    joined = tf.join(df_t, "__term").crossJoin(F.broadcast(stats))
    if log_idf:
        score = F.col("__tf").cast("double") * (
            F.log(
                (F.lit(1.0) + F.col("__n_docs").cast("double"))
                / (F.lit(1.0) + F.col("__df").cast("double"))
            )
            + F.lit(1.0)
        )
    else:
        score = F.col("__tf").cast("double") * (
            F.col("__n_docs").cast("double") / F.col("__df").cast("double")
        )
    scored = joined.select(
        "__id",
        "__term",
        "__tf",
        "__df",
        score.alias("__score"),
    )
    w = Window.partitionBy("__id").orderBy(
        F.desc("__score"), F.asc("__term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__id").alias(id_col),
            F.col("__term").alias("term"),
            F.col("__tf").alias("tf"),
            F.col("__df").alias("df"),
            F.round("__score", 6).alias("score"),
            "rank",
        )
    )
