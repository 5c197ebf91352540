"""Multinomial Naive Bayes — the exactly-replayable supervised classifier.

Add-1-smoothed multinomial NB (McCallum & Nigam, AAAI-98 workshop): class
score = ln P(c) + Σ_tokens ln((cnt(c, t) + 1) / (total(c) + V)). Everything
the engine's other classifiers can't offer: NO iterative fitting, every
model quantity a ratio of exact integer counts, so the whole train+score
pipeline is VALUE-oracle-able (the `lm_kn` contract, one level up:
supervised, multi-class, argmax included).

Scale shape — all token-keyed, nothing collected:

- counts: ONE groupBy(class, token) over exploded tokens (map-side
  combined; output = observed vocab × class);
- class totals and doc priors: tiny keyed aggregations of that frame;
- vocab size V and doc count N: 1-row frames, broadcast;
- scoring: exploded (doc, token) rows crossJoin the BROADCAST class frame
  (bounded |classes|), LEFT join the (class, token) count table (token
  keyed — the only data-sized join), unseen tokens fall out of the same
  smoothing formula with cnt = 0;
- the per-(doc, class) float sum runs as a sorted left fold over the
  collected per-doc logp list (bounded by doc length — the repo's lm_kn
  float-order contract, replayed by DuckDB with
  ``list_reduce(list_prepend(0.0, list_sort(...)))``);
- argmax by (score desc, class asc) — a deterministic window rank over
  |docs|·|classes| rows.

Contract: only documents with ≥ 1 token are scored (an empty document has
no multinomial evidence); the caller owns empty-doc policy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from preprocessor_spark.caching import register_persisted


def _tokens(text):
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def nb_classify(
    df: DataFrame,
    id_col: str,
    text_col: str,
    class_col: str,
) -> DataFrame:
    """Train on the full frame and score every tokenized document.

    Returns (id, true class, predicted class, best log-score rounded 1e-6).
    Self-classification by design — the resubstitution shape used for
    label-quality audits; hold-out is one `splits.hash_split` filter away.
    """
    base = df.where(
        F.col(id_col).isNotNull()
        & F.col(text_col).isNotNull()
        & F.col(class_col).isNotNull()
    ).select(
        F.col(id_col).alias("doc"),
        F.col(class_col).alias("true_class"),
        _tokens(F.col(text_col)).alias("toks"),
    )
    tokens = base.select(
        "doc", "true_class", F.explode("toks").alias("token")
    )

    counts = tokens.groupBy(
        F.col("true_class").alias("cls"), F.col("token")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    # model-sized (|vocab|·|classes|) and consumed three times (class
    # totals, vocab size, the broadcast scoring join): persist, or every
    # consumer re-tokenizes the corpus
    counts = register_persisted(counts.persist())
    class_totals = counts.groupBy("cls").agg(F.sum("cnt").alias("ct"))
    n_docs = base.groupBy("true_class").agg(F.count(F.lit(1)).alias("nd"))
    classes = class_totals.join(
        n_docs.select(F.col("true_class").alias("cls"), "nd"), "cls"
    )
    vocab = counts.select(F.countDistinct("token").alias("v"))  # 1 row
    total_docs = base.agg(F.count(F.lit(1)).alias("n"))  # 1 row

    scored_tokens = (
        tokens.crossJoin(F.broadcast(classes))
        # the class-conditional count table is |vocab|·|classes| rows —
        # model-sized, not data-sized — so BROADCAST it: the token stream
        # (the data-sized side) then never shuffles for the scoring join
        # (round-8 verdict item 9). Falls back to a keyed shuffle join
        # automatically if the model outgrows the broadcast threshold.
        .join(F.broadcast(counts), ["cls", "token"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc",
            "true_class",
            "cls",
            "nd",
            F.log(
                (F.coalesce(F.col("cnt"), F.lit(0)) + 1).cast("double")
                / (F.col("ct") + F.col("v")).cast("double")
            ).alias("logp"),
        )
    )
    per_doc = (
        scored_tokens.groupBy("doc", "true_class", "cls", "nd")
        .agg(
            F.aggregate(
                F.sort_array(F.collect_list("logp")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("evidence")
        )
        .crossJoin(F.broadcast(total_docs))
        .select(
            "doc",
            "true_class",
            "cls",
            (
                F.col("evidence")
                + F.log(F.col("nd").cast("double") / F.col("n").cast("double"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc").orderBy(F.col("score").desc(), F.col("cls"))
    return (
        per_doc.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select(
            F.col("doc"),
            "true_class",
            F.col("cls").alias("predicted"),
            F.round("score", 6).alias("log_score"),
        )
    )


def nb_confusion(classified: DataFrame) -> DataFrame:
    """(true class, predicted, n) counts from :func:`nb_classify` output."""
    return classified.groupBy("true_class", "predicted").agg(
        F.count(F.lit(1)).alias("n")
    )
