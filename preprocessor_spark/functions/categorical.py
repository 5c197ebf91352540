"""Categorical encoders as pure Spark column expressions.

Re-expresses the reference's CategoricalTransformer + the orchestrator's
rare-label machinery (`/root/reference/clearbox_preprocessor/utils/
categorical_transformer.py`, `preprocessor.py:221-339,426-439,540-547`)
Spark-first. The fitted state is tiny driver-side metadata: per column, the
ordered list of one-hot labels and the set of rare labels; every transform is
a flat ``select`` of JVM expressions — no shuffle, no UDF, no vector types
(flat named dummy columns for parity, deliberately NOT pyspark.ml's
OneHotEncoder which emits vectors).

Parity notes:
- ``""``/``" "`` → null → literal ``"None"`` so null is itself a category
  (`preprocessor.py:248,251-252`); inverse maps ``"None"`` back to null
  (`preprocessor.py:540-547`).
- rare labels (freq < threshold, when the column has > 2 distinct values)
  collapse to ``'other'`` (`preprocessor.py:313-316,221-258`).
- one-hot decode keeps the LAST matching dummy (Polars fold semantics,
  `categorical_transformer.py:105-111`) — we coalesce over the reversed
  dummy list to match on degenerate multi-hot rows.
- unseen labels at transform time one-hot to all-zeros ("ignore" policy,
  `preprocessor.py:436-439`) because dummies are generated from the fitted
  label list, not the data.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import bulk

NULL_LABEL = "None"
OTHER_LABEL = "other"


def dummy_name(col: str, value: str) -> str:
    return f"{col}_{value}"


def clean_expr(col: Column) -> Column:
    """""/" " → null → "None" (preprocessor.py:248,251-252)."""
    return F.coalesce(
        F.when(col.isin("", " "), F.lit(None)).otherwise(col), F.lit(NULL_LABEL)
    )


def shrink_expr(col: Column, rare_values: list[str]) -> Column:
    """Clean + collapse fitted rare labels to 'other' (preprocessor.py:251-253).

    ``rare_values`` are the raw fit-time labels below threshold; after the
    clean step the ``""``/``" "``/null members of that list can no longer
    match, which reproduces the reference's replace-after-fill ordering.
    """
    cleaned = clean_expr(col)
    rare = [v for v in rare_values if v is not None]
    if not rare:
        return cleaned
    return F.when(bulk.isin(cleaned, rare), F.lit(OTHER_LABEL)).otherwise(cleaned)


def onehot_exprs(col_name: str, values: list[str]) -> list[Column]:
    """Fitted one-hot: one tinyint 0/1 column per fitted label, in fit order
    (categorical_transformer.py:46-51 + schema alignment :53-68). A label
    absent from the batch yields an all-zero column automatically; an unseen
    batch label yields all zeros across the group ("ignore" policy)."""
    col = F.col(col_name)
    return [
        F.when(col == F.lit(v), F.lit(1)).otherwise(F.lit(0)).cast("tinyint").alias(dummy_name(col_name, v))
        for v in values
    ]


def decode_expr(col_name: str, values: list[str]) -> Column:
    """Inverse one-hot. Polars fold keeps the *last* dummy equal to 1
    (categorical_transformer.py:105-111): coalesce over the reversed fitted
    list replicates that tie-break."""
    whens = [
        F.when(F.col(dummy_name(col_name, v)) == 1, F.lit(v)) for v in reversed(values)
    ]
    return F.coalesce(*whens).alias(col_name)


def none_to_null_expr(col: Column) -> Column:
    """literal "None" → real null on the way out (preprocessor.py:540-547)."""
    return F.when(col == NULL_LABEL, F.lit(None)).otherwise(col)


def label_encode_expr(col: Column, labels: list[str]) -> Column:
    """sklearn LabelEncoder parity (preprocessor.py:185-187): labels sorted
    lexicographically, encoded to their sorted index. Hand-rolled because
    pyspark.ml StringIndexer orders by frequency, not lexicographically."""
    expr: Column = F.lit(None)
    for i, lab in enumerate(sorted(labels)):
        expr = F.when(col == F.lit(lab), F.lit(i)).otherwise(expr)
    return expr.cast("bigint")


def label_decode_expr(col: Column, labels: list[str]) -> Column:
    expr: Column = F.lit(None)
    for i, lab in enumerate(sorted(labels)):
        expr = F.when(col == F.lit(i), F.lit(lab)).otherwise(expr)
    return expr
