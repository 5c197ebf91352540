"""Deterministic content-addressed dataset splitting (train/val/test).

The production-grade way to split 100 TB of training data is NOT random
sampling: assignment must be (a) reproducible across runs and engines,
(b) stable under re-partitioning and appends (a document keeps its split
forever), (c) computable row-local with no shuffle. Hashing a stable key
gives all three: bucket = first 8 hex chars of md5(key ∥ salt) as an
integer, mod 10_000; split boundaries are cumulative fractions of that
space.

md5 is chosen deliberately — not for speed (xxhash beats it) but because
every engine agrees on it byte-for-byte, so the DuckDB oracle (and any
other system in the pipeline) reproduces the exact assignment. The whole
expression is JVM-side inside whole-stage codegen; no UDF, no shuffle, no
sampling pass.

``salt`` re-deals the assignment (e.g. per experiment) without touching
the data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BUCKETS = 10_000


def split_bucket_expr(key: Column, salt: str = "") -> Column:
    """Stable bucket in [0, 10000) from md5(key ∥ salt) — engine-portable
    (DuckDB twin: ``CAST(('0x' || substr(md5(key || salt), 1, 8)) AS
    BIGINT) % 10000``)."""
    h = F.md5(F.concat(key.cast("string"), F.lit(salt)))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % BUCKETS).alias("bucket")


def split_assign_expr(key: Column, splits: dict[str, float], salt: str = "") -> Column:
    """Split label from cumulative bucket thresholds.

    ``splits`` maps label → fraction; fractions must sum to 1.0 (±1e-9).
    Boundaries land on floor(cumsum · 10000), so realized proportions are
    exact to 1/10000."""
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1.0, got {total}")
    bucket = split_bucket_expr(key, salt)
    expr = None
    cum = 0.0
    labels = list(splits.items())
    for name, frac in labels[:-1]:
        cum += frac
        thr = int(cum * BUCKETS)
        expr = (
            F.when(bucket < thr, F.lit(name))
            if expr is None
            else expr.when(bucket < thr, F.lit(name))
        )
    last = labels[-1][0]
    return (F.lit(last) if expr is None else expr.otherwise(F.lit(last))).alias("split")


def hash_split(
    df: DataFrame, key_col: str, splits: dict[str, float], salt: str = ""
) -> DataFrame:
    """Append a ``split`` column. Pure projection — no shuffle, no state."""
    return df.withColumn("split", split_assign_expr(F.col(key_col), splits, salt))


def neardup_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    splits: dict[str, float],
    salt: str = "",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Leakage-safe split against DISCOVERED near-duplicates: rows whose
    ids are connected through the candidate-pair graph (MinHash LSH,
    SimHash, embedding near-dup — any pair table) are assigned by the hash
    of their CLUSTER representative, so a near-dup cluster can never
    straddle train/test; rows in no pair keep their own-id assignment.

    This is `hash_split` on a group key, where the group is computed:
    contamination between splits via paraphrase/verbatim copies is the
    classic eval-leakage bug, and hashing the connected-component label
    closes it by construction (invariant-tested: zero cross-split pairs).

    Cost: the CC run on the PAIR graph (pairs ≪ rows) + one left join of
    the corpus against the |paired-ids| label table — the corpus itself is
    never shuffled beyond that keyed join.
    """
    from preprocessor_spark.operators.graph import connected_components

    comps = connected_components(pairs, id_a=id_a, id_b=id_b).select(
        F.col("id").alias(id_col), F.col("component")
    )
    joined = df.join(comps, on=id_col, how="left")
    effective = F.coalesce(F.col("component"), F.col(id_col))
    return joined.withColumn(
        "split", split_assign_expr(effective, splits, salt)
    ).drop("component")
