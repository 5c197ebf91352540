"""Scale-safe global row numbering and surrogate-key assignment.

A naive ``row_number() OVER (ORDER BY ...)`` forces Exchange
SinglePartition — the whole table through one task, the canonical
scale-killer. This module assigns globally contiguous 0-based ids with the
classic two-pass design every distributed engine uses:

1. range-partition the table on the order key (parallel range exchange,
   sampled boundaries — same machinery as a global sort);
2. count rows per partition (a tiny |partitions|-row aggregate);
3. prefix-sum those counts on the driver (|partitions| longs, not data);
4. ``row_number`` WITHIN each partition (keyed window, no single
   partition) + the broadcast partition offset.

The result is bit-identical to the global window formulation — asserted in
tests — while every exchange in the plan stays parallel.

When ids only need to be unique and order-stable within partitions,
Spark's ``monotonically_increasing_id`` is the cheaper choice: zero
shuffles, pure projection.

Reference parity: the reference resets/creates dataframe indexes via Polars
``with_row_index`` (implicit in pandas round-trips); at cluster scale that
semantic needs this two-pass shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from preprocessor_spark.caching import register_persisted


def assign_row_ids(
    df: DataFrame,
    order_by: list[str],
    id_col: str = "row_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Globally contiguous 0-based ids in ``order_by`` order.

    ``order_by`` must be a total order (unique key combination) for the ids
    to be deterministic; ties would make the assignment within a tie group
    arbitrary. All exchanges are parallel: one range exchange + one
    |partitions|-row count collect; no Exchange SinglePartition anywhere.
    """
    if not order_by:
        raise ValueError("order_by must name at least one column")
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, *[F.col(c) for c in order_by])
    # persisted because pass 1 (counts collect) and pass 2 (window) are two
    # separate jobs over the same range exchange: without the pin, each job
    # re-executes the exchange, and AQE / boundary re-sampling / input
    # re-listing could hand pass 2 a DIFFERENT partitioning than the one the
    # offsets were computed from — silently wrong ids. Lifetime is
    # caller-managed via persist_scope (see preprocessor_spark.caching).
    part = register_persisted(
        ranged.withColumn("__pid", F.spark_partition_id()).persist()
    )

    # pass 1: per-partition counts -> driver prefix sum (|partitions| rows)
    counts = (
        part.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt")).collect()
    )
    sizes = {r["__pid"]: r["__cnt"] for r in counts}
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    offset_expr = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
        ),
        F.col("__pid"),
    )

    # pass 2: keyed window inside each range partition + broadcast offset
    w = Window.partitionBy("__pid").orderBy(*[F.col(c) for c in order_by])
    return (
        part.withColumn(
            id_col,
            (F.row_number().over(w) - 1 + offset_expr).cast("long"),
        )
        .drop("__pid")
    )
