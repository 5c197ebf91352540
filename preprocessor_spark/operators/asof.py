"""As-of (nearest-key time) join — SURVEY §2.3.

Spark has no built-in as-of join. This implements the distributed
union-merge formulation: tag both sides, union on (key, ts), and carry the
most recent right-side row forward with a per-key ordered window. One
shuffle on (key), no range explosion, no driver loop — the standard
scale-safe as-of design (same shape DuckDB/kdb use internally).

Without ``by`` keys the window is global (single partition) — fine for a
broadcast-sized right side; pass ``by`` for the partitioned path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: list[str] | None = None,
    direction: str = "backward",
    right_prefix: str = "r_",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """For each left row, attach the right row with the greatest ``on`` ≤
    left's ``on`` (direction="backward") or smallest ≥ (="forward"),
    optionally within the same ``by`` keys and a max time gap.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    by = by or []

    r_payload = [c for c in right.columns if c != on and c not in by]
    l_tagged = left.select(
        *[F.col(c) for c in left.columns],
        F.lit(1).alias("__is_left"),
        F.lit(None).cast(
            "struct<" + ",".join(f"`{c}`:{right.schema[c].dataType.simpleString()}" for c in r_payload) + ">"
        ).alias("__rdata"),
        F.col(on).alias("__ts"),
    )
    r_tagged = right.select(
        *[F.lit(None).cast(left.schema[c].dataType.simpleString()).alias(c) for c in left.columns if c not in by and c != on],
        *[F.col(c) for c in by],
        F.col(on),
        F.lit(0).alias("__is_left"),
        F.struct(*[F.col(c) for c in r_payload]).alias("__rdata"),
        F.col(on).alias("__ts"),
    ).select(*l_tagged.columns)

    unioned = l_tagged.unionByName(r_tagged)
    # right rows sort before left rows at equal ts so "≤" matches (backward)
    order = [F.col("__ts").asc(), F.col("__is_left").asc()]
    if direction == "forward":
        order = [F.col("__ts").desc(), F.col("__is_left").asc()]
    w = (
        Window.partitionBy(*by).orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
        if by
        else Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = F.last(F.when(F.col("__is_left") == 0, F.col("__rdata")), ignorenulls=True).over(w)
    carried_ts = F.last(F.when(F.col("__is_left") == 0, F.col("__ts")), ignorenulls=True).over(w)

    out = unioned.withColumn("__match", carried).withColumn("__match_ts", carried_ts)
    out = out.filter(F.col("__is_left") == 1)
    if tolerance_seconds is not None:
        # route through TIMESTAMP: TIMESTAMP_NTZ → DOUBLE is not castable
        # directly; numeric `on` columns round-trip unchanged
        gap = F.abs(
            F.col("__ts").cast("timestamp").cast("double")
            - F.col("__match_ts").cast("timestamp").cast("double")
        )
        within = gap <= F.lit(tolerance_seconds)
        # null payload AND timestamp together — an out-of-tolerance match must
        # not leave a dangling r_<on> for a row whose payload was rejected
        out = out.withColumns(
            {
                "__match": F.when(within, F.col("__match")),
                "__match_ts": F.when(within, F.col("__match_ts")),
            }
        )
    keep = [c for c in left.columns]
    proj = [F.col(c) for c in keep] + [
        F.col("__match")[c].alias(f"{right_prefix}{c}") for c in
        [f for f in right.columns if f != on and f not in by]
    ] + [F.col("__match_ts").alias(f"{right_prefix}{on}")]
    return out.select(*proj)
