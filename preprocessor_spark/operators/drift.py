"""Distribution-drift detection between two table snapshots (PSI).

Production preprocessing pipelines monitor every model feature for drift
between the fit-time reference and the current serving/ingest snapshot; the
Population Stability Index over quantile bins is the industry-standard
report (PSI < 0.1 stable, 0.1–0.25 moderate, > 0.25 action). The reference
library has nothing comparable (its statistics stop at fit-time discard
decisions) — north-star addition.

Spark shape:

- **Fit** bin edges from the REFERENCE snapshot's exact deciles (SQL
  ``percentile`` — engine-portable, see
  :func:`preprocessor_spark.functions.numerical.fit_exact_percentiles`);
  at 100 TB swap in ``percentile_approx`` and the report is unchanged.
- **Bin + count** each snapshot with ONE groupBy over a CASE expression
  built from the fitted edges — map-side partial aggregation collapses each
  side to ≤ n_bins rows before the shuffle.
- The join/fraction/log arithmetic runs on two ≤ n_bins-row frames —
  driver-scale, broadcast by AQE automatically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from preprocessor_spark.functions.numerical import fit_exact_percentiles

_EPS = 1e-6  # standard PSI zero-bin smoothing


def bin_expr(col: Column, edges: list[float]) -> Column:
    """Monotone CASE chain over fitted interior edges: bin i holds
    values in (edges[i-1], edges[i]]; bin 0 is (-inf, edges[0]], the last
    bin is (edges[-1], +inf). Mirrors a SQL CASE bit-for-bit."""
    out = F.lit(len(edges))
    for i in reversed(range(len(edges))):
        out = F.when(col <= F.lit(edges[i]), F.lit(i)).otherwise(out)
    return out


def psi_report(
    ref: DataFrame, cur: DataFrame, col: str, n_bins: int = 10
) -> DataFrame:
    """Per-bin PSI report: (bin, ref_frac, cur_frac, psi_contrib).

    Total PSI = sum(psi_contrib); kept off the report so every emitted
    number is a single deterministic IEEE expression (a cross-bin float sum
    is accumulation-order-dependent — sum the collected n_bins rows in bin
    order instead)."""
    probs = [i / n_bins for i in range(1, n_bins)]
    edges = [v for _, v in sorted(fit_exact_percentiles(ref, col, probs).items())]
    b = bin_expr(F.col(col), edges).alias("bin")

    def _counts(df: DataFrame, name: str) -> DataFrame:
        return (
            df.filter(F.col(col).isNotNull())
            .groupBy(b)
            .agg(F.count(F.lit(1)).alias(name))
        )

    rc, cc = _counts(ref, "ref_n"), _counts(cur, "cur_n")
    joined = rc.join(cc, "bin", "full").na.fill(0, ["ref_n", "cur_n"])
    rt = joined.agg(F.sum("ref_n").alias("rt"), F.sum("cur_n").alias("ct"))
    j = joined.crossJoin(F.broadcast(rt))
    p = F.greatest(F.col("ref_n") / F.col("rt"), F.lit(_EPS))
    q = F.greatest(F.col("cur_n") / F.col("ct"), F.lit(_EPS))
    return j.select(
        "bin",
        "ref_n",
        "cur_n",
        F.round(F.col("ref_n") / F.col("rt"), 6).alias("ref_frac"),
        F.round(F.col("cur_n") / F.col("ct"), 6).alias("cur_frac"),
        F.round((p - q) * F.log(p / q), 6).alias("psi_contrib"),
    )


def categorical_drift_report(ref: DataFrame, cur: DataFrame, col: str) -> DataFrame:
    """PSI over categorical levels (one groupBy per side, full-outer on the
    level, same smoothing). Levels absent from one side get the ε floor."""
    rc = ref.filter(F.col(col).isNotNull()).groupBy(col).agg(F.count(F.lit(1)).alias("ref_n"))
    cc = cur.filter(F.col(col).isNotNull()).groupBy(col).agg(F.count(F.lit(1)).alias("cur_n"))
    joined = rc.join(cc, col, "full").na.fill(0, ["ref_n", "cur_n"])
    rt = joined.agg(F.sum("ref_n").alias("rt"), F.sum("cur_n").alias("ct"))
    j = joined.crossJoin(F.broadcast(rt))
    p = F.greatest(F.col("ref_n") / F.col("rt"), F.lit(_EPS))
    q = F.greatest(F.col("cur_n") / F.col("ct"), F.lit(_EPS))
    return j.select(
        col,
        "ref_n",
        "cur_n",
        F.round(F.col("ref_n") / F.col("rt"), 6).alias("ref_frac"),
        F.round(F.col("cur_n") / F.col("ct"), 6).alias("cur_frac"),
        F.round((p - q) * F.log(p / q), 6).alias("psi_contrib"),
    )


def ks_report(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov report: both empirical CDFs
    evaluated at every pooled distinct value, plus the per-value gap.
    ``KS = max(d_abs)`` (a max is accumulation-order-independent, so a plain
    agg over the report is deterministic) — the nonparametric
    complement to :func:`psi_report` (PSI needs bins; KS is binless and
    detects any CDF divergence).

    Scale shape (no Exchange SinglePartition anywhere):

    1. one tagged union + ONE groupBy on the value collapses both
       snapshots to per-distinct-value (ref_n, cur_n) counts — map-side
       combined, output ≪ raw rows;
    2. the cumulative sums a naive ``SUM() OVER (ORDER BY value)`` would
       single-task are computed with the same two-pass range-partitioned
       carry as :func:`preprocessor_spark.operators.ids.assign_row_ids`:
       range exchange on value, per-partition sums (|partitions| rows to
       the driver), broadcast prefix offsets, windowed cumsum WITHIN each
       range partition + carry-in;
    3. ECDF = cumulative / total, an exact IEEE division of two integers —
       bit-identical to any SQL engine's formulation.

    Null values are excluded (an ECDF is undefined at NULL), matching
    ``scipy.stats.ks_2samp`` on dropna'd inputs.
    """
    from preprocessor_spark.caching import register_persisted

    spark = ref.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    v = F.col(col)
    tagged = ref.filter(v.isNotNull()).select(
        v.alias("value"), F.lit(1).alias("__r"), F.lit(0).alias("__c")
    ).unionAll(
        cur.filter(v.isNotNull()).select(
            v.alias("value"), F.lit(0).alias("__r"), F.lit(1).alias("__c")
        )
    )
    counts = tagged.groupBy("value").agg(
        F.sum("__r").alias("ref_n"), F.sum("__c").alias("cur_n")
    )

    ranged = register_persisted(
        counts.repartitionByRange(n, F.col("value"))
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    # pass 1: per-partition sums -> driver prefix scan (|partitions| rows)
    psums = ranged.groupBy("__pid").agg(
        F.sum("ref_n").alias("r"), F.sum("cur_n").alias("c")
    ).collect()
    by_pid = {row["__pid"]: (row["r"], row["c"]) for row in psums}
    total_r = sum(r for r, _ in by_pid.values())
    total_c = sum(c for _, c in by_pid.values())
    if total_r == 0 or total_c == 0:
        raise ValueError("ks_report: one snapshot has no non-null values")
    carry_r, carry_c, off_r, off_c = {}, {}, 0, 0
    for pid in sorted(by_pid):
        carry_r[pid], carry_c[pid] = off_r, off_c
        off_r += by_pid[pid][0]
        off_c += by_pid[pid][1]
    carry_r_expr = F.element_at(
        F.create_map(*[F.lit(x) for kv in sorted(carry_r.items()) for x in kv]),
        F.col("__pid"),
    )
    carry_c_expr = F.element_at(
        F.create_map(*[F.lit(x) for kv in sorted(carry_c.items()) for x in kv]),
        F.col("__pid"),
    )

    # pass 2: windowed cumsum inside each range partition + carry-in
    from pyspark.sql import Window

    w = (
        Window.partitionBy("__pid")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ecdf_r = (F.sum("ref_n").over(w) + carry_r_expr) / F.lit(float(total_r))
    ecdf_c = (F.sum("cur_n").over(w) + carry_c_expr) / F.lit(float(total_c))
    return ranged.select(
        "value",
        "ref_n",
        "cur_n",
        F.round(ecdf_r, 6).alias("ecdf_ref"),
        F.round(ecdf_c, 6).alias("ecdf_cur"),
        F.round(F.abs(ecdf_r - ecdf_c), 6).alias("d_abs"),
    )
