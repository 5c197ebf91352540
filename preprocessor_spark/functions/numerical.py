"""Numerical column transforms as pure Spark column expressions.

Re-expresses the reference's NumericalTransformer semantics
(`/root/reference/clearbox_preprocessor/utils/numerical_transformer.py`)
Spark-first: every fit statistic is computed in one batched aggregation job
and held driver-side; every transform is a JVM-side column expression inside
whole-stage codegen — no Python on the hot path except the quantile
transform's norm.ppf/cdf, which runs as an Arrow-batched pandas UDF.

Parity notes (reference file:line):
- inf clamp: ``numerical_transformer.py:49-65`` — ±inf and |x| > 1e308 → null
  before any statistic or fill, at both fit and transform time.
- fill strategies: ``numerical_transformer.py:67-103`` — mean/min/max/zero/
  one/literal/forward/backward/interpolate/"none". The "none" strategy is a
  sentinel encoding (``:82-96``): min−0.01 under normalize/quantile,
  mean−3σ−0.01 under standardize, −10 otherwise; inverse maps values at or
  below the sentinel back to null (``:241-269``; note the reference restores
  at ≤ −8 for the −10 sentinel — replicated).
  Divergence (documented): the reference computes mean/min/max fills on the
  *transform-time* frame via Polars fill strategies; we use fit-time
  statistics (sklearn-style), which is the defensible ML semantics and costs
  zero extra jobs per transform.
  Divergence: the reference's standardize+"none" path computes the sentinel
  but never applies the fill (dead branch at ``:88-92``); we implement the
  documented intent and fill with mean−3σ−0.01.
- scaling: normalize/standardize arithmetic ``numerical_transformer.py:140-151``,
  inverses ``:212-223``.
- kbins: quantile binning with string labels "0".."n−1"
  (``numerical_transformer.py:40-45,168-174``) via driver-held approxQuantile
  splits instead of per-column qcut.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import bulk

INF_THRESHOLD = 1e308
FILL_STRATEGIES = {
    "none",
    "interpolate",
    "forward",
    "backward",
    "min",
    "max",
    "mean",
    "zero",
    "one",
}
SCALING_STRATEGIES = {"none", "normalize", "standardize", "quantile", "kbins"}


def clamp_inf(col: Column) -> Column:
    """±inf / |x| > 1e308 → null (numerical_transformer.py:49-65).

    Divergence (documented): NaN is also mapped to null. Polars keeps NaN as
    a float value distinct from null; Spark's pandas interop already folds
    NaN → null on ingest, so unifying here gives consistent fill semantics.
    """
    bad = F.isnan(col) | (F.abs(col) > F.lit(INF_THRESHOLD))
    return F.when(col.isNull() | bad, F.lit(None)).otherwise(col)


def sentinel_value(scaling: str, stats: dict) -> float:
    """Sentinel used by the "none" fill strategy (numerical_transformer.py:79-96)."""
    if scaling in ("quantile", "normalize"):
        return float(stats["min"]) - 0.01
    if scaling == "standardize":
        return float(stats["mean"]) - 3.0 * float(stats["std"]) - 0.01
    return -10.0


def sentinel_restore_threshold(scaling: str, stats: dict) -> float:
    """Threshold at-or-below which inverse restores null
    (numerical_transformer.py:241-269; note −8, not −10, in the default arm)."""
    if scaling in ("quantile", "normalize"):
        return float(stats["min"]) - 0.01
    if scaling == "standardize":
        return float(stats["mean"]) - 3.0 * float(stats["std"]) - 0.01
    return -8.0


def fill_expr(col: Column, strategy, scaling: str, stats: dict) -> Column:
    """Fill expression for scalar strategies (mean/min/max/zero/one/literal/
    "none"-sentinel). Order-dependent strategies (forward/backward/
    interpolate) are handled by :func:`apply_order_dependent_fills`."""
    if isinstance(strategy, (int, float)) and not isinstance(strategy, bool):
        fill = float(strategy)
    elif strategy == "mean":
        fill = stats["mean"]
    elif strategy == "min":
        fill = stats["min"]
    elif strategy == "max":
        fill = stats["max"]
    elif strategy == "zero":
        fill = 0.0
    elif strategy == "one":
        fill = 1.0
    elif strategy == "none":
        fill = sentinel_value(scaling, stats)
    else:
        raise ValueError(f"Unknown fill strategy: {strategy}")
    if fill is None:
        return col
    return F.coalesce(col, F.lit(float(fill)))


def _order_window(
    order_col: str,
    partition_by: list[str] | None,
    tiebreak_col: str | None,
    reverse: bool = False,
):
    """Window ordered by (``order_col``, ``tiebreak_col``), ascending or
    reversed, per ``partition_by`` key when given (one global window
    otherwise)."""
    keys = [order_col] if tiebreak_col is None else [order_col, tiebreak_col]
    order = [F.col(k).desc() if reverse else F.col(k).asc() for k in keys]
    return (Window.partitionBy(*partition_by) if partition_by else Window).orderBy(*order)


def _running(w):
    return w.rowsBetween(Window.unboundedPreceding, 0)


def forward_fill_expr(
    col: Column,
    order_col: str,
    partition_by: list[str] | None = None,
    tiebreak_col: str | None = None,
) -> Column:
    """last non-null over preceding rows (SURVEY §2.5).

    With ``partition_by`` (a series id) this is a per-series window that
    scales; without it the window is global (single partition) — fine for
    parity tests, documented 100 TB caveat. Pass ``tiebreak_col`` when
    ``order_col`` has ties: without it tied rows are laid out in whatever
    order the sort leaves them.
    """
    return F.last(col, ignorenulls=True).over(
        _running(_order_window(order_col, partition_by, tiebreak_col))
    )


def backward_fill_expr(
    col: Column,
    order_col: str,
    partition_by: list[str] | None = None,
    tiebreak_col: str | None = None,
) -> Column:
    """first non-null at-or-after the current row, expressed as ``last`` over
    a RUNNING frame in reverse order. Never use ``[0, unboundedFollowing]``:
    Spark executes running frames (`[unboundedPreceding, 0]`) with an O(n)
    accumulator but recomputes unbounded-following frames per row — O(n²)
    per partition (measured 357 s vs 2 s on a 100k-row partition).

    ``order_col`` (optionally with ``tiebreak_col``) must be a TOTAL order
    within each partition: the reverse scan must see the exact mirror of the
    forward order, and with duplicate keys and no tiebreaker the two sorts
    may lay ties out differently (nondeterministic fills at tied rows). The
    Preprocessor's internal callers pass a unique synthetic row id.
    """
    return F.last(col, ignorenulls=True).over(
        _running(_order_window(order_col, partition_by, tiebreak_col, reverse=True))
    )


def interpolate_expr(
    col: Column,
    order_col: str,
    partition_by: list[str] | None = None,
    tiebreak_col: str | None = None,
) -> Column:
    """Linear interpolation of nulls over an explicit order.

    Matches Polars ``interpolate()`` semantics: interior null runs are
    linearly interpolated between the surrounding non-null values; leading
    and trailing nulls stay null. Built from four window scans (prev/next
    value and row distance) — all JVM-side, no UDF.

    ``order_col`` (+ optional ``tiebreak_col``) must totally order each
    partition: prev comes from a forward running scan and next from a
    reverse one, and duplicate keys without a tiebreaker let the two sorts
    disagree on tie layout (inconsistent prev/next at tied rows). The
    Preprocessor passes a unique (datetime, synthetic row id) pair.
    """
    w = _order_window(order_col, partition_by, tiebreak_col)
    # both directions are RUNNING frames (the reverse-ordered window stands
    # in for [0, unboundedFollowing], which Spark executes O(n²) — see
    # backward_fill_expr)
    w_prev = _running(w)
    w_next = _running(_order_window(order_col, partition_by, tiebreak_col, reverse=True))

    pos_col = F.row_number().over(w).cast("double")
    prev_val = F.last(col, ignorenulls=True).over(w_prev)
    next_val = F.last(col, ignorenulls=True).over(w_next)
    prev_pos = F.last(F.when(col.isNotNull(), pos_col), ignorenulls=True).over(w_prev)
    next_pos = F.last(F.when(col.isNotNull(), pos_col), ignorenulls=True).over(w_next)

    frac = (pos_col - prev_pos) / (next_pos - prev_pos)
    interp = prev_val + (next_val - prev_val) * frac
    return F.when(col.isNotNull(), col).otherwise(
        F.when(prev_val.isNull() | next_val.isNull(), F.lit(None)).otherwise(interp)
    )


def apply_order_dependent_fills(
    df: DataFrame,
    fills: dict[str, str],
    order_col: str,
    tiebreak_col: str | None = None,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Apply forward/backward/interpolate fills over a total order, at scale.

    ``fills`` maps column name → strategy (``forward`` | ``backward`` |
    ``interpolate``). The total order is (``order_col``, ``tiebreak_col``)
    ascending; ``tiebreak_col`` must make it unique for deterministic fills
    at tied keys.

    With ``partition_by`` the fills are per-key windows (scale with the key
    cardinality) — the existing expression path.

    Without it, a global ``Window.orderBy`` would plan EXCHANGE
    SinglePartition: one task scans everything, the one formulation that
    cannot survive a 100× scale-up. Instead this runs a range-bucketed
    two-pass carry whose buckets are the output partitions:

    1. one aggregate job reads the row count and ``percentile_approx``
       edges on ``order_col``. The bucket count P is the row count times
       the schema's default row size over
       ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` (the byte target
       AQE coalesces shuffles to), clamped to [1,
       ``spark.sql.shuffle.partitions``]; P−1 of the edges split the keys.
       Each row gets a bucket id by edge comparison (nulls → bucket 0,
       matching asc-nulls-first; tied keys never split across buckets);
    2. ``repartitionById`` puts bucket k in partition k, and the O(n)
       running-frame fills run per bucket on that exchange; each partition
       is then sorted by (``order_col``, ``tiebreak_col``) and persisted;
    3. a per-bucket aggregate (count, edge non-null values + positions —
       map-side combined, P output rows) feeds a driver-side prefix scan
       that computes each bucket's carry-in from earlier/later buckets,
       re-joined via broadcast. Global row position = bucket offset +
       local row_number, so interpolation is bit-identical to the global
       window formulation for any choice of edges. At P = 1 there is
       nothing to carry: the offset is 0, the carry-ins are null literals,
       and the aggregate and the join are skipped.

    The result is therefore already in (``order_col``, ``tiebreak_col``)
    order, partition by partition: collecting it, or any narrow projection
    of it, needs no sort. A later shuffle does not keep that order.
    """
    bad = set(fills.values()) - {"forward", "backward", "interpolate"}
    if bad:
        raise ValueError(f"Unknown order-dependent fill strategies: {sorted(bad)}")
    if not fills:
        return df

    if partition_by:
        exprs = {}
        for c, strat in fills.items():
            col = F.col(c)
            if strat == "forward":
                exprs[c] = F.coalesce(
                    col, forward_fill_expr(col, order_col, partition_by, tiebreak_col)
                )
            elif strat == "backward":
                exprs[c] = F.coalesce(
                    col, backward_fill_expr(col, order_col, partition_by, tiebreak_col)
                )
            else:
                exprs[c] = interpolate_expr(col, order_col, partition_by, tiebreak_col)
        return df.withColumns(exprs)

    spark = df.sparkSession
    p_max = int(spark.conf.get("spark.sql.shuffle.partitions"))
    out_cols = df.columns

    # -- pass 1: row count and range edges in one aggregate (percentile_approx
    # ignores nulls). The edges sit on a 1/p_max grid; the P−1 nearest to
    # k/P are used, and duplicates (skewed or constant keys) collapse.
    aggs = [F.count(F.lit(1)).alias("n")]
    if p_max > 1:
        grid = bulk.doubles_lit([i / p_max for i in range(1, p_max)])
        aggs.append(F.percentile_approx(order_col, grid, 100).alias("q"))
    stats = df.agg(*aggs).collect()[0]
    jvm = spark.sparkContext._jvm
    advisory = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    row_bytes = df._jdf.schema().defaultSize()
    p = max(1, min(p_max, -(-stats["n"] * row_bytes // advisory)))
    bounds: list[float] = []
    if p > 1 and stats["q"] is not None:
        picked = {float(stats["q"][round(k * p_max / p) - 1]) for k in range(1, p)}
        bounds = sorted(picked)

    okey = F.col(order_col)
    if bounds:
        # bucket id = #edges strictly below the key; equal keys always
        # share a bucket. O(len(bounds)) per row, no deep when-nesting.
        bkt = F.when(okey.isNull(), F.lit(0)).otherwise(
            F.size(F.filter(bulk.doubles_lit(bounds), lambda t: okey > t))
        )
    else:
        bkt = F.lit(0)

    wb = _order_window(order_col, ["__bkt"], tiebreak_col)
    w_run = _running(wb)
    w_rev = _running(_order_window(order_col, ["__bkt"], tiebreak_col, reverse=True))

    dfb = (
        df.withColumn("__bkt", bkt)
        .repartitionById(p, "__bkt")
        .withColumn("__lrn", F.row_number().over(wb))
    )

    # -- pass 2: within-bucket running fills (all O(n) frames; the reverse
    # window stands in for [0, unboundedFollowing] which Spark runs O(n²))
    win_exprs: dict[str, Column] = {}
    for c, strat in fills.items():
        col = F.col(c)
        if strat in ("forward", "interpolate"):
            win_exprs[f"__pv_{c}"] = F.last(col, ignorenulls=True).over(w_run)
        if strat in ("backward", "interpolate"):
            win_exprs[f"__nv_{c}"] = F.last(col, ignorenulls=True).over(w_rev)
        if strat == "interpolate":
            lpos = F.col("__lrn").cast("double")
            win_exprs[f"__pp_{c}"] = F.last(
                F.when(col.isNotNull(), lpos), ignorenulls=True
            ).over(w_run)
            win_exprs[f"__np_{c}"] = F.last(
                F.when(col.isNotNull(), lpos), ignorenulls=True
            ).over(w_rev)
    # persist the windowed frame: the carry aggregate (eager, below; P > 1
    # only) and every action on the output consume it — without the cache
    # the whole upstream chain (parse/convert/clamp) recomputes per
    # consumer. The sort puts each partition back in ascending order after
    # the reversed windows. Scope the lifetime via
    # preprocessor_spark.caching.persist_scope.
    from preprocessor_spark.caching import register_persisted

    keys = [order_col] if tiebreak_col is None else [order_col, tiebreak_col]
    dfw = register_persisted(
        dfb.withColumns(win_exprs).sortWithinPartitions("__bkt", *keys).persist()
    )

    # -- pass 3: P-row edge table → driver prefix scan → broadcast fix-up.
    # With one bucket every carry-in is null and the offset 0: the same
    # values as literals skip the aggregate job and the join.
    if p == 1:
        joined, carry = dfw, _no_carry
    else:
        carry_df = _carry_frame(dfw, fills)
        joined, carry = dfw.join(F.broadcast(carry_df), "__bkt"), F.col

    final: dict[str, Column] = {}
    for c, strat in fills.items():
        col = F.col(c)
        if strat == "forward":
            final[c] = F.coalesce(F.col(f"__pv_{c}"), carry(f"__cpv_{c}"))
        elif strat == "backward":
            final[c] = F.coalesce(F.col(f"__nv_{c}"), carry(f"__cnv_{c}"))
        else:
            gpos = (carry("__off") + F.col("__lrn")).cast("double")
            pv = F.coalesce(F.col(f"__pv_{c}"), carry(f"__cpv_{c}"))
            nv = F.coalesce(F.col(f"__nv_{c}"), carry(f"__cnv_{c}"))
            pp = F.coalesce(carry("__off") + F.col(f"__pp_{c}"), carry(f"__cpp_{c}"))
            np_ = F.coalesce(carry("__off") + F.col(f"__np_{c}"), carry(f"__cnp_{c}"))
            frac = (gpos - pp) / (np_ - pp)
            interp = pv + (nv - pv) * frac
            final[c] = F.when(col.isNotNull(), col).otherwise(
                F.when(pv.isNull() | nv.isNull(), F.lit(None)).otherwise(interp)
            )
    return joined.withColumns(final).select(*out_cols)


def _no_carry(name: str) -> Column:
    """A carry column of the one-bucket pass: offset 0, no carry-in."""
    return F.lit(0).cast("bigint") if name == "__off" else F.lit(None).cast("double")


def _carry_frame(dfw: DataFrame, fills: dict[str, str]) -> DataFrame:
    """Per-bucket offsets and carry-ins of ``apply_order_dependent_fills``:
    one aggregate job over the bucketed, windowed frame (count and each
    bucket's edge values and positions, P rows) and a driver-side prefix
    scan of it, returned as a P-row frame keyed on ``__bkt``."""
    lrn = F.col("__lrn")
    aux_aggs = [F.count(F.lit(1)).alias("__cnt")]
    for c, strat in fills.items():
        if strat in ("forward", "interpolate"):
            aux_aggs.append(F.max_by(F.col(f"__pv_{c}"), lrn).alias(f"__last_{c}"))
        if strat in ("backward", "interpolate"):
            aux_aggs.append(F.min_by(F.col(f"__nv_{c}"), lrn).alias(f"__first_{c}"))
        if strat == "interpolate":
            aux_aggs.append(F.max_by(F.col(f"__pp_{c}"), lrn).alias(f"__lastp_{c}"))
            aux_aggs.append(F.min_by(F.col(f"__np_{c}"), lrn).alias(f"__firstp_{c}"))
    aux_rows = sorted(dfw.groupBy("__bkt").agg(*aux_aggs).collect(), key=lambda r: r["__bkt"])
    offsets: dict[int, int] = {}
    off = 0
    for r in aux_rows:
        offsets[r["__bkt"]] = off
        off += r["__cnt"]
    rows_by_bkt: dict[int, dict] = {}
    carry_rows: list[dict] = []
    fwd_state: dict[str, tuple] = {}  # col -> (value, global_pos)
    for r in aux_rows:
        row = {"__bkt": r["__bkt"], "__off": offsets[r["__bkt"]]}
        for c, strat in fills.items():
            if strat in ("forward", "interpolate"):
                prev = fwd_state.get(c, (None, None))
                row[f"__cpv_{c}"] = prev[0]
                if strat == "interpolate":
                    row[f"__cpp_{c}"] = prev[1]
                if r[f"__last_{c}"] is not None:
                    gpos = (
                        float(offsets[r["__bkt"]] + r[f"__lastp_{c}"])
                        if strat == "interpolate"
                        else None
                    )
                    fwd_state[c] = (float(r[f"__last_{c}"]), gpos)
        rows_by_bkt[r["__bkt"]] = row
        carry_rows.append(row)
    bwd_state: dict[str, tuple] = {}
    for r in reversed(aux_rows):
        row = rows_by_bkt[r["__bkt"]]
        for c, strat in fills.items():
            if strat in ("backward", "interpolate"):
                nxt = bwd_state.get(c, (None, None))
                row[f"__cnv_{c}"] = nxt[0]
                if strat == "interpolate":
                    row[f"__cnp_{c}"] = nxt[1]
                if r[f"__first_{c}"] is not None:
                    gpos = (
                        float(offsets[r["__bkt"]] + r[f"__firstp_{c}"])
                        if strat == "interpolate"
                        else None
                    )
                    bwd_state[c] = (float(r[f"__first_{c}"]), gpos)

    carry_fields = sorted({k for row in carry_rows for k in row})
    carry_schema = ", ".join(
        f"`{k}` {'int' if k == '__bkt' else ('bigint' if k == '__off' else 'double')}"
        for k in carry_fields
    )
    return dfw.sparkSession.createDataFrame(
        [tuple(row.get(k) for k in carry_fields) for row in carry_rows], carry_schema
    )


def normalize_expr(col: Column, stats: dict) -> Column:
    """(x − min) / (max − min) — numerical_transformer.py:140-145."""
    lo, hi = float(stats["min"]), float(stats["max"])
    return (col - F.lit(lo)) / F.lit(hi - lo)


def denormalize_expr(col: Column, stats: dict) -> Column:
    lo, hi = float(stats["min"]), float(stats["max"])
    return col * F.lit(hi - lo) + F.lit(lo)


def standardize_expr(col: Column, stats: dict) -> Column:
    """(x − μ) / σ, σ = sample stddev (ddof=1, matches Polars std) —
    numerical_transformer.py:146-151."""
    return (col - F.lit(float(stats["mean"]))) / F.lit(float(stats["std"]))


def destandardize_expr(col: Column, stats: dict) -> Column:
    return col * F.lit(float(stats["std"])) + F.lit(float(stats["mean"]))


def kbins_expr(col: Column, splits: list[float], labels: list[str]) -> Column:
    """Quantile binning to string labels — numerical_transformer.py:168-174.

    ``splits`` are the interior quantile boundaries (len == n_bins − 1),
    fitted via approxQuantile. Right-closed bins like Polars qcut. Stacked
    ``when`` stays inside whole-stage codegen.
    """
    expr = F.lit(labels[-1])
    for i in range(len(splits) - 1, -1, -1):
        expr = F.when(col <= F.lit(float(splits[i])), F.lit(labels[i])).otherwise(expr)
    return F.when(col.isNull(), F.lit(None)).otherwise(expr)


def sentinel_to_null_expr(col: Column, scaling: str, stats: dict) -> Column:
    """Inverse of the "none" sentinel fill — numerical_transformer.py:241-269."""
    thr = sentinel_restore_threshold(scaling, stats)
    return F.when(col <= F.lit(thr), F.lit(None)).otherwise(col)


# --------------------------------------------------------------------------
# Quantile transform (sklearn QuantileTransformer(output_distribution=
# "normal") parity — numerical_transformer.py:39,152-167,224-239).
# Fit: quantile landmarks via approxQuantile (one pass, driver-held).
# Apply: piecewise-linear CDF interpolation + inverse normal CDF inside an
# Arrow-batched pandas UDF (the only Python on the hot path; norm.ppf has no
# Spark SQL closed form). The normal CDF/PPF pair below inverts itself to
# double precision, so inverse_transform undoes transform.
# --------------------------------------------------------------------------

BOUNDS_THRESHOLD = 1e-7

_erfc = np.vectorize(math.erfc, otypes=["float64"])


def _norm_cdf(x):
    """Normal CDF from the stdlib's erfc (double precision in both tails,
    where ``1 - erfc`` forms would cancel)."""
    return 0.5 * _erfc(-np.asarray(x, dtype="float64") / math.sqrt(2.0))


def _norm_ppf(p):
    """Inverse normal CDF: Acklam's rational approximation (public domain,
    |rel err| < 1.15e-9) refined by one Halley step against
    :func:`_norm_cdf`, so ``_norm_cdf(_norm_ppf(p))`` returns p to double
    precision and the inverse transform undoes the forward one."""
    p = np.asarray(p, dtype="float64")
    a = [-3.969683028665376e01, 2.209460984245205e02, -2.759285104469687e02,
         1.383577518672690e02, -3.066479806614716e01, 2.506628277459239e00]
    b = [-5.447609879822406e01, 1.615858368580409e02, -1.556989798598866e02,
         6.680131188771972e01, -1.328068155288572e01]
    c = [-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e00,
         -2.549732539343734e00, 4.374664141464968e00, 2.938163982698783e00]
    d = [7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e00,
         3.754408661907416e00]
    plow, phigh = 0.02425, 1 - 0.02425
    out = np.full_like(p, np.nan)
    lo = (p > 0) & (p < plow)
    hi = (p > phigh) & (p < 1)
    mid = (p >= plow) & (p <= phigh)
    if lo.any():
        q = np.sqrt(-2 * np.log(p[lo]))
        out[lo] = (((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5]) / (
            (((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1
        )
    if hi.any():
        q = np.sqrt(-2 * np.log(1 - p[hi]))
        out[hi] = -(((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5]) / (
            (((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1
        )
    if mid.any():
        q = p[mid] - 0.5
        r = q * q
        out[mid] = (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4]) * r + a[5]) * q / (
            ((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4]) * r + 1
        )
    fin = np.isfinite(out)
    if fin.any():
        x = out[fin]
        u = (_norm_cdf(x) - p[fin]) * math.sqrt(2 * math.pi) * np.exp(0.5 * x * x)
        out[fin] = x - u / (1 + 0.5 * x * u)
    out[p == 0] = -np.inf
    out[p == 1] = np.inf
    return out


def fit_quantile_landmarks(df: DataFrame, cols: list[str], n_quantiles: int) -> dict[str, list[float]]:
    """One approxQuantile call for all columns (single pass over the data),
    its probabilities and landmarks moved across py4j as bytes."""
    res = bulk.approx_quantile(df, cols, np.linspace(0.0, 1.0, n_quantiles), 1e-4)
    return dict(zip(cols, res))


def make_quantile_transform_udf(landmarks: list[float], inverse: bool = False):
    """Build the Arrow-batched pandas UDF implementing the sklearn
    QuantileTransformer forward/backward map for one column."""
    from pyspark.sql.functions import pandas_udf

    q = np.asarray(landmarks, dtype="float64")
    refs = np.linspace(0.0, 1.0, len(landmarks))

    if not inverse:

        @pandas_udf("double")
        def _udf(s: pd.Series) -> pd.Series:
            x = s.to_numpy(dtype="float64", na_value=np.nan)
            isnan = np.isnan(x)
            # sklearn averages the forward and reversed interpolations to
            # handle repeated landmark values symmetrically.
            fwd = np.interp(x, q, refs)
            bwd = np.interp(-x, -q[::-1], -refs[::-1])
            p = 0.5 * (fwd - bwd)
            out = _norm_ppf(np.clip(p, BOUNDS_THRESHOLD, 1 - BOUNDS_THRESHOLD))
            out[isnan] = np.nan
            return pd.Series(out)

        return _udf

    # the forward map clips p to [BOUNDS_THRESHOLD, 1 - BOUNDS_THRESHOLD];
    # outputs at those bounds snap back to the end landmarks, as sklearn's
    # inverse does, instead of interpolating 1e-7 short of them
    z_lo, z_hi = _norm_ppf([BOUNDS_THRESHOLD, 1 - BOUNDS_THRESHOLD]) + [1e-12, -1e-12]

    @pandas_udf("double")
    def _inv_udf(s: pd.Series) -> pd.Series:
        x = s.to_numpy(dtype="float64", na_value=np.nan)
        isnan = np.isnan(x)
        out = np.interp(_norm_cdf(x), refs, q)
        out[x <= z_lo] = q[0]
        out[x >= z_hi] = q[-1]
        out[isnan] = np.nan
        return pd.Series(out)

    return _inv_udf


def fit_exact_percentiles(
    df: DataFrame, col: str, probs: list[float]
) -> dict[float, float]:
    """Exact interpolated percentiles in ONE aggregation job (SQL
    ``percentile`` — same linear-interpolation definition as DuckDB's
    ``quantile_cont``, so fitted bounds are engine-portable bit-for-bit).

    Scale note: exact percentile shuffles the column's values per group
    (here: one global group). At 100 TB swap in ``approxQuantile`` /
    ``percentile_approx`` (the preprocessor's kbins path already does);
    exact mode exists for oracle-parity fitting."""
    arr = ", ".join(repr(float(p)) for p in probs)
    row = df.agg(F.expr(f"percentile({col}, array({arr}))").alias("q")).collect()[0]["q"]
    return {p: float(v) for p, v in zip(probs, row)}


def winsorize_expr(col: Column, lo_val: float, hi_val: float) -> Column:
    """Clamp into the fitted [lo, hi] percentile bounds (outlier capping)."""
    return F.least(F.greatest(col, F.lit(lo_val)), F.lit(hi_val))


def robust_scale_expr(col: Column, median: float, iqr: float) -> Column:
    """(x − median) / IQR — the sklearn RobustScaler formula; degenerate
    IQR=0 falls back to an unscaled centered value."""
    if iqr == 0:
        return col - F.lit(median)
    return (col - F.lit(median)) / F.lit(iqr)
