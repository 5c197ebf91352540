"""Distributed descriptive statistics: correlation / covariance matrices
in ONE aggregation pass.

``df.stat.corr`` computes one pair per job; a p-column matrix that way is
p·(p−1)/2 scans. Here every pairwise Pearson r and sample covariance comes
from a single groupBy-free aggregate of exact power sums — count, Σx, Σx²
per column and Σxy per pair — so the 100 TB table is read ONCE regardless
of p, and partial aggregation (map-side combine) keeps the shuffle at one
row of p·(p+3)/2 numbers.

Determinism: all sums are exact DECIMAL accumulations (order-independent
under Spark's partial aggregation), and the final r / cov arithmetic is a
fixed sequence of IEEE double ops — so results are bit-identical to any
engine that aggregates the same decimals, which is what the DuckDB oracle
asserts. (A double-sum formulation would be partial-order dependent and
flap the correctness hash.)

The p² output is driver-small for any sane p (p ≤ a few hundred); the
operator guards against p where the sums row itself would be a problem.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MAX_COLS = 512


def _dec(c, scale=4):
    # 18,4 keeps the x·y product at DECIMAL(37,8) — inside the 38-digit cap
    # in BOTH Spark and DuckDB, so every sum stays exact (a wider input type
    # would force Spark's precision-loss truncation and break bit parity)
    return F.col(c).cast(f"decimal(18,{scale})")


_SHIFT = 30  # hi/lo split base 2^30 for the bigint engine
_MASK = (1 << _SHIFT) - 1


def _corr_matrix_bigint(df: DataFrame, cols: list[str]) -> DataFrame:
    """Exact scaled-integer engine: values quantize to x·10⁴ in int64, all
    power sums are plain BIGINT aggregates (whole-stage codegen — measured
    ~6× faster than DECIMAL sums), and each x·y product splits into
    (p >> 30, p & mask) halves so its sum is exact in two int64 columns.

    Soundness: int64 wraps silently, so the SAME pass also aggregates
    count / min / max(|x₄|), and every output row evaluates an
    ``assert_true`` overflow certificate — if the certificate cannot prove
    every per-row product and every running sum stayed inside int64 (or a
    null/negative value appears), the query FAILS LOUDLY instead of
    returning wrapped garbage. Capacity ≈ 9·10⁹ rows at price-like
    magnitudes; beyond that (or with nulls/negatives) use the DECIMAL
    engine, whose 38-digit accumulators are unbounded for any real table."""
    # materialize scaled values and products ONCE in a narrow projection:
    # aggregate expressions get no common-subexpression elimination, so
    # referencing x4 from ~10 aggs would re-run the decimal cast per use
    # quantizer: round(x·10⁴) in pure double math (codegen; a decimal cast
    # here measured ~10× the per-row cost). Exact whenever the true scaled
    # value is an integer below 2^52 and the stored double is not within
    # ~1e-12 of a .5·10⁻⁴ boundary — i.e. any real price/measure column.
    # Positive-domain certificate below also keeps ROUND identical across
    # engines (half-up == half-away for non-negatives).
    proj = [F.round(F.col(c).cast("double") * 10000).cast("long").alias(f"x_{c}") for c in cols]
    base = df.select(*proj)
    prods = base.select(
        "*",
        *[(F.col(f"x_{c}") * F.col(f"x_{c}")).alias(f"q_{c}") for c in sorted(cols)],
        *[
            (F.col(f"x_{a}") * F.col(f"x_{b}")).alias(f"p_{a}__{b}")
            for a, b in combinations(sorted(cols), 2)
        ],
    )
    aggs = [F.count(F.lit(1)).alias("cnt")]
    for c in sorted(cols):
        x = F.col(f"x_{c}")
        q = F.col(f"q_{c}")
        aggs += [
            F.count(x).alias(f"nn_{c}"),
            F.min(x).alias(f"mn_{c}"),
            F.max(F.abs(x)).alias(f"mx_{c}"),
            F.sum(x).alias(f"s_{c}"),
            F.sum(F.shiftright(q, _SHIFT)).alias(f"qh_{c}"),
            F.sum(q.bitwiseAND(F.lit(_MASK))).alias(f"ql_{c}"),
        ]
    for a, b in combinations(sorted(cols), 2):
        t = f"{a}__{b}"
        p = F.col(f"p_{t}")
        aggs += [
            F.sum(F.shiftright(p, _SHIFT)).alias(f"ph_{t}"),
            F.sum(p.bitwiseAND(F.lit(_MASK))).alias(f"pl_{t}"),
        ]
    sums = prods.agg(*aggs)

    lim = float(2**63 - 1)
    cert = F.lit(True)
    n_d = F.col("cnt").cast("double")
    for c in sorted(cols):
        mx = F.col(f"mx_{c}").cast("double")
        cert = (
            cert
            & (F.col(f"nn_{c}") == F.col("cnt"))  # no nulls
            & (F.col(f"mn_{c}") >= 0)  # non-negative domain
            & (n_d * mx < lim)  # Σx safe
        )
    for a, b in combinations(sorted(cols), 2):
        mab = F.col(f"mx_{a}").cast("double") * F.col(f"mx_{b}").cast("double")
        cert = (
            cert
            & (mab < lim)  # per-row product safe (covers squares via a=b bound below)
            & (n_d * (mab / float(1 << _SHIFT) + 1) < lim)  # Σhi safe
        )
    for c in sorted(cols):
        mx2 = F.col(f"mx_{c}").cast("double") * F.col(f"mx_{c}").cast("double")
        cert = cert & (mx2 < lim) & (n_d * (mx2 / float(1 << _SHIFT) + 1) < lim)
    cert = cert & (n_d * float(_MASK) < lim)  # Σlo safe
    checked = F.assert_true(
        cert, F.lit("corr_matrix bigint engine: overflow/null/negative certificate failed — use engine='decimal'")
    )

    def _recon(hi: str, lo: str):
        # exact int128-style reconstruction on the 1-row sums table, then ONE
        # correctly-rounded conversion to double (bit-equal across engines)
        return (
            (F.col(hi).cast("decimal(38,0)") * (1 << _SHIFT) + F.col(lo))
            .cast("decimal(38,0)")
            .cast("double")
        )

    pair_rows = []
    for a, b in combinations(sorted(cols), 2):
        t = f"{a}__{b}"
        sx = F.col(f"s_{a}").cast("double")
        sy = F.col(f"s_{b}").cast("double")
        sxx = _recon(f"qh_{a}", f"ql_{a}")
        syy = _recon(f"qh_{b}", f"ql_{b}")
        sxy = _recon(f"ph_{t}", f"pl_{t}")
        cov_n = sxy - sx * sy / n_d  # scaled by 1e8
        var_x = sxx - sx * sx / n_d
        var_y = syy - sy * sy / n_d
        pair_rows.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.when(checked.isNull(), F.col("cnt")).alias("n"),
                F.when(
                    (var_x > 0) & (var_y > 0),
                    cov_n / F.sqrt(var_x) / F.sqrt(var_y),  # 1e8 scale cancels
                )
                .otherwise(F.lit(None))
                .alias("corr"),
                F.when(n_d > 1, cov_n / (n_d - 1) / 1e8)
                .otherwise(F.lit(None))
                .alias("cov_samp"),
            )
        )
    return sums.select(F.explode(F.array(*pair_rows)).alias("p")).select("p.*")


def corr_matrix_grouped(
    df: DataFrame, cols: list[str], group_cols: list[str]
) -> DataFrame:
    """Per-group pairwise Pearson r + sample covariance: same exact-decimal
    power sums as :func:`corr_matrix` but under a ``groupBy`` — still ONE
    scan and one keyed shuffle for every pair × group. Output long-form:
    (*group_cols, col_a, col_b, n, corr, cov_samp)."""
    if not group_cols:
        raise ValueError("group_cols must name at least one column; use corr_matrix")
    if len(cols) < 2:
        raise ValueError("corr_matrix_grouped needs at least two columns")

    aggs = []
    for a, b in combinations(sorted(cols), 2):
        both = F.col(a).isNotNull() & F.col(b).isNotNull()
        xa = F.when(both, _dec(a)).otherwise(F.lit(None))
        xb = F.when(both, _dec(b)).otherwise(F.lit(None))
        tag = f"{a}__{b}"
        aggs += [
            F.count(F.when(both, F.lit(1))).alias(f"n_{tag}"),
            F.sum(xa).alias(f"sx_{tag}"),
            F.sum(xb).alias(f"sy_{tag}"),
            F.sum(xa * xa).alias(f"sxx_{tag}"),
            F.sum(xb * xb).alias(f"syy_{tag}"),
            F.sum(xa * xb).alias(f"sxy_{tag}"),
        ]
    sums = df.groupBy(*group_cols).agg(*aggs)

    pair_rows = []
    for a, b in combinations(sorted(cols), 2):
        tag = f"{a}__{b}"
        n = F.col(f"n_{tag}").cast("double")
        sx = F.col(f"sx_{tag}").cast("double")
        sy = F.col(f"sy_{tag}").cast("double")
        sxx = F.col(f"sxx_{tag}").cast("double")
        syy = F.col(f"syy_{tag}").cast("double")
        sxy = F.col(f"sxy_{tag}").cast("double")
        cov_n = sxy - sx * sy / n
        var_x = sxx - sx * sx / n
        var_y = syy - sy * sy / n
        pair_rows.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.col(f"n_{tag}").alias("n"),
                F.when((var_x > 0) & (var_y > 0), cov_n / F.sqrt(var_x) / F.sqrt(var_y))
                .otherwise(F.lit(None))
                .alias("corr"),
                F.when(n > 1, cov_n / (n - 1)).otherwise(F.lit(None)).alias("cov_samp"),
            )
        )
    return sums.select(
        *group_cols, F.explode(F.array(*pair_rows)).alias("p")
    ).select(*group_cols, "p.*")


def corr_matrix(
    df: DataFrame, cols: list[str], engine: str = "decimal"
) -> DataFrame:
    """Long-form (col_a, col_b, n, corr, cov_samp) for every unordered
    column pair, col_a < col_b lexicographically. Rows where ANY of the two
    columns is null are excluded per-pair (pairwise deletion), matching
    SQL's CORR/COVAR_SAMP null semantics.

    ``engine='bigint'`` switches to the certificate-checked scaled-integer
    path (see :func:`_corr_matrix_bigint`): ~6× faster sums, identical
    mathematics at a few-ulp double tolerance, refuses loudly on
    nulls/negatives or row counts its overflow certificate can't clear."""
    if len(cols) < 2:
        raise ValueError("corr_matrix needs at least two columns")
    if len(cols) > _MAX_COLS:
        raise ValueError(f"corr_matrix supports up to {_MAX_COLS} columns")
    if engine == "bigint":
        return _corr_matrix_bigint(df, cols)
    if engine != "decimal":
        raise ValueError(f"unknown engine {engine!r}; use 'decimal' or 'bigint'")

    aggs = []
    for a, b in combinations(sorted(cols), 2):
        both = F.col(a).isNotNull() & F.col(b).isNotNull()
        xa = F.when(both, _dec(a)).otherwise(F.lit(None))
        xb = F.when(both, _dec(b)).otherwise(F.lit(None))
        tag = f"{a}__{b}"
        aggs += [
            F.count(F.when(both, F.lit(1))).alias(f"n_{tag}"),
            F.sum(xa).alias(f"sx_{tag}"),
            F.sum(xb).alias(f"sy_{tag}"),
            F.sum(xa * xa).alias(f"sxx_{tag}"),
            F.sum(xb * xb).alias(f"syy_{tag}"),
            F.sum(xa * xb).alias(f"sxy_{tag}"),
        ]
    sums = df.agg(*aggs)

    pair_rows = []
    for a, b in combinations(sorted(cols), 2):
        tag = f"{a}__{b}"
        n = F.col(f"n_{tag}").cast("double")
        sx = F.col(f"sx_{tag}").cast("double")
        sy = F.col(f"sy_{tag}").cast("double")
        sxx = F.col(f"sxx_{tag}").cast("double")
        syy = F.col(f"syy_{tag}").cast("double")
        sxy = F.col(f"sxy_{tag}").cast("double")
        cov_n = sxy - sx * sy / n  # n·cov_pop
        var_x = sxx - sx * sx / n
        var_y = syy - sy * sy / n
        pair_rows.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.col(f"n_{tag}").alias("n"),
                F.when(
                    (var_x > 0) & (var_y > 0),
                    cov_n / F.sqrt(var_x) / F.sqrt(var_y),
                )
                .otherwise(F.lit(None))
                .alias("corr"),
                F.when(n > 1, cov_n / (n - 1)).otherwise(F.lit(None)).alias("cov_samp"),
            )
        )
    return sums.select(F.explode(F.array(*pair_rows)).alias("p")).select("p.*")


_NUMERIC_PREFIXES = ("int", "bigint", "smallint", "tinyint", "double", "float", "decimal")


def profile_table(
    df: DataFrame, cols: list[str] | None = None, exact_distinct: bool = True
) -> DataFrame:
    """One-pass per-column profile: (column, n_rows, n_nulls, n_distinct,
    min_value, max_value, mean) — the describe/summarize surface, computed
    as a SINGLE aggregate so the table is scanned once however many columns
    are profiled.

    ``exact_distinct=True`` uses COUNT(DISTINCT) — Spark plans the
    multi-distinct aggregate with an Expand (input replicated once per
    distinct column), which is exact and oracle-matched but multiplies map
    work by |cols|. At 100 TB pass ``exact_distinct=False`` for
    ``approx_count_distinct`` (HLL, one pass, ~2% error) — the profile
    stays one scan with NO Expand.

    min/max are computed on the native type (so numeric/timestamp ordering
    is correct) and cast to string for the uniform long-form output; mean
    is exact-decimal sum / count for numeric columns, NULL otherwise."""
    cols = cols or df.columns
    aggs = [F.count(F.lit(1)).alias("__n")]
    types = dict(df.dtypes)
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"nn_{c}"))
        if exact_distinct:
            aggs.append(F.countDistinct(F.col(c)).alias(f"nd_{c}"))
        else:
            aggs.append(F.approx_count_distinct(F.col(c)).alias(f"nd_{c}"))
        aggs.append(F.min(F.col(c)).cast("string").alias(f"mn_{c}"))
        aggs.append(F.max(F.col(c)).cast("string").alias(f"mx_{c}"))
        if types[c].startswith(_NUMERIC_PREFIXES):
            aggs.append(
                F.sum(F.col(c).cast("decimal(28,6)")).alias(f"s_{c}")
            )
    sums = df.agg(*aggs)
    rows = []
    for c in cols:
        mean = (
            (F.col(f"s_{c}").cast("double") / F.col(f"nn_{c}"))
            if types[c].startswith(_NUMERIC_PREFIXES)
            else F.lit(None).cast("double")
        )
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").alias("n_rows"),
                (F.col("__n") - F.col(f"nn_{c}")).alias("n_nulls"),
                F.col(f"nd_{c}").alias("n_distinct"),
                F.col(f"mn_{c}").alias("min_value"),
                F.col(f"mx_{c}").alias("max_value"),
                mean.alias("mean"),
            )
        )
    return sums.select(F.explode(F.array(*rows)).alias("p")).select("p.*")


MAD_K = 1.4826  # consistency constant: MAD * 1.4826 estimates sigma


def mad_outlier_report(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    z_thresh: float = 3.5,
) -> DataFrame:
    """Per-group robust outlier report via the median/MAD rule (Iglewicz &
    Hoaglin's modified z-score): a row is anomalous when
    ``|x - median| > z_thresh * 1.4826 * MAD``.

    Median and MAD are EXACT interpolated percentiles (SQL ``percentile``
    — the same linear-interpolation definition as DuckDB ``quantile_cont``,
    the parity `prep_winsorize_robust` already relies on), each computed
    per group in ONE aggregation pass; the tiny per-group stat tables come
    back via broadcast joins, so the data table is scanned twice and
    shuffled zero times beyond the two keyed aggs. A degenerate group
    (MAD = 0) reports NULL z and zero outliers rather than dividing by
    zero. At 100 TB swap the exact percentile for ``percentile_approx``;
    exact mode is what makes the DuckDB oracle value-identical.

    Returns one row per group: group cols, ``n``, ``n_outliers``,
    ``median``, ``mad``, ``z_max``.
    """
    v = F.col(value_col)
    med = df.groupBy(*group_cols).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("__med")
    )
    with_med = df.join(F.broadcast(med), group_cols)
    absdev = F.abs(v - F.col("__med"))
    mad = with_med.groupBy(*group_cols).agg(
        F.expr(
            f"percentile(abs({value_col} - __med), 0.5)"
        ).alias("__mad")
    )
    scored = with_med.join(F.broadcast(mad), group_cols).select(
        *group_cols,
        F.col("__med"),
        F.col("__mad"),
        F.when(
            F.col("__mad") > 0.0,
            absdev / (F.lit(MAD_K) * F.col("__mad")),
        ).alias("__z"),
    )
    thresh = F.lit(float(z_thresh))
    return (
        scored.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("__z") > thresh, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_outliers"),
            F.min("__med").alias("median"),
            F.min("__mad").alias("mad"),
            F.max("__z").alias("z_max"),
        )
        .orderBy(*group_cols)
    )


def concordance_ccc(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Lin's concordance correlation coefficient (Lin 1989) — AGREEMENT
    between two measurements of the same thing, not just linear
    association: CCC = 1 only when y == x exactly (slope 1, intercept 0),
    so it is the reconciliation statistic (header totals vs detail sums,
    instrument A vs instrument B) where Pearson r would happily report 1
    for y = 2x + 5.

        CCC = 2·s_xy / (s_x² + s_y² + (x̄ − ȳ)²)     (1/n moments, per Lin)
        C_b = CCC / r                                 (bias-correction factor)

    ONE groupBy-free aggregation of exact DECIMAL power sums (the
    corr_matrix contract: values cast DECIMAL(18,4), products at (37,8)
    stay inside both engines' 38-digit cap); every output is a fixed
    IEEE expression over those exact sums — VALUE-oracle-able. Returns
    1 row: (n, mean_x, mean_y, pearson_r, ccc, c_b). Rows with either
    value null are dropped.
    """
    keep = F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    x, y = _dec(x_col), _dec(y_col)
    agg = df.where(keep).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n").cast("double")
    dd = lambda c: F.floor(c).cast("double") + (c - F.floor(c)).cast("double")
    sx, sy = dd(F.col("sx")), dd(F.col("sy"))
    sxx, syy, sxy = dd(F.col("sxx")), dd(F.col("syy")), dd(F.col("sxy"))
    mx, my = sx / n, sy / n
    vx = sxx / n - mx * mx  # 1/n variances per Lin's definition
    vy = syy / n - my * my
    cxy = sxy / n - mx * my
    r_den = F.sqrt(vx * vy)
    ccc_den = vx + vy + (mx - my) * (mx - my)
    r = cxy / r_den
    ccc = 2.0 * cxy / ccc_den
    return agg.select(
        F.col("n"),
        F.round(mx, 6).alias("mean_x"),
        F.round(my, 6).alias("mean_y"),
        F.round(F.when(r_den > 0, r), 6).alias("pearson_r"),
        F.round(F.when(ccc_den > 0, ccc), 6).alias("ccc"),
        F.round(
            F.when((r_den > 0) & (ccc_den > 0) & (r != 0), ccc / r), 6
        ).alias("c_b"),
    )


def partial_corr(
    df: DataFrame, x_col: str, y_col: str, z_col: str
) -> DataFrame:
    """First-order partial correlation r_xy·z — the x↔y association with
    the confounder z regressed out of BOTH sides (the screening question
    "is this correlation real or is z driving both?"):

        r_xy·z = (r_xy − r_xz·r_yz) / √((1 − r_xz²)(1 − r_yz²))

    ONE aggregation of exact DECIMAL power sums for all three columns and
    three cross products (the corr_matrix contract); each pairwise r and
    the partial are fixed IEEE expressions — VALUE-oracle-able. Returns
    1 row: (n, r_xy, r_xz, r_yz, r_xy_z). Rows with any null dropped.
    """
    keep = (
        F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
        & F.col(z_col).isNotNull()
    )
    x, y, z = _dec(x_col), _dec(y_col), _dec(z_col)
    agg = df.where(keep).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(z).alias("sz"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(z * z).alias("szz"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * z).alias("sxz"),
        F.sum(y * z).alias("syz"),
    )
    n = F.col("n").cast("double")
    dd = lambda c: F.floor(c).cast("double") + (c - F.floor(c)).cast("double")

    def corr(sab, sa, sb, saa, sbb):
        num = n * dd(F.col(sab)) - dd(F.col(sa)) * dd(F.col(sb))
        den = F.sqrt(
            (n * dd(F.col(saa)) - dd(F.col(sa)) * dd(F.col(sa)))
            * (n * dd(F.col(sbb)) - dd(F.col(sb)) * dd(F.col(sb)))
        )
        return F.when(den > 0, num / den)

    rxy = corr("sxy", "sx", "sy", "sxx", "syy")
    rxz = corr("sxz", "sx", "sz", "sxx", "szz")
    ryz = corr("syz", "sy", "sz", "syy", "szz")
    pden = F.sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))
    return agg.select(
        F.col("n"),
        F.round(rxy, 6).alias("r_xy"),
        F.round(rxz, 6).alias("r_xz"),
        F.round(ryz, 6).alias("r_yz"),
        F.round(
            F.when(pden > 0, (rxy - rxz * ryz) / pden), 6
        ).alias("r_xy_z"),
    )
