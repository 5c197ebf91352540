"""Deterministic sampling and domain mixing for training-data pipelines.

Random sampling (``df.sample``) is the wrong tool at 100 TB: it is not
reproducible across runs/engines, not stable under repartitioning, and
not joinable (you cannot later ask "was this row in the sample?").
Everything here is **content-addressed** instead, reusing the md5 bucket
space from :mod:`preprocessor_spark.operators.splits` — a row's fate is a
pure function of (key, salt), computed row-local inside whole-stage
codegen with zero shuffle and an exact DuckDB twin.

Domain mixing (``temperature_mix``) is the standard LLM-corpus recipe
(cf. multilingual sampling in public LM papers): domain d with n_d docs
gets weight n_d^alpha / sum(n^alpha); alpha=1 keeps natural proportions,
alpha=0 makes domains uniform, 0<alpha<1 up-samples the tail. The output
is a tiny per-domain plan (one groupBy over the corpus); applying it is
``stratified_hash_sample`` with the planned per-domain fractions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from preprocessor_spark.operators.splits import BUCKETS, split_bucket_expr


def _check_fraction(f: float) -> None:
    if not 0.0 <= f <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {f}")


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling (``df.sampleBy`` without the
    randomness): each stratum keeps its own fraction of the shared bucket
    space. Strata absent from ``fractions`` keep ``default_fraction``.
    Still a pure projection+filter — the fraction map rides along as a
    CASE expression, so no join and no shuffle."""
    for f in fractions.values():
        _check_fraction(f)
    _check_fraction(default_fraction)
    bucket = split_bucket_expr(F.col(key_col), salt)
    thr: Column = F.lit(int(round(default_fraction * BUCKETS)))
    for stratum, frac in fractions.items():
        thr = (
            F.when(F.col(strata_col) == stratum, F.lit(int(round(frac * BUCKETS)))).otherwise(thr)
        )
    return df.filter(bucket < thr)


def weighted_hash_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    salt: str = "",
) -> DataFrame:
    """Per-row Bernoulli thinning with acceptance probability = the row's
    ``weight_col`` clamped to [0, 1] — the quality-weighted sampling step of
    LLM-corpus recipes (keep high-quality docs with probability ∝ score).

    Content-addressed like every sampler here: acceptance is
    ``bucket(key, salt) < weight · 10000``, so the decision is reproducible
    across runs/engines/appends and joinable after the fact. Pure row-local
    projection+filter — zero shuffle, whole-stage codegen. NULL weights
    drop the row (no acceptance evidence)."""
    bucket = split_bucket_expr(F.col(key_col), salt)
    w = F.least(F.greatest(F.col(weight_col).cast("double"), F.lit(0.0)), F.lit(1.0))
    return df.filter(bucket.cast("double") < w * F.lit(float(BUCKETS)))


def stratified_topk_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    k: int,
    salt: str = "",
) -> DataFrame:
    """EXACTLY min(k, |stratum|) rows per stratum, deterministically: order
    each stratum by the salted md5 of the key (a stable pseudo-random
    permutation) and keep the first ``k``.

    One keyed shuffle (window on the stratum); no stratum-size pre-pass, no
    driver collect, reproducible across runs/engines/partitionings. The
    hash ordering makes the selection unbiased w.r.t. any data ordering.
    Skew note: a mega-stratum costs one partition's sort of its own rows —
    the per-stratum output is capped at k, so downstream is always bounded."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt))), F.col(key_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def temperature_mix(
    df: DataFrame,
    domain_col: str,
    alpha: float = 0.7,
    target_rows: int | None = None,
) -> DataFrame:
    """Temperature-based domain mixture plan.

    Returns one row per domain: ``n_docs``, natural share ``p``, tempered
    weight ``w = n^alpha / sum(n^alpha)``, and — when ``target_rows`` is
    given — the per-domain ``sample_fraction`` that realizes the mixture
    (capped at 1.0: a domain cannot be up-sampled past its size without
    repetition, which is the caller's policy decision).

    One groupBy over the corpus; the weight normalization is a window over
    the (tiny, one-row-per-domain) aggregate, so the second exchange moves
    only |domains| rows. Scale shape: a single keyed shuffle.
    """
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    counts = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tempered = F.pow(F.col("n_docs").cast("double"), F.lit(float(alpha)))
    # Normalizers via a 1-row aggregate + broadcast, NOT an empty-partition
    # window (which would funnel the per-domain frame through one task).
    totals = counts.agg(
        F.sum("n_docs").alias("__tot_n"), F.sum(tempered).alias("__tot_w")
    )
    out = counts.crossJoin(F.broadcast(totals)).select(
        "domain",
        "n_docs",
        (F.col("n_docs") / F.col("__tot_n")).alias("p_natural"),
        (tempered / F.col("__tot_w")).alias("weight"),
    )
    if target_rows is not None:
        out = out.withColumn(
            "sample_fraction",
            F.least(F.lit(float(target_rows)) * F.col("weight") / F.col("n_docs"), F.lit(1.0)),
        )
    return out


def apply_temperature_mix(
    df: DataFrame,
    key_col: str,
    domain_col: str,
    alpha: float,
    target_rows: int,
    salt: str = "",
) -> DataFrame:
    """Plan + apply in one call: compute the mixture (tiny collect — one
    row per domain, the same bound any broadcast dim needs) and realize it
    with a deterministic stratified sample."""
    plan = temperature_mix(df, domain_col, alpha, target_rows).collect()
    fractions = {r["domain"]: float(r["sample_fraction"]) for r in plan}
    return stratified_hash_sample(df, key_col, domain_col, fractions, salt=salt)


def ring_negatives(df: DataFrame, id_col: str, k: int = 3) -> DataFrame:
    """Contrastive-training negative sampling: k deterministic pseudo-random
    negatives per anchor, with NO cross join and NO per-anchor RNG state.

    Rows are ranked on ``md5(id)`` into a ring — hash order is a fixed,
    uniform pseudo-permutation of the corpus — and each anchor's negatives
    are its next ``k`` ring neighbors (wrapping). Every row appears exactly
    k times as an anchor partner and k times as a negative, so the sample
    is balanced by construction; determinism makes the pairing reproducible
    across engines (DuckDB oracle: same row_number over md5 order) and
    across reruns for training-data lineage.

    Scale shape: one scale-safe global ranking (assign_row_ids — range
    exchange, no Exchange SinglePartition), a k-way explode of the
    2-column (rank, id) projection, and ONE equi-join on the dense rank
    key (uniform by construction — no skew). The text/embedding payload is
    never replicated; join back on id afterwards if needed.

    Cluster-exclusion (don't pair near-dups) composes downstream: anti-join
    the emitted pairs against a dup-pair table (operators/graph.py) —
    cheaper than baking exclusion into generation.
    """
    from preprocessor_spark.operators.ids import assign_row_ids

    if k < 1:
        raise ValueError("k must be >= 1")
    hashed = df.select(
        F.col(id_col), F.md5(F.col(id_col).cast("string")).alias("__h")
    )
    ranked = assign_row_ids(hashed, ["__h", id_col], id_col="__rid").select(
        id_col, "__rid"
    )
    n = ranked.count()  # scalar; the ranked frame is persisted by assign_row_ids
    if n <= k:
        raise ValueError(f"need more than k={k} rows, got {n}")
    anchors = ranked.select(
        F.col(id_col).alias("anchor_id"),
        F.explode(F.array(*[F.lit(i) for i in range(1, k + 1)])).alias("offset"),
        F.col("__rid"),
    ).withColumn("__nrid", (F.col("__rid") + F.col("offset")) % F.lit(n))
    negs = ranked.select(F.col(id_col).alias("negative_id"), F.col("__rid").alias("__nrid"))
    return anchors.join(negs, on="__nrid").select("anchor_id", "offset", "negative_id")


def token_budget_mix(
    df: DataFrame,
    domain_col: str,
    token_count_col: Column | str,
    alpha: float,
    target_tokens: int,
) -> DataFrame:
    """Temperature mixture planned over TOKEN mass, not document count.

    Training budgets are token budgets: two domains with equal doc counts
    but 10× different document lengths should not get equal shares. Same
    shape as :func:`temperature_mix` (one groupBy + broadcast normalizer),
    but the tempered weight is ``tokens_d^alpha / Σ tokens^alpha`` and the
    realized per-domain ``sample_fraction`` targets
    ``target_tokens * weight`` tokens, assuming uniform sampling within a
    domain (fraction of docs ≈ fraction of tokens). Apply with
    ``stratified_hash_sample`` exactly like the row-count planner.
    """
    tok = F.col(token_count_col) if isinstance(token_count_col, str) else token_count_col
    counts = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.sum(tok).alias("n_tokens"), F.count(F.lit(1)).alias("n_docs")
    )
    tempered = F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))
    totals = counts.agg(
        F.sum("n_tokens").alias("__tot_t"), F.sum(tempered).alias("__tot_w")
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        "domain",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens") / F.col("__tot_t")).alias("token_share"),
        (tempered / F.col("__tot_w")).alias("weight"),
        F.least(
            F.lit(float(target_tokens)) * (tempered / F.col("__tot_w")) / F.col("n_tokens"),
            F.lit(1.0),
        ).alias("sample_fraction"),
    )
