"""Deduplication operators for large-scale training-data pipelines.

No counterpart in the reference (its surface stops at tabular preprocessing);
these are Spark-first designs per the project north star:

- minhash_lsh_pairs    — shingle → minhash signature → banded LSH buckets →
                         candidate pairs (+ optional exact-Jaccard verify).
                         Signatures come from one Arrow-batched numpy
                         kernel; banding and verification are JVM joins.
- ngram_jaccard_pairs  — exact n-gram Jaccard via inverted shingle index
                         (explode → self-join on shingle → count agg).
- simhash              — 64-bit simhash via an Arrow-batched pandas UDF
                         (per-bit majority vote needs 64 accumulators — a
                         vectorized numpy kernel beats a 64-expression agg).
- embedding_neardup_pairs — cosine near-duplicate pairs over an embedding
                         column; random-hyperplane LSH buckets at scale.

Scale notes (100 TB): every operator shuffles once on a bounded-cardinality
key (hash / band bucket / shingle). The shingle inverted index drops
ultra-frequent shingles (stop-shingles) to bound bucket skew, and LSH bucket
sizes are capped before the pairwise step so a degenerate bucket cannot
produce a quadratic explosion.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from preprocessor_spark.caching import register_persisted

# Mersenne prime for the minhash universal-hash family. 2^31−1 keeps
# h*a + b < 2^62, safe under ANSI long arithmetic (no overflow).
_MERSENNE = (1 << 31) - 1


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Duplicate-group summary keyed by content hash: (keep_id, n_dupes)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dupes"))
        .select("keep_id", "n_dupes")
    )


def minhash_signature_udf(num_hashes: int, shingle_n: int, seed: int = 42):
    """Arrow-batched pandas UDF computing the minhash signature with
    vectorized numpy: per doc, blake2b-hash each word-n-gram shingle, then
    one (S×num_hashes) modmul + column-min. Spark's higher-order array
    functions evaluate interpreted with no common-subexpression elimination,
    measured ~20× slower than this Arrow/numpy kernel at equal output.
    """
    import hashlib

    from pyspark.sql.functions import pandas_udf

    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_hashes, dtype=np.int64)[None, :]
    b = rng.randint(0, _MERSENNE, size=num_hashes, dtype=np.int64)[None, :]

    def _sig(text: str):
        if text is None:
            return [int(_MERSENNE)] * num_hashes
        toks = text.lower().split()
        if len(toks) <= shingle_n:
            grams = {" ".join(toks)}
        else:
            grams = {" ".join(toks[i : i + shingle_n]) for i in range(len(toks) - shingle_n + 1)}
        hs = np.fromiter(
            (
                int.from_bytes(hashlib.blake2b(g.encode(), digest_size=4).digest(), "big")
                % _MERSENNE
                for g in grams
            ),
            dtype=np.int64,
            count=len(grams),
        )[:, None]
        return ((hs * a + b) % _MERSENNE).min(axis=0).tolist()

    @pandas_udf("array<bigint>")
    def _udf(s: pd.Series) -> pd.Series:
        return s.map(_sig)

    return _udf


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 5,
    threshold: float | None = 0.8,
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    rows/band r = num_hashes//bands; bucket key = hash(band slice). Pairs
    sharing ≥1 bucket are candidates; when ``threshold`` is set they are
    verified with the estimated Jaccard (fraction of equal signature
    components). Buckets above ``max_bucket`` ids are dropped (skew guard —
    a 10^6-doc bucket would mean 10^12 pairs).

    Returns (id_a, id_b, est_jaccard) with id_a < id_b.
    """
    r = num_hashes // bands
    sig = minhash_signature_udf(num_hashes, shingle_n)(F.col(text_col))
    # referenced by the band explode AND both verification joins — persist so
    # the signature kernel runs once per row, not three times; lifetime is
    # caller-managed via persist_scope (see preprocessor_spark.caching)
    with_sig = register_persisted(
        df.select(F.col(id_col).alias("__id"), sig.alias("__sig")).persist()
    )

    band_entries = with_sig.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.hash(F.slice(F.col("__sig"), i * r + 1, r).cast("array<string>")).alias("bkey"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("b"),
    ).select("__id", "b.band", "b.bkey")

    # skew guard: drop degenerate buckets before the pairwise self-join —
    # a 10^6-member bucket would otherwise emit 10^12 candidate pairs
    sizes = band_entries.groupBy("band", "bkey").agg(F.count(F.lit(1)).alias("__bn"))
    band_entries = band_entries.join(
        sizes.filter((F.col("__bn") > 1) & (F.col("__bn") <= max_bucket)).select("band", "bkey"),
        ["band", "bkey"],
    )
    # candidate pairs are id-only (light rows through the shuffle); dedupe
    # BEFORE re-attaching the 64-long signatures for verification
    a, b = band_entries.alias("a"), band_entries.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sig_a = with_sig.select(F.col("__id").alias("id_a"), F.col("__sig").alias("sig_a"))
    sig_b = with_sig.select(F.col("__id").alias("id_b"), F.col("__sig").alias("sig_b"))
    pairs = cand.join(sig_a, "id_a").join(sig_b, "id_b")
    est = (
        F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0))),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / F.lit(num_hashes)
    )
    out = pairs.withColumn("est_jaccard", est).select("id_a", "id_b", "est_jaccard")
    if threshold is not None:
        out = out.filter(F.col("est_jaccard") >= threshold)
    return out


def _window_gram_hashes_expr(text_col, window_tokens: int):
    """Distinct 60-bit md5 hashes of every ``window_tokens``-token sliding
    window — engine-portable (DuckDB computes the identical value), all
    JVM-side: split → sequence → concat_ws → md5 → conv(hex→dec)."""
    toks = F.filter(F.split(F.lower(text_col), r"\s+"), lambda t: t != "")
    k = F.size(toks) - F.lit(window_tokens - 1)
    idx = F.when(k > 0, F.sequence(F.lit(1), k)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, window_tokens)))
    # 60 bits of md5 → fits signed BIGINT on both engines
    return F.array_distinct(
        F.transform(
            grams, lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("bigint")
        )
    )


def substring_dup_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window_tokens: int = 50,
    max_bucket: int = 1000,
) -> DataFrame:
    """Exact cross-document substring duplication (the fixed-window form of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): for each doc, how many of its ``window_tokens``-token sliding
    windows appear verbatim in ANY other document.

    Inverted-index shape: explode per-doc distinct window hashes, count
    docs per hash, mark hashes seen in >=2 docs, count marked hashes per
    doc. Two keyed shuffles over (hash, id) pairs — never a pairwise join;
    ``max_bucket`` drops degenerate boilerplate hashes (a window shared by
    10^5 docs is boilerplate, not a dedup signal — same guard as LSH).

    Returns (id, n_windows, n_dup_windows, dup_window_frac)."""
    grams = df.select(
        F.col(id_col).alias("__id"),
        F.explode(_window_gram_hashes_expr(F.col(text_col), window_tokens)).alias("gh"),
    )
    grams = register_persisted(grams.persist())
    counts = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("__n"))
    dup_hashes = counts.filter((F.col("__n") >= 2) & (F.col("__n") <= max_bucket)).select("gh")
    per_doc = grams.groupBy("__id").agg(F.count(F.lit(1)).alias("n_windows"))
    dup_per_doc = (
        grams.join(dup_hashes, "gh")
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("n_dup_windows"))
    )
    return (
        per_doc.join(dup_per_doc, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.round(
                F.coalesce("n_dup_windows", F.lit(0)) / F.col("n_windows").cast("double"), 6
            ).alias("dup_window_frac"),
        )
    )


def substring_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window_tokens: int = 50,
    max_bucket: int = 1000,
) -> DataFrame:
    """(id_a, id_b, n_shared_windows) for docs sharing verbatim
    ``window_tokens``-token windows; equi-join on the window hash with the
    same ``max_bucket`` boilerplate guard as ``substring_dup_stats``."""
    grams = df.select(
        F.col(id_col).alias("__id"),
        F.explode(_window_gram_hashes_expr(F.col(text_col), window_tokens)).alias("gh"),
    )
    grams = register_persisted(grams.persist())
    sizes = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("__n"))
    keep = sizes.filter((F.col("__n") >= 2) & (F.col("__n") <= max_bucket)).select("gh")
    g = grams.join(keep, "gh")
    a, b = g.alias("a"), g.alias("b")
    return (
        a.join(b, (F.col("a.gh") == F.col("b.gh")) & (F.col("a.__id") < F.col("b.__id")))
        .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_windows"))
    )


def evaluate_pair_quality(
    candidates: DataFrame,
    truth: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> dict:
    """Precision / recall / F1 of a candidate pair set against a ground
    truth pair set (both (id_a, id_b) with id_a < id_b) — the tuning loop
    for LSH parameters (bands/rows/threshold) against exact Jaccard on a
    sample. Three tiny keyed aggregates; intended for bounded samples."""
    c = candidates.select(id_a, id_b).distinct()
    t = truth.select(id_a, id_b).distinct()
    n_c = c.count()
    n_t = t.count()
    n_hit = c.join(t, [id_a, id_b], "left_semi").count()
    precision = n_hit / n_c if n_c else 1.0
    recall = n_hit / n_t if n_t else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "n_candidates": n_c,
        "n_truth": n_t,
        "n_hit": n_hit,
        "precision": precision,
        "recall": recall,
        "f1": f1,
    }


def minhash_dedup_corpus(
    df: DataFrame,
    text_col: str,
    id_col: str,
    collapse_exact: bool = True,
    **lsh_kwargs,
) -> DataFrame:
    """End-to-end near-duplicate removal: MinHash-LSH candidate pairs →
    connected components (transitive closure) → keep the cluster-min
    representative; singletons always survive.

    The complete "dedup the corpus" user story in one call — every stage is
    a keyed shuffle (band equi-join, CC label propagation, left-anti keep),
    so the composition scales exactly as its parts do.

    ``collapse_exact`` (the pattern proven on PPJoin/SemDeDup/fuzzy_join):
    verbatim copies share the exact signature, so a d-way-duplicated corpus
    makes every LSH bucket d× fatter and the candidate join quadratic in d.
    Instead: hash-group by content, run LSH on one representative per
    group, and connect each member to its representative with an explicit
    exact-dup edge (members ARE Jaccard-1 near-dups of their rep, so the
    clusters — and therefore the kept set — are identical; additionally a
    group larger than ``max_bucket`` survives collapse intact where the
    uncollapsed run's skew guard would have dropped its buckets). The
    thin-duplication probe (one hash-only agg) bypasses the collapse when
    ≥98% of texts are distinct, keeping duplicate-free corpora on the
    direct plan."""
    from preprocessor_spark.operators.graph import dedup_keep_canonical

    if collapse_exact:
        m = register_persisted(
            df.filter(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("__mid"), F.md5(F.col(text_col)).alias("__g"))
            .persist()
        )
        stats = m.agg(
            F.count(F.lit(1)).alias("n"), F.count_distinct("__g").alias("g")
        ).first()
        if stats["g"] >= 0.98 * stats["n"]:
            m.unpersist()
            return minhash_dedup_corpus(
                df, text_col, id_col, collapse_exact=False, **lsh_kwargs
            )
        reps = m.groupBy("__g").agg(F.min("__mid").alias("__rid"))
        rep_rows = df.join(
            reps.select(F.col("__rid").alias(id_col)), id_col, "left_semi"
        )
        rep_pairs = minhash_lsh_pairs(rep_rows, text_col, id_col, **lsh_kwargs)
        exact_edges = (
            m.join(reps, "__g")
            .where(F.col("__mid") != F.col("__rid"))
            .select(F.col("__rid").alias("id_a"), F.col("__mid").alias("id_b"))
        )
        edges = rep_pairs.select("id_a", "id_b").unionByName(exact_edges)
        return dedup_keep_canonical(df, edges, id_col)

    pairs = minhash_lsh_pairs(df, text_col, id_col, **lsh_kwargs)
    return dedup_keep_canonical(df, pairs, id_col)


def hashed_shingles_udf(shingle_n: int = 5):
    """Shingle → sorted distinct int64 hash array (blake2b/8B), Arrow-batched.

    Tokenization: regex ``\\s+`` split on lowercased text, full n-grams,
    plus the whole text when shorter. Hashing shrinks everything
    downstream: the inverted index shuffles int64s instead of strings, the
    cached arrays are fixed-width, and verification is a vectorized
    sorted-array intersection. Jaccard over hashes equals Jaccard
    over shingles up to 64-bit collisions (P < 1e-11 at 10^6 distinct
    shingles per doc-pair universe).
    """
    import hashlib
    import re

    from pyspark.sql.functions import pandas_udf

    ws = re.compile(r"\s+")

    def _grams(text: str):
        if text is None:
            return None
        toks = ws.split(text.lower())
        k = max(len(toks) - shingle_n + 1, 1)
        hs = {
            int.from_bytes(
                hashlib.blake2b(" ".join(toks[i : i + shingle_n]).encode(), digest_size=8).digest(),
                "big",
                signed=True,
            )
            for i in range(k)
        }
        return sorted(hs)

    @pandas_udf("array<bigint>")
    def _udf(s: pd.Series) -> pd.Series:
        return s.map(_grams)

    return _udf


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.8,
    collapse_exact: bool = True,
    candidate_predicate=None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs via a PREFIX-FILTERED inverted
    shingle index (AllPairs/PPJoin), with EXACT-DUPLICATE COLLAPSE first.

    ``candidate_predicate`` (optional ``(id_a_col, id_b_col) → Column``)
    prunes candidate pairs BEFORE the verification join — e.g. the fuzzy
    cross-table join's parity filter, which would otherwise pay to verify
    same-side pairs it immediately discards. With ``collapse_exact`` the
    predicate applies to the final expanded ids (representative-level
    pruning would be unsound when a hash group mixes predicate classes),
    so pass ``collapse_exact=False`` to get candidate-stage pruning when
    the input is known exact-duplicate-free.

    ``collapse_exact`` (default): verbatim-identical texts group on a
    content hash; the similarity join runs on one representative per group
    and results expand back through two keyed joins (within-group pairs are
    Jaccard 1.0 by identity, cross-group pairs inherit the representative
    pair's value — bit-identical output to the uncollapsed run). Real
    corpora are heavily exact-duplicated, and PPJoin candidate count grows
    ~quadratically in the duplication factor — measured 78 s → 3.5 s at
    derived-sf1 (a 100% 10-way-duplicated corpus) for the cost of one
    extra hash groupBy on everything else.

    Key property: two distinct-shingle sets with Jaccard ≥ t, both ordered by
    the same global total order, MUST share a shingle inside their prefixes
    of length |d| − ⌈t·|d|⌉ + 1 — so indexing only that prefix is exact (zero
    false negatives) while shrinking the candidate self-join dramatically.
    Ordering by ascending global frequency puts the RAREST shingles in the
    prefix, which is what collapses the candidate count (the frequent
    shingles that would join everything-to-everything never enter the index).

    Candidate pruning before verification: the PPJoin LENGTH filter —
    Jaccard ≥ t requires t·|A| ≤ |B| — applied inside the candidate join.
    Verification: one Arrow-batched numpy intersection over the sorted
    int64-hashed shingle arrays (see ``hashed_shingles_udf``). Measured ~4×
    over array_intersect on string arrays at sf0.1, on top of ~4× from
    prefix filtering vs the naive full-index join. Shuffles: frequency agg,
    per-doc prefix window, candidate join, verify join — all keyed, no cross
    product.
    """
    from pyspark.sql.functions import pandas_udf

    if collapse_exact:
        m = register_persisted(
            df.filter(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("__mid"), F.md5(F.col(text_col)).alias("__g"))
            .persist()
        )
        # thin-duplication bypass: when ≥98% of texts are distinct the
        # collapse buys nothing but still pays a semi join + 4 expansion
        # joins + a self-join (measured ~+45% on the sf0.1 documents table,
        # which has no exact dups). The probe is one hash-only agg over the
        # already-persisted id→hash frame; output is identical either way —
        # collapse is purely a cost optimization.
        stats = m.agg(
            F.count(F.lit(1)).alias("n"), F.count_distinct("__g").alias("g")
        ).first()
        if stats["g"] >= 0.98 * stats["n"]:
            m.unpersist()
            return ngram_jaccard_pairs(
                df, text_col, id_col, shingle_n, threshold,
                collapse_exact=False, candidate_predicate=candidate_predicate,
            )
        reps = m.groupBy("__g").agg(F.min("__mid").alias("__rid"))
        rep_rows = df.join(
            reps.select(F.col("__rid").alias(id_col)), id_col, "left_semi"
        ).select(id_col, text_col)
        rep_pairs = ngram_jaccard_pairs(
            rep_rows, text_col, id_col, shingle_n, threshold, collapse_exact=False,
            candidate_predicate=None,  # groups may mix predicate classes
        )
        ga = reps.select(F.col("__rid").alias("id_a"), F.col("__g").alias("__ga"))
        gb = reps.select(F.col("__rid").alias("id_b"), F.col("__g").alias("__gb"))
        ma = m.select(F.col("__mid").alias("__a"), F.col("__g").alias("__ga"))
        mb = m.select(F.col("__mid").alias("__b"), F.col("__g").alias("__gb"))
        cross = (
            rep_pairs.join(ga, "id_a")
            .join(gb, "id_b")
            .select("__ga", "__gb", "jaccard")
            .join(ma, "__ga")
            .join(mb, "__gb")
            .select(
                F.least("__a", "__b").alias("id_a"),
                F.greatest("__a", "__b").alias("id_b"),
                "jaccard",
            )
        )
        x, y = m.alias("x"), m.alias("y")
        within = x.join(
            y, (F.col("x.__g") == F.col("y.__g")) & (F.col("x.__mid") < F.col("y.__mid"))
        ).select(
            F.col("x.__mid").alias("id_a"),
            F.col("y.__mid").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
        out = within.unionByName(cross)
        if candidate_predicate is not None:
            out = out.filter(candidate_predicate(F.col("id_a"), F.col("id_b")))
        return out

    # persisted because the shingle arrays feed the index build AND both
    # verify joins; lifetime is caller-managed via persist_scope (falls back
    # to session-lifetime + LRU eviction when no scope is active)
    base = register_persisted(
        df.select(
            F.col(id_col).alias("__id"),
            hashed_shingles_udf(shingle_n)(F.col(text_col)).alias("__sh"),
        ).persist()
    )
    inv = base.select("__id", F.size("__sh").alias("__n"), F.explode("__sh").alias("shingle"))
    freq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    # global total order: (frequency asc, hash asc); prefix length
    # |d| − ceil(t·|d|) + 1
    w = Window.partitionBy("__id").orderBy(F.asc("df_"), F.asc("shingle"))
    # persisted: BOTH sides of the candidate self-join read this frame, and
    # unpersisted each side re-ran the whole freq-agg + join + window
    # subtree (two extra exchanges + a second window sort in the physical
    # plan — guide §2.4, share one computation instead of duplicating it)
    prefix = register_persisted(
        inv.join(freq, "shingle")
        .withColumn("__rank", F.row_number().over(w))
        # round before ceil: fl(t)·n can land a hair ABOVE an exact integer
        # product (e.g. 0.54·450 → 243.00000000000003), and an overshooting
        # ceil shortens the prefix by one — a silent false negative
        .filter(
            F.col("__rank")
            <= F.col("__n") - F.ceil(F.round(F.lit(threshold) * F.col("__n"), 9)) + 1
        )
        .select("__id", "__n", "shingle", "__rank")
        .persist()
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand_cond = (
        (F.col("a.shingle") == F.col("b.shingle"))
        & (F.col("a.__id") < F.col("b.__id"))
        # length filter: t·|A| ≤ |B| and t·|B| ≤ |A| (Jaccard ≥ t bound);
        # same FP-boundary guard as the prefix length
        & (F.col("b.__n") >= F.round(F.lit(threshold) * F.col("a.__n"), 9))
        & (F.col("a.__n") >= F.round(F.lit(threshold) * F.col("b.__n"), 9))
    )
    if candidate_predicate is not None:
        cand_cond = cand_cond & candidate_predicate(F.col("a.__id"), F.col("b.__id"))
    # PPJoin POSITIONAL filter (Xiao/Wang/Lin/Yu WWW'08 §3.2), exactness-
    # preserving: both prefixes are ordered by the SAME global total order
    # (df_ asc, shingle asc), so a pair's FIRST shared prefix shingle
    # attains min(rank_a) and min(rank_b) simultaneously, no shared shingle
    # precedes it on either side, and every other shared shingle — prefix
    # OR suffix — is strictly after both positions. Hence
    # overlap ≤ 1 + min(|A| − rank_a, |B| − rank_b); Jaccard ≥ t needs
    # overlap ≥ t·(|A|+|B|)/(1+t), so candidates failing the bound verify
    # below threshold with certainty — dropping them before the verify
    # join cannot change the output (candidates 444,617 → 206,083 at
    # sf0.1/t=0.4, verified row-equal). Same 1e-9 rounding guard as the
    # prefix length. The
    # groupBy replaces the old dropDuplicates — same keyed shuffle, now
    # also carrying the two min-rank ints.
    pair_stats = (
        a.join(b, cand_cond)
        .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .agg(
            F.min(F.col("a.__rank")).alias("__ra"),
            F.min(F.col("b.__rank")).alias("__rb"),
            F.first(F.col("a.__n")).alias("__na"),  # constant per id
            F.first(F.col("b.__n")).alias("__nb"),
        )
    )
    alpha = F.ceil(
        F.round(
            F.lit(threshold) * (F.col("__na") + F.col("__nb")) / F.lit(1.0 + threshold),
            9,
        )
    )
    cand = (
        pair_stats.filter(
            F.lit(1) + F.least(F.col("__na") - F.col("__ra"), F.col("__nb") - F.col("__rb"))
            >= alpha
        )
        .select("id_a", "id_b")
    )

    @pandas_udf("double")
    def _jaccard(sa: pd.Series, sb: pd.Series) -> pd.Series:
        # vectorized across the whole Arrow batch: arrays are distinct-
        # valued per row (hashed_shingles_udf emits sorted distinct), so a
        # (row, value) key occurring on BOTH sides is exactly one unit of
        # intersection — one lexsort + adjacent-equal scan per batch
        # instead of one intersect1d call per row. Counts are identical,
        # so the jaccard double is bit-identical.
        n = len(sa)
        if n == 0:
            return pd.Series(np.empty(0, dtype="float64"))
        na = np.fromiter((len(x) for x in sa), dtype="int64", count=n)
        nb = np.fromiter((len(x) for x in sb), dtype="int64", count=n)
        va = (
            np.concatenate([np.asarray(x, dtype="int64") for x in sa])
            if na.sum()
            else np.empty(0, dtype="int64")
        )
        vb = (
            np.concatenate([np.asarray(x, dtype="int64") for x in sb])
            if nb.sum()
            else np.empty(0, dtype="int64")
        )
        rows = np.concatenate([np.repeat(np.arange(n), na), np.repeat(np.arange(n), nb)])
        vals = np.concatenate([va, vb])
        order = np.lexsort((vals, rows))
        rs, vs = rows[order], vals[order]
        dup = (rs[1:] == rs[:-1]) & (vs[1:] == vs[:-1])
        inter = np.bincount(rs[1:][dup], minlength=n)
        return pd.Series(inter / (na + nb - inter))

    # non-deterministic marking (guide §4.4): the threshold filter below
    # otherwise pushes under the projection and the optimizer DUPLICATES
    # the UDF — the physical plan showed two ArrowEvalPython nodes, every
    # candidate pair paying the Arrow transfer + intersection twice. The
    # function is pure; the marking only stops the optimizer re-evaluating
    # it, so results are unchanged.
    _jaccard = _jaccard.asNondeterministic()

    sh_a = base.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
    sh_b = base.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard", _jaccard("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_udf(shingle_n: int = 2):
    """64-bit simhash over word n-grams as an Arrow-batched pandas UDF.

    Vectorized numpy kernel: per doc, hash shingles (blake2b 8-byte), unpack
    bits, majority vote per bit position.
    """
    import hashlib

    from pyspark.sql.functions import pandas_udf

    def _simhash_one(text: str) -> int:
        if text is None:
            return 0
        toks = text.lower().split()
        if len(toks) < shingle_n:
            grams = [" ".join(toks)] if toks else [""]
        else:
            grams = [" ".join(toks[i : i + shingle_n]) for i in range(len(toks) - shingle_n + 1)]
        hs = np.frombuffer(
            b"".join(hashlib.blake2b(g.encode(), digest_size=8).digest() for g in set(grams)),
            dtype=np.uint64,
        )
        bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(np.int32)
        votes = (2 * bits - 1).sum(axis=0)
        out = np.uint64(0)
        for i, v in enumerate(votes):
            if v > 0:
                out |= np.uint64(1) << np.uint64(i)
        return int(out.astype(np.int64))  # reinterpret as signed for BIGINT

    @pandas_udf("long")
    def _udf(s: pd.Series) -> pd.Series:
        return s.map(_simhash_one)

    return _udf


def simhash_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3, shingle_n: int = 2
) -> DataFrame:
    """Near-duplicate pairs by simhash Hamming distance ≤ ``max_hamming``.

    Scale path: block on 4 16-bit chunks of the simhash (pigeonhole — any
    pair within Hamming 3 shares at least one exact chunk), join within
    blocks, verify with bit_count.
    """
    sh = df.select(F.col(id_col).alias("__id"), simhash_udf(shingle_n)(F.col(text_col)).alias("__sh"))
    chunks = sh.select(
        "__id",
        "__sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftrightunsigned(F.col("__sh"), i * 16).bitwiseAND(F.lit(0xFFFF)).alias("ckey"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("__id", "__sh", "c.chunk", "c.ckey")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ckey") == F.col("b.ckey"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__sh").alias("sh_a"),
            F.col("b.__sh").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 7,
    brute_force: bool = False,
    collapse_exact: bool = True,
) -> DataFrame:
    """Cosine near-duplicate pairs over an array<float> embedding column.

    Scale path (default): BANDED random-hyperplane sign LSH. Each row gets
    n_planes sign bits split into ``bands`` bands; a pair is a candidate if
    ANY band matches exactly (equi-join on (band, band-bits)), then verified
    with the exact cosine. Banding is the recall dial: at cosine≥0.9 with
    16 planes / 4 bands, per-band collision ≈ 0.857⁴ ≈ 0.54 and overall
    recall ≈ 1−(1−0.54)⁴ ≈ 0.95 — versus 0.29 for a single 8-bit bucket.
    ``brute_force=True`` skips bucketing (exact, quadratic — small inputs).

    Normalization and all band keys come from ONE Arrow-batched pandas UDF
    (a B×d @ d×P matmul + sign-bit packing per batch) and pair verification
    is a batched dot-product UDF — measured ~8× faster than interpreted
    higher-order-function folds, which evaluate each of the n_planes
    aggregate subtrees per row with no CSE.

    ``collapse_exact`` (default): byte-identical vectors group on a content
    hash first; LSH banding + both verify joins run on one representative
    per distinct vector, and pairs expand back through keyed group joins
    (within-group pairs are cosine-1.0 by identity, and identical vectors
    share band keys, so rep-level candidates are EXACTLY the member-level
    candidates — the expansion is an equivalence, not an approximation).
    Replicated corpora otherwise square the candidate join: the output pair
    count is inherently quadratic in duplication (by contract), but with
    the collapse the JOIN work is quadratic only in distinct vectors.
    """
    if not brute_force:
        if n_planes < bands or n_planes % bands:
            # r = n_planes//bands of 0 would key every row to bucket 0 —
            # a silent quadratic cross product; fail fast instead
            raise ValueError(
                f"n_planes ({n_planes}) must be a positive multiple of bands ({bands})"
            )
    if collapse_exact and not brute_force:
        # same null-preserving content hash as semdedup.py:139 (to_json —
        # concat_ws would drop null elements and conflate groups)
        m = df.filter(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("__mid"),
            F.md5(F.to_json(F.struct(F.col(vec_col).alias("v")))).alias("__g"),
        )
        m = register_persisted(m.persist())
        # thin-duplication bypass (same probe as ngram_jaccard_pairs): when
        # ≥98% of vectors are distinct the collapse buys nothing but still
        # pays a semi join + 4 expansion joins + a self-join (measured ~6.5×
        # on the dup-free sf0.1 embeddings table). One hash-only agg over the
        # persisted id→hash frame; output is identical either way.
        stats = m.agg(
            F.count(F.lit(1)).alias("n"), F.count_distinct("__g").alias("g")
        ).first()
        if stats["g"] >= 0.98 * stats["n"]:
            m.unpersist()
            return embedding_neardup_pairs(
                df, vec_col, id_col, threshold, n_planes, bands, seed,
                brute_force=False, collapse_exact=False,
            )
        reps = m.groupBy("__g").agg(F.min("__mid").alias("__rid"))
        rep_rows = df.join(
            reps.select(F.col("__rid").alias(id_col)), id_col, "left_semi"
        ).select(id_col, vec_col)
        rep_pairs = embedding_neardup_pairs(
            rep_rows, vec_col, id_col, threshold, n_planes, bands, seed,
            brute_force=False, collapse_exact=False,
        )
        ga = reps.select(F.col("__rid").alias("id_a"), F.col("__g").alias("__ga"))
        gb = reps.select(F.col("__rid").alias("id_b"), F.col("__g").alias("__gb"))
        ma = m.select(F.col("__mid").alias("__a"), F.col("__g").alias("__ga"))
        mb = m.select(F.col("__mid").alias("__b"), F.col("__g").alias("__gb"))
        cross = (
            rep_pairs.join(ga, "id_a")
            .join(gb, "id_b")
            .select("__ga", "__gb", "cosine")
            .join(ma, "__ga")
            .join(mb, "__gb")
            .select(
                F.least("__a", "__b").alias("id_a"),
                F.greatest("__a", "__b").alias("id_b"),
                "cosine",
            )
        )
        # identical vectors collide in every band and verify at exactly 1.0
        x, y = m.alias("x"), m.alias("y")
        within = (
            x.join(
                y,
                (F.col("x.__g") == F.col("y.__g"))
                & (F.col("x.__mid") < F.col("y.__mid")),
            )
            .select(
                F.col("x.__mid").alias("id_a"),
                F.col("y.__mid").alias("id_b"),
                F.lit(1.0).alias("cosine"),
            )
            .filter(F.lit(threshold <= 1.0))
        )
        return within.unionByName(cross)
    return _embedding_neardup_numpy(
        df, vec_col, id_col, threshold, n_planes, bands, seed, brute_force
    )


def _pair_cosine_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        a = np.array(va.tolist(), dtype="float64")
        b = np.array(vb.tolist(), dtype="float64")
        return pd.Series(np.einsum("ij,ij->i", a, b))

    # pure function, marked non-deterministic so the threshold filter the
    # callers apply on the result does not duplicate the ArrowEvalPython
    # node (guide §4.4 — same fix as ngram's _jaccard)
    return _cos.asNondeterministic()


def _bruteforce_blocked_pairs(base: DataFrame, threshold: float, block_rows: int = 512) -> DataFrame:
    """Exact all-pairs cosine via BLOCKED GEMM: rows group into ~block_rows
    blocks (one keyed shuffle), the tiny block table theta-joins with itself
    (upper triangle), and each block-pair row runs ONE matmul that emits only
    the pairs clearing the threshold.

    Why: a pair-level formulation ships every (vec_a, vec_b) duplicate pair
    through Arrow — O(N² · d) transfer (2 GB for 2000×64 floats). Blocking
    sends each block to √P partners instead: O(N · √P · d), with the N²·d
    flops done as dense numpy GEMM inside the UDF. Exact pairwise stays
    inherently quadratic in COMPUTE (use the LSH path at corpus scale), but
    the transfer no longer is. ``base`` must carry ``__id`` and a normalized
    ``__v``."""
    n = base.count()
    n_blocks = max(1, min(128, -(-n // block_rows)))
    blocks = (
        base.withColumn("__bid", F.abs(F.xxhash64(F.col("__id"))) % n_blocks)
        .groupBy("__bid")
        .agg(
            F.collect_list("__id").alias("ids"),
            F.collect_list("__v").alias("vecs"),
        )
    )
    pairs = (
        blocks.alias("a")
        .join(F.broadcast(blocks.alias("b")), F.col("a.__bid") <= F.col("b.__bid"))
        .select(
            F.col("a.ids").alias("ids_a"),
            F.col("a.vecs").alias("vecs_a"),
            F.col("b.ids").alias("ids_b"),
            F.col("b.vecs").alias("vecs_b"),
            (F.col("a.__bid") == F.col("b.__bid")).alias("same_block"),
        )
    )

    def _gemm(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for ids_a, vecs_a, ids_b, vecs_b, same in zip(
                pdf["ids_a"], pdf["vecs_a"], pdf["ids_b"], pdf["vecs_b"], pdf["same_block"]
            ):
                ia = np.asarray(ids_a, dtype="int64")
                ib = np.asarray(ids_b, dtype="int64")
                sims = np.array(list(vecs_a), dtype="float64") @ np.array(
                    list(vecs_b), dtype="float64"
                ).T
                hit = sims >= threshold
                if same:
                    hit &= ia[:, None] < ib[None, :]  # upper triangle, no self
                else:
                    pass  # distinct blocks: keep id_a < id_b orientation below
                r, c = np.nonzero(hit)
                if len(r) == 0:
                    continue
                lo = np.minimum(ia[r], ib[c])
                hi = np.maximum(ia[r], ib[c])
                out_a.append(lo)
                out_b.append(hi)
                out_c.append(sims[r, c])
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "cosine": np.concatenate(out_c),
                    }
                )

    return pairs.mapInPandas(_gemm, "id_a bigint, id_b bigint, cosine double")


def _embedding_neardup_numpy(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    n_planes: int,
    bands: int,
    seed: int,
    brute_force: bool,
) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    dim = len(df.select(vec_col).first()[0])
    rng = np.random.RandomState(seed)
    pmat = rng.randn(n_planes, dim).T  # d×P
    r = n_planes // bands
    weights = (1 << np.arange(r, dtype=np.int64))[None, :]  # pack r sign bits per band

    @pandas_udf("struct<v:array<double>, keys:array<bigint>>")
    def _prep(vecs: pd.Series) -> pd.DataFrame:
        m = np.array(vecs.tolist(), dtype="float64")  # B×d
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        m = m / norms
        signs = ((m @ pmat) >= 0).astype(np.int64)  # B×P
        keys = [
            (signs[:, bi * r : (bi + 1) * r] * weights).sum(axis=1) for bi in range(bands)
        ]  # bands × B
        kmat = np.stack(keys, axis=1)  # B×bands
        return pd.DataFrame({"v": list(m), "keys": list(kmat)})

    base = df.select(F.col(id_col).alias("__id"), _prep(F.col(vec_col)).alias("__p")).select(
        "__id", F.col("__p.v").alias("__v"), F.col("__p.keys").alias("__keys")
    )
    if brute_force:
        return _bruteforce_blocked_pairs(base, threshold)
    # referenced by the band explode + both verify joins; scope-managed
    base = register_persisted(base.persist())
    entries = base.select("__id", F.posexplode("__keys").alias("band", "bkey"))
    a, b = entries.alias("a"), entries.alias("b")
    # id-only candidates deduped BEFORE the cosine verify: true near-dups
    # collide in most bands, so verifying pre-dedup evaluates the cosine
    # (and ships the vectors) once per matching band for exactly the hot
    # pairs (same ordering as the minhash/ngram candidate paths)
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    v_a = base.select(F.col("__id").alias("id_a"), F.col("__v").alias("__va"))
    v_b = base.select(F.col("__id").alias("id_b"), F.col("__v").alias("__vb"))
    return (
        cand.join(v_a, "id_a")
        .join(v_b, "id_b")
        .select("id_a", "id_b", _pair_cosine_udf()(F.col("__va"), F.col("__vb")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def incremental_dedup_stats(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    window_tokens: int = 30,
    keep_below_frac: float = 0.5,
) -> DataFrame:
    """Incremental (new-batch vs existing-corpus) dedup — the shape every
    continuously-crawled training pipeline runs: the corpus is already
    deduplicated and indexed; only the NEW batch is screened against it.

    Two containment checks per batch doc, both equi-joins against
    corpus-side indexes:

    1. **exact** — content md5 seen in the corpus (anti-join semantics,
       surfaced as a flag);
    2. **verbatim-window containment** — fraction of the doc's
       ``window_tokens``-token sliding windows (same 60-bit md5 hashing as
       :func:`substring_dup_stats`) that appear anywhere in the corpus.

    ``keep`` = not exact AND seen fraction < ``keep_below_frac``.

    100 TB shape: the corpus side reduces to two DISTINCT hash indexes
    (content hashes + window-gram hashes) that a production pipeline
    precomputes once and appends to per batch — here they are derived
    inline, still as keyed shuffles. The batch side is screened with two
    hash equi-joins; nothing is ever compared pairwise, and the batch
    (typically ≪ corpus) is the only side carrying text."""
    c_hash = corpus.select(F.md5(F.col(text_col)).alias("__h")).distinct()
    c_grams = (
        corpus.select(
            F.explode(_window_gram_hashes_expr(F.col(text_col), window_tokens)).alias("gh")
        ).distinct()
    )
    b = batch.select(
        F.col(id_col).alias("__id"),
        F.md5(F.col(text_col)).alias("__h"),
        _window_gram_hashes_expr(F.col(text_col), window_tokens).alias("__g"),
    )
    flagged = b.join(c_hash.withColumn("__e", F.lit(1)), "__h", "left").select(
        "__id", F.coalesce("__e", F.lit(0)).alias("exact_dup"), "__g"
    )
    exploded = flagged.select(
        "__id", "exact_dup", F.explode_outer("__g").alias("gh")
    )
    seen = exploded.join(c_grams.withColumn("__s", F.lit(1)), "gh", "left")
    per = seen.groupBy("__id", "exact_dup").agg(
        F.count("gh").alias("n_windows"),
        F.sum(F.coalesce(F.col("__s"), F.lit(0))).alias("n_seen_windows"),
    )
    frac = F.when(
        F.col("n_windows") > 0,
        F.col("n_seen_windows").cast("double") / F.col("n_windows").cast("double"),
    ).otherwise(F.lit(0.0))
    return per.select(
        F.col("__id").alias(id_col),
        "exact_dup",
        "n_windows",
        "n_seen_windows",
        F.round(frac, 6).alias("seen_window_frac"),
        ((F.col("exact_dup") == 0) & (frac < keep_below_frac)).cast("int").alias("keep"),
    )


def containment_pairs(
    df,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int = 1000,
    materialize: bool = True,
    collapse_exact: bool = True,
):
    """Exact word-shingle CONTAINMENT join — the asymmetric complement of
    :func:`ngram_jaccard_pairs` for quote / excerpt / subset detection:
    a 50-word quote inside a 5,000-word page has Jaccard ≈ 0.01 (invisible
    to resemblance dedup) but containment ≈ 1.0 (Broder 1997 distinguishes
    exactly these two measures).

    containment(A in B) = |S(A) ∩ S(B)| / |S(A)| over distinct word
    ``shingle_n``-grams. Pairs with max(containment either way) ≥
    ``threshold`` are returned with both directions.

    Scale shape: inverted shingle index (explode → equi-join on the
    shingle → pair groupBy) — never a cross product. ``max_df`` drops
    shingles appearing in more than that many documents from the INDEX
    (boilerplate n-grams would join everything to everything); the
    intersection then undercounts by at most those hot shingles while
    denominators stay the full |S(A)| — deterministic, and the DuckDB
    oracle replays the identical cap, so the operator is VALUE-oracled.

    ``collapse_exact`` (default, the PPJoin/SemDeDup/fuzzy discipline):
    verbatim-identical texts collapse on a content hash FIRST; the index,
    the ``max_df`` cap, and the pair join all run on one representative
    per group, and results expand back through keyed joins (within-group
    pairs are containment 1.0 by identity; cross-group pairs inherit the
    representative pair's counts, swapped when the expansion flips the
    id order). Unlike PPJoin — where the collapse is purely a cost
    optimization — the cap here is SEMANTIC: with the collapse, ``max_df``
    counts DISTINCT texts per shingle, so a 10×-duplicated corpus no
    longer inflates document frequencies past the cap and silently
    undercounts intersections. That is the correct semantics for
    duplicate-heavy web corpora, and it is what the DuckDB oracle
    replays. The dup-free bypass below is therefore EXACT (``g == n``,
    not PPJoin's 98% heuristic): only when every text is distinct is the
    uncollapsed run bit-identical to the collapsed one.
    """
    if collapse_exact:
        m = register_persisted(
            df.filter(F.col(text_col).isNotNull())
            .select(
                F.col(id_col).alias("__mid"), F.md5(F.col(text_col)).alias("__g")
            )
            .persist()
        )
        stats = m.agg(
            F.count(F.lit(1)).alias("n"), F.count_distinct("__g").alias("g")
        ).first()
        if stats["g"] == stats["n"]:
            # zero duplicate texts: reps == docs, the collapsed and
            # uncollapsed runs are bit-identical; skip the expansion joins
            m.unpersist()
            return containment_pairs(
                df, text_col, id_col, shingle_n, threshold, max_df,
                materialize=materialize, collapse_exact=False,
            )
        groups = m.groupBy("__g").agg(
            F.min("__mid").alias("__rid"), F.count(F.lit(1)).alias("__cnt")
        )
        reps = groups.select("__g", "__rid")
        rep_rows = df.join(
            reps.select(F.col("__rid").alias(id_col)), id_col, "left_semi"
        ).select(id_col, text_col)
        rep_pairs = containment_pairs(
            rep_rows, text_col, id_col, shingle_n, threshold, max_df,
            materialize=materialize, collapse_exact=False,
        )
        # cross-group expansion: rep pair values flow to every member
        # pair; a flipped id order swaps the (n_a, n_b) sizes and the two
        # containment directions (c is symmetric)
        ga = reps.select(F.col("__rid").alias("id_a"), F.col("__g").alias("__ga"))
        gb = reps.select(F.col("__rid").alias("id_b"), F.col("__g").alias("__gb"))
        ma = m.select(F.col("__mid").alias("__a"), F.col("__g").alias("__ga"))
        mb = m.select(F.col("__mid").alias("__b"), F.col("__g").alias("__gb"))
        swapped = F.col("__a") > F.col("__b")
        cross = (
            rep_pairs.join(ga, "id_a")
            .join(gb, "id_b")
            .select(
                "__ga", "__gb", "shared_shingles", "n_a", "n_b",
                "containment_a_in_b", "containment_b_in_a",
            )
            .join(ma, "__ga")
            .join(mb, "__gb")
            .select(
                F.least("__a", "__b").alias("id_a"),
                F.greatest("__a", "__b").alias("id_b"),
                F.col("shared_shingles"),
                F.when(swapped, F.col("n_b")).otherwise(F.col("n_a")).alias("n_a"),
                F.when(swapped, F.col("n_a")).otherwise(F.col("n_b")).alias("n_b"),
                F.when(swapped, F.col("containment_b_in_a"))
                .otherwise(F.col("containment_a_in_b"))
                .alias("containment_a_in_b"),
                F.when(swapped, F.col("containment_a_in_b"))
                .otherwise(F.col("containment_b_in_a"))
                .alias("containment_b_in_a"),
            )
        )
        # within-group pairs: identical texts → containment 1.0 both ways
        # and shared == |S| == both sizes; |S| is recomputed only for the
        # representatives of multi-member groups (a tiny projection)
        multi = groups.where(F.col("__cnt") >= 2)
        rep_sz = (
            df.join(
                multi.select(F.col("__rid").alias(id_col)), id_col, "left_semi"
            )
            .select(
                F.col(id_col).alias("__rid"),
                F.size(hashed_shingles_udf(shingle_n)(F.col(text_col)))
                .cast("long")
                .alias("__sz"),
            )
        )
        x, y = m.alias("x"), m.alias("y")
        within = (
            x.join(
                y,
                (F.col("x.__g") == F.col("y.__g"))
                & (F.col("x.__mid") < F.col("y.__mid")),
            )
            .select(
                F.col("x.__mid").alias("id_a"),
                F.col("y.__mid").alias("id_b"),
                F.col("x.__g").alias("__g"),
            )
            .join(multi.select("__g", "__rid"), "__g")
            .join(rep_sz, "__rid")
            .select(
                "id_a",
                "id_b",
                F.col("__sz").alias("shared_shingles"),
                F.col("__sz").alias("n_a"),
                F.col("__sz").alias("n_b"),
                F.lit(1.0).alias("containment_a_in_b"),
                F.lit(1.0).alias("containment_b_in_a"),
            )
        )
        return cross.unionByName(within)

    # Shingle hashes come from the SAME Arrow kernel the jaccard family
    # uses (``hashed_shingles_udf``): distinct int64 hashes per doc, one
    # numpy/hashlib batch per Arrow record batch. The previous
    # interpreted-expression builder (transform + slice + array_join +
    # xxhash64 per element — higher-order lambdas evaluate interpreted
    # with no codegen) was measured as the DOMINANT cost of this operator
    # at sf0.1: 3.9 s of the 6.7 s wall for 5k docs / 260k shingles; the
    # Arrow kernel does the identical work in <1 s (guide §4.2 — hand
    # whole batches to native code instead of per-element expression
    # trees). Only intersection/size CARDINALITIES feed the results, and
    # the hash is an injective encoding of the shingle string up to
    # 64-bit collisions (~2^-64 per shingle pair), so the output — and
    # the string-based DuckDB oracle replay — is unchanged.
    sh = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        hashed_shingles_udf(shingle_n)(F.col(text_col)).alias("__g"),
    )
    ex = sh.select("__id", F.explode("__g").alias("__s"))
    if materialize:
        ex = ex.persist()
    try:
        sizes = ex.groupBy("__id").agg(F.count(F.lit(1)).alias("sz"))
        # postings list per shingle (bounded by the df cap), pairs
        # generated INSIDE the sorted array — one shuffle instead of the
        # dfreq-filter join + index self-join, and id_a < id_b falls out
        # of sorted positions for free
        postings = (
            ex.groupBy("__s")
            .agg(F.sort_array(F.collect_list("__id")).alias("ids"))
            .where(F.size("ids").between(2, int(max_df)))
        )
        # pair generation via two codegen Generate (explode) nodes + a
        # filter instead of the nested transform/slice/flatten lambda
        # chain: higher-order lambdas evaluate INTERPRETED (the r12
        # containment finding, one layer up), and this stage measured
        # 1.8 s of the 4.0 s warm wall at sf0.1. The k² exploded rows per
        # posting filter down to the identical C(k,2) ordered pair set
        # (ids are distinct within a posting — one row per doc per
        # shingle), so the groupBy count — and the output — is unchanged
        # (verified row-equal at sf0.1).
        inter = (
            postings.select(F.explode("ids").alias("id_a"), "ids")
            .select("id_a", F.explode("ids").alias("id_b"))
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        sa = sizes.select(F.col("__id").alias("id_a"), F.col("sz").alias("sz_a"))
        sb = sizes.select(F.col("__id").alias("id_b"), F.col("sz").alias("sz_b"))
        cab = F.col("c").cast("double") / F.col("sz_a").cast("double")
        cba = F.col("c").cast("double") / F.col("sz_b").cast("double")
        out = (
            inter.join(sa, "id_a")
            .join(sb, "id_b")
            .where(F.greatest(cab, cba) >= F.lit(float(threshold)))
            .select(
                "id_a",
                "id_b",
                F.col("c").alias("shared_shingles"),
                F.col("sz_a").alias("n_a"),
                F.col("sz_b").alias("n_b"),
                cab.alias("containment_a_in_b"),
                cba.alias("containment_b_in_a"),
            )
        )
        if materialize:
            out = out.localCheckpoint(eager=True)
    finally:
        if materialize:
            ex.unpersist()
    return out
