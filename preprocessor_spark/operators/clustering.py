"""Distributed k-means (Lloyd's algorithm) and DBSCAN over embedding columns.

The rest of the embedding family trains on bounded driver samples (IVF
coarse quantizers, SemDeDup's spherical centroids, PQ codebooks — all
deliberately sample-trained, as their references do). The k-means here is
the full-data counterpart: every Lloyd iteration assigns and re-estimates
over the ENTIRE table, with the driver only ever seeing per-partition
sketch vectors (counts and coordinate sums on an integer grid), so the
driver-side merge is O(|partitions|), not O(rows). Every float hazard is
pinned to that grid, so a DuckDB oracle replays the whole fit bit-for-bit
(see the block comment above :func:`fit_kmeans_exact`).

At 100 TB: the per-iteration cost is one full scan (narrow, no shuffle,
no driver data movement beyond |partitions| sketches), exactly how
Spark MLlib's KMeans treeAggregate behaves — expressed here over the
DataFrame/Arrow path so the fitted model stays a plain numpy matrix.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


@dataclass(frozen=True)
class KMeansModel:
    centroids: np.ndarray  # k×d float64
    iterations: int

    @property
    def k(self) -> int:
        return int(self.centroids.shape[0])


_SKETCH_SCHEMA = StructType.fromJson(
    {
        "type": "struct",
        "fields": [
            {"name": "pid", "type": "integer", "nullable": False, "metadata": {}},
            {
                "name": "s",
                "type": {"type": "array", "elementType": "double", "containsNull": False},
                "nullable": False,
                "metadata": {},
            },
        ],
    }
)


# --- exact-replay Lloyd ----------------------------------------------------
# Every float hazard is pinned to an integer grid so a DuckDB oracle replays
# the WHOLE fit bit-for-bit (the LPA/BFS integer-fixpoint discipline):
#   init      — "quantile" seeding: the sample is the sample_rows lowest ids
#               (a TakeOrdered), centroid j is sample row (j*n)//k — fully
#               order-determined, no RNG;
#   distance  — per-dim terms floor((x_j-c_j)^2 * 1e12 + 0.5) summed as
#               int64: identical IEEE ops per term on identical doubles,
#               then an order-free integer sum → assignments are exact
#               (argmin over ints, ties to the lowest cluster id);
#   update    — coordinate sums on the floor(x*1e9 + 0.5) grid, centroid =
#               float(sum)/1e9/count in the fixed two-step order → the new
#               centroid doubles are identical across engines;
#   sse       — the assigned row's integer distance summed per cluster
#               (DECIMAL(38) against overflow), reported as float(sum)/1e12.
# Per-partition int64 sketch bounds: |x|≤~4 ⇒ coordinate terms ≤ 4e9 and
# distance terms ≤ 1.6e13; a 128 MB partition holds ≲1e6 rows ⇒ partial sums
# ≤ 4e15 / 1.6e19 — the distance partial is kept per ROW (never summed into
# the sketch), so int64 never overflows; cross-partition merges use Python
# ints.

_DIST_SCALE = 1e12
_COORD_SCALE = 1e9


def _exact_quantized_distances(X: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """n×k int64 matrix of grid distances: per-dim floor((x-c)²·1e12+0.5),
    summed over dims — bitwise-replayable in SQL (see block comment)."""
    d = X[:, None, :] - cents[None, :, :]
    return np.floor(d * d * _DIST_SCALE + 0.5).astype("int64").sum(axis=2)


def fit_kmeans_exact(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iters: int = 4,
    sample_rows: int = 2048,
) -> KMeansModel:
    """Exact-replay Lloyd fit (see block comment above). Runs exactly
    ``iters`` iterations — a pinned count, like the IRLS replays."""
    df = df.where(F.col(vec_col).isNotNull())
    vecs = df.select(F.col(vec_col).cast("array<double>").alias("__v"))
    sample_df = (
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).cast("array<double>").alias("__v"))
        .orderBy("__id")
        .limit(sample_rows)
    )
    sample = np.array(
        [r["__v"] for r in sample_df.select("__v").collect()], dtype="float64"
    )
    n = len(sample)
    if n == 0:
        raise ValueError("fit_kmeans_exact: empty input")
    if k > n:
        raise ValueError("fit_kmeans_exact: k larger than the sample")
    cents = sample[[(j * n) // k for j in range(k)]].copy()
    d = cents.shape[1]

    from preprocessor_spark.caching import register_persisted

    pinned = register_persisted(vecs.persist())
    pinned.count()
    try:
        for _ in range(iters):
            c_bc = cents.copy()

            def _sketch(it):
                from pyspark import TaskContext

                pid = TaskContext.get().partitionId()
                cnt = np.zeros(k, dtype="int64")
                sums = np.zeros((k, d), dtype="int64")
                for pdf in it:
                    if not len(pdf):
                        continue
                    X = np.array(pdf["__v"].tolist(), dtype="float64")
                    a = _exact_quantized_distances(X, c_bc).argmin(axis=1)
                    qx = np.floor(X * _COORD_SCALE + 0.5).astype("int64")
                    for c in range(k):
                        m = a == c
                        if m.any():
                            cnt[c] += int(m.sum())
                            sums[c] += qx[m].sum(axis=0)
                yield pd.DataFrame(
                    {"pid": [pid], "s": [np.concatenate([cnt.astype("float64"), sums.ravel().astype("float64")])]}
                )

            # int64 partials ride the sketch as EXACT doubles (bounds in the
            # block comment keep them ≤ 2^53); merged as Python ints
            parts = pinned.mapInPandas(_sketch, schema=_SKETCH_SCHEMA).collect()
            cnt_tot = [0] * k
            sum_tot = [[0] * d for _ in range(k)]
            for r in parts:
                s = np.asarray(r["s"], dtype="float64")
                for c in range(k):
                    cnt_tot[c] += int(s[c])
                base = k
                for c in range(k):
                    for j in range(d):
                        sum_tot[c][j] += int(s[base + c * d + j])
            new_cents = cents.copy()
            for c in range(k):
                if cnt_tot[c] > 0:
                    for j in range(d):
                        new_cents[c, j] = float(sum_tot[c][j]) / _COORD_SCALE / cnt_tot[c]
            cents = new_cents
    finally:
        pinned.unpersist()
    return KMeansModel(centroids=cents, iterations=iters)


def kmeans_cluster_stats_exact(
    df: DataFrame, vec_col: str, model: KMeansModel
) -> DataFrame:
    """(cluster, n, sse) on the integer grid — sse = float(Σ dq)/1e12 with
    the per-row dq bit-identical across engines (DECIMAL(38) guards the
    cluster-level sum)."""
    from pyspark.sql.functions import pandas_udf

    cents = model.centroids

    @pandas_udf("struct<cluster:int,dq:long>")
    def _assign(vs: pd.Series) -> pd.DataFrame:
        X = np.array(vs.tolist(), dtype="float64")
        dq = _exact_quantized_distances(X, cents)
        a = dq.argmin(axis=1)
        return pd.DataFrame(
            {"cluster": a.astype("int32"), "dq": dq[np.arange(len(X)), a]}
        )

    return (
        df.where(F.col(vec_col).isNotNull())
        .select(_assign(F.col(vec_col).cast("array<double>")).alias("p"))
        .select(F.col("p.cluster").alias("cluster"), F.col("p.dq").alias("dq"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.col("dq").cast("decimal(38,0)")).cast("double")
                / F.lit(_DIST_SCALE)
            ).alias("sse"),
        )
        .orderBy("cluster")
    )


def dbscan_cosine(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    eps_cosine: float = 0.9,
    min_pts: int = 4,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 7,
    brute_force: bool = False,
) -> DataFrame:
    """DBSCAN (Ester et al., KDD'96) with ``cosine >= eps_cosine`` as the
    ε-neighborhood relation — the density complement to k-means above,
    composed entirely from the engine's own scale primitives:

    1. ε-neighbor pairs via the banded sign-LSH candidate generator
       (`dedup.embedding_neardup_pairs` — keyed band joins, exact-cosine
       verify, exact-dup collapse; ``brute_force=True`` for the exact
       blocked path on small inputs);
    2. neighbor degrees: ONE groupBy over the symmetric edge list;
    3. core points: degree + 1 >= min_pts (a point belongs to its own
       ε-neighborhood, the paper's definition);
    4. cluster ids: `graph.connected_components` over CORE-CORE edges
       (min-label propagation — deterministic canonical ids); a core with
       no core neighbor is its own singleton cluster;
    5. border points attach to the SMALLEST adjacent core's cluster
       (deterministic tie-break); everything else is noise.

    Returns (id, role in {'core','border','noise'}, cluster — NULL for
    noise). The LSH path is approximate in RECALL of the neighbor relation
    (banding dial documented in the pair generator) but fully deterministic
    for a fixed seed; border/noise labels inherit that contract. All joins
    are keyed; nothing is collected.
    """
    from preprocessor_spark.caching import register_persisted
    from preprocessor_spark.operators.dedup import embedding_neardup_pairs
    from preprocessor_spark.operators.graph import connected_components

    if min_pts < 1:
        raise ValueError(f"min_pts must be >= 1, got {min_pts}")
    ids = df.select(F.col(id_col).alias("id")).where(
        F.col("id").isNotNull()
    ).distinct()
    pairs = embedding_neardup_pairs(
        df,
        vec_col,
        id_col,
        threshold=eps_cosine,
        n_planes=n_planes,
        bands=bands,
        seed=seed,
        brute_force=brute_force,
    )
    # persist: the symmetric edge list re-derives the whole LSH candidate
    # pipeline and feeds THREE consumers (degrees, core-core edges, border
    # attach) — unpersisted it would re-execute the pair generation per
    # branch (measured 4x wall on the sf0.1 demo)
    edges = register_persisted(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                    F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = ids.join(deg, ids.id == deg.src, "left").select(
        "id", F.coalesce("deg", F.lit(0)).alias("deg")
    )
    cores = nodes.where(F.col("deg") + 1 >= min_pts).select("id")

    core_edges = (
        edges.join(cores.withColumnRenamed("id", "src"), "src")
        .join(cores.withColumnRenamed("id", "dst"), "dst")
        .select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
    )
    # edges is symmetric/distinct/self-loop-free and the core filter is
    # per-node, so core_edges inherits all three properties: CC can skip
    # its explode + |E|-sized distinct (symmetric_distinct contract)
    cc = connected_components(core_edges, symmetric_distinct=True)
    core_clusters = register_persisted(
        cores.join(cc, cores.id == cc.id, "left")
        .select(
            cores.id.alias("id"), F.coalesce("component", cores.id).alias("cluster")
        )
        .persist()  # feeds both the border attach and the core output
    )

    border = (
        edges.join(
            core_clusters.select(
                F.col("id").alias("dst"), F.col("cluster").alias("c")
            ),
            "dst",
        )
        .join(cores.withColumnRenamed("id", "src"), "src", "left_anti")
        .groupBy(F.col("src").alias("id"))
        .agg(F.min("c").alias("cluster"))
    )

    labeled = core_clusters.select("id", F.lit("core").alias("role"), "cluster").unionByName(
        border.select("id", F.lit("border").alias("role"), "cluster")
    )
    return (
        ids.join(labeled, "id", "left")
        .select(
            "id",
            F.coalesce("role", F.lit("noise")).alias("role"),
            "cluster",
        )
    )
