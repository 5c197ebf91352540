"""Graph operators over edge lists, starting with connected components —
the clustering step of a complete dedup pipeline.

Near-dup detection (MinHash LSH / SimHash / n-gram Jaccard / embedding LSH,
see :mod:`preprocessor_spark.operators.dedup`) emits PAIRS; turning pairs
into keep/drop decisions needs the transitive closure: if A~B and B~C, then
{A,B,C} is one duplicate cluster and exactly one representative survives.

Three edge fixpoints — :func:`connected_components`,
:func:`label_propagation` and :func:`shortest_hops` — share one route
decision, made by :func:`_solve_edge_fixpoint` against one edge budget,
``DRIVER_SOLVE_MAX_EDGES``. The edge table is built, persisted and counted
once. At or under the budget it is collected and solved by a small numpy
kernel on the driver, which returns the distributed loop's table
row-for-row: a graph that fits in driver memory costs a few scheduler
barriers per distributed round but microseconds to solve locally. Above the
budget the operator's distributed loop runs. Every exit path unpersists the
edge table, and each call logs its edge count and route at INFO.

The distributed connected-components loop is min-label propagation with
POINTER JUMPING. Per round:

1. propagate — l(u) ← min(l(u), min over neighbors v of l(v)): one keyed
   join + one groupBy(min), both ordinary hash shuffles;
2. jump — l(u) ← l(l(u)): one self-join on the label table. Labels are
   always node ids, so the lookup is total.

Propagation alone needs O(diameter) rounds (a planted chain of 10k docs =
10k rounds); jumping compresses label chains geometrically, giving
O(log diameter) rounds — the same reason GraphFrames/Pregel CC and the
star-contraction family (Kiveris et al., "Connected Components in MapReduce
and Beyond", SoCC'14) beat naive propagation. Dedup graphs are near-cliques
that converge in 2-3 rounds; the log bound is insurance against adversarial
chains.

Each round's label table is checkpointed (``caching.checkpoint_frame``):
iterative lineage otherwise grows the logical plan every round and analysis
time explodes (the classic Spark iterative-algorithm trap). The default is
``localCheckpoint`` (executor-local, no FS round trip); set the
``caching.RELIABLE_CHECKPOINT_CONF`` session conf + a checkpoint dir to
make every fixpoint in this module survive executor loss on a real
cluster — localCheckpoint blocks die with their executor and a lost block
kills the job. Convergence is detected from each node's label change:
the round's union already holds the node's own row, which carries its
label into the round, and the probe counts nodes whose label moved — one
count per round instead of a join-and-count, for any orderable id type.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType
from pyspark.sql.window import Window

from preprocessor_spark.caching import (
    checkpoint_frame,
    fixpoint_shuffle_scope,
    register_persisted,
)

_log = logging.getLogger(__name__)

# Edge budget for solving connected_components, label_propagation and
# shortest_hops on the driver: ~2M edges of two ids is a few tens of MB of
# Arrow collect and numpy state, far under a driver heap, while every
# distributed round costs several scheduler barriers. Data-sized edge lists
# at scale exceed it, so the distributed loops stay the 100 TB path.
DRIVER_SOLVE_MAX_EDGES = 2_000_000

# Per-round vertex-table broadcast budget for the fixpoint loops below.
# ~8M nodes × tens of bytes is a few hundred MB broadcast: fine on real
# executors, and far under the 8 GB / 512M-row broadcast hard cap. Past it
# every loop degrades to its classic keyed-join (one-shuffle-per-round
# Pregel) shape.
_BROADCAST_VERTEX_LIMIT = 8_000_000
# ...and the floor under which broadcasting is NOT worth it: below ~half a
# million edges the loop's keyed join (already clamped to a few shuffle
# partitions by fixpoint_shuffle_scope) costs less than the per-round
# driver collect + rebroadcast of the vertex table (A/B-measured at sf0.1:
# the 72k-edge strong-tie graph and the dedup pair graphs got SLOWER under
# per-round broadcast; the 1.17M-edge trade graph got 1.6× faster).
_BROADCAST_MIN_EDGES = 500_000


def _maybe_broadcast(
    df: DataFrame,
    n_rows: int | None,
    edge_rows: int | None = None,
) -> DataFrame:
    """Broadcast a vertex-sized frame into a per-round fixpoint join while
    its MEASURED row count stays under _BROADCAST_VERTEX_LIMIT AND the edge
    table it joins is big enough (``edge_rows`` ≥ _BROADCAST_MIN_EDGES) for the
    avoided per-round edge exchange to beat the broadcast's driver
    round-trip: the persisted edge table then never re-shuffles inside the
    loop — the join is a map-side BroadcastHashJoin and the only per-round
    exchange left is the vertex-bounded aggregate. Both counts come from
    the loop's own setup/convergence probes, so the decision is
    runtime-adaptive: at 100 TB frontiers the vertex count exceeds the
    limit and the keyed join stands. Join RESULTS are identical either
    way; the downstream min/count aggregates are order-independent exact
    arithmetic, so the fixpoint output is bit-equal under both shapes."""
    if edge_rows is not None and edge_rows < _BROADCAST_MIN_EDGES:
        return df
    if n_rows is not None and n_rows <= _BROADCAST_VERTEX_LIMIT:
        return F.broadcast(df)
    return df


def _solve_edge_fixpoint(
    op: str,
    edges: DataFrame,
    symmetrize: bool,
    kernel,
    fields: list,
    distributed,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Route one edge fixpoint to the driver or to its distributed loop.

    ``edges`` has two id columns (source, destination). With
    ``symmetrize`` it becomes the symmetric, self-loop-free, distinct edge
    list; otherwise it is taken as given. The table is persisted and
    counted once. At or under ``DRIVER_SOLVE_MAX_EDGES`` edges
    :func:`_driver_solve` runs ``kernel`` and builds the typed output from
    ``fields``; above it ``distributed(edges, n_edges)`` runs. The edge
    table is unpersisted on every exit path: both routes return
    self-contained frames (local data or materialized checkpoints)."""
    if symmetrize:
        s, d = edges.columns
        # ONE explode — a union of two selects would scan (and recompute)
        # the possibly-expensive input twice before the persist below
        # materializes. Self-loops drop out (they never change a label).
        edges = (
            edges.select(
                F.explode(
                    F.array(
                        F.struct(s, d),
                        F.struct(F.col(d).alias(s), F.col(s).alias(d)),
                    )
                ).alias("e")
            )
            .select("e.*")
            .filter(F.col(s) != F.col(d))
            .distinct()
        )
    edges = register_persisted(edges.persist())
    try:
        n_edges = edges.count()  # materializes the persist; sizes the route
        route = "driver" if n_edges <= DRIVER_SOLVE_MAX_EDGES else "distributed"
        _log.info(
            "%s: %d edges, driver budget %d, route %s", op, n_edges, DRIVER_SOLVE_MAX_EDGES, route
        )
        if route == "driver":
            return _driver_solve(edges, kernel, fields, seeds)
        return distributed(edges, n_edges)
    finally:
        edges.unpersist()


def _driver_solve(
    edges: DataFrame, kernel, fields: list, seeds: DataFrame | None
) -> DataFrame:
    """Collect a small edge list (and one-column ``seeds``) as Arrow, map
    ids to their RANK in native sort order, run
    ``kernel(src, dst, ids, seed)`` and rebuild a typed frame.

    ``src``/``dst``/``seed`` are rank arrays and ``ids`` holds the ids in
    rank order, so a min rank is the min id and a rank tie-break is the
    id tie-break. Native order — int64 numeric, codepoint order for
    strings — is Spark's BIGINT / UTF8String binary order on these id
    domains. ``kernel`` returns a column dict in ``fields`` order;
    ``fields`` lists (name, type), where type None means the edge id type
    (nullable)."""
    id_type = edges.schema[0].dataType
    schema = StructType(
        [StructField(name, t or id_type, t is None) for name, t in fields]
    )
    spark = edges.sparkSession
    pdf = edges.toPandas().dropna()  # a null endpoint drops the edge
    cols = [pdf.iloc[:, 0], pdf.iloc[:, 1]]
    if seeds is not None:
        cols.append(seeds.toPandas().iloc[:, 0])
    codes, uniques = pd.factorize(pd.concat(cols, ignore_index=True), sort=False)
    n = len(uniques)
    if n == 0:
        return spark.createDataFrame([], schema)
    ids = np.asarray(uniques)
    order = np.argsort(ids, kind="stable")
    rank = np.empty(n, dtype="int64")
    rank[order] = np.arange(n, dtype="int64")
    r = rank[codes]
    ne = len(pdf)
    out = kernel(r[:ne], r[ne : 2 * ne], ids[order], r[2 * ne :])
    # Arrow-path createDataFrame: ships as Arrow batches, not pickled Rows
    return spark.createDataFrame(pd.DataFrame(out), schema)


def _min_label_kernel(src, dst, ids, _seed) -> dict:
    """Connected components on ranks: every label tree's root is hooked
    under the smallest root across its (symmetric) edges, then pointer
    jumping flattens every tree to its root, repeated until nothing
    changes. Hooks only ever point at smaller ranks inside the same
    component, and a component with two trees still has an edge that
    hooks, so the fixpoint labels every node with its component's min
    rank — the min reachable id, exactly the distributed loop's table.
    Hooking roots rather than nodes merges whole trees per pass, so long
    chains take a few passes, not one per hop."""
    labels = np.arange(len(ids), dtype="int64")
    while True:
        prev = labels.copy()
        np.minimum.at(labels, labels[dst], labels[src])
        while True:
            jumped = labels[labels]
            if np.array_equal(jumped, labels):
                break
            labels = jumped
        if np.array_equal(labels, prev):
            return {"id": ids, "component": ids[labels]}


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    symmetric_distinct: bool = False,
) -> DataFrame:
    """(id, component) for every id appearing in ``pairs``; ``component`` is
    the smallest id reachable from ``id`` (canonical representative).

    ``symmetric_distinct``: the caller asserts ``pairs`` is ALREADY a
    symmetric ((a,b) implies (b,a)), self-loop-free, duplicate-free edge
    list — skip the explode + |E|-sized ``distinct`` shuffle that
    symmetrization otherwise costs (dbscan's core-core subgraph is the
    in-repo case: derived from an already-symmetrized distinct edge list
    by a per-node filter, which preserves all three properties). The
    symmetrized edge SET is identical either way, so every min-label
    round — and therefore the output — is unchanged.

    Route: a symmetric edge list of at most ``DRIVER_SOLVE_MAX_EDGES``
    edges is solved on the driver by a numpy min-label kernel with
    pointer jumping, which returns EXACTLY the distributed table; dedup
    pair graphs are that small, and solving them distributively costs 2-3
    synchronous rounds × several scheduler barriers each. Larger graphs
    run the distributed fixpoint (module docstring), which stops once a
    round changes no label. Both routes take any orderable id type,
    strings included.

    The distributed route raises if not converged after
    ``max_iterations`` rounds (log-scale: 25 rounds cover diameters ~2^25
    with pointer jumping)."""
    spark = pairs.sparkSession

    def distributed(edges: DataFrame, n_edges: int) -> DataFrame:
        with fixpoint_shuffle_scope(spark, n_edges):
            # round-1 propagate fused into init: with identity labels, the
            # first round's message min is just min(neighbor id), so start
            # every node at min(id, min neighbor) directly — one groupBy
            # instead of a full join+groupBy+jump+checkpoint round
            # lazy checkpoint + probe: the convergence probe is the action that
            # materializes each round's checkpoint, so a round costs ONE job
            # (eager checkpoint + separate probe was two)
            labels = edges.groupBy(F.col("src").alias("id")).agg(
                F.least(F.first("src"), F.min("dst")).alias("component")
            ).transform(lambda df: checkpoint_frame(df, eager=False))
            n_nodes = labels.count()  # materializes; |V| is constant across rounds

            for _ in range(max_iterations):
                # 1. propagate: my label vs my neighbors' labels. The label
                # table is vertex-sized — broadcast it (runtime-gated on the
                # measured |V|) so the persisted edge table never re-shuffles;
                # the vote groupBy partial-aggregates map-side, so its exchange
                # is vertex-bounded, not |E|-sized.
                msgs = edges.join(
                    _maybe_broadcast(labels.withColumnRenamed("id", "src"), n_nodes, n_edges),
                    "src",
                ).select(F.col("dst").alias("id"), "component", F.lit(None).alias("prev"))
                # the node's own row carries its label into the round as
                # ``prev`` (msgs carry none), for the convergence probe
                stage1 = (
                    labels.withColumn("prev", F.col("component"))
                    .unionByName(msgs)
                    .groupBy("id")
                    .agg(F.min("component").alias("component"), F.max("prev").alias("prev"))
                )
                # 2. pointer jump: follow my label's label (labels are node ids)
                lut = stage1.select(
                    F.col("id").alias("cid"), F.col("component").alias("comp2")
                )
                jumped = stage1.join(
                    _maybe_broadcast(lut, n_nodes, n_edges),
                    stage1["component"] == lut["cid"],
                    "left",
                ).select("id", F.coalesce("comp2", "component").alias("component"), "prev")
                rounded = jumped.transform(lambda df: checkpoint_frame(df, eager=False))
                labels = rounded.select("id", "component")
                if rounded.filter(F.col("component") != F.col("prev")).count() == 0:
                    return labels
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} iterations"
        )

    return _solve_edge_fixpoint(
        "connected_components",
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
        not symmetric_distinct,
        _min_label_kernel,
        [("id", None), ("component", None)],
        distributed,
    )


def dedup_keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Drop every near-duplicate except the cluster representative (min id).

    Rows absent from ``pairs`` are singletons and always kept. One CC run +
    one left join + one filter — all keyed shuffles."""
    comps = connected_components(pairs, id_a=id_a, id_b=id_b)
    non_canonical = comps.filter(F.col("id") != F.col("component")).select("id")
    return df.join(
        non_canonical, df[id_col] == non_canonical["id"], "left_anti"
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over a directed edge list — the link-graph quality signal
    web-corpus pipelines weight documents by (domain/page authority).

    Fixed-iteration synchronous power method with full dangling-mass
    redistribution:

        r'(v) = (1-d)/N + d * (Σ_{u→v} r(u)/deg(u) + dangling_mass/N)

    Rank mass lives on an int64 10^15 grid, so the one order-dependent
    operation — summing contributions per dst — becomes an order-free
    integer sum, and every remaining float op is a fixed-order IEEE
    expression on identical doubles. A DuckDB oracle replays the whole
    power iteration bit-for-bit (the LPA/BFS integer-fixpoint discipline;
    see __spark_entry__._pagerank_oracle_sql).

    Per iteration (all quantities integer unless noted):

        share(u) = floor(double(q(u)) / deg(u) + 0.5)        deg > 0
        in(v)    = Σ_{u→v} share(u)                          int64 sum
        dm       = Σ_{deg(u)=0} q(u)
        q'(v)    = floor( (1-d)·(10^15/N)
                          + d·(double(in(v)) + double(dm)/N) + 0.5 )

    Output rank = double(q)/10^15 — within 1e-15·iterations of the float
    power method; ranks sum to 1 within that grid error.

    The iteration loop costs ZERO edge shuffles: the (deduped) edge table
    is hash-partitioned on ``dst`` ONCE up front and persisted, the |V|-row
    rank/share table is broadcast into the per-iteration join, and the
    contributions ``groupBy(dst)`` reuses the stored partitioning, so
    Catalyst plans it without an Exchange. Each round's |V|-row rank table
    is checkpointed lazily (the iterative-lineage trap of
    connected_components above). When |V| outgrows the broadcast budget the
    per-iteration join becomes a shuffle join and the plan degrades to the
    classic one-shuffle-per-iteration Pregel shape.
    """
    n_part = edges.sparkSession.sparkContext.defaultParallelism
    base = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    e = register_persisted(base.repartition(n_part, "dst").persist())
    out_deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("__deg")
    )
    nodes = register_persisted(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(out_deg, on="node", how="left")
        .fillna({"__deg": 0})
        .persist()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.select("node", F.lit(0.0).alias("rank"))
    mass = 10**15
    ranks = nodes.select(
        "node", "__deg", F.lit(mass // n_nodes).alias("q")
    ).transform(lambda df: checkpoint_frame(df, eager=False))

    one_minus_d = 1.0 - damping
    for _ in range(iterations):
        shares = ranks.select(
            "node",
            F.when(
                F.col("__deg") > 0,
                F.floor(
                    F.col("q").cast("double") / F.col("__deg") + F.lit(0.5)
                ).cast("long"),
            ).alias("__share"),
            F.when(F.col("__deg") == 0, F.col("q")).otherwise(F.lit(0).cast("long")).alias("__dangling"),
        )
        dangling = shares.agg(F.sum("__dangling").alias("__dm"))
        contribs = (
            e.join(
                F.broadcast(
                    shares.where(F.col("__share").isNotNull())
                    .select(F.col("node").alias("src"), "__share")
                ),
                on="src",
            )
            .groupBy("dst")  # reuses e's dst partitioning: no Exchange
            .agg(F.sum("__share").alias("__in"))
        )
        # the expression tree below is replayed verbatim by the oracle —
        # keep the op order in sync with _pagerank_oracle_sql
        new_q = F.floor(
            F.lit(one_minus_d) * (F.lit(1.0e15) / F.lit(float(n_nodes)))
            + F.lit(damping)
            * (
                F.coalesce(F.col("__in"), F.lit(0).cast("long")).cast("double")
                + F.col("__dm").cast("double") / F.lit(float(n_nodes))
            )
            + F.lit(0.5)
        ).cast("long")
        ranks = (
            nodes.join(
                F.broadcast(contribs.withColumnRenamed("dst", "node")),
                on="node",
                how="left",
            )
            .crossJoin(F.broadcast(dangling))
            .select("node", "__deg", new_q.alias("q"))
            .transform(lambda df: checkpoint_frame(df, eager=False))
        )
    return ranks.select(
        "node", (F.col("q").cast("double") / F.lit(1.0e15)).alias("rank")
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Exact per-node triangle participation counts over an undirected graph.

    Input edges are treated as undirected: they are canonicalized
    (``least``/``greatest``), self-loops dropped, duplicates collapsed.
    Enumeration uses DEGREE ORDERING (Suri & Vassilvitskii, "Counting
    Triangles and the Curse of the Last Reducer", WWW'11): each undirected
    edge is oriented from its lower-rank endpoint to its higher-rank one,
    rank = (degree, id) lexicographic. Every triangle then has exactly ONE
    wedge centered at its minimum-rank vertex, so

    1. wedges — one self-equi-join of the oriented adjacency on the center
       (pairs per center bounded by C(out-degree, 2), and degree ordering
       bounds out-degree by O(sqrt(m)) on any graph — the hub that would
       generate O(d^2) candidate pairs under arbitrary orientation ranks
       HIGHEST and therefore generates none);
    2. closure — one equi-join of the wedges against the oriented edges.

    Both are plain hash-partitioned joins; per-node counts are one keyed
    explode+groupBy. No cross product, no driver state. Returns
    ``(node, n_triangles)`` for every node with at least one triangle.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # the canonical edge list feeds degrees (×2), the rank join and the
    # closure — without a persist each consumer re-runs the distinct()
    # from source (round-8b trap 5; observed ~15 re-executions = 500+
    # executor-seconds on a 10k-edge graph)
    e = register_persisted(e.persist())
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # attach degrees to both endpoints, orient low-rank -> high-rank
    ed = (
        e.join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )
    # consumed by both wedge sides and the closure join
    oriented = register_persisted(oriented.persist())
    w1 = oriented.select(
        F.col("u"), F.col("v").alias("v1"), F.col("dv").alias("d1")
    )
    w2 = oriented.select(
        F.col("u"), F.col("v").alias("v2"), F.col("dv").alias("d2")
    )
    wedges = w1.join(w2, "u").filter(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2")))
    )
    closer = oriented.select(
        F.col("u").alias("v1"), F.col("v").alias("v2")
    )
    tri = wedges.join(closer, ["v1", "v2"]).select("u", "v1", "v2")
    return (
        tri.select(
            F.explode(F.array(F.col("u"), F.col("v1"), F.col("v2"))).alias(
                node_col
            )
        )
        .groupBy(node_col)
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def clustering_coefficient(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Local clustering coefficient per node: triangles / C(degree, 2).

    Composes :func:`triangle_count` with the degree table (left join — a
    node with degree >= 2 but zero triangles reports 0.0). Exact double
    division, deterministic. Returns (node, degree, n_triangles, coeff).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # reused by the degree table and the whole triangle subtree
    e = register_persisted(e.persist())
    deg = (
        e.select(F.col("a").alias(node_col))
        .unionAll(e.select(F.col("b").alias(node_col)))
        .groupBy(node_col)
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = triangle_count(e, "a", "b", node_col=node_col)
    pairs = (F.col("degree") * (F.col("degree") - F.lit(1))).cast("double") / F.lit(2.0)
    return (
        deg.join(tri, node_col, "left")
        .select(
            node_col,
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                F.coalesce(F.col("n_triangles"), F.lit(0)).cast("double")
                / pairs,
            )
            .otherwise(F.lit(0.0))
            .alias("coeff"),
        )
    )


def _lpa_kernel(rounds: int):
    """Synchronous-LPA replay on ranks: the same per-round votes (each
    undirected neighbor once + the self-vote) and the same deterministic
    tie-break (votes desc, label asc) as the distributed loop, vectorized
    in numpy — every round's winner, and so the table, is equal
    row-for-row."""

    def kernel(iu, iv, ids, _seed) -> dict:
        n = len(ids)
        labels = np.arange(n, dtype="int64")
        self_nodes = np.arange(n, dtype="int64")
        for _ in range(rounds):
            vote_node = np.concatenate([iu, self_nodes])
            vote_lab = np.concatenate([labels[iv], labels])
            keys = vote_node * n + vote_lab
            uk, cnt = np.unique(keys, return_counts=True)  # sorted (node, lab)
            ku = uk // n
            klab = uk % n
            # top-1 per node by (votes desc, label asc) without a lexsort:
            # composite = votes·n + (n-1-label) is max'd per node-segment by
            # maximum.reduceat, then decoded — the argmax with the exact
            # tie-break baked into the value
            composite = cnt * n + (n - 1 - klab)
            seg = np.ones(len(ku), dtype=bool)
            seg[1:] = ku[1:] != ku[:-1]
            starts = np.flatnonzero(seg)
            best = np.maximum.reduceat(composite, starts)
            labels = labels.copy()
            labels[ku[starts]] = (n - 1) - (best % n)
        return {"node": ids, "community": ids[labels]}

    return kernel


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 5,
    symmetric_distinct: bool = False,
) -> DataFrame:
    """Synchronous label-propagation community detection → (node,
    community); community ids are node ids (each community is named after
    one of its members).

    Classic asynchronous LPA (Raghavan et al. 2007) is update-order-
    dependent; the GraphFrames/Pregel formulation used here is synchronous
    with a DETERMINISTIC tie-break — each round every node adopts the most
    frequent label among its neighbors *plus its own current label as one
    extra vote* (the self-vote damps the 2-coloring oscillation synchronous
    LPA exhibits on bipartite structures), ties broken by smallest label.
    ``rounds`` is fixed, not convergence-polled, so the output is a pure
    function of the edge set: stable under repartitioning and replayable.

    Route: a symmetric edge list of at most ``DRIVER_SOLVE_MAX_EDGES``
    edges replays the fixed-round loop on the driver in numpy instead of
    paying ``rounds`` × (broadcast build + two vote exchanges + eager
    checkpoint) of scheduler barriers — bit-equal output by the same
    vote/tie-break arithmetic.

    Distributed scale shape: the label table is |V| rows — usually orders
    of magnitude smaller than |E| — so while it fits (``_maybe_broadcast``
    on the |V| counted once up front) each round BROADCASTS the labels
    onto the persisted symmetric edge list: the edges never shuffle, and
    the only exchange per round is the partial-aggregated (node, label)
    vote groupBy plus a |V|-sized top-1 re-agg (``min(struct(-votes,
    label))`` — no sort window). Past the limit the join falls back to
    keyed hash-join, still one keyed join + one groupBy per round with no
    driver traffic; ``localCheckpoint`` truncates the iterative lineage
    exactly like :func:`connected_components`.

    ``symmetric_distinct``: the caller asserts ``edges`` is ALREADY a
    symmetric, self-loop-free, duplicate-free edge list — skip the explode
    + |E|-sized ``distinct`` (the :func:`connected_components` contract;
    the trade-graph query qualifies by construction: distinct BIPARTITE
    (customer, supplier) pairs symmetrize with no possible duplicate or
    loop).
    """
    spark = edges.sparkSession

    def distributed(sym: DataFrame, n_edges: int) -> DataFrame:
        with fixpoint_shuffle_scope(spark, n_edges):
            labels = sym.select(F.col("u").alias("node")).distinct().select(
                "node", F.col("node").alias("community")
            ).transform(lambda df: checkpoint_frame(df, eager=False))
            # one tiny job up front: |V| decides keyed-join vs broadcast rounds
            n_nodes = labels.count()

            for r in range(rounds):
                lab = _maybe_broadcast(labels, n_nodes, n_edges)
                incoming = sym.join(
                    lab.select(F.col("node").alias("v"), "community"), "v"
                ).select(F.col("u").alias("node"), "community")
                # self-vote folded into the ONE vote aggregation: union the
                # node's own (node, community) row with the neighbor stream and
                # count — identical votes to count+union+re-sum but a single
                # shuffle/agg per round instead of two
                votes = (
                    incoming.unionByName(labels.select("node", "community"))
                    .groupBy("node", "community")
                    .agg(F.count(F.lit(1)).alias("votes"))
                )
                # deterministic top-1 per node WITHOUT a sort window:
                # min(struct(-votes, community)) == (votes desc, community asc);
                # partial-aggregates map-side, re-shuffles only |V|·labels rows
                labels = (
                    votes.groupBy("node")
                    .agg(
                        F.min(
                            F.struct(
                                (-F.col("votes")).alias("neg_votes"), F.col("community")
                            )
                        ).alias("top")
                    )
                    .select("node", F.col("top.community").alias("community"))
                )
                # EAGER per-round checkpoint on purpose: the next round
                # references labels twice (broadcast build + self-vote union)
                # with no convergence probe to merge into. A/B-measured
                # faster than every-other-round persist-then-checkpoint
                # (~11.5 s vs ~14.3 s at sf0.1: the double recompute costs
                # more than a |V|-sized checkpoint job) and than a lazy
                # checkpoint (communities_lpa 6.0 s vs 8.2 s solo) — the
                # opposite of the probe-merged fixpoints.
                labels = labels.transform(checkpoint_frame)
        return labels

    return _solve_edge_fixpoint(
        "label_propagation",
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v")),
        not symmetric_distinct,
        _lpa_kernel(rounds),
        [("node", None), ("community", None)],
        distributed,
    )


def _bfs_kernel(max_hops: int):
    """Multi-source BFS replay on ranks: level-synchronous frontier
    expansion. Hop distances are exact integers and the min-plus fixpoint
    is confluent, so the table equals the distributed loop's row-for-row.
    Node universe = edge endpoints ∪ seeds, exactly like the distributed
    init (an isolated seed reports 0)."""

    def kernel(iu, iv, ids, iseed) -> dict:
        INF = np.iinfo(np.int64).max
        dist = np.full(len(ids), INF, dtype="int64")
        dist[iseed] = 0
        for level in range(max_hops):
            active = dist[iu] == level
            if not active.any():
                break
            np.minimum.at(dist, iv[active], level + 1)
        reached = dist < INF
        return {"node": ids[reached], "hops": dist[reached].astype("int32")}

    return kernel


def shortest_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    max_hops: int = 10,
) -> DataFrame:
    """Multi-source BFS hop distances — (node, hops) for every node
    reachable from ``seeds`` within ``max_hops`` directed edges (pass a
    symmetrized edge list for undirected graphs; seeds report 0).

    The classic Pregel shortest-path specialization for unit weights:
    synchronous frontier expansion, dist' = min(dist, min over in-edges
    dist+1), one keyed join + one groupBy per round, lineage truncated by
    ``localCheckpoint`` and shuffles sized by
    :func:`preprocessor_spark.caching.fixpoint_shuffle_scope` — the
    connected-components engine with min-plus messages instead of min.
    Early-exits when a round adds no nodes and relaxes no distance (the
    frontier is empty — BFS never revisits at larger d, so the integer
    sum certificate is monotone).

    Route: a distinct directed edge list of at most
    ``DRIVER_SOLVE_MAX_EDGES`` edges is replayed on the driver by a numpy
    frontier expansion — exact integer hops over a confluent fixpoint, so
    the table is identical with zero per-round scheduler barriers.

    VALUE-oracle-able despite being iterative: hop distances are exact
    integers and the fixpoint is confluent (min-plus is idempotent /
    commutative), so DuckDB replays it with a bounded WITH RECURSIVE walk
    + MIN(d) — the first of the repo's iterative operators with a full
    SQL twin.
    """
    spark = edges.sparkSession
    seed_ids = (
        seeds.select(F.col(seed_col).alias("node"))
        .where(F.col("node").isNotNull())
        .distinct()
    )

    def distributed(e: DataFrame, n_edges: int) -> DataFrame:
        with fixpoint_shuffle_scope(spark, n_edges):
            dist = seed_ids.select("node", F.lit(0).alias("hops")).transform(
                lambda df: checkpoint_frame(df, eager=False)
            )
            n_dist = dist.count()  # materializes the lazy checkpoint
            prev_sum, prev_cnt = None, None
            for _ in range(max_hops):
                # frontier table is vertex-sized: broadcast it (gated on the
                # probe's measured count) so the persisted edge table never
                # re-shuffles; the min groupBy partial-aggregates map-side, so
                # its exchange is vertex-bounded. Lazy checkpoint + probe = one
                # job per round.
                msgs = e.join(
                    _maybe_broadcast(dist.withColumnRenamed("node", "s"), n_dist, n_edges), "s"
                ).select(F.col("d").alias("node"), (F.col("hops") + 1).alias("hops"))
                dist = (
                    dist.unionByName(msgs)
                    .groupBy("node")
                    .agg(F.min("hops").alias("hops"))
                    .transform(lambda df: checkpoint_frame(df, eager=False))
                )
                probe = dist.agg(
                    F.count(F.lit(1)).alias("c"), F.sum("hops").alias("s")
                ).collect()[0]
                if (probe["c"], probe["s"]) == (prev_cnt, prev_sum):
                    break
                prev_cnt, prev_sum = probe["c"], probe["s"]
                n_dist = probe["c"]
        return dist

    return _solve_edge_fixpoint(
        "shortest_hops",
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .where(F.col("s").isNotNull() & F.col("d").isNotNull())
        .distinct(),
        False,
        _bfs_kernel(max_hops),
        [("node", None), ("hops", IntegerType())],
        distributed,
        seeds=seed_ids,
    )


def link_prediction_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    top_k: int = 50,
    max_center_degree: int | None = None,
) -> DataFrame:
    """Neighborhood-based link prediction: score NON-adjacent node pairs by
    common neighbors, Jaccard, and Adamic–Adar (Liben-Nowell & Kleinberg,
    CIKM'03) over an undirected graph.

    Shape: edges canonicalize/dedup once (persisted — feeds degrees, the
    wedge join and the anti join); candidate pairs come from ONE
    self-equi-join of the adjacency on the shared neighbor (a wedge join —
    the same equi-join-not-cross-product shape as triangle_count), existing
    edges drop with one left-anti join, and the per-pair reduction is one
    groupBy. Adamic–Adar's float sum folds in sorted order over the pair's
    common-neighbor weight list, whose length is bounded by
    min(deg a, deg b) ≤ ``max_center_degree`` — the bounded-list contract
    that keeps it engine-portable (DuckDB: list_reduce(list_sort(...))).

    ``max_center_degree``: hub centers with more neighbors generate
    deg² wedges AND carry the least evidence (an Adamic–Adar weight of
    1/ln d → 0); excluding them bounds the wedge join by |E|·cap and is
    the standard recall trade (same role as LSH banding in the dedup
    family). Full degrees (not capped-subgraph degrees) still feed
    Jaccard. Returns the ``top_k`` pairs by (jaccard, cn, a, b) —
    TakeOrderedAndProject, no global sort.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
    )
    e = register_persisted(e.persist())
    adj = e.select(F.col("a").alias("w"), F.col("b").alias("n")).unionAll(
        e.select(F.col("b").alias("w"), F.col("a").alias("n"))
    )
    deg = adj.groupBy("w").agg(F.count(F.lit(1)).alias("d"))
    centers = adj.join(deg, "w").select("w", "n", "d")
    if max_center_degree is not None:
        centers = centers.filter(F.col("d") <= max_center_degree)
    centers = register_persisted(centers.persist())
    left = centers.select("w", F.col("n").alias("a"))
    right = centers.select("w", F.col("n").alias("b"))
    wedges = left.join(right, "w").filter(F.col("a") < F.col("b"))
    # phase 1 — rank candidates WITHOUT the Adamic-Adar weight list: the
    # candidate frame is ~|E|·cap pairs and building per-pair arrays there
    # dominated the wall (measured 2× at sf0.1); cn + degrees suffice for
    # the (jaccard, cn, a, b) ranking, which TakeOrderedAndProject keeps
    # sort-free. The ranking ignores adamic_adar by construction.
    pair_counts = wedges.groupBy("a", "b").agg(F.count(F.lit(1)).alias("cn"))
    new_pairs = pair_counts.join(e, ["a", "b"], "left_anti")
    da = deg.select(F.col("w").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("w").alias("b"), F.col("d").alias("db"))
    scored = (
        new_pairs.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "cn",
            F.round(
                F.col("cn").cast("double")
                / (F.col("da") + F.col("db") - F.col("cn")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    winners = scored.orderBy(
        F.col("jaccard").desc(), F.col("cn").desc(), "a", "b"
    ).limit(top_k)
    top = winners.collect()  # k rows — model-sized driver state
    spark = edges.sparkSession
    if not top:
        from pyspark.sql.types import DoubleType

        e.unpersist()
        centers.unpersist()
        return spark.createDataFrame([], winners.schema.add("adamic_adar", DoubleType()))
    # phase 2 — Adamic-Adar for the k winners only: isin filters on both
    # wedge sides push to the (persisted) centers scan, so the re-join
    # touches a k-node-bounded slice instead of the full candidate set.
    # The float sum folds in sorted order over the pair's common-neighbor
    # weight list (bounded by min degree ≤ cap) — the lm_kn idiom.
    a_nodes = sorted({r["a"] for r in top})
    b_nodes = sorted({r["b"] for r in top})
    wl = centers.filter(F.col("n").isin(a_nodes)).select(
        "w", F.col("n").alias("a"), "d"
    )
    wr = centers.filter(F.col("n").isin(b_nodes)).select(
        "w", F.col("n").alias("b")
    )
    aa = (
        wl.join(wr, "w")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.aggregate(
                F.sort_array(
                    F.collect_list(1.0 / F.log(F.col("d").cast("double")))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("aa_raw")
        )
    )
    winners_df = spark.createDataFrame(top)
    out = winners_df.join(F.broadcast(aa), ["a", "b"]).select(
        "a",
        "b",
        "cn",
        "jaccard",
        F.round(F.col("aa_raw"), 6).alias("adamic_adar"),
    )
    return out.orderBy(F.col("jaccard").desc(), F.col("cn").desc(), "a", "b")


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 100,
) -> DataFrame:
    """The k-core of an undirected graph: the maximal subgraph in which
    every node has degree ≥ k, found by iterative peeling (Seidman 1983;
    Batagelj–Zaveršnik's distributed variant: delete ALL sub-k nodes each
    round, not one).

    Per round: one degree groupBy, one broadcast-able sub-k node frame,
    two left-anti joins to drop their edges, localCheckpoint to truncate
    lineage; shuffles sized by
    :func:`preprocessor_spark.caching.fixpoint_shuffle_scope`. The
    surviving-edge count is the convergence certificate (monotone
    decreasing — unchanged count IS the fixpoint). Rows-only by design:
    iterative deletion is non-monotone, so no recursive-CTE SQL twin;
    graded by planted-graph equivalence against a scalar peel in pytest.

    Returns (node, degree) for every node of the k-core, with degree
    counted INSIDE the core.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
        .transform(lambda df: checkpoint_frame(df, eager=False))
    )
    n_edges = e.count()  # materializes the lazy checkpoint

    from preprocessor_spark.caching import fixpoint_shuffle_scope

    spark = edges.sparkSession
    with fixpoint_shuffle_scope(spark, n_edges):
        for _ in range(max_iterations):
            if n_edges == 0:
                break
            deg = (
                e.select(F.col("a").alias("n"))
                .unionAll(e.select(F.col("b").alias("n")))
                .groupBy("n")
                .agg(F.count(F.lit(1)).alias("d"))
            )
            # the sub-k node frame is vertex-sized (|low| <= |V| <= 2·|E|,
            # and n_edges is tracked every round): broadcast-gate it so the
            # two anti joins never shuffle the surviving edge table; lazy
            # checkpoint + count = one job per round
            low = deg.filter(F.col("d") < k).select("n")
            e2 = (
                e.join(
                    _maybe_broadcast(low.withColumnRenamed("n", "a"), 2 * n_edges, n_edges),
                    "a",
                    "left_anti",
                )
                .join(
                    _maybe_broadcast(low.withColumnRenamed("n", "b"), 2 * n_edges, n_edges),
                    "b",
                    "left_anti",
                )
                .select("a", "b")
                .transform(lambda df: checkpoint_frame(df, eager=False))
            )
            n2 = e2.count()
            e = e2
            if n2 == n_edges:
                break
            n_edges = n2
        else:
            raise RuntimeError(f"k_core: not converged in {max_iterations} rounds")
    return (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def shortest_paths_weighted(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    seed_col: str = "node",
    max_rounds: int = 10,
) -> DataFrame:
    """Multi-source WEIGHTED shortest paths: (node, cost) for every node
    reachable from ``seeds`` within ``max_rounds`` edge relaxations —
    :func:`shortest_hops` upgraded from unit weights to a cost column
    (the distributed Bellman-Ford / Pregel SSSP shape; negative weights
    are rejected, so every relaxation round only improves).

    Weights are cast to exact DECIMAL(18,4) and path costs accumulate in
    DECIMAL(38,8): min-plus over exact decimals is confluent AND
    bit-exact, so the fixpoint is VALUE-oracle-able the same way as the
    unit-weight walk — DuckDB replays it with a round-bounded
    WITH RECURSIVE walk + MIN(cost). The convergence certificate
    (node count + exact cost sum, both monotone) is exact arithmetic,
    never a float comparison. One keyed join + one min groupBy per round,
    localCheckpoint lineage truncation, fixpoint-scoped shuffles.
    """
    e = (
        edges.select(
            F.col(src).alias("s"),
            F.col(dst).alias("d"),
            F.col(weight).cast("decimal(18,4)").alias("w"),
        )
        .where(F.col("s").isNotNull() & F.col("d").isNotNull() & F.col("w").isNotNull())
        .groupBy("s", "d")
        .agg(F.min("w").alias("w"))
    )
    e = register_persisted(e.persist())
    neg = e.where(F.col("w") < 0).count()
    if neg:
        raise ValueError(f"shortest_paths_weighted: {neg} negative-weight edges")
    n_edges = e.count()

    from preprocessor_spark.caching import fixpoint_shuffle_scope

    spark = edges.sparkSession
    with fixpoint_shuffle_scope(spark, n_edges):
        dist = (
            seeds.select(F.col(seed_col).alias("node"))
            .where(F.col("node").isNotNull())
            .distinct()
            .select("node", F.lit("0").cast("decimal(38,8)").alias("cost"))
            .transform(lambda df: checkpoint_frame(df, eager=False))
        )
        n_dist = dist.count()  # materializes the lazy checkpoint
        prev = None
        for _ in range(max_rounds):
            # broadcast the vertex-sized frontier (probe-count gated) so
            # the persisted edge table never re-shuffles; min over exact
            # DECIMAL is order-independent, so results are bit-equal under
            # either join shape. Lazy checkpoint + probe = one job/round.
            msgs = e.join(
                _maybe_broadcast(dist.withColumnRenamed("node", "s"), n_dist, n_edges), "s"
            ).select(
                F.col("d").alias("node"),
                (F.col("cost") + F.col("w")).cast("decimal(38,8)").alias("cost"),
            )
            dist = (
                dist.unionByName(msgs)
                .groupBy("node")
                .agg(F.min("cost").alias("cost"))
                .transform(lambda df: checkpoint_frame(df, eager=False))
            )
            probe = dist.agg(
                F.count(F.lit(1)).alias("c"), F.sum("cost").alias("s")
            ).collect()[0]
            key = (probe["c"], str(probe["s"]))
            if key == prev:
                break
            prev = key
            n_dist = probe["c"]
    e.unpersist()
    return dist
