"""Caller-managed lifetime for operator-internal persisted DataFrames.

Several operators (MinHash LSH, n-gram Jaccard, embedding near-dup) persist
an intermediate frame that multiple downstream joins re-reference, so an
expensive kernel (signature / shingle UDF) runs once instead of 3×. The
persist is load-bearing for performance, but its lifetime can't end inside
the operator — the returned DataFrame is lazy and the persisted frame must
survive until the CALLER materializes the result.

``persist_scope()`` solves the lifetime half: operators register their
persisted frames via ``register_persisted``; a caller wraps build +
materialize in the scope and every registered frame is unpersisted on exit.

    with persist_scope():
        pairs = minhash_lsh_pairs(docs, "text", "doc_id")
        result = pairs.collect()          # materialize INSIDE the scope
    # executor storage for the signature frame is released here

Without an active scope the behavior is unchanged (frames stay persisted
until session end / LRU eviction) — fine for short-lived driver sessions,
necessary for callers that materialize the result lazily later. On a
long-lived 100 TB cluster session running many dedup calls, the scope is
the difference between bounded and monotonically-growing executor storage.

Scopes nest: a frame registered while two scopes are active is released by
the innermost one. Thread-local, so concurrent jobs from different threads
don't release each other's caches.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame

_local = threading.local()


def register_persisted(df: DataFrame) -> DataFrame:
    """Record ``df`` (already ``.persist()``-ed) in the innermost active
    ``persist_scope``, if any. Returns ``df`` for chaining."""
    stack = getattr(_local, "stack", None)
    if stack:
        stack[-1].append(df)
    return df


@contextmanager
def persist_scope() -> Iterator[list[DataFrame]]:
    """Unpersist every operator-internal cached frame created in the body.

    Yields the (mutable) list of registered frames, mostly for tests."""
    stack = getattr(_local, "stack", None)
    if stack is None:
        stack = _local.stack = []
    frames: list[DataFrame] = []
    stack.append(frames)
    try:
        yield frames
    finally:
        stack.pop()
        for f in frames:
            try:
                f.unpersist()
            except Exception:  # session already stopped — nothing to free
                pass


#: session conf key: set to "true" (AND call
#: ``sparkContext.setCheckpointDir``) to make iterative operators cut
#: lineage with RELIABLE checkpoints instead of localCheckpoint.
RELIABLE_CHECKPOINT_CONF = "spark.preprocessor_spark.reliableCheckpoints"


def checkpoint_frame(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate ``df``'s lineage — the per-round materialization step of
    every iterative fixpoint (connected components, LPA, Pregel BFS,
    PageRank, k-core).

    Default: ``localCheckpoint`` — blocks live on executor local disk/
    memory, no distributed-FS round trip, the right call on a healthy
    cluster and the only option without a checkpoint dir. Its weakness at
    real scale is operability: localCheckpoint blocks die with their
    executor, and a lost block KILLS the job (lineage was truncated — no
    recompute path). For long fixpoints on large clusters where executor
    loss is routine, opt in to reliable checkpoints by setting the
    ``RELIABLE_CHECKPOINT_CONF`` session conf to "true" and giving the
    context a checkpoint dir (``sc.setCheckpointDir("hdfs://…")``); each
    round then writes its |V|-row table to the reliable FS and survives
    any executor death. Same lineage truncation either way — only the
    storage/recovery trade moves.
    """
    spark = df.sparkSession
    use_reliable = (
        str(spark.conf.get(RELIABLE_CHECKPOINT_CONF, "false")).lower()
        == "true"
    )
    if use_reliable:
        if spark.sparkContext._jsc.sc().getCheckpointDir().isEmpty():
            raise ValueError(
                f"{RELIABLE_CHECKPOINT_CONF}=true requires "
                "sparkContext.setCheckpointDir(...) first"
            )
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


# SQL-conf scopes mutate SESSION-GLOBAL state. Concurrent driver threads
# sharing one session (persist_scope is thread-local precisely because that
# is contemplated) could otherwise interleave save/restore and leave the
# later-exiting scope's stale "original" behind — silently losing, e.g.,
# cached-plan re-planning session-wide. A saved-value STACK per
# (session, key), guarded by a module lock, fixes both shapes: same-thread
# NESTING restores the enclosing scope's value exactly as before, and any
# interleaving of scopes across threads still lands on the true pre-scope
# value once the last scope exits (mid-flight a session conf is one global,
# so concurrent different-value scopes inherently race on which value is
# live — only the final state can be guaranteed).
_conf_scope_lock = threading.Lock()
_conf_scope_stacks: dict = {}


@contextmanager
def _conf_scope(spark, key: str, value: str) -> Iterator[None]:
    ident = (id(spark), key)
    with _conf_scope_lock:
        _conf_scope_stacks.setdefault(ident, []).append(spark.conf.get(key))
    spark.conf.set(key, value)
    try:
        yield
    finally:
        with _conf_scope_lock:
            stack = _conf_scope_stacks[ident]
            restore = stack.pop()
            if not stack:
                del _conf_scope_stacks[ident]
            spark.conf.set(key, restore)


@contextmanager
def cached_plan_replanning_disabled(spark) -> Iterator[None]:
    """Scope-disable ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``.

    The session factory enables cached-plan AQE re-planning globally: it is
    a large win for the iterative fixpoint family, whose persisted frames
    are re-read through dozens of near-empty shuffle stages per query
    (paired A/B: dedup_connected_components −1.2 s, dbscan −4.1 s at
    sf0.1). But the same coalescing collapses a SMALL-BYTES cached frame
    to one or two partitions, and an operator whose downstream work is
    row-EXPANDING or compute-dense relative to the cached bytes (the
    Mann-Kendall k² pair self-join; the DSIR/LM n-gram explode feeding a
    join + groupBy over every occurrence) then runs that work nearly
    serially — the cost is per-ROW downstream, not per-BYTE cached, so
    byte-based coalescing under-provisions it. Paired A/B at sf0.1:
    trend_mann_kendall_users 2.6–3.8 s with the conf on vs 1.3 s off,
    every run consistent.

    Wrap an operator's plan-build AND materialization in this scope to keep
    its caches at the layout the surrounding shuffle config chose. The conf
    is read at plan-compile time, so the scope must enclose the action that
    materializes the cache (the same contract as fixpoint_shuffle_scope).
    At 100 TB the scope is conservative-safe: cached frames there are
    advisory-sized anyway, so disabling re-planning costs nothing.
    """
    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    with _conf_scope(spark, key, "false"):
        yield


# Rows a fixpoint round hands each shuffle partition (fixpoint_shuffle_scope).
FIXPOINT_ROWS_PER_PARTITION = 100_000


@contextmanager
def fixpoint_shuffle_scope(spark, rows_hint: int) -> Iterator[int]:
    """Size ``spark.sql.shuffle.partitions`` to the frames an iterative
    fixpoint actually shuffles, for the duration of the loop.

    Synchronous fixpoints (connected components, LPA) re-plan a handful of
    tiny keyed shuffles EVERY round; at toy scale the session-wide
    partition count (2×cores) turns each round into hundreds of ~empty
    tasks whose scheduling overhead dominates the query (round-8 verdict:
    35+ s of the sf0.1 suite across three fixpoint queries). AQE's
    coalescing only helps reducer sides — the map side of every round
    still launches one task per parent partition. Scoping the conf to
    ``clamp(rows_hint / FIXPOINT_ROWS_PER_PARTITION, 8, session default)``
    keeps the round-trip cost proportional to the data: at 100 TB the hint
    exceeds the session default and this is a no-op.

    Config reads happen at PLAN time, so the scope must enclose both the
    plan construction and the per-round materialization (checkpoint /
    action) — which is how the fixpoint loops are written. Restores the
    previous value on exit; yields the partition count chosen.
    """
    old = spark.conf.get("spark.sql.shuffle.partitions")
    per = FIXPOINT_ROWS_PER_PARTITION
    n = max(8, min(int(old), (int(rows_hint) + per - 1) // per))
    with _conf_scope(spark, "spark.sql.shuffle.partitions", str(n)):
        yield n
