"""Structured Streaming twins of batch operators over the events table.

The reference has no streaming at all (SURVEY §2.10); each operator here is
the continuous twin of a batch operator:

- per-key state machines in ``applyInPandasWithState``: ``holt_stream``,
  ``cusum_stream``, ``funnel_stream`` and ``sessionize_stream`` (with the
  ``*_report_from_states`` readers that turn drained emissions back into
  the batch report)
- a watermarked stream-stream interval join (``interval_join_stream``)
- a stream-static anti join against a corpus hash index
  (``screen_stream_against_corpus``)

``run_available_now`` drains a file-backed stream with the availableNow
trigger into an in-memory sink — the batch-equivalence test pattern: the
streamed result must equal the batch query over the same files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_DRAIN_TIMEOUT_S = 120


def run_available_now(
    stream_df: DataFrame,
    table_name: str,
    output_mode: str = "append",
    rows_hint: int | None = None,
):
    """Drain everything currently available into an in-memory table and stop.
    Returns after the trigger completes; read results with
    ``spark.table(table_name)``.

    ``rows_hint`` (approximate input rows) sizes the streaming query's
    state/shuffle partitioning via
    :func:`preprocessor_spark.caching.fixpoint_shuffle_scope` — a stateful
    streaming query pins ``spark.sql.shuffle.partitions`` at its FIRST
    batch as the state-store partition count, and every micro-batch then
    loads+commits one store per partition per stateful operator (×4 for a
    stream-stream join). At the session default that is a fleet of
    near-empty state stores whose per-batch setup/commit dominates a small
    drain; the scope clamps the count to the data
    (clamp(rows/100k, 8, session default)), and at 100 TB the hint exceeds
    the session default so the clamp is a no-op — the same scale-adaptive
    policy the iterative fixpoints use. Per-key state contents and emitted
    rows are partitioning-independent, so results are unchanged. The scope
    stays open until the drain terminates (the conf is read per batch)."""
    from contextlib import nullcontext

    from preprocessor_spark.caching import fixpoint_shuffle_scope

    scope = (
        fixpoint_shuffle_scope(stream_df.sparkSession, rows_hint)
        if rows_hint is not None
        else nullcontext()
    )
    with scope:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(table_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(_DRAIN_TIMEOUT_S)
    return q


def screen_stream_against_corpus(
    stream_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Streaming incremental dedup: drop arriving documents whose content
    hash already exists in the (static, deduplicated) corpus — the
    continuous-crawl form of
    :func:`preprocessor_spark.operators.dedup.incremental_dedup_stats`.

    Stream-static LEFT ANTI join on the content hash: the corpus side
    reduces to a DISTINCT hash index, broadcast per micro-batch, so the
    stream never shuffles and carries zero streaming state (in production
    the index is a pre-built table that each trigger re-reads — new corpus
    appends are picked up between batches). Exact-equivalence to the batch
    screen is asserted in tests."""
    index = corpus.select(F.md5(F.col(text_col)).alias("__h")).distinct()
    return stream_docs.withColumn("__h", F.md5(F.col(text_col))).join(
        F.broadcast(index), "__h", "left_anti"
    ).drop("__h")


def holt_stream(
    events: DataFrame,
    key: str = "user_id",
    order_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.5,
    beta: float = 0.3,
    horizon: int = 3,
) -> DataFrame:
    """Streaming twin of :func:`preprocessor_spark.operators.holt.
    holt_forecast` — the per-key Holt level+trend recursion maintained
    across micro-batches in ``applyInPandasWithState``.

    State per key is O(1): (n, level, trend, sse) — the recursion is
    associative over batch boundaries as long as rows arrive per-key in
    event order ACROSS batches (the usual append-log contract; within a
    batch rows are sorted by ``order_col`` before updating). After a full
    in-order drain the emitted (level, trend, rmse, forecast) equal the
    batch operator exactly — pytest-asserted batch-twin equivalence, the
    same contract as the window twins above. Keys still inside their first
    observation (n < 2) emit nothing yet.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_type = events.schema[key].dataType.simpleString()
    out_schema = (
        f"{key} {key_type}, n bigint, level double, trend double, "
        "rmse double, forecast array<double>"
    )
    state_schema = "n bigint, lvl double, tr double, sse double, first double"
    a, b_, h = float(alpha), float(beta), int(horizon)

    def _update(key_tuple, pdfs, state: GroupState):
        n, lvl, tr, sse, first = (
            state.get if state.exists else (0, 0.0, 0.0, 0.0, 0.0)
        )
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows[
            rows[value_col].notna() & rows[order_col].notna()
        ].sort_values(order_col)
        for v in rows[value_col].astype(float):
            if n == 0:
                first, lvl, n = v, v, 1
                continue
            if n == 1:
                tr = v - first
                # replay the batch init: l_1 = y_1, b_1 = y_2 - y_1, and
                # y_2's one-step error is y_2 - (y_1 + b_1) = 0 by
                # construction -- so run the same update as any step
            err = v - (lvl + tr)
            sse += err * err
            new_lvl = a * v + (1.0 - a) * (lvl + tr)
            tr = b_ * (new_lvl - lvl) + (1.0 - b_) * tr
            lvl = new_lvl
            n += 1
        state.update((n, lvl, tr, sse, first))
        if n >= 2:
            yield pd.DataFrame(
                {
                    key: [key_tuple[0]],
                    "n": [n],
                    "level": [round(lvl, 6)],
                    "trend": [round(tr, 6)],
                    "rmse": [round(float((sse / (n - 1)) ** 0.5), 6)],
                    "forecast": [[round(lvl + (i + 1) * tr, 6) for i in range(h)]],
                }
            )

    return events.groupBy(key).applyInPandasWithState(
        _update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def cusum_stream(
    events: DataFrame,
    key: str = "user_id",
    order_col: str = "ts",
    value_col: str = "value",
    target_mean: float = 0.0,
    slack: float = 0.5,
    threshold: float = 5.0,
) -> DataFrame:
    """Streaming twin of :func:`preprocessor_spark.operators.changepoint.
    cusum_online` — Page's one-sided CUSUM pair maintained across
    micro-batches in ``applyInPandasWithState``.

    State per key is O(1): (n, S+, S-, n_alarms, first_alarm_pos). The
    max(0, .) recursion is associative over batch boundaries as long as
    rows arrive per-key in event order ACROSS batches (the append-log
    contract; within a batch rows sort by ``order_col``). After a full
    in-order drain the emitted row equals the batch operator exactly —
    pytest-asserted, the same contract as ``holt_stream``.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_type = events.schema[key].dataType.simpleString()
    out_schema = (
        f"key {key_type}, n bigint, n_alarms bigint, "
        "first_alarm_pos bigint, s_pos double, s_neg double"
    )
    state_schema = "n bigint, sp double, sn double, alarms bigint, first bigint"
    mu, k, h = float(target_mean), float(slack), float(threshold)

    def _update(key_tuple, pdfs, state: GroupState):
        n, sp, sn, alarms, first = (
            state.get if state.exists else (0, 0.0, 0.0, 0, -1)
        )
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows[
            rows[value_col].notna() & rows[order_col].notna()
        ].sort_values(order_col)
        for v in rows[value_col].astype(float):
            n += 1
            sp = max(0.0, sp + (v - mu - k))
            sn = max(0.0, sn - (v - mu + k))
            if sp > h or sn > h:
                alarms += 1
                if first < 0:
                    first = n
        state.update((n, sp, sn, alarms, first))
        if n:
            yield pd.DataFrame(
                {
                    "key": [key_tuple[0]],
                    "n": [n],
                    "n_alarms": [alarms],
                    "first_alarm_pos": [None if first < 0 else first],
                    "s_pos": [round(sp, 6)],
                    "s_neg": [round(sn, 6)],
                }
            )

    return events.groupBy(key).applyInPandasWithState(
        _update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def funnel_stream(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Stateful streaming funnel — the live twin of
    :func:`preprocessor_spark.operators.funnel.funnel_report`.

    Per-user state is the k-slot completion-time vector of the strictly
    ordered first-touch funnel, held as EPOCH-MICROSECOND bigints (the
    state codec does not take timestamp arrays; micros are also exactly
    the unit the batch report's gap arithmetic uses). The forward pass is
    EXACTLY the batch chained-min semantics under the per-key in-order
    drain contract (induction: step i−1's completion is set at the event
    that attains the batch minimum; every earlier step-i event has
    ts ≤ t_{i−1} and fails the strict >, every later one is examined in
    time order, so the first qualifying step-i event IS the batch min —
    pytest-asserted exact report equivalence incl. repeated step types
    and ts ties).

    Emits one row per user per batch: (user, n_events, stage,
    t0..t{k−1} micros); aggregate the drained sink with
    :func:`funnel_report_from_states` for the batch report. State is
    O(k) per user.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    steps = list(steps)
    if not steps:
        raise ValueError("steps must be non-empty")
    k = len(steps)
    idx_of: dict = {}
    for i, st in enumerate(steps):
        idx_of.setdefault(st, []).append(i)
    key_type = events.schema[user_col].dataType.simpleString()
    tcols = [f"t{i}" for i in range(k)]
    out_schema = (
        f"{user_col} {key_type}, n_events bigint, stage int, "
        + ", ".join(f"{t} bigint" for t in tcols)
    )
    state_schema = "n bigint, " + ", ".join(f"{t} bigint" for t in tcols)

    def _update(key_tuple, pdfs, state: GroupState):
        if state.exists:
            got = state.get
            n, times = got[0], list(got[1:])
        else:
            n, times = 0, [None] * k
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows[
            rows[type_col].notna() & rows[ts_col].notna()
        ].sort_values(ts_col)
        for ts, et in zip(rows[ts_col], rows[type_col]):
            n += 1
            us = pd.Timestamp(ts).value // 1000  # exact epoch micros
            for i in idx_of.get(et, ()):
                if times[i] is not None:
                    continue
                if i == 0 or (times[i - 1] is not None and us > times[i - 1]):
                    times[i] = us
        state.update((n, *times))
        if n:
            stage = sum(1 for t in times if t is not None)
            yield pd.DataFrame(
                [{
                    user_col: key_tuple[0],
                    "n_events": n,
                    "stage": stage,
                    **{t: times[i] for i, t in enumerate(tcols)},
                }]
            )

    return events.groupBy(user_col).applyInPandasWithState(
        _update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def sessionize_stream(
    events: DataFrame,
    gap_seconds: float,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Stateful streaming gap-sessionization — the live twin of
    :func:`preprocessor_spark.operators.sessions.session_stats`.

    Per-user state is (events_seen, open-session seq/start/last/count) in
    EPOCH-MICROSECOND bigints. The gap test replicates the batch
    operator's float math exactly — ``us/1e6`` (exact int→double while
    |us| < 2^53, i.e. until the year 2255) then a double subtraction
    compared to the gap — so after a full per-key in-order drain the
    per-session stats are BIT-EQUAL to the batch report. Each batch
    emits every session it touched (closed ones finally, the open one
    provisionally, tagged with the running event count); aggregate the
    drained sink with :func:`session_report_from_states`.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if gap_seconds <= 0:
        raise ValueError("gap_seconds must be > 0")
    key_type = events.schema[user_col].dataType.simpleString()
    out_schema = (
        f"{user_col} {key_type}, session_seq bigint, n_total bigint, "
        "n_events bigint, start_us bigint, end_us bigint"
    )
    state_schema = (
        "n_total bigint, seq bigint, start_us bigint, last_us bigint, "
        "n_in bigint"
    )
    gap = float(gap_seconds)

    def _update(key_tuple, pdfs, state: GroupState):
        if state.exists:
            n_total, seq, start_us, last_us, n_in = state.get
        else:
            n_total, seq, start_us, last_us, n_in = 0, 0, None, None, 0
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows[rows[ts_col].notna()].sort_values(ts_col)
        emitted = []
        for ts in rows[ts_col]:
            us = pd.Timestamp(ts).value // 1000
            n_total += 1
            if last_us is None or (us / 1e6 - last_us / 1e6) > gap:
                if last_us is not None:
                    emitted.append((seq, n_total - 1, int(n_in), start_us, last_us))
                seq += 1
                start_us = us
                n_in = 1
            else:
                n_in += 1
            last_us = us
        state.update((n_total, seq, start_us, last_us, n_in))
        if last_us is not None:
            emitted.append((seq, n_total, int(n_in), start_us, last_us))
        if emitted:
            yield pd.DataFrame(
                [
                    {
                        user_col: key_tuple[0],
                        "session_seq": s,
                        "n_total": nt,
                        "n_events": ne,
                        "start_us": su,
                        "end_us": lu,
                    }
                    for s, nt, ne, su, lu in emitted
                ]
            )

    return events.groupBy(user_col).applyInPandasWithState(
        _update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def session_report_from_states(states: DataFrame) -> DataFrame:
    """Drained sessionize_stream emissions → the batch ``session_stats``
    frame (user_id, session_seq, n_events, session_start, session_end,
    duration_sec), bit-equal after a full in-order drain. A session
    re-emitted across batches resolves to its LATEST emission (max
    n_total — the running event counter is nondecreasing)."""
    user_col = states.columns[0]
    per_session = states.groupBy(user_col, "session_seq").agg(
        F.max_by("n_events", "n_total").alias("n_events"),
        F.max_by("start_us", "n_total").alias("start_us"),
        F.max_by("end_us", "n_total").alias("end_us"),
    )
    # the batch frame's duration: MAX(us/1e6) - MIN(us/1e6), same op order
    sa = F.col("start_us").cast("double") / F.lit(1e6)
    sb = F.col("end_us").cast("double") / F.lit(1e6)
    return per_session.select(
        user_col,
        "session_seq",
        "n_events",
        F.timestamp_micros(F.col("start_us")).alias("session_start"),
        F.timestamp_micros(F.col("end_us")).alias("session_end"),
        F.round(sb - sa, 3).alias("duration_sec"),
    )


def funnel_report_from_states(states: DataFrame, steps: list[str]) -> DataFrame:
    """Drained per-user funnel states → the batch ``funnel_report`` frame
    (step_idx, step, n_users, conv_from_prev, avg_gap_secs), using the
    SAME exact BIGINT-microsecond arithmetic so the two reports are
    bit-equal after a full in-order drain. The latest emission per user
    (max n_events — nondecreasing) is its final state."""
    from preprocessor_spark.operators.funnel import _report_from_per_user

    k = len(steps)
    tcols = [f"__t{i}" for i in range(k)]
    per_user = states.groupBy(states.columns[0]).agg(
        *[
            F.timestamp_micros(F.max_by(f"t{i}", "n_events")).alias(t)
            for i, t in enumerate(tcols)
        ]
    )
    return _report_from_per_user(per_user, tcols, steps)


def interval_join_stream(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start_col: str,
    end_col: str,
    on: list[str],
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """STREAM-STREAM interval join: each arriving point row matches every
    interval row with the same ``on`` keys whose [start, end] contains the
    point's event time — the continuous twin of
    :func:`preprocessor_spark.operators.interval.interval_join` (incident
    windows catching clicks, sessions catching beacons) built on Spark's
    watermarked stream-stream inner join.

    Both sides carry a ``watermark_delay`` event-time watermark; the join
    condition is the equi keys plus the explicit time range
    ``start <= ts <= end``, which Spark uses to BOUND the buffered state
    on both sides (late rows beyond the watermark are dropped, matched
    pairs emit append-mode as soon as both sides arrive). Inner-join
    emissions do not wait for the watermark, so a single availableNow
    drain yields exactly the batch join's pairs — the twin contract the
    registry query grades via the batch oracle.

    Returns all columns of ``points`` plus the non-``on`` columns of
    ``intervals``. Column names must not otherwise collide. The three
    event-time columns are cast to TIMESTAMP (watermarks reject
    TIMESTAMP_NTZ; with the engine's fixed UTC session timezone the cast
    is value-preserving).
    """
    p = (
        points.withColumn(point_ts, F.col(point_ts).cast("timestamp"))
        .withWatermark(point_ts, watermark_delay)
        .alias("p")
    )
    i = (
        intervals.withColumn(start_col, F.col(start_col).cast("timestamp"))
        .withColumn(end_col, F.col(end_col).cast("timestamp"))
        .withWatermark(start_col, watermark_delay)
        .alias("i")
    )
    cond = None
    for c in on:
        eq = F.col(f"p.{c}") == F.col(f"i.{c}")
        cond = eq if cond is None else (cond & eq)
    rng = (F.col(f"p.{point_ts}") >= F.col(f"i.{start_col}")) & (
        F.col(f"p.{point_ts}") <= F.col(f"i.{end_col}")
    )
    cond = rng if cond is None else (cond & rng)
    other = [c for c in intervals.columns if c not in on]
    return p.join(i, cond, "inner").select(
        *[F.col(f"p.{c}") for c in points.columns],
        *[F.col(f"i.{c}") for c in other],
    )
