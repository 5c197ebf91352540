"""Spans, Spark status-store readings and process sampling, all from outside
the library.

A traced phase sets the Spark job group ``workload/pass/op/phase`` before the
call, then maps the group to its jobs with ``statusTracker`` and reads each
job's stages from the status store, which works with the UI disabled. Spans
stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

#: executed-plan nodes that evaluate Python (row, Arrow or pandas UDFs)
_UDF_NODE = re.compile(
    r"^(ArrowEvalPython|BatchEvalPython|\w*MapIn(Pandas|Arrow)|FlatMap\w*In(Pandas|Arrow)\w*"
    r"|AggregateInPandas|ArrowAggregatePython|WindowInPandas|ArrowWindowPython"
    r"|\w*EvalPythonUDTF|TransformWithStateInPandas)$"
)
_MB = 1024.0 * 1024.0


def udf_eval_nodes(df) -> int:
    """Python-evaluation nodes in ``df``'s physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    n = 0
    for line in plan.splitlines():
        node = re.sub(r"^\*\(\d+\)\s*", "", line.lstrip(" :+-|"))
        if _UDF_NODE.match(node.split(" ", 1)[0].split("[", 1)[0]):
            n += 1
    return n


class Tracer:
    """Collects spans for one run. With ``enabled`` false every span is a
    plain wall-clock timer and Spark is never queried."""

    def __init__(self, spark, enabled: bool, cores: int):
        self.spark = spark
        self.enabled = enabled
        self.cores = cores
        self.spans: list[dict] = []
        self.pass_no: int | None = None
        self._stack: list[int] = []

    def _add(self, **span) -> dict:
        span["id"] = len(self.spans)
        span["pass"] = self.pass_no
        span["parent"] = self._stack[-1] if self._stack else None
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, layer: str, name: str, group: str | None = None, traced: bool | None = None):
        """Time the body. When tracing, a ``group`` also tags the body's
        Spark jobs and attaches their stage totals to the span."""
        traced = self.enabled if traced is None else traced
        span = self._add(layer=layer, name=name, start=time.time())
        self._stack.append(span["id"])
        if traced and group:
            sc = self.spark.sparkContext
            sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield span
        finally:
            span["wall_s"] = time.perf_counter() - t0
            span["end"] = time.time()
            self._stack.pop()
            if traced and group:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                span["spark"] = self._group_stats(group, span["id"])
                span["spark"]["idle_core_s"] = max(
                    0.0, self.cores * span["wall_s"] - span["spark"]["executor_run_s"]
                )

    def record(self, layer: str, name: str, **values) -> None:
        """A zero-length span carrying counts measured at this boundary."""
        now = time.time()
        self._add(layer=layer, name=name, start=now, end=now, wall_s=0.0, **values)

    def _group_stats(self, group: str, parent: int) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # job and stage records reach the status store through the listener
        # bus; drain it so the numbers are final
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tot = dict(jobs=0, stages=0, tasks=0, failed_tasks=0, executor_run_s=0.0,
                   input_mb=0.0, shuffle_read_mb=0.0, shuffle_write_mb=0.0, spill_mb=0.0)
        seen: set[int] = set()
        for job_id in sorted(sc.statusTracker().getJobIdsForGroup(group)):
            info = sc.statusTracker().getJobInfo(job_id)
            if info is None:
                continue
            tot["jobs"] += 1
            job = store.job(job_id)
            start = job.submissionTime()
            end = job.completionTime()
            self._add(
                layer="spark", name=f"job{job_id}", parent_group=group,
                start=start.get().getTime() / 1000.0 if start.isDefined() else None,
                end=end.get().getTime() / 1000.0 if end.isDefined() else None,
                status=str(info.status),
            )["parent"] = parent
            for stage_id in info.stageIds:
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                try:
                    st = store.lastStageAttempt(stage_id)
                except Exception:  # stage evicted from the store; counted as absent
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                tot["failed_tasks"] += st.numFailedTasks()
                tot["executor_run_s"] += st.executorRunTime() / 1000.0
                tot["input_mb"] += st.inputBytes() / _MB
                tot["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
                tot["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
                tot["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
        return tot

    def held_rdds(self) -> dict[int, int]:
        """Bytes held by each cached or checkpointed RDD that still has
        blocks, by RDD id."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {i.id(): i.memSize() + i.diskSize() for i in infos if i.numCachedPartitions() > 0}

    def write(self, path: str, header: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**header, "spans": self.spans}, f, default=str)


@contextmanager
def wrapped(module, name: str, tracer: Tracer, layer: str):
    """Replace ``module.name`` with a timed wrapper for the body's duration.
    The library calls these through the module attribute, so the wrapper
    sees every call."""
    orig = getattr(module, name)

    def timed(*args, **kwargs):
        with tracer.span(layer, name):
            return orig(*args, **kwargs)

    setattr(module, name, timed)
    try:
        yield
    finally:
        setattr(module, name, orig)


class RssSampler:
    """Peak summed RSS of this process, the JVM and the JVM's descendants
    (the Python worker daemon and its workers), sampled from /proc, over
    the whole run and over the window since the last ``new_window``."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.jvm_pid: int | None = None
        self.peak_kb = 0
        self.window_kb = 0
        #: (driver MB, JVM MB, Python workers MB, worker count) at the
        #: window's peak
        self.window_parts: tuple = ()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak_kb / 1024.0

    def new_window(self) -> None:
        self.window_kb = 0
        self.window_parts = ()

    def window_peak_mb(self) -> float:
        self._sample()
        return self.window_kb / 1024.0

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def _sample(self) -> None:
        parents: dict[int, int] = {}
        rss: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rfind(")") + 2:].split()
            pid = int(entry)
            parents[pid] = int(fields[1])
            rss[pid] = int(fields[21]) * os.sysconf("SC_PAGE_SIZE") // 1024
        keep = {os.getpid()}
        if self.jvm_pid is not None:
            keep.add(self.jvm_pid)
            frontier = [self.jvm_pid]
            while frontier:
                p = frontier.pop()
                kids = [c for c, pp in parents.items() if pp == p and c not in keep]
                keep.update(kids)
                frontier.extend(kids)
        total = sum(rss.get(p, 0) for p in keep)
        self.peak_kb = max(self.peak_kb, total)
        if total > self.window_kb:
            self.window_kb = total
            me, jvm = rss.get(os.getpid(), 0), rss.get(self.jvm_pid, 0)
            self.window_parts = (me / 1024.0, jvm / 1024.0, (total - me - jvm) / 1024.0, len(keep) - 2)


def cpu_steal_snapshot() -> tuple[int, int]:
    """(steal ticks, total ticks) of the aggregate cpu line in /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0
