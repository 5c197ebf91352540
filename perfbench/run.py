"""Seeded closed-loop benchmark of the preprocessor_spark library.

    python3 perfbench/run.py --workload prep_temporal --seed 1 --seconds 10 --trace 0

One client on ``local[<nproc>]`` runs passes back to back; each pass runs
the workload's operations in order (see workloads.py). A run:

1. sets up once, from process start: imports, the JVM and the session,
   the seeded inputs, one read of each input (``setup_s``);
2. runs the first pass right after, in that cold JVM (``first_pass_s``);
3. runs steady passes until ``--seconds`` have passed and at least the
   workload's ``STEADY_PASSES`` are done (``pass_s`` is their median);
4. checks outputs once against DuckDB (outside the timed passes).

With ``--trace 1`` steady passes alternate between traced and untraced; the
per-layer metrics are medians over the traced ones and ``trace.overhead_s``
is the traced minus the untraced median pass time. The last stdout line is
the result object; the line before it holds the environment, the input
properties, every pass and every check. Spans go to
``.perfbench-work/spans/``.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import pyspark  # noqa: E402
from pyspark import SparkContext  # noqa: E402

import inputs  # noqa: E402
import workloads  # noqa: E402
from preprocessor_spark import get_spark  # noqa: E402
from spans import RssSampler, Tracer, cpu_steal_snapshot, median  # noqa: E402

#: steady passes of a traced run, which alternate traced and untraced
MIN_STEADY_TRACED = 3
#: a small fixed driver heap (initial = max) keeps the JVM's resident size,
#: and so peak_rss_mb, from tracking how the collector resizes the heap
DRIVER_MEMORY = "1g"
MAX_PASSES = 200
JVM_EXIT_WAIT_S = 1

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "rows_per_s": "1/s",
    "ok_ratio": "ratio",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "preprocessor.fit_s": "s",
    "preprocessor.fit_jobs": "count",
    "preprocessor.transform_build_s": "s",
    "preprocessor.transform_build_jobs": "count",
    "preprocessor.transform_exec_s": "s",
    "preprocessor.inverse_build_s": "s",
    "preprocessor.inverse_exec_s": "s",
    "preprocessor.out_cols": "count",
    "functions.numerical.order_fills_s": "s",
    "functions.numerical.quantile_fit_s": "s",
    **{
        f"query.{q}.{m}": u
        for q in workloads.LLM_QUERIES
        for m, u in (("build_s", "s"), ("build_jobs", "count"), ("exec_s", "s"), ("rows_out", "count"))
    },
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_s": "s",
    "spark.idle_core_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "udf.eval_nodes": "count",
    "caching.retained_mb": "MB",
    "caching.retained_rdds": "count",
    "trace.overhead_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the smoke test")
    return ap.parse_args(argv)


def start_session(work: str, cpus: int):
    spark = get_spark(
        "perfbench",
        cpus=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -Xms{DRIVER_MEMORY}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, in_dir: str) -> None:
    """Touch every input once: file index, footers and the scan path."""
    for name in sorted(os.listdir(in_dir)):
        if name.endswith(".parquet"):
            spark.read.parquet(os.path.join(in_dir, name)).count()


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM, which exits when its stdin
    closes, and with it the Python workers it started. Its exit took from
    under 1 s to 10 s; with the session stopped, and the work directory
    removed by the caller, nothing is lost by killing it after
    JVM_EXIT_WAIT_S."""
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=JVM_EXIT_WAIT_S)
        except Exception:
            proc.kill()
            proc.wait()


def pass_metrics(tracer: Tracer, wl, p: int, held: tuple[int, float]) -> dict:
    """Per-layer values of one traced pass, from its spans."""
    spans = [s for s in tracer.spans if s["pass"] == p]
    by_name = {s["name"]: s for s in spans if s["layer"] in ("preprocessor", "query")}
    m = {k: 0.0 for k in PER_LAYER}
    for s in spans:
        for k, v in s.get("spark", {}).items():
            m[f"spark.{k}"] += v
        if s["layer"] == "udf":
            m["udf.eval_nodes"] += s["count"]
        elif s["layer"] == "functions":
            key = {"apply_order_dependent_fills": "order_fills_s", "fit_quantile_landmarks": "quantile_fit_s"}
            m[f"functions.numerical.{key[s['name']]}"] += s["wall_s"]

    def phase(name: str) -> tuple[float, float]:
        s = by_name.get(name)
        return (s["wall_s"], s.get("spark", {}).get("jobs", 0)) if s else (0.0, 0)

    if isinstance(wl, workloads.PrepWorkload):
        m["preprocessor.fit_s"], m["preprocessor.fit_jobs"] = phase("fit.build")
        m["preprocessor.transform_build_s"], m["preprocessor.transform_build_jobs"] = phase("transform.build")
        m["preprocessor.transform_exec_s"] = phase("transform.exec")[0]
        m["preprocessor.inverse_build_s"] = phase("inverse.build")[0]
        m["preprocessor.inverse_exec_s"] = phase("inverse.exec")[0]
        m["preprocessor.out_cols"] = by_name.get("out_cols", {}).get("count", 0)
    else:
        for q in workloads.LLM_QUERIES:
            m[f"query.{q}.build_s"], m[f"query.{q}.build_jobs"] = phase(f"{q}.build")
            m[f"query.{q}.exec_s"] = phase(f"{q}.exec")[0]
            m[f"query.{q}.rows_out"] = by_name.get(f"{q}.rows_out", {}).get("count", 0)
    m["caching.retained_rdds"], m["caching.retained_mb"] = held
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher too, would write an hsperfdata
    # file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    steal0 = cpu_steal_snapshot()
    sampler = RssSampler().start()
    tracer = Tracer(None, bool(args.trace), cpus)

    # -- set-up, from process start: session, seeded inputs, warm-up
    with tracer.span("session", "get_spark") as s:
        spark = start_session(work, cpus)
    get_spark_s = s["wall_s"]
    tracer.spark = spark
    sampler.jvm_pid = spark.sparkContext._gateway.proc.pid
    in_dir = os.path.join(work, "inputs")
    props = inputs.generate(args.workload, args.seed, args.scale, in_dir)
    warm_up(spark, in_dir)
    setup_s = time.perf_counter() - T0
    sc = spark.sparkContext
    env = {
        # what the session was given, against what the process may use
        "cpus_requested": int(re.fullmatch(r"local\[(\d+)\]", sc.master).group(1)),
        "default_parallelism": sc.defaultParallelism,
        "nproc": cpus,
        "cpu_count": os.cpu_count(),
        "pyspark": pyspark.__version__,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "driver_memory": sc.getConf().get("spark.driver.memory"),
    }

    wl = workloads.WORKLOADS[args.workload](args.workload, spark, in_dir, props)
    min_steady = MIN_STEADY_TRACED if args.trace else wl.STEADY_PASSES
    passes, layer_rows = [], []
    attempted = failed = 0

    def one_pass(p: int, traced: bool) -> None:
        nonlocal attempted, failed
        tracer.pass_no = p
        before = tracer.held_rdds() if traced else {}
        sampler.new_window()
        with tracer.span("pass", f"pass{p}", traced=False) as s:
            ops = wl.run_pass(tracer, p, traced)
        attempted += len(ops)
        failed += sum(not o.ok for o in ops)
        passes.append({"pass": p, "traced": traced, "wall_s": s["wall_s"],
                       "peak_rss_mb": sampler.window_peak_mb(), "rss_parts_mb": sampler.window_parts,
                       "ops": [o.as_dict() for o in ops]})
        if traced:
            # only what this pass added: earlier passes' blocks stay until a
            # JVM GC lets the ContextCleaner free them
            after = tracer.held_rdds()
            new = [b for rdd, b in after.items() if rdd not in before]
            held = (len(new), sum(new) / (1024.0 * 1024.0))
            tracer.record("caching", "retained", rdds=held[0], mb=held[1])
            if p > 0:
                layer_rows.append(pass_metrics(tracer, wl, p, held))

    # -- timed passes
    with wl.traced_wrappers(tracer) if args.trace else nullcontext():
        one_pass(0, bool(args.trace))
        t_window = time.perf_counter()
        p = 1
        while p <= MAX_PASSES and (time.perf_counter() - t_window < args.seconds or p <= min_steady):
            one_pass(p, bool(args.trace) and p % 2 == 1)
            p += 1
        tracer.pass_no = None

    # -- once-per-run output checks, outside the timed passes
    t_checks = time.perf_counter()
    checks = []
    try:
        results = wl.checks()
    except Exception as e:  # a failed check is counted, never fatal
        results = [("checks", False, f"{type(e).__name__}: {str(e)[:300]}")]
    for op, ok, detail in results:
        checks.append({"op": op, "ok": ok, "detail": detail})
        attempted += 1
        failed += not ok

    t_stop = time.perf_counter()
    stop_jvm(spark)
    run_peak_rss_mb = sampler.stop()
    timeline = {"setup_s": setup_s, "passes_s": t_checks - t_window + passes[0]["wall_s"],
                "checks_s": t_stop - t_checks, "stop_s": time.perf_counter() - t_stop}
    steal1 = cpu_steal_snapshot()
    env["steal_share"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])

    steady = [x for x in passes[1:] if not x["traced"]]
    pass_s = median([x["wall_s"] for x in steady])
    if args.trace:
        metrics = {k: median([row[k] for row in layer_rows]) for k in PER_LAYER}
        metrics["session.get_spark_s"] = get_spark_s
        traced = [x["wall_s"] for x in passes[1:] if x["traced"]]
        metrics["trace.overhead_s"] = median(traced) - pass_s
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": setup_s,
            "first_pass_s": passes[0]["wall_s"],
            "pass_s": pass_s,
            "rows_per_s": props["rows"] / pass_s,
            "ok_ratio": 1.0 - failed / attempted,
            # per-pass peaks: one transient spike in a run moves the
            # whole-run peak, not the median
            "peak_rss_mb": median([x["peak_rss_mb"] for x in steady]),
        }
        units = END_TO_END

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "env": env, "inputs": props,
        "steady_passes": len(steady),
        "run_peak_rss_mb": run_peak_rss_mb,
        "timeline": timeline,
        "passes": passes, "checks": checks,
    }
    tracer.write(
        os.path.join(ROOT, ".perfbench-work", "spans",
                     f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"),
        record,
    )
    for name in os.listdir(work):
        shutil.rmtree(os.path.join(work, name), ignore_errors=True)
    os.rmdir(work)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
