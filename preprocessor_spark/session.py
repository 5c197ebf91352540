"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same
config block is what we would ship as cluster defaults: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), Arrow transfer for
the few pandas-UDF paths, and shuffle partitions sized to the executor core
count rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "preprocessor-spark",
    cpus: int | str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = str(max(int(cpus) * 2, 8))
    # Make this package importable on executor Python workers even when the
    # driver imported it via a sys.path entry: pandas UDFs defined in our
    # modules are pickled by reference and unpickled worker-side.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{existing}" if existing else pkg_parent
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Runtime adaptivity: coalesce tiny post-shuffle partitions, split
        # skewed ones, re-plan joins with runtime stats. Essential at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-plan (coalesce/skew-split) the shuffles INSIDE cached
        # plans too (SPARK-42101; off by default only for layout
        # back-compat). Every iterative operator here persists an edge/
        # signature/ratings frame and re-reads it tens of times per
        # fixpoint; without this the cache materializes at the raw
        # session shuffle count (64 near-empty partitions at demo scale —
        # measured 64-task stages inside every fixpoint round), with it
        # the cached layout follows AQE's byte-sized coalescing at any
        # scale (locally a handful of tasks; at 100 TB ~advisory-sized
        # partitions, where coalescing is a no-op). Paired A/B at sf0.1:
        # dedup_connected_components 10.4→6.8 s, dbscan 10.8→7.5 s, huber
        # 3.7→2.9 s, communities_lpa 7.9→6.8 s, no regressions; results
        # bit-identical (collected and compared).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.shuffle.partitions", shuffle)
        # Arrow for any toPandas()/pandas_udf boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Dimension tables up to 64 MB broadcast instead of shuffling the
        # fact side.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Split small file sets to at least the core count: a 30 MB parquet
        # under one 128 MB split would otherwise pin CPU-dense per-row
        # kernels (n-gram stats, signatures) to ONE core. Scale-safe: it is
        # a minimum — at 100 TB natural file splits dominate and this is a
        # no-op; locally it is file-range splitting, not a shuffle.
        .config("spark.sql.files.minPartitionNum", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # PySpark 4's per-API-call call-site capture does one extra JVM
        # round trip for EVERY Column/DataFrame function; on expression-
        # heavy plans (ts_features builds ~2k Column nodes) that is whole
        # seconds of driver-side plan-build wall. The captured call sites
        # only decorate error messages — disable in this library's
        # sessions; stack traces still carry the Python-side origin.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Every Python task (pandas UDF, mapInPandas, applyInPandas) calls
        # importlib.invalidate_caches() before its body runs, and on Python
        # 3.11 that re-reads every zip on the workers' path. Timed inside a
        # worker on a 4-core host: 12 reads of pyspark.zip (1,328 entries,
        # 5-11 ms each) and 2 of the spark-core jar (5,359 entries, 22-44
        # ms each), 0.1-0.26 s per task with the host's load. The top-level
        # preprocessor_spark_daemon module (found through the PYTHONPATH
        # set above) re-reads an archive only when its stat changed, then
        # runs the stock pyspark.daemon. A single-task pandas-UDF job went
        # from 0.16-0.25 s to 0.10-0.14 s (medians of 10, four session
        # pairs; a non-UDF job takes 0.04-0.08 s). It must stay outside
        # this package: as `-m preprocessor_spark.<mod>` the package
        # __init__ loaded into the daemon and every forked worker, and
        # perfbench prep_temporal peak_rss_mb rose from 1700-1723 to
        # 1772-1773 MB. Stock daemon for an A/B:
        # SPARK_GRAFT_CONF_JSON='{"spark.python.daemon.module":"pyspark.daemon"}'
        .config("spark.python.daemon.module", "preprocessor_spark_daemon")
    )
    # experiment/ops passthrough: JSON dict of extra conf pairs, e.g.
    # SPARK_GRAFT_CONF_JSON='{"spark.python.worker.idleTimeoutSeconds":"60"}'
    # — lets bench.py A/B a config without code changes
    env_conf = os.environ.get("SPARK_GRAFT_CONF_JSON")
    if env_conf:
        import json as _json

        for k, v in _json.loads(env_conf).items():
            builder = builder.config(k, str(v))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
