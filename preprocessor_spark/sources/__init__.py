"""Source connectors.

The reference library has no file connectors at all (SURVEY.md §2.1: it only
ingests in-memory pandas/Polars frames, `preprocessor.py:141-148`). Our engine
reads the driver-generated Parquet star schema (``read_table`` normalizes its
physical quirks); plain Parquet/CSV/JSON/ORC/XML/text I/O is one
``spark.read``/``df.write`` call and needs no wrapper here. What stays adds
logic: Avro with a pure-Python fallback, binary files, bucketed/partitioned
writes, compaction and JSONL. All readers return lazy DataFrames so Catalyst
can push filters/projections into the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one star-schema table, normalizing physical quirks.

    events.parquet stores ts as TIMESTAMP(NANOS), which Spark's vectorized
    parquet reader rejects; read nanos as long and truncate to microseconds
    (identical to DuckDB's nanos→timestamp truncation).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # scope the legacy conf: it only applies at analysis time of this
        # read, so restore the previous value to avoid silently turning every
        # later nanos-timestamp read session-wide into bigint
        key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "true")
        try:
            df = spark.read.parquet(path)
            if dict(df.dtypes).get("ts") == "bigint":
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
        return df
    return spark.read.parquet(path)


def read_avro(spark: SparkSession, path: str, **options) -> DataFrame:
    """Avro read with a runnable fallback: the JVM spark-avro module
    (``--packages org.apache.spark:spark-avro_2.13:<spark-version>``) is
    the fast path when its jar is on the classpath; when the lookup fails
    (this container can't add jars) the pure-Python container reader
    (:mod:`preprocessor_spark.sources.avro_py`, Spark 4 Python Data Source
    API — one input partition per .avro file) serves the same files."""
    try:
        return spark.read.options(**options).format("avro").load(path)
    except Exception as e:  # AnalysisException: Failed to find data source
        if "Failed to find data source: avro" not in str(e):
            raise
        if options:
            # the pure-Python reader takes only a path — refuse loudly
            # rather than silently diverging from spark-avro semantics
            raise NotImplementedError(
                f"avro_py fallback reader does not support options "
                f"{sorted(options)}; only plain path reads are available "
                f"without the JVM spark-avro module"
            ) from e
        from preprocessor_spark.sources.avro_py import register_avro_source

        register_avro_source(spark)
        return spark.read.format("avro_py").load(path)


def write_avro(df: DataFrame, path: str, mode: str = "overwrite", **options) -> None:
    """Avro write twin of :func:`read_avro`: JVM module when present,
    else the distributed pure-Python container writer (one part file per
    partition, deflate codec)."""
    try:
        df.write.mode(mode).options(**options).format("avro").save(path)
    except Exception as e:
        if "Failed to find data source: avro" not in str(e):
            raise
        from preprocessor_spark.sources.avro_py import write_avro_py

        # map the spark-avro option the fallback CAN honor; refuse the rest
        # loudly instead of silently dropping them
        opts = dict(options)
        codec = opts.pop("compression", "deflate")
        if codec == "uncompressed":
            codec = "null"
        if opts:
            raise NotImplementedError(
                f"avro_py fallback writer supports only the 'compression' "
                f"option; got unsupported options {sorted(opts)}"
            ) from e
        write_avro_py(df, path, codec=codec, mode=mode)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Raw-file ingest via the built-in ``binaryFile`` source: one row per
    file with ``(path, modificationTime, length, content: binary)`` — the
    ingestion half of the multimodal pipeline (feed ``content`` to
    operators/multimodal.py decoders).

    ``glob`` maps to pathGlobFilter (filename pattern pushdown — pruning
    happens at listing time, before any read). ``max_bytes`` filters on
    the LENGTH column, which the source populates from file metadata, so
    oversized blobs are skipped without reading their bytes.

    100 TB shape: files are unsplittable rows — fine for media corpora
    (many small-to-medium objects); pack giant archives upstream. The
    binary payload stays columnar (Arrow) all the way into mapInPandas.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.where(F.col("length") <= max_bytes)
    return df


def load_tables(spark: SparkSession, sf_dir: str, register_views: bool = False) -> dict[str, DataFrame]:
    """Load every star-schema table present under ``sf_dir``.

    Optionally registers each as a temp view so ``spark.sql`` queries can
    reference them by name.
    """
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = read_table(spark, sf_dir, name)
            out[name] = df
            if register_views:
                df.createOrReplaceTempView(name)
    return out


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 8,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) table.

    The 100 TB co-location tool: two fact tables bucketed by the same key
    into the same bucket count join with NO shuffle (and no sort, if sorted)
    — the scan itself provides the required distribution. This is how a
    repeatedly-joined key (orderkey, user_id) amortizes its shuffle once at
    write time instead of on every query.
    """
    w = df.write.format("parquet").mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    files_per_partition: int = 1,
    mode: str = "overwrite",
) -> None:
    """Hive-style partitioned parquet layout with write alignment.

    Repartitioning on the partition columns (optionally salted into
    ``files_per_partition`` shards for large partitions) aligns shuffle
    output with the directory layout, so each task writes exactly one file
    per directory. Unaligned writers emit up to tasks×partitions files —
    the classic small-files explosion that kills 100 TB scan planning; this
    writer emits at most partitions×files_per_partition (hash repartitioning
    can co-locate two shards in one task, which then writes one merged
    file)."""
    if files_per_partition < 1:
        raise ValueError(f"files_per_partition must be >= 1, got {files_per_partition}")
    keys = [F.col(c) for c in partition_cols]
    if files_per_partition > 1:
        shard = F.abs(F.xxhash64(*[F.col(c) for c in df.columns])) % files_per_partition
        keys = keys + [shard]
    (
        df.repartition(*keys)
        .write.mode(mode)
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def compact_parquet(
    spark: SparkSession,
    src: str,
    dest: str,
    target_file_bytes: int = 256 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite ``src`` into ~``target_file_bytes``
    files at ``dest``; returns the output file count. Long-running ingestion
    (streaming sinks, frequent appends) accretes tiny files whose per-file
    open/footer cost dominates scans — periodic compaction is standard
    table maintenance at scale. File sizes come from the Hadoop FileSystem
    API, so any scheme the cluster can read (file/hdfs/s3a/abfs) sizes
    correctly — never the silent repartition(1) a local-only stat would
    produce on remote paths."""
    import math

    df = spark.read.parquet(src)
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    total = 0
    for f in df.inputFiles():
        jpath = jvm.org.apache.hadoop.fs.Path(f)
        total += jpath.getFileSystem(hconf).getFileStatus(jpath).getLen()
    n = max(1, math.ceil(total / target_file_bytes)) if total else 1
    df.repartition(n).write.mode("overwrite").parquet(dest)
    return n


def write_jsonl(
    df: DataFrame, path: str, num_shards: int | None = None, compression: str | None = "gzip"
) -> None:
    """Export as JSON-Lines shards — the lingua-franca handoff format for
    LLM training corpora. ``num_shards`` controls file count (defaults to
    the frame's partitioning); gzip by default since text JSONL compresses
    ~5-10×."""
    if num_shards is not None:
        df = df.repartition(num_shards)
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def to_pandas(df: DataFrame, max_rows: int | None = None):
    """pandas egress — reference `preprocessor.py:458-459`. Driver-side;
    optionally guarded by a row limit since collecting 100 TB is not a plan."""
    if max_rows is not None:
        df = df.limit(max_rows)
    return df.toPandas()
