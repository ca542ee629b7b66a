"""Sources and sinks (SURVEY §2.1).

S1  CSV bulk load with explicit schema + header skip
    (reference: validate_data.py:138-146 — Redshift COPY ... CSV IGNOREHEADER 1)
S2  truncate-and-load -> write mode("overwrite")   (validate_data.py:139)
S3  table scan -> read_parquet (schema from the footer, no inference job)
                                                   (populate_fact.py:111)
S6  INSERT INTO ... SELECT -> write mode("append") (dynamic_upsert.py:120-122)

Scale notes: explicit schemas (no inferSchema pass over 100 TB), parquet
as the canonical storage (columnar, predicate pushdown + column pruning
reach the scan), writers take ``partition_by`` so big tables land
partitioned by their pruning key (e.g. fact by date).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_csv_table(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    """S1: schema-first CSV bulk load (COPY ... DELIMITER ',' IGNOREHEADER 1)."""
    return (
        spark.read.schema(schema)
        .option("header", header)
        .option("sep", delimiter)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


_PARQUET = "org.apache.spark.sql.execution.datasources.parquet."


def _hidden(name: str) -> bool:
    # Spark's listing filter (HadoopFSUtils.shouldFilterOutPathName)
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _first_data_file(path: str) -> str | None:
    """The file Spark's schema inference reads under ``path``: the
    first leaf by full path string. Children are visited in the order
    of their name plus a trailing ``/`` for directories, so this
    depth-first walk meets leaves in exactly that order."""
    if not os.path.isdir(path):
        return path if os.path.exists(path) else None
    with os.scandir(path) as it:
        children = sorted(
            (e.name + ("/" if e.is_dir() else ""), e.path)
            for e in it
            if not _hidden(e.name)
        )
    for _, child in children:
        found = _first_data_file(child)
        if found is not None:
            return found
    return None


def parquet_schema(spark: SparkSession, *paths: str) -> T.StructType | None:
    """The data schema ``spark.read.parquet(*paths)`` would infer, read
    from one parquet footer on the driver with Spark's own converter
    over the session conf (so ``nanosAsLong`` and the NTZ inference
    setting apply exactly as in inference). Partition columns are not
    included: Spark still discovers and appends them.

    Inference without a schema submits a one-task job per read; this
    is ~2 ms of driver work and no job. Returns None, and the caller
    lets Spark infer, where one local footer is not the answer: globs,
    non-local filesystems, ``spark.sql.parquet.mergeSchema``, or no
    readable data file (Spark then raises its usual error). Summary
    files (``_metadata``) are not consulted; Spark writes none by
    default.
    """
    from py4j.java_gateway import JavaClass
    from py4j.protocol import Py4JJavaError

    if any(c in p for p in paths for c in "*?[{"):
        return None
    if spark.conf.get("spark.sql.parquet.mergeSchema", "false") == "true":
        return None
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    local = conf.get("fs.defaultFS", "file:///").startswith("file:")
    files = []
    for p in paths:
        if p.startswith("file:"):
            p = "/" + p[len("file:"):].lstrip("/")
        elif "://" in p or not local:
            return None
        f = _first_data_file(os.path.abspath(p))
        if f is not None:
            files.append(f)
    if not files:
        return None
    client = spark.sparkContext._gateway._gateway_client

    def jclass(name: str) -> JavaClass:
        # a direct handle: ``jvm.org.apache...`` resolves the name one
        # package at a time, each step a failed class lookup in every jar
        return JavaClass(name, client)

    path = jclass("org.apache.hadoop.fs.Path")("file://" + min(files))
    try:
        footer = jclass("org.apache.parquet.hadoop.ParquetFileReader").readFooter(
            conf,
            path,
            jclass(
                "org.apache.parquet.format.converter.ParquetMetadataConverter"
            ).SKIP_ROW_GROUPS,
        )
        jschema = jclass(_PARQUET + "ParquetFileFormat").readSchemaFromFooter(
            jclass("org.apache.parquet.hadoop.Footer")(path, footer),
            jclass(_PARQUET + "ParquetToSparkSchemaConverter")(
                spark._jsparkSession.sessionState().conf()
            ),
        )
    except Py4JJavaError:
        return None
    return T.StructType.fromJson(json.loads(jschema.json()))


def footer_rows(path: str) -> int | None:
    """EXACT row count of a parquet file or directory tree from its
    footers — driver-side metadata (~0.1 ms per file), no Spark job
    (a Spark count pays ~0.3 s of fixed collect-path overhead). None when pyarrow is unavailable, any footer is unreadable, or the
    path does not exist (a wrong 0 would corrupt row-count checks);
    callers fall back to a Spark count."""
    try:
        import pyarrow.parquet as pq

        if os.path.isfile(path):
            return pq.ParquetFile(path).metadata.num_rows
        if not os.path.isdir(path):
            return None
        return sum(
            pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
            for root, _, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )
    except Exception:  # noqa: BLE001 — optional fast path only
        return None


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet`` with the schema taken from a footer
    (:func:`parquet_schema`) instead of an inference job. Every parquet
    read in the package goes through here."""
    schema = parquet_schema(spark, *paths)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S3: scan one driver testdata parquet table."""
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the source is coarser than the
    cluster's parallelism (e.g. a single-row-group parquet file, which is
    unsplittable, serializes every downstream CPU-heavy stage onto one
    task). At scale — many files / row groups — the partition count
    already exceeds defaultParallelism and this is a no-op, so wide
    inputs never pay a gratuitous full shuffle. Checking the partition
    count reads plan metadata; it launches no job.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def read_json_table(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """Schema-first JSON lines read (no inference pass — at 100 TB an
    inferSchema scan doubles the read)."""
    return spark.read.schema(schema).json(path)


def read_orc_table(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — columnar with predicate pushdown, like parquet."""
    return spark.read.orc(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) by a join key.

    Two tables bucketed the same way co-locate their join: Catalyst
    drops both shuffle Exchanges from the sort-merge join — at 100 TB
    this converts the recurring join cost into a one-time write cost.
    Requires a catalog table (saveAsTable), not a bare path.
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.format("parquet").saveAsTable(table_name)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events fixture's ``ts`` column to TimestampType
    regardless of the physical layout the fixture was written with.
    Layouts seen across driver generations:

    - TIMESTAMP(NANOS) read as long via the nanosAsLong legacy conf ->
      truncate to microseconds with integer ``div`` (a double division
      would lose precision at ~1.7e18 ns) and convert.
    - plain ``timestamp[us]`` read as TIMESTAMP_NTZ (pandas writes
      isAdjustedToUTC=false) -> cast to TimestampType (identity on the
      underlying instant under a UTC session timezone, which is what the
      DuckDB oracle's naive TIMESTAMP compares equal to).
    - already TimestampType -> pass through.

    Branching on the resolved schema (metadata-only, no job) keeps one
    reader working across fixture regenerations instead of silently
    misreading µs-int64 as nanos.
    """
    dtype = df.schema["ts"].dataType
    if isinstance(dtype, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dtype, T.TimestampNTZType):
        # The NTZ->LTZ cast interprets the wall-clock value in the
        # SESSION timezone — under a non-UTC session every instant would
        # silently shift by the zone offset (the nanos branch above has
        # no such dependence). The engine's contract is UTC everywhere
        # (session.py pins it). Raise rather than silently reconfigure:
        # flipping spark.sql.session.timeZone here would mutate GLOBAL
        # session state as a side effect of a read, changing every
        # unrelated timestamp query for the rest of a deliberately
        # non-UTC session (ADVICE r06).
        spark = df.sparkSession
        tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
        if tz != "UTC":
            raise ValueError(
                "normalize_event_ts: events fixture has a TIMESTAMP_NTZ "
                f"ts column but the session timezone is {tz!r}, not UTC "
                "— the NTZ->timestamp cast would shift every instant by "
                "the zone offset. Set spark.sql.session.timeZone=UTC "
                "(get_spark() does) before loading events."
            )
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 variant for the events fixture: resolve the parquet's actual
    ``ts`` layout and normalize it to TimestampType (see
    :func:`normalize_event_ts`). The nanosAsLong conf is set up front so
    a TIMESTAMP(NANOS) fixture resolves as long instead of erroring; it
    is a no-op for µs fixtures.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, f"{sf_dir}/events.parquet")
    return normalize_event_ts(df)


def write_overwrite(
    df: DataFrame, path: str, partition_by: tuple[str, ...] = ()
) -> None:
    """S2: truncate-and-load full refresh (TRUNCATE + COPY)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_append(df: DataFrame, path: str, partition_by: tuple[str, ...] = ()) -> None:
    """S6: INSERT INTO ... SELECT append."""
    w = df.write.mode("append")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_binary_dir(
    spark: SparkSession, path: str, glob: str = "*"
) -> DataFrame:
    """Directory-of-binary-files ingest via Spark's built-in
    ``binaryFile`` source — the entry point for raw multimodal assets
    (images, audio clips) that arrive as one file per item rather than
    rows in a table. Returns (file_name, n_bytes, content): the file's
    basename, its size, and the raw bytes as a BinaryType column ready
    for the multimodal operators (decode_media, resize_luma_grid,
    phash_signatures).

    Scale shape: the source lists files on the driver but reads
    contents in executors (one task per file group), so a million-image
    bucket scans in parallel; pushdown-friendly (`pathGlobFilter`
    prunes at listing time, `modificationTime`/`length` predicates
    before content reads). Content is capped by
    spark.sql.sources.binaryFile.maxLength (defaults to INT_MAX) —
    chunk giant assets upstream.
    """
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )
    return df.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("length").alias("n_bytes"),
        F.col("content"),
    )
