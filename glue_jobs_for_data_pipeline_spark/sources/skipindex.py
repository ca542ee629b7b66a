"""File-level hash-bucket skipping index — the open-format analog of a
Delta/Iceberg bloom-filter file index, built entirely from DataFrame
built-ins.

Problem at 100 TB: an equality lookup on a high-cardinality column
(customer id, document id, request id) that is NOT the partition key
reads every file; min/max footer stats barely prune high-cardinality
columns unless the data is range-clustered. A per-file membership
summary does: each data file gets the SET of hash buckets (xxhash64 mod
m) its key values occupy; a lookup consults the (tiny) index first and
opens only files whose bucket set might contain the key. False
positives cost an extra file read; false negatives are impossible —
membership of the true bucket is exact, PROVIDED build and probe hash
the value at the same type (xxhash64 output depends on input width:
int and bigint hash differently). The index therefore records the
column's dtype at build time and the probe casts its literal to that
recorded dtype — the build/probe type contract is carried by the index
itself, not by callers agreeing out of band.

Spark-first shape: the index build is ONE groupBy over
``input_file_name()`` (an aggregation of per-file hash sets — map-side
combined, no shuffle of data values beyond the bucket ints). The index
itself is metadata-plane: thousands of files x a few KB of buckets, the
same size class as a partition manifest — so the lookup's candidate
file list is resolved driver-side exactly like partition pruning
resolves directories (a metadata decision, not a data collect).

Like all skipping structures, effectiveness depends on LAYOUT: the
index prunes only if files are clustered on the lookup key
(repartitionByRange / Z-order at write time); on randomly-placed data
every file contains most buckets and the index degrades to a no-op —
the same contract as sources/zorder.py, stated there for footer stats.

No counterpart in the reference (Redshift handles this with its own
zone maps; the 4 scripts never manage layout); SURVEY §7 extension
scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .readers import read_parquet

DEFAULT_BUCKETS = 4096


def build_hash_bucket_index(
    spark: SparkSession, table_path: str, col: str, m: int = DEFAULT_BUCKETS
) -> DataFrame:
    """Index DataFrame (file, buckets, dtype): for every parquet file of
    ``table_path``, the sorted distinct hash buckets of ``col``, plus
    the column's dtype so probes hash at exactly the build type.
    One scan, one groupBy on the file name; write next to the table
    (caller chooses the path) and rebuild per ingest batch — the build
    is incremental by construction (new files only, union the rest).
    """
    raw = read_parquet(spark, table_path)
    col_dtype = dict(raw.dtypes)[col]
    df = raw.select(
        F.input_file_name().alias("file"),
        F.pmod(F.xxhash64(F.col(col)), F.lit(m)).alias("bucket"),
    )
    return (
        df.groupBy("file")
        .agg(F.array_sort(F.collect_set("bucket")).alias("buckets"))
        .withColumn("dtype", F.lit(col_dtype))
    )


def _index_dtype(index: DataFrame, fallback: str) -> str:
    """The dtype the index was built at (authoritative when recorded —
    probing at any other type silently yields false negatives).
    ``fallback`` covers indexes persisted before the dtype column."""
    if "dtype" in index.columns:
        row = index.select("dtype").first()
        if row is not None:
            return row["dtype"]
    return fallback


def _candidate_files_resolved(
    index: DataFrame, value, dtype: str, m: int
) -> list[str]:
    """candidate_files with the build dtype ALREADY resolved — callers
    that have run _index_dtype themselves (indexed_equality_scan) use
    this so each probe costs ONE metadata job, not two (ADVICE r09)."""
    b = F.pmod(F.xxhash64(F.lit(value).cast(dtype)), F.lit(m))
    rows = index.filter(F.array_contains("buckets", b)).select("file").collect()
    return [r["file"] for r in rows]


def candidate_files(
    index: DataFrame, value, col_dtype: str = "bigint", m: int = DEFAULT_BUCKETS
) -> list[str]:
    """Files whose bucket set might contain ``value`` — the
    metadata-plane pruning decision (the collect is over the file
    manifest, not data; same plane as partition-directory listing).
    The probe literal is cast to the index's recorded build dtype, so
    build and probe always hash the same type."""
    dtype = _index_dtype(index, col_dtype)
    return _candidate_files_resolved(index, value, dtype, m)


def indexed_equality_scan(
    spark: SparkSession,
    index: DataFrame,
    value,
    col: str,
    col_dtype: str = "bigint",
    m: int = DEFAULT_BUCKETS,
    table_path: str | None = None,
) -> DataFrame:
    """Equality lookup that opens ONLY the index's candidate files,
    then applies the exact predicate (bucket membership is a
    may-contain; the residual filter restores exactness). Returns an
    empty frame of the right shape when nothing can match. An EMPTY
    index (zero indexed files) carries no schema to shape that empty
    result, so the caller must supply ``table_path`` as the schema
    source — otherwise this raises ValueError rather than failing with
    an opaque TypeError."""
    dtype = _index_dtype(index, col_dtype)
    files = _candidate_files_resolved(index, value, dtype, m)
    if not files:
        # derive the schema without reading data rows
        any_file = index.select("file").first()
        if any_file is not None:
            base = read_parquet(spark, any_file["file"])
        elif table_path is not None:
            base = read_parquet(spark, table_path)
        else:
            raise ValueError(
                "indexed_equality_scan: the skipping index is empty (zero "
                "indexed files) and no table_path was given to derive the "
                "result schema from; pass table_path= for an empty-index "
                "fallback"
            )
        return base.filter(F.lit(False))
    return read_parquet(spark, *files).filter(
        F.col(col) == F.lit(value).cast(dtype)
    )
