"""Atomic commit protocol over plain parquet (SURVEY §7.4): the
reference's transaction bracket (dynamic_upsert.py:108,151 BEGIN/COMMIT,
159-161 ROLLBACK on failure) re-expressed for immutable file storage —
the container has no Delta/Iceberg, and at 100 TB the protocol below is
exactly the snapshot/manifest core those formats implement.

Every versioned write goes through ``Catalog`` / ``CatalogTransaction``.
Each table keeps immutable version directories (``<root>/<table>/v=<N>``);
a transaction lands the full new version of every table it writes (the
expensive, distributed part — can fail freely), writes ONE manifest
naming every table's version, and publishes it with ONE ``_HEAD``
``os.replace``. Readers resolve ``_HEAD`` first and scan only the
versions its manifest names, so they never observe a partially-written
table nor a new dim with an old fact (the reference's cross-statement
BEGIN/COMMIT, dynamic_upsert.py:108,151 — matched, not approximated;
crash-injection proofs in tests/test_txn.py). A crash anywhere before
the ``_HEAD`` swap leaves the committed state untouched; rollback
deletes the staged versions, and ``gc_uncommitted`` sweeps what a
crashed writer left behind.
"""

from __future__ import annotations

import fcntl
import json
import math
import os
import shutil
import time
import uuid
from contextlib import contextmanager
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from .readers import footer_rows, read_parquet

# lossless type-widening lattice for the "widen" schema op:
# source simpleString -> simpleStrings it may widen to. DECIMAL
# handled structurally (precision may grow, scale must not shrink
# and integer digits must not shrink). Everything else is rejected —
# a narrowing cast would silently truncate committed data.
_WIDEN_OK: dict[str, set[str]] = {
    "tinyint": {"smallint", "int", "bigint", "double", "decimal"},
    "smallint": {"int", "bigint", "double", "decimal"},
    "int": {"bigint", "double", "decimal"},
    "bigint": {"decimal"},
    "float": {"double"},
    "date": {"timestamp"},
}


def _decimal_params(simple: str) -> tuple[int, int] | None:
    """(precision, scale) of a ``decimal(p,s)`` simpleString, else
    None."""
    if not simple.startswith("decimal(") or not simple.endswith(")"):
        return None
    try:
        p, s = simple[len("decimal(") : -1].split(",")
        return int(p), int(s)
    except ValueError:
        return None


def _is_widening(src_simple: str, dst_simple: str) -> bool:
    """True iff casting ``src_simple`` -> ``dst_simple`` is lossless
    for every representable value (the Iceberg/Delta type-promotion
    contract: int->long, float->double, decimal precision growth with
    non-shrinking scale, integer->decimal with room for every digit)."""
    if src_simple == dst_simple:
        return True
    dst_dec = _decimal_params(dst_simple)
    src_dec = _decimal_params(src_simple)
    if src_dec is not None:
        if dst_dec is None:
            return False
        (sp, ss), (dp, ds) = src_dec, dst_dec
        # scale must not shrink, and integer digits must not shrink
        return ds >= ss and (dp - ds) >= (sp - ss)
    allowed = _WIDEN_OK.get(src_simple, set())
    if dst_dec is not None:
        if "decimal" not in allowed:
            return False
        dp, ds = dst_dec
        digits = {"tinyint": 3, "smallint": 5, "int": 10, "bigint": 19}
        return (dp - ds) >= digits.get(src_simple, 99)
    return dst_simple in allowed


def _apply_schema_ops(df: DataFrame, ops: list[dict]) -> DataFrame:
    """Replay a table's recorded schema-evolution ops over a version
    scan (the Iceberg schema-evolution posture: metadata maps
    old data files into the CURRENT schema; no file is rewritten).

    Each op is applied only where it is still needed, which makes the
    replay IDEMPOTENT across file generations: a version dir written
    BEFORE a rename still has the old column (renamed here); one
    written after already has the new name (op skipped). Likewise an
    added column materializes as its recorded default only in files
    that predate the add. Ops replay in recorded order, so chained
    renames (a->b then b->c) resolve on files of any age."""
    from pyspark.sql import functions as F

    for op in ops:
        if op["op"] == "rename":
            if op["old"] in df.columns and op["new"] not in df.columns:
                df = df.withColumnRenamed(op["old"], op["new"])
        elif op["op"] == "add":
            if op["col"] not in df.columns:
                df = df.withColumn(
                    op["col"], F.lit(op.get("default")).cast(op["type"])
                )
        elif op["op"] == "drop":
            # metadata-only DROP COLUMN: old files keep the bytes (they
            # are immutable), the replay projects the column away; a
            # rewrite after the drop simply has nothing to project
            if op["col"] in df.columns:
                df = df.drop(op["col"])
        elif op["op"] == "widen":
            # metadata-only TYPE WIDENING (Iceberg/Delta type
            # promotion): files written before the widen carry the
            # narrow type and are cast up here; files written after
            # already match and are skipped (idempotent per file
            # generation, like every other op). A non-widening state
            # (e.g. the column was later re-added narrower) raises
            # rather than silently truncating.
            col = op["col"]
            if col in df.columns:
                cur = df.schema[col].dataType.simpleString()
                dst = op["type"].lower().replace(" ", "")
                if cur != dst:
                    if not _is_widening(cur, dst):
                        raise ValueError(
                            f"widen replay on {col!r}: {cur} -> {dst} "
                            "is not a lossless widening"
                        )
                    df = df.withColumn(col, F.col(col).cast(op["type"]))
        else:  # pragma: no cover - rejected at evolve_schema time
            raise ValueError(f"unknown schema op: {op!r}")
    return df


def _validate_schema_ops(ops: list[dict]) -> None:
    for op in ops:
        kind = op.get("op")
        if kind == "rename":
            if not op.get("old") or not op.get("new") or op["old"] == op["new"]:
                raise ValueError(f"bad rename op: {op!r}")
        elif kind == "add":
            if not op.get("col") or not op.get("type"):
                raise ValueError(f"bad add op: {op!r}")
        elif kind == "drop":
            if not op.get("col"):
                raise ValueError(f"bad drop op: {op!r}")
        elif kind == "widen":
            if not op.get("col") or not op.get("type"):
                raise ValueError(f"bad widen op: {op!r}")
            dst = str(op["type"]).lower().replace(" ", "")
            if dst not in {"smallint", "int", "bigint", "double",
                           "timestamp"} and _decimal_params(dst) is None:
                raise ValueError(
                    f"widen target must be a widening-capable type "
                    f"(smallint/int/bigint/double/timestamp/decimal(p,s)), "
                    f"got {op!r}"
                )
        else:
            raise ValueError(f"unknown schema op kind: {op!r}")


def _version_dir(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, f"v={version}")


def _version_entries(table_dir: str) -> list[tuple[str, int, bool]]:
    """``(entry name, version, is_claim)`` for every ``v=<N>`` version
    directory and ``v=<N>.claim`` reservation marker in ``table_dir``."""
    out = []
    if os.path.isdir(table_dir):
        for d in os.listdir(table_dir):
            tail = d[len("v="):] if d.startswith("v=") else ""
            claim = tail.endswith(".claim")
            num = tail[: -len(".claim")] if claim else tail
            if num.isdigit():
                out.append((d, int(num), claim))
    return out


def _next_version(table_dir: str) -> int:
    """Next unused version number. Counts claim markers too, so neither
    an orphaned staging directory nor a concurrent writer's
    just-reserved number is ever reused."""
    return max((v for _, v, _ in _version_entries(table_dir)), default=0) + 1


def _reserve_version(table_dir: str) -> int:
    """Atomically RESERVE the next version number with an
    O_CREAT|O_EXCL claim file — without this, two writers staging the
    same table concurrently both scan max+1, pick the same number, and
    their parquet writes collide (mode('overwrite') deletes the
    rival's half-written data). The loser of the O_EXCL race rescans.
    A crashed writer's stale claim just skips a number — gc_uncommitted
    sweeps stray claim files."""
    while True:
        version = _next_version(table_dir)
        claim = os.path.join(table_dir, f"v={version}.claim")
        try:
            fd = os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue
        os.close(fd)
        return version


@contextmanager
def _staging(table_dir: str):
    """The staging bracket every version write runs in: reserve the
    next version of ``table_dir`` and yield ``(version, vdir)``. A
    failure inside removes ``vdir``; the claim file always goes — once
    written, the version directory itself blocks reuse of the number,
    and a failed write's skipped number is harmless."""
    os.makedirs(table_dir, exist_ok=True)
    version = _reserve_version(table_dir)
    vdir = _version_dir(table_dir, version)
    try:
        yield version, vdir
    except BaseException:
        shutil.rmtree(vdir, ignore_errors=True)
        raise
    finally:
        try:
            os.unlink(vdir + ".claim")
        except FileNotFoundError:
            pass


_SCHEMA = "_SCHEMA.json"


def _write_schema(vdir: str, schema_json: str) -> None:
    """Record a version's exact Spark schema beside its data, so readers
    reapply the column types instead of re-inferring partition column
    types from ``col=value`` directory names (inference would silently
    turn a string partition value like '0042' into int 42)."""
    os.makedirs(vdir, exist_ok=True)
    with open(os.path.join(vdir, _SCHEMA), "w") as f:
        f.write(schema_json)


def _read_schema(vdir: str) -> str | None:
    """The schema sidecar of a version directory, or None without one."""
    try:
        with open(os.path.join(vdir, _SCHEMA)) as f:
            return f.read()
    except FileNotFoundError:
        return None


def stage_version(
    df: DataFrame, table_dir: str, partition_by: tuple[str, ...] = ()
) -> int:
    """Write a full new version WITHOUT publishing it. Returns the staged
    version number; a ``CatalogTransaction`` publishes it in its
    manifest or deletes it on rollback.

    ``v`` is a RESERVED partition-column name: version directories are
    themselves named ``v=<N>``, so a partition column ``v`` writes
    ``.../v=<N>/v=<value>/...`` — partition detection
    (_detect_partition_cols) must skip ``v=`` dirs to walk the layout,
    which would silently flatten such a table on the next append.
    Refuse loudly instead."""
    if "v" in partition_by:
        raise ValueError(
            "partition column 'v' collides with the catalog's "
            "version-directory naming (v=<N>); rename the column"
        )
    with _staging(table_dir) as (version, vdir):
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(vdir)
        _write_schema(vdir, df.schema.json())
    return version


def stage_empty_version(table_dir: str, schema_json: str) -> int:
    """Stage a ZERO-ROW version as PURE METADATA: the version directory
    holds only the schema sidecar and no part files — readers resolve it
    through the sidecar schema as an empty table (Spark's parquet
    source returns an empty relation for a fileless path when the
    schema is explicit, verified in tests/test_txn.py). Truncating a
    side table (an emptied deletion vector / upsert delta after a
    fold) would otherwise pay a full Spark write job to produce one
    zero-row part file — ~0.5 s of fixed job+committer cost per
    compaction for no bytes."""
    with _staging(table_dir) as (version, vdir):
        _write_schema(vdir, schema_json)
    return version


def version_rows(table_dir: str, version: int) -> int | None:
    """EXACT row count of a version directory from its parquet footers
    (see readers.footer_rows): no Spark job, None when the footers
    cannot answer. Schema-evolution ops never change row counts, so
    this equals ``read``'s count for any snapshot."""
    return footer_rows(_version_dir(table_dir, version))


def _small_pa_schema(schema):
    """Spark StructType -> pyarrow schema for the driver-side small-
    table write path, or None when any field's type is outside the
    supported scalar set (callers fall back to a Spark write)."""
    try:
        import pyarrow as pa
        from pyspark.sql import types as T
    except Exception:  # noqa: BLE001 — optional fast path only
        return None
    type_map = {
        T.StringType: pa.string,
        T.LongType: pa.int64,
        T.IntegerType: pa.int32,
        T.DoubleType: pa.float64,
        T.BooleanType: pa.bool_,
    }
    fields = []
    for f in schema.fields:
        factory = type_map.get(type(f.dataType))
        if factory is None:
            return None
        fields.append(pa.field(f.name, factory(), nullable=f.nullable))
    return pa.schema(fields)


def stage_small_version(table_dir: str, rows, schema) -> int | None:
    """Stage a version from DRIVER-MATERIALIZED rows: one parquet file
    written via pyarrow plus the schema sidecar — NO Spark job (a
    staged write job costs ~0.5 s of fixed committer overhead however
    few rows it carries; the driver does metadata work, executors data
    work). This is the catalog's analog of a lakehouse transaction log
    entry (Delta writes _delta_log JSON driver-side): intended for
    METADATA-SIZED tables only — the exactly-once commit ledger above
    all — whose row count is bounded by contract, never for data
    tables. Returns the staged version, or None when pyarrow is
    unavailable or the schema maps outside the supported scalar types
    (callers fall back to stage_version).

    ``rows`` is a sequence of tuples in ``schema`` field order;
    ``schema`` is the Spark StructType recorded in the sidecar, so
    readers resolve exactly the schema a Spark write of the same frame
    would have recorded. The part-file name embeds a fresh UUID — the
    same non-collision contract as Spark's part files, so later
    hard-linked appends compose."""
    pa_schema = _small_pa_schema(schema)
    if pa_schema is None:
        return None
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
    except Exception:  # noqa: BLE001
        return None
    with _staging(table_dir) as (version, vdir):
        _write_schema(vdir, schema.json())
        cols = [
            pa.array([r[i] for r in rows], type=pa_schema.field(i).type)
            for i in range(len(pa_schema))
        ]
        pq.write_table(
            pa.Table.from_arrays(cols, schema=pa_schema),
            os.path.join(vdir, f"part-00000-{uuid.uuid4().hex}.parquet"),
        )
    return version


def version_values(
    table_dir: str, version: int, max_rows: int | None = None
) -> list[dict] | None:
    """ALL ROWS of a version directory as driver-side dicts via
    pyarrow — no Spark job (the collect-path fixed cost this replaces
    is ~0.3 s per call on the stream-commit hot paths). The read-side
    twin of stage_small_version, same contract: METADATA-SIZED tables
    only. None — callers fall back to a Spark scan — when pyarrow is
    unavailable, a footer is unreadable, the layout is partitioned
    (values live in dir names, not the files), or the footer row count
    exceeds ``max_rows`` (the growth guard: a table past metadata size
    must not be collected to the driver)."""
    try:
        import pyarrow.parquet as pq
    except Exception:  # noqa: BLE001 — optional fast path only
        return None
    vdir = _version_dir(table_dir, version)
    if not os.path.isdir(vdir):
        return None
    files: list[str] = []
    for root, _, names in os.walk(vdir):
        if root != vdir and "=" in os.path.basename(root):
            return None  # partitioned layout
        files.extend(
            os.path.join(root, f) for f in sorted(names) if f.endswith(".parquet")
        )
    if max_rows is not None:
        total = footer_rows(vdir)
        if total is None or total > max_rows:
            return None
    try:
        return [row for f in files for row in pq.read_table(f).to_pylist()]
    except Exception:  # noqa: BLE001 — fall back to a Spark scan
        return None


def _link_parquet_tree(src_dir: str, dst_dir: str) -> None:
    """Hard-link every .parquet under ``src_dir`` into ``dst_dir``
    preserving the relative layout (cross-device falls back to copy).
    Never clobbers an existing destination file — the caller's fresh
    part files must win loudly, not silently."""
    for root, _, files in os.walk(src_dir):
        rel = os.path.relpath(root, src_dir)
        dst_root = dst_dir if rel == "." else os.path.join(dst_dir, rel)
        os.makedirs(dst_root, exist_ok=True)
        for fname in files:
            if not fname.endswith(".parquet"):
                continue
            src = os.path.join(root, fname)
            dst = os.path.join(dst_root, fname)
            if os.path.exists(dst):
                raise FileExistsError(
                    f"linked part file collides with existing: {dst}"
                )
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)  # cross-device fallback


def stage_version_append(
    df: DataFrame, table_dir: str, base_version: int
) -> int:
    """Stage a new version = base version's files + ``df``'s rows,
    WITHOUT rewriting the base (the Iceberg add-files posture on a
    filesystem): the base version's parquet files are HARD-LINKED into
    the new version directory (O(existing files) metadata ops, zero
    data copied; falls back to copy across filesystems), then the new
    rows land beside them as ordinary appended part files. At 100 TB
    an append commits O(new data) + O(file count), never a table
    rewrite — this is what makes a streaming micro-batch sink into the
    catalog affordable.

    The appended frame must match the base's recorded schema EXACTLY:
    a mixed-schema version dir would be read under one schema and
    Spark's parquet reader silently nulls columns missing from older
    files — the silent poisoning conform.py exists to refuse. Callers
    with drifted sources conform first (sources/conform.py) or
    overwrite."""
    base_dir = _version_dir(table_dir, base_version)
    schema_json = _read_schema(base_dir)
    if schema_json is not None:
        from pyspark.sql.types import StructType

        base_schema = StructType.fromJson(json.loads(schema_json))

        def _shape(st):  # name+type identity; nullability handled below
            return {(f.name.lower(), f.dataType) for f in st.fields}

        if _shape(base_schema) != _shape(df.schema):
            raise ValueError(
                "stage_version_append: appended schema differs from the "
                "base version's recorded schema; conform_schema() the "
                "batch or overwrite the table"
            )
        # record the RELAXED nullability: a field nullable on either
        # side must read as nullable over the merged file set
        df_null = {f.name.lower(): f.nullable for f in df.schema.fields}
        for fld in base_schema.fields:
            fld.nullable = fld.nullable or df_null[fld.name.lower()]
        schema_json = base_schema.json()
    part_cols = _detect_partition_cols(base_dir)
    with _staging(table_dir) as (version, vdir):
        # new rows first (Spark creates the dir; append never deletes
        # existing files), laid out like the base so partition
        # discovery sees ONE consistent structure; then link the
        # base's files in beside them
        w = df.write.mode("append")
        if part_cols:
            w = w.partitionBy(*part_cols)
        w.parquet(vdir)
        _link_parquet_tree(base_dir, vdir)
        _write_schema(vdir, schema_json or df.schema.json())
    return version


def _read_version_df(spark: SparkSession, vdir: str) -> DataFrame:
    """Read a version directory, reapplying the staged schema when the
    sidecar exists (exact partition-column types; no inference)."""
    schema_json = _read_schema(vdir)
    if schema_json is None:
        return read_parquet(spark, vdir)
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(schema_json))
    return spark.read.schema(schema).parquet(vdir)


def _detect_partition_cols(vdir: str) -> tuple[str, ...]:
    """Partition columns of a version directory, inferred from its
    ``col=value`` subdirectory chain (the on-disk encoding Spark writes
    for partitionBy)."""
    cols: list[str] = []
    cur = vdir
    while os.path.isdir(cur):
        subs = [
            d for d in os.listdir(cur)
            if "=" in d and os.path.isdir(os.path.join(cur, d))
            and not d.startswith("v=")
        ]
        if not subs:
            break
        cols.append(subs[0].split("=", 1)[0])
        cur = os.path.join(cur, subs[0])
    return tuple(cols)


def pdv_table(name: str) -> str:
    """The positional-delete side table of ``name``. The catalog owns
    this side-table name because its own rewrites refuse while the
    table has rows (operators/mor_fold.py names the others)."""
    return name + "__pdv"


def has_pending_positional_deletes(
    cat: "Catalog", spark: SparkSession, name: str, manifest: int | None
) -> bool:
    """True iff ``name`` has a NON-EMPTY positional-delete table in
    ``manifest``. Footer count first (no Spark job; every base rewrite
    runs this check), a Spark scan when footers cannot answer."""
    versions = cat._manifest_tables(manifest)
    if pdv_table(name) not in versions:
        return False
    tdir, version = cat.table_dir(pdv_table(name)), versions[pdv_table(name)]
    nrows = version_rows(tdir, version)
    if nrows is not None:
        return nrows > 0
    return not _read_version_df(spark, _version_dir(tdir, version)).isEmpty()


def guard_no_pending_positional_deletes(
    cat: "Catalog", spark: SparkSession, name: str, manifest: int | None
) -> None:
    """Refuse a base rewrite while positional deletes are pending: the
    rewrite mints fresh part files, the stale (file,pos) anchors then
    match nothing and the deleted rows come back. Fold them first."""
    if has_pending_positional_deletes(cat, spark, name, manifest):
        raise ValueError(
            f"table {name!r} has pending positional deletes; "
            "compact_positional_deletes() before rewriting the base "
            "(a rewrite strands (file,pos) anchors and resurrects rows)"
        )


_MANIFEST_DIR = "_MANIFEST"
_HEAD = "_HEAD"
_REFS_DIR = "_REFS"
_COMMIT_LOCK = "_COMMIT.lock"
# gc never reclaims a v=*.claim reservation younger than this, even at
# grace_seconds=0 — a claim is held only for the duration of one
# staging write, so anything past the floor is a crashed stager
_CLAIM_MIN_AGE_SECONDS = 300.0
# how long a commit waits for the catalog lock before raising the
# retryable ConcurrentCommitError (see Catalog._locked)
_LOCK_WAIT_SECONDS = 2.0
# attempts of Catalog.commit_retrying: under N-way same-table contention
# the last writer needs ~N attempts, and a commit-lock collision (not
# just a moved ref) also costs one
_COMMIT_RETRIES = 16


class ConcurrentCommitError(RuntimeError):
    """Raised when a Catalog commit loses an optimistic-concurrency
    race: the committed HEAD moved after this transaction opened, so
    merging our staged tables over the CURRENT manifest could silently
    drop the racing writer's tables (lost update). The loser re-reads,
    restages on top of the new head, and retries — the same contract as
    an Iceberg/Delta conditional-put conflict. Also raised when the
    commit lock stays held past _LOCK_WAIT_SECONDS."""


class MergeConflictError(ValueError):
    """Raised by Catalog.rebase when a table was rewritten on BOTH the
    branch and the target since their merge base. ``tables`` carries
    the sorted conflicting table names; versions are whole-table
    snapshots, so there is no automatic row-level resolution — the
    caller re-runs its branch transactions on a fresh fork."""

    def __init__(self, msg: str, tables: list[str]) -> None:
        super().__init__(msg)
        self.tables = tables


class ConstraintViolationError(ValueError):
    """Raised when a write would commit rows that do not satisfy a
    table's CHECK constraint (Delta CHECK-constraint semantics:
    every row must evaluate the expression to TRUE; FALSE and NULL are
    violations). The transaction rolls back and nothing publishes —
    constraints make bad data unrepresentable in the committed
    catalog, the write-side complement of the validation-gate
    operators."""

    def __init__(self, msg: str, table: str, constraint: str) -> None:
        super().__init__(msg)
        self.table = table
        self.constraint = constraint


def _fsync_dir(path: str) -> None:
    """fsync a DIRECTORY so a just-os.replace()d entry inside it is
    durable across power loss (POSIX: rename atomicity does not imply
    rename durability until the parent dir is synced). Best-effort on
    filesystems that reject directory fds."""
    try:
        fd = os.open(path, os.O_RDONLY)
    except OSError:
        return
    try:
        os.fsync(fd)
    except OSError:
        pass
    finally:
        os.close(fd)


def _write_durably(path: str, text: str) -> None:
    """The one durable writer: ``text`` lands at ``path`` atomically
    (tmp file, fsync, ``os.replace``) and durably — rename atomicity is
    not rename durability, so the parent directory is synced too, or a
    crash can roll the entry back."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    _fsync_dir(os.path.dirname(path))


class Catalog:
    """TRUE multi-table atomic commit: one HEAD pointer over immutable
    manifests (the Iceberg/Delta catalog-commit core, minimally).

    Layout under ``root``:

        <root>/<table>/v=<N>/part-*.parquet   per-table immutable versions
        <root>/_MANIFEST/m=<M>.json           immutable manifests:
                                              {"tables": {name: version},
                                               "parent": M'}
        <root>/_HEAD                          main ref (pointer holding M)
        <root>/_REFS/<branch>                 additional branch refs

    A transaction stages every table's new version, writes ONE new
    manifest holding the full updated table->version mapping, then
    swaps _HEAD with a single ``os.replace`` — so readers resolving
    through the catalog observe every table flip TOGETHER: a crash
    anywhere before the HEAD swap leaves the previous manifest — and
    therefore every table's previous version — fully committed; a crash
    after leaves the new state fully committed. There is no instant at
    which a reader can see the new dim with the old fact
    (crash-injection proof in tests/test_txn.py). It is the package's
    only commit path: every versioned write, single-table ones
    included, is a transaction over a catalog root. Mirrors the
    reference's cross-statement
    BEGIN/COMMIT spanning dim + fact (dynamic_upsert.py:108,151;
    populate_fact.py:91,135-144).

    At 100 TB this is exactly the production split: data files land on
    object storage (expensive, parallel, retryable), and the commit is
    one small conditional-put on the catalog entry.
    """

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(os.path.join(root, _MANIFEST_DIR), exist_ok=True)

    # -- read side ---------------------------------------------------
    def _ref_path(self, branch: str) -> str:
        """Pointer file for a ref. ``main`` IS the legacy _HEAD file —
        existing catalogs gain branching with no migration; other refs
        live under _REFS/<name>."""
        if branch == "main":
            return os.path.join(self.root, _HEAD)
        if not branch or not all(c.isalnum() or c in "-_." for c in branch):
            raise ValueError(f"invalid branch name: {branch!r}")
        return os.path.join(self.root, _REFS_DIR, branch)

    def head(self, branch: str = "main") -> int | None:
        try:
            with open(self._ref_path(branch)) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def manifest(self, branch: str = "main") -> dict[str, int]:
        """Committed table -> version mapping ({} before first commit)."""
        return self._manifest_tables(self.head(branch))

    def _manifest_path(self, m: int) -> str:
        return os.path.join(self.root, _MANIFEST_DIR, f"m={m}.json")

    def _manifest_ids(self) -> list[int]:
        """Ids of every ``m=<M>.json`` file in the manifest directory."""
        names = os.listdir(os.path.join(self.root, _MANIFEST_DIR))
        ids = [f[len("m="):-len(".json")] for f in names
               if f.startswith("m=") and f.endswith(".json")]
        return [int(i) for i in ids if i.isdigit()]

    def _doc(self, m: int | None) -> dict | None:
        """The one reader of the manifest format: manifest ``m`` parsed,
        ``{"tables": {name: version}, "parent": M', "schemas": {name:
        ops}, "constraints": {name: {constraint: expr}}}`` (the last
        two only when non-empty). ``m=None`` (no commits yet) reads as
        the empty doc; a manifest whose file is gone (an
        expire_snapshots truncation point) reads as None."""
        if m is None:
            return {"tables": {}}
        try:
            with open(self._manifest_path(m)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _manifest_tables(self, m: int | None) -> dict[str, int]:
        """Table -> version mapping of manifest ``m`` ({} for None).
        Raises FileNotFoundError for an expired manifest."""
        doc = self._doc(m)
        if doc is None:
            raise FileNotFoundError(f"manifest m={m} has expired")
        return {k: int(v) for k, v in doc["tables"].items()}

    def _manifest_schemas(self, m: int | None) -> dict[str, list[dict]]:
        """Table -> cumulative schema-evolution op list of manifest ``m``."""
        return (self._doc(m) or {}).get("schemas", {})

    def _manifest_constraints(self, m: int | None) -> dict[str, dict[str, str]]:
        """Table -> {constraint name -> SQL expr} of manifest ``m``."""
        return (self._doc(m) or {}).get("constraints", {})

    def _manifest_parent(self, m: int) -> int | None:
        """Parent manifest id, or None for roots, expired manifests and
        manifests written before parents were recorded."""
        parent = (self._doc(m) or {}).get("parent")
        return int(parent) if parent is not None else None

    def table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _version(self, name: str, m: int | None, label: str) -> int:
        """``name``'s version in manifest ``m``; FileNotFoundError naming
        ``label`` when that snapshot does not hold the table."""
        versions = self._manifest_tables(m)
        if name not in versions:
            raise FileNotFoundError(f"table {name!r} not in {label}")
        return versions[name]

    def _read_table(
        self, spark: SparkSession, name: str, manifest: int | None, label: str
    ) -> DataFrame:
        """Resolve ``name`` in manifest ``manifest`` and scan it,
        replaying any schema-evolution ops that snapshot records for
        the table — so a version dir written before an add/rename
        column still reads under the snapshot's schema."""
        version = self._version(name, manifest, label)
        df = _read_version_df(spark, _version_dir(self.table_dir(name), version))
        ops = self._manifest_schemas(manifest).get(name)
        return _apply_schema_ops(df, ops) if ops else df

    def _values(
        self, name: str, m: int | None, label: str, max_rows: int | None
    ) -> list[dict] | None:
        """Driver-side rows of ``name`` in manifest ``m`` (see
        version_values), or None while schema-evolution ops are pending —
        only the Spark reader replays them."""
        version = self._version(name, m, label)
        if self._manifest_schemas(m).get(name):
            return None
        return version_values(self.table_dir(name), version, max_rows)

    def read(
        self, spark: SparkSession, name: str, branch: str = "main"
    ) -> DataFrame:
        """Scan a table AS OF the committed manifest of ``branch`` —
        never a staged or half-committed state."""
        return self._read_table(
            spark, name, self.head(branch),
            f"committed manifest of {branch!r}",
        )

    def read_asof(
        self, spark: SparkSession, name: str, manifest: int
    ) -> DataFrame:
        """Scan a table AS OF an arbitrary manifest id — catalog-level
        time travel (Iceberg `FOR SYSTEM_VERSION AS OF`): any manifest
        still reachable from a ref resolves, because version
        directories are immutable and gc only sweeps the unreachable.
        Raises FileNotFoundError when the table is not in that
        snapshot."""
        return self._read_table(spark, name, manifest, f"manifest m={manifest}")

    def table_rows(self, name: str, branch: str = "main") -> int | None:
        """EXACT committed row count of ``name`` on ``branch`` from
        parquet footers — driver-side metadata, no Spark job (see
        version_rows). None when footers cannot answer (fall back to
        read().count()). Raises FileNotFoundError when the table is not
        committed, mirroring read()."""
        version = self._version(
            name, self.head(branch), f"committed manifest of {branch!r}"
        )
        return version_rows(self.table_dir(name), version)

    def table_values(
        self, name: str, branch: str = "main", max_rows: int | None = None
    ) -> list[dict] | None:
        """ALL committed rows of a METADATA-SIZED table on ``branch``
        as driver-side dicts — no Spark job (see version_values; the
        exactly-once ledger consumers use this for their replay
        tests). None when the fast path cannot answer — pyarrow
        missing, partitioned layout, pending schema-evolution ops
        (replayed only by the Spark reader), or more than ``max_rows``
        rows (the growth guard) — callers fall back to read().
        Raises FileNotFoundError when the table is not committed,
        mirroring read()."""
        return self._values(
            name, self.head(branch), f"committed manifest of {branch!r}",
            max_rows,
        )

    def log(self, branch: str = "main") -> list[dict]:
        """The branch's COMMIT LOG, oldest first — the audit/lineage
        surface every lakehouse exposes (Delta DESCRIBE HISTORY,
        Iceberg snapshots): one entry per manifest on the parent walk
        from the ref, with the table-level change set vs its parent.
        Pure metadata (one small JSON read per commit) at any data
        scale. Each entry: {"manifest", "parent", "changed": sorted
        table names whose version differs from the parent (additions
        included), "removed": tables present in the parent but not the
        child, "n_tables": size of the snapshot, "schema_changed":
        tables whose evolution op list grew in this commit,
        "constraints_changed": tables whose CHECK-constraint set
        changed}. The walk treats the oldest surviving manifest as a
        root: an expired parent ends it."""
        entries: list[dict] = []
        # each manifest is consulted as child AND parent: parse it once
        docs: dict[int | None, dict | None] = {}

        def doc_of(m: int | None) -> dict | None:
            if m not in docs:
                docs[m] = self._doc(m)
            return docs[m]

        cur = self.head(branch)
        while cur is not None:
            doc = doc_of(cur)
            if doc is None:  # pragma: no cover - head itself expired
                break
            parent = doc.get("parent")
            parent = int(parent) if parent is not None else None
            pdoc = doc_of(parent)
            if pdoc is None:
                parent, pdoc = None, {"tables": {}}
            tables = {k: int(v) for k, v in doc["tables"].items()}
            ptables = {k: int(v) for k, v in pdoc["tables"].items()}

            def changed(key: str, empty) -> list[str]:
                new, old = doc.get(key, {}), pdoc.get(key, {})
                return sorted(
                    t for t in set(new) | set(old)
                    if old.get(t, empty) != new.get(t, empty)
                )

            entries.append(
                {
                    "manifest": cur,
                    "parent": parent,
                    "changed": sorted(
                        t for t, v in tables.items() if ptables.get(t) != v
                    ),
                    "removed": sorted(set(ptables) - set(tables)),
                    "n_tables": len(tables),
                    "schema_changed": changed("schemas", []),
                    "constraints_changed": changed("constraints", {}),
                }
            )
            cur = parent
        entries.reverse()
        return entries

    # -- branches ------------------------------------------------------
    def branches(self) -> dict[str, int | None]:
        """Every ref -> its manifest id (``main`` always listed)."""
        out: dict[str, int | None] = {"main": self.head()}
        rdir = os.path.join(self.root, _REFS_DIR)
        if os.path.isdir(rdir):
            for name in sorted(os.listdir(rdir)):
                out[name] = self.head(name)
        return out

    def create_branch(self, name: str, from_branch: str = "main") -> int:
        """Create ``name`` pointing at ``from_branch``'s current
        manifest — O(1) metadata, ZERO data copy: manifests and table
        versions are immutable and shared, so a branch is just another
        pointer into the same DAG (the Nessie/Iceberg-branching model;
        experiments fork the warehouse without duplicating a byte).
        Refuses to overwrite an existing ref."""
        src = self.head(from_branch)
        if src is None:
            raise ValueError(f"branch {from_branch!r} has no commits to fork")
        ref = self._ref_path(name)
        if name == "main" or os.path.exists(ref):
            raise ValueError(f"branch {name!r} already exists")
        self._set_ref(name, {name: None}, manifest=src)
        return src

    def delete_branch(self, name: str) -> None:
        """Drop a ref (never ``main``). Data stays until gc —
        deleting a branch only unpins its manifests.

        Runs under the commit lock: an unlocked unlink
        races _set_ref/_commit on the same ref — the writer's
        ``os.replace`` can resurrect the branch just after the unlink,
        or the delete can drop a commit that just won its CAS. One
        shared lock serializes deletes with every ref swap."""
        if name == "main":
            raise ValueError("cannot delete main")
        with self._locked():
            os.unlink(self._ref_path(name))

    def merge_ff(self, branch: str, into: str = "main") -> int:
        """FAST-FORWARD merge: move ``into``'s ref to ``branch``'s
        manifest, allowed only when ``into``'s current manifest is an
        ancestor of (or equal to) ``branch``'s — i.e. nothing was
        committed to ``into`` since the fork, so the move cannot lose
        a commit. Divergent branches raise: a non-FF merge needs a
        rebase (re-run the branch's transactions on top of ``into``),
        which is application logic, not catalog metadata — the same
        posture as a conditional-put conflict. The swap itself is a
        locked compare-and-swap on ``into``'s ref, so a racing commit
        to ``into`` turns the merge into a retryable
        ConcurrentCommitError instead of a lost update."""
        b_head = self.head(branch)
        if b_head is None:
            raise ValueError(f"branch {branch!r} has no commits")
        i_head = self.head(into)
        if i_head is not None:
            cur: int | None = b_head
            while cur is not None and cur != i_head:
                cur = self._manifest_parent(cur)
            if cur != i_head:
                raise ValueError(
                    f"non-fast-forward: {into!r} (m={i_head}) is not an "
                    f"ancestor of {branch!r} (m={b_head}); rebase the "
                    "branch's transactions onto the current head"
                )
        self._set_ref(into, {into: i_head}, manifest=b_head)
        return b_head

    def add_constraint(
        self,
        spark: SparkSession,
        name: str,
        constraint: str,
        expr: str,
        branch: str = "main",
    ) -> int:
        """Attach a CHECK constraint to ``name`` (Delta
        ALTER TABLE ADD CONSTRAINT semantics): committed EXISTING data
        is validated first (one filtered scan; a table this constraint
        would already break must be repaired before the rule can be
        declared), then the (name, expr) pair lands as a metadata-only
        commit and EVERY later write to the table — overwrite or
        append, any transaction — must satisfy it or the commit raises
        ConstraintViolationError and publishes nothing. Rows where the
        expression is FALSE or NULL are violations (every row must
        evaluate TRUE, the Delta contract).

        Enforcement cost is O(written rows), not O(table): the check
        runs on the staged DataFrame before it lands, so at 100 TB an
        appended micro-batch pays for its own rows only."""
        from pyspark.sql import functions as F

        head = self.head(branch)
        # validate the base AND any merge-on-read delta side table:
        # delta rows are part of the table's logical state, and a
        # constraint declared over a violating delta would wedge the
        # next compaction
        tables = self._manifest_tables(head)
        for scan_name in (name, name + "__delta"):
            if scan_name not in tables:
                continue
            bad = (
                self._read_table(
                    spark, scan_name, head, f"branch {branch!r}"
                )
                .filter(~F.expr(expr).eqNullSafe(F.lit(True)))
                .limit(1)
                .count()
            )
            if bad:
                raise ConstraintViolationError(
                    f"existing rows of {scan_name!r} violate CHECK "
                    f"{constraint!r} ({expr}); repair before declaring",
                    name,
                    constraint,
                )
        cons = {k: dict(v) for k, v in self._manifest_constraints(head).items()}
        cons.setdefault(name, {})[constraint] = expr
        return self._commit(
            {}, expected_head=head, branch=branch, constraints=cons
        )

    def drop_constraint(
        self, name: str, constraint: str, branch: str = "main"
    ) -> int:
        """Remove a CHECK constraint — metadata-only commit."""
        head = self.head(branch)
        cons = {k: dict(v) for k, v in self._manifest_constraints(head).items()}
        if constraint not in cons.get(name, {}):
            raise ValueError(
                f"no constraint {constraint!r} on table {name!r}"
            )
        del cons[name][constraint]
        if not cons[name]:
            del cons[name]
        return self._commit(
            {}, expected_head=head, branch=branch, constraints=cons
        )

    def evolve_schema(
        self, name: str, ops: list[dict], branch: str = "main"
    ) -> int:
        """Record schema-evolution ops for ``name`` in a METADATA-ONLY
        commit: no data file moves, but every later read of the
        table — current, as-of, or through a transaction snapshot —
        replays the cumulative op list over whatever version dir it
        resolves, so snapshots written before the evolution surface
        under the new schema (the dynamic form of the reference's
        dict-driven DDL, dynamic_upsert.py:9-26).

        Supported ops: ``{"op": "rename", "old": a, "new": b}``,
        ``{"op": "add", "col": c, "type": ddl, "default": v}`` (default
        optional -> NULL), ``{"op": "drop", "col": c}``, and
        ``{"op": "widen", "col": c, "type": ddl}`` (lossless type
        promotion only — int->bigint, float->double, decimal precision
        growth). At 100 TB this is the only sane ALTER TABLE:
        one small JSON commit instead of a table rewrite. Reads AS OF a
        manifest BEFORE this commit replay only the ops recorded there
        — time travel sees the schema of its era.

        Merge-on-read tables (with a live ``__delta``/``__dv`` side
        table): use ``operators.mor_upsert.evolve_upserted_schema``,
        which records the ops for the side tables in the same commit —
        evolving only the base leaves a pre-evolution delta whose
        unionByName with the evolved base fails."""
        _validate_schema_ops(ops)
        if not ops:
            raise ValueError("evolve_schema: empty op list")
        return self._commit(
            {},
            expected_head=self.head(branch),
            branch=branch,
            schema_ops={name: list(ops)},
        )

    def _merge_base(self, a: int, b: int) -> int | None:
        """Nearest common ancestor of manifests ``a`` and ``b`` along
        parent links (None when the histories never meet — e.g.
        pre-branching manifests with no recorded parent)."""
        ancestors: set[int] = set()
        cur: int | None = a
        while cur is not None:
            ancestors.add(cur)
            cur = self._manifest_parent(cur)
        cur = b
        while cur is not None:
            if cur in ancestors:
                return cur
            cur = self._manifest_parent(cur)
        return None

    def rebase(
        self,
        branch: str,
        onto: str = "main",
        spark: SparkSession | None = None,
    ) -> int:
        """REBASE a diverged branch onto ``onto``'s current head — the
        non-fast-forward story merge_ff refuses by design: a three-way
        manifest merge at TABLE granularity. The branch's change set is
        every table whose version differs from the merge-base manifest;
        replaying it means writing ONE new manifest =
        {**manifest(onto), **branch_changes} with parent = onto's head,
        then CAS-ing the branch ref to it. After a clean rebase the
        branch IS a fast-forward of ``onto``, so merge_ff promotes it
        with one pointer swap.

        Conflicts are detected, never silently resolved: a table
        rewritten on BOTH sides since the fork raises
        MergeConflictError naming the tables (version history is
        whole-table snapshots, so there is no row-level merge to
        attempt — the caller re-runs its transaction on a fresh
        branch, exactly like a git rebase conflict). No data moves:
        like every catalog op this is pure metadata — version dirs are
        immutable and shared, so the rebase cost is one small JSON
        write however many TB the tables hold.

        Runs under the commit lock with CAS semantics on BOTH refs: if
        either ``onto`` or ``branch`` moves between the read and the
        swap, ConcurrentCommitError — re-read and retry.

        ``spark`` (optional): when provided, any table whose data
        version and CHECK-constraint set are paired FOR THE FIRST TIME
        by this merge (branch data under an onto-declared constraint,
        or vice versa) is re-validated before the swap, raising
        ConstraintViolationError on violation. Without a
        session the merged data is only re-validated on the next write
        to each table."""
        b_head = self.head(branch)
        o_head = self.head(onto)
        if b_head is None:
            raise ValueError(f"branch {branch!r} has no commits")
        if o_head is None:
            raise ValueError(f"branch {onto!r} has no commits")
        if b_head == o_head:
            return b_head
        base = self._merge_base(b_head, o_head)
        if base == o_head:
            return b_head  # already based on onto — nothing to replay
        base_t = self._manifest_tables(base)
        b_changed = {
            k: v
            for k, v in self._manifest_tables(b_head).items()
            if base_t.get(k) != v
        }
        o_changed = {
            k
            for k, v in self._manifest_tables(o_head).items()
            if base_t.get(k) != v
        }
        # schema evolution merges three-way at TABLE granularity too:
        # a table whose op list CHANGED on both sides since the fork —
        # grew, or was cleared by a rewrite — is a conflict (op order
        # across forks is undecidable), same policy as data versions.
        # Clearing counts as a change: a branch that rewrote a table
        # reset its ops, and re-attaching the base's ops on rebase
        # would replay them onto the rewrite's current-schema files.
        base_s = self._manifest_schemas(base)
        b_s = self._manifest_schemas(b_head)
        o_s = self._manifest_schemas(o_head)
        b_changed_s = {
            k for k in set(base_s) | set(b_s)
            if base_s.get(k, []) != b_s.get(k, [])
        }
        o_changed_s = {
            k for k in set(base_s) | set(o_s)
            if base_s.get(k, []) != o_s.get(k, [])
        }
        conflicts = sorted(
            (set(b_changed) & o_changed) | (b_changed_s & o_changed_s)
        )
        if conflicts:
            raise MergeConflictError(
                f"rebase {branch!r} onto {onto!r}: table(s) rewritten "
                f"on both sides since the fork: {conflicts}; re-run the "
                "branch's transactions on a fresh fork",
                conflicts,
            )
        merged = {**self._manifest_tables(o_head), **b_changed}
        merged_s = dict(o_s)
        for k in b_changed_s:  # branch's op state wins for its set
            if k in b_s:
                merged_s[k] = b_s[k]
            else:
                merged_s.pop(k, None)  # cleared by a branch rewrite
        # constraints rebase three-way at TABLE granularity too:
        # the branch's constraint state wins for tables whose map
        # changed on the branch since the fork (conflicts with a
        # simultaneous onto-side change are rare enough that
        # last-declarer-wins is acceptable for a metadata rule set)
        base_c = self._manifest_constraints(base)
        b_c = self._manifest_constraints(b_head)
        o_c = self._manifest_constraints(o_head)
        merged_c = dict(o_c)
        for k in set(base_c) | set(b_c):
            if base_c.get(k, {}) != b_c.get(k, {}):
                if k in b_c:
                    merged_c[k] = b_c[k]
                else:
                    merged_c.pop(k, None)
        # The merge can pair a table's DATA with a constraint set the
        # data was never validated under — branch data meeting an
        # onto-side constraint, or onto data meeting a branch-declared
        # one (without this a branch whose data violates a
        # constraint added on the onto side merged cleanly, committing
        # a manifest whose data breaks its own declared rules). With a
        # ``spark`` session the novel pairings re-validate here, one
        # add_constraint-style existence probe per (table, constraint);
        # without one the merged data is only re-validated on the next
        # write to each table (documented fallback — callers that
        # declare constraints should pass spark).
        if spark is not None:
            from pyspark.sql import functions as _F

            for k, rules in merged_c.items():
                # probe the base AND any merge-on-read delta (delta
                # rows are part of the logical state — same rule as
                # add_constraint)
                for scan_name in (k, k + "__delta"):
                    if scan_name not in merged:
                        continue
                    # "validated" is the constraint set THIS SCAN's data
                    # was last written under — decided per scan_name,
                    # not per base table: a branch that
                    # rewrote base k while onto appended to k__delta
                    # merges delta rows that only ever saw the ONTO
                    # side's rules, even though k itself is b_changed.
                    validated = (
                        b_c.get(k, {})
                        if scan_name in b_changed
                        else o_c.get(k, {})
                    )
                    novel = {
                        c: e for c, e in rules.items()
                        if validated.get(c) != e
                    }
                    if not novel:
                        continue
                    df = _read_version_df(
                        spark,
                        _version_dir(
                            self.table_dir(scan_name), merged[scan_name]
                        ),
                    )
                    ops = merged_s.get(scan_name)
                    if ops:
                        df = _apply_schema_ops(df, ops)
                    for cname, expr in sorted(novel.items()):
                        bad = (
                            df.filter(
                                ~_F.expr(expr).eqNullSafe(_F.lit(True))
                            )
                            .limit(1)
                            .count()
                        )
                        if bad:
                            raise ConstraintViolationError(
                                f"rebase {branch!r} onto {onto!r}: rows "
                                f"of {scan_name!r} violate CHECK "
                                f"{cname!r} ({expr}) carried across the "
                                "merge; repair the branch before "
                                "rebasing",
                                k,
                                cname,
                            )
        mdoc: dict = {"tables": merged, "parent": o_head}
        if merged_s:
            mdoc["schemas"] = merged_s
        if merged_c:
            mdoc["constraints"] = merged_c
        return self._set_ref(branch, {branch: b_head, onto: o_head}, doc=mdoc)

    def rollback_to(self, manifest: int, branch: str = "main") -> int:
        """ROLL BACK ``branch`` to an ANCESTOR manifest (Iceberg's
        rollback_to_snapshot): one O(1) CAS-guarded pointer move, zero
        data copied — version dirs and manifests are immutable, so
        "undo the last N commits" is just re-pointing the ref at the
        older snapshot. Requires ``manifest`` to be an ancestor of (or
        equal to) the branch's current head: re-pointing at an
        unrelated manifest would be a fork wearing a rollback's name,
        and a typo'd id must fail loudly, not rewrite history.

        The rollback leaves the abandoned descendants unreachable
        from every ref, so they stay on disk only until the next
        gc_uncommitted / expire_snapshots. Until then a second
        rollback_to at the newer id REDOES forward (the descendant
        direction is accepted too, Iceberg's set_current_snapshot
        within one lineage); after it the newer manifest is gone and
        the redo raises ValueError. A NEW commit on the rolled-back
        head parents onto the target, which also ends the redo. A
        racing commit moves the ref and turns this into a retryable
        ConcurrentCommitError (the _set_ref CAS)."""
        cur = self.head(branch)
        if cur is None:
            raise ValueError(f"branch {branch!r} has no commits")
        if self._doc(manifest) is None:
            raise ValueError(
                f"m={manifest} is not an ancestor of {branch!r}'s head "
                f"(m={cur}) nor a descendant with a manifest on disk: "
                "gc_uncommitted or expire_snapshots collected it, or it "
                "never existed"
            )

        def _on_chain(frm: int, to: int) -> bool:
            walk: int | None = frm
            while walk is not None:
                if walk == to:
                    return True
                walk = self._manifest_parent(walk)
            return False

        if not (_on_chain(cur, manifest) or _on_chain(manifest, cur)):
            raise ValueError(
                f"m={manifest} is not an ancestor of {branch!r}'s head "
                f"(m={cur}) nor a descendant of it; rollback cannot "
                "fork history"
            )
        if cur != manifest:
            self._set_ref(branch, {branch: cur}, manifest=manifest)
        return manifest

    def expire_snapshots(
        self, keep_last: int = 2, grace_seconds: float = 300.0
    ) -> dict:
        """TRUNCATE HISTORY (Iceberg's expire_snapshots): for every
        ref, keep the newest ``keep_last`` manifests of its parent
        chain; every other manifest FILE is deleted, then the standard
        reachability gc reclaims any table version no surviving
        manifest references. Time travel to an expired manifest raises
        FileNotFoundError — the expiry contract — while the parent
        walk from a kept manifest ends gracefully at the truncation
        point (a missing parent reads as a root). This is what bounds
        METADATA and orphaned-data growth over an infinite streaming
        run: commit debt is folded by retention, history debt by
        expiry.

        ``grace_seconds`` passes through to gc_uncommitted so versions
        being staged by in-flight writers are left alone (same
        retention-window contract). Keeping at least the head is
        enforced (keep_last >= 1). Returns {"expired_manifests": [...],
        "reclaimed": gc report}."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1 (the head must survive)")
        with self._locked():
            heads = [
                h for h in self.branches().values() if h is not None
            ]
            keep: set[int] = set()
            for head in heads:
                cur, depth = head, 0
                while cur is not None and depth < keep_last:
                    keep.add(cur)
                    depth += 1
                    cur = self._manifest_parent(cur)
            # DIVERGED refs additionally pin the path down to their
            # merge base with every other ref:
            # deleting a fork-point manifest — or any link on the walk
            # to it — leaves _merge_base unable to find the common
            # ancestor, and every later rebase/merge_ff of that branch
            # spuriously conflicts. Linear history still truncates
            # fully; only live forks retain their connecting spine.
            for i, a in enumerate(heads):
                for b in heads[i + 1 :]:
                    if a == b:
                        continue
                    base = self._merge_base(a, b)
                    if base is None:
                        continue
                    for h in (a, b):
                        cur = h
                        while cur is not None:
                            keep.add(cur)
                            if cur == base:
                                break
                            cur = self._manifest_parent(cur)
            expired = sorted(set(self._manifest_ids()) - keep)
            for mid in expired:
                os.unlink(self._manifest_path(mid))
        # reachable manifests now == the kept set, so the standard
        # reachability gc (own lock acquisition — after ours releases)
        # reclaims every version only expired manifests referenced
        reclaimed = self.gc_uncommitted(grace_seconds=grace_seconds)
        return {"expired_manifests": expired, "reclaimed": reclaimed}

    def _set_ref(
        self,
        branch: str,
        expected: dict[str, int | None],
        manifest: int | None = None,
        doc: dict | None = None,
    ) -> int:
        """The one publish point. Under the commit lock, fail with the
        retryable ConcurrentCommitError unless every ref in ``expected``
        still points at the manifest the caller read; write ``doc`` as
        the next manifest when given; then point ``branch`` at it (or at
        the existing ``manifest``). Commits, ref moves and branch deletes
        share the lock, so no interleaving can lose an update, and a
        crash before the ref's ``os.replace`` leaves every ref where it
        was."""
        with self._locked():
            for ref, want in expected.items():
                got = self.head(ref)
                if got != want:
                    raise ConcurrentCommitError(
                        f"ref {ref!r} moved {want} -> {got} since it was "
                        "read; re-read, restage, retry"
                    )
            if doc is not None:
                manifest = self._next_manifest()
                _write_durably(self._manifest_path(manifest), json.dumps(doc))
            ref = self._ref_path(branch)
            os.makedirs(os.path.dirname(ref), exist_ok=True)
            _write_durably(ref, str(manifest))
            return manifest

    # -- write side --------------------------------------------------
    @contextmanager
    def _locked(self):
        """Hold the catalog-wide commit lock: an exclusive ``flock`` on
        the empty ``_COMMIT.lock`` file, which is never deleted. EVERY
        metadata mutation — manifest commit, ref swap, branch delete,
        expiry, gc — runs inside this one lock, so no pair of them can
        interleave. The kernel releases the lock when the holder's fd
        closes or its process dies, so a crashed holder blocks no one
        and a leftover file is not a holder.

        Acquisition WAITS (25 ms polls, up to _LOCK_WAIT_SECONDS)
        instead of failing on first contention: metadata critical
        sections are milliseconds (a gc sweep at most seconds), so a
        short bounded wait turns almost every lock collision into a
        success instead of burning a caller's CAS-retry — the Iceberg
        lock-wait posture. A holder past the budget raises the
        retryable ConcurrentCommitError."""
        lock = os.path.join(self.root, _COMMIT_LOCK)
        fd = os.open(lock, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            deadline = time.time() + _LOCK_WAIT_SECONDS
            while True:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except BlockingIOError:
                    if time.time() >= deadline:
                        raise ConcurrentCommitError(
                            f"another commit holds {lock}; retry after "
                            "it finishes"
                        ) from None
                    time.sleep(0.025)
            yield
        finally:
            os.close(fd)

    def _next_manifest(self) -> int:
        return max([self.head() or 0, *self._manifest_ids()]) + 1

    def _commit(
        self,
        staged: dict[str, int],
        expected_head: int | None,
        branch: str = "main",
        schema_ops: dict[str, list[dict]] | None = None,
        keep_schema_ops: frozenset[str] | set[str] = frozenset(),
        constraints: dict[str, dict[str, str]] | None = None,
    ) -> int:
        """Publish ``staged`` over manifest ``expected_head`` as the next
        commit on ``branch``: one new manifest, one ref swap. Raises
        ConcurrentCommitError if the ref moved since ``expected_head``
        was read — the optimistic compare-and-swap that turns a silent
        lost update into a retryable conflict. ``None`` expects a branch
        with no commits yet, so two first commits racing on one branch
        cannot both land. On object storage the lock+check collapses
        into one conditional-put of the ref."""
        parent = self._doc(expected_head)
        if parent is None:  # expire_snapshots never deletes a head
            raise ConcurrentCommitError(
                f"ref {branch!r} moved past expired m={expected_head}; "
                "re-read, restage, retry"
            )
        # schema-evolution metadata carries forward on EVERY commit
        # (like tables); an evolve_schema commit appends its ops to the
        # table's cumulative replay list
        schemas = {k: list(v) for k, v in parent.get("schemas", {}).items()}
        # a REWRITTEN table resets its op list: the staged version was
        # produced against the conformed current schema, so replaying
        # old ops onto its files would corrupt them — e.g. a
        # drop-then-re-add's drop op would project away the REAL values
        # a post-re-add rewrite computed and backfill the stale default.
        # Readers of older manifests still see the ops recorded THERE.
        # APPENDED versions are exempt (keep_schema_ops): their files
        # carry the base's pre-evolution schema, so the ops must keep
        # replaying over them.
        for tname in staged:
            if tname not in keep_schema_ops:
                schemas.pop(tname, None)
        for tname, ops in (schema_ops or {}).items():
            schemas[tname] = schemas.get(tname, []) + list(ops)
        # CHECK constraints carry forward on every commit (unlike schema
        # ops they survive rewrites — the rule outlives any one
        # version); add/drop_constraint pass the full new map
        cons = parent.get("constraints", {}) if constraints is None else constraints
        # parent link = the manifest this one was committed on top of —
        # the ancestry chain merge_ff and rebase walk
        doc: dict = {
            "tables": {**self._manifest_tables(expected_head), **staged},
            "parent": expected_head,
        }
        if schemas:
            doc["schemas"] = schemas
        if cons:
            doc["constraints"] = cons
        return self._set_ref(branch, {branch: expected_head}, doc=doc)

    def transaction(self, branch: str = "main") -> "CatalogTransaction":
        return CatalogTransaction(self, branch)

    def commit_retrying(
        self,
        body: Callable[["CatalogTransaction"], None],
        branch: str = "main",
    ) -> int | None:
        """Run ``body(t)`` in a fresh transaction on ``branch`` and
        commit what it staged. A commit that loses the compare-and-swap
        (the ref moved, or the commit lock was contended) rolls back and
        reruns ``body`` on a new snapshot, with linear backoff, up to
        _COMMIT_RETRIES attempts; then the last ConcurrentCommitError is
        raised. Any other exception propagates on the attempt that
        raised it. ``body`` must read through ``t`` (read_committed,
        committed_rows, ``t._expected_head``), so what it stages derives
        from the snapshot its commit is checked against. Returns the
        manifest this commit published — never a head re-read, which a
        racing writer could have moved past — or None when ``body``
        staged nothing."""
        last: ConcurrentCommitError | None = None
        for attempt in range(_COMMIT_RETRIES):
            try:
                with self.transaction(branch) as t:
                    body(t)
                return t.committed_manifest
            except ConcurrentCommitError as exc:
                last = exc
                time.sleep(0.02 * (attempt + 1))
        raise last  # type: ignore[misc]

    def compact_table(
        self,
        spark: SparkSession,
        name: str,
        target_file_bytes: int = 128 << 20,
        partition_by: tuple[str, ...] | None = None,
        branch: str = "main",
    ) -> int:
        """Rewrite one table into ~target-sized files and commit the
        result as a new manifest (atomic via the HEAD swap). The output
        file count is ceil(on-disk bytes / target), so no sampling pass
        is needed. A partitioned table keeps its layout: the partition
        columns are detected from the ``col=value`` directory chain when
        ``partition_by`` is None, and the rewrite shuffles on them
        before ``partitionBy`` so pruning survives; pass
        ``partition_by=()`` to flatten. Compacts ``branch``'s table,
        reading it through the commit's own snapshot: a commit landing
        meanwhile makes this one rerun instead of overwriting it.
        Refuses while positional deletes are pending — the rewrite
        would strand their (file,pos) anchors."""
        def body(t: CatalogTransaction) -> None:
            version = self._version(
                name, t._expected_head, f"committed manifest of {branch!r}"
            )
            guard_no_pending_positional_deletes(
                self, spark, name, t._expected_head
            )
            vdir = _version_dir(self.table_dir(name), version)
            parts = (
                _detect_partition_cols(vdir)
                if partition_by is None
                else partition_by
            )
            total = sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(vdir)
                for f in files
                if f.endswith(".parquet")
            )
            n_files = max(1, math.ceil(total / target_file_bytes))
            # read CONFORMED (schema ops applied): the rewrite's commit
            # resets the table's op list, so the compacted files must
            # already embody the current schema
            df = t.read_committed(spark, name)
            t.overwrite(df.repartition(n_files, *parts), name, parts)

        return self.commit_retrying(body, branch)

    def compact_partitions(
        self,
        spark: SparkSession,
        name: str,
        max_files_per_partition: int = 8,
        target_file_bytes: int = 128 << 20,
        branch: str = "main",
    ) -> int | None:
        """PARTITION-SCOPED file compaction (the Iceberg
        rewrite_data_files / Delta OPTIMIZE WHERE shape, and the only
        compaction that makes sense at 100 TB): rewrite ONLY the
        partitions whose small-file count exceeds the threshold;
        every healthy partition's files HARD-LINK into the new version
        unchanged (O(file count) metadata, zero data moved). A
        streaming table that appends into today's partition never
        pays to rewrite last year's — ``compact_table`` (whole-table)
        is the fixture-scale tool, this is the production one.

        The rewritten partitions are read RAW and written RAW, so the
        new version carries the same file-level schema as the old and
        the table's pending schema-evolution ops KEEP replaying over
        it (keep_schema_ops — same contract as appends). Pending
        POSITIONAL deletes on the table make this raise: rewriting a
        partition strands its (file,pos) anchors — fold them first
        (compact_positional_deletes). Key-based dv/delta side tables
        are unaffected (they match by key, not position).

        Returns the commit's manifest id, or None when no partition is
        over the threshold (nothing staged, nothing published). Runs
        through commit_retrying: a commit landing meanwhile makes this
        one rerun on the new snapshot instead of raising."""
        table_dir = self.table_dir(name)

        def body(t: CatalogTransaction) -> None:
            head = t._expected_head
            vdir = _version_dir(
                table_dir, self._version(name, head, f"branch {branch!r}")
            )
            guard_no_pending_positional_deletes(self, spark, name, head)
            if not _detect_partition_cols(vdir):
                raise ValueError(
                    f"table {name!r} is unpartitioned; use compact_table"
                )
            # leaf partition dirs = dirs containing parquet files
            leaves: dict[str, list[str]] = {}  # relative path -> parts
            for root, _, files in os.walk(vdir):
                parts = [f for f in files if f.endswith(".parquet")]
                if parts:
                    leaves[os.path.relpath(root, vdir)] = parts
            offenders = {
                rel: math.ceil(
                    sum(
                        os.path.getsize(os.path.join(vdir, rel, f))
                        for f in parts
                    )
                    / target_file_bytes
                )
                for rel, parts in leaves.items()
                if len(parts) > max_files_per_partition
            }
            if not offenders:
                return
            with _staging(table_dir) as (version, new_vdir):
                for rel in leaves:
                    src = os.path.join(vdir, rel)
                    dst = os.path.normpath(os.path.join(new_vdir, rel))
                    if rel not in offenders:
                        # healthy partition: hard-link, zero data moved
                        _link_parquet_tree(src, dst)
                    else:
                        # offender: raw read of JUST that partition's
                        # files, coalesced to ~target-size, written back
                        # under the same col=value path (the partition
                        # values live in the path)
                        read_parquet(spark, src).coalesce(
                            max(1, offenders[rel])
                        ).write.mode("append").parquet(dst)
                schema_json = _read_schema(vdir)
                if schema_json is not None:
                    _write_schema(new_vdir, schema_json)
            # the rewritten files carry the same pre-evolution schema as
            # the old version: ops must keep replaying, as for an append
            t._track(name, version, appended=True)

        return self.commit_retrying(body, branch)

    def _reachable_manifests(self) -> set[int]:
        """Manifest ids reachable from ANY ref by parent-walk — the
        live metadata set for gc."""
        seen: set[int] = set()
        for head in self.branches().values():
            cur = head
            while cur is not None and cur not in seen:
                seen.add(cur)
                cur = self._manifest_parent(cur)
        return seen

    def gc_uncommitted(self, grace_seconds: float = 0.0) -> dict[str, list[int]]:
        """Delete per-table version directories referenced by NO
        reachable manifest — debris from writers that crashed after
        staging but before the ref swap, and versions pinned only by
        since-deleted branches.

        Reachability-EXACT: the live set is the exact
        (table, version) pairs in every manifest reachable from any
        ref by parent-walk — not a max-per-table high-water mark,
        which leaked debris that landed BETWEEN two refs' pinned
        versions forever (main pins v3, a branch pins v5, a crashed
        writer orphaned v4: v4 < max(3,5) was never reclaimed).
        Scans ALL table directories under root: a table
        that was being INTRODUCED by a crashed transaction has staged
        versions but no manifest entry at all, so every version is
        unreferenced and the empty dir is removed too. Unreachable
        manifest FILES (crashed half-commits, deleted-branch history)
        are swept as well, reported under the reserved key
        ``_MANIFEST``.

        Concurrency: runs under the commit lock, so it can never
        interleave with a ref swap (a manifest is reachable or not —
        never mid-flip). A version STAGED by an in-flight transaction
        is unreferenced until its commit, though, so with writers
        running pass ``grace_seconds`` >= the longest transaction
        (e.g. 300): anything whose mtime is inside the window is
        presumed in-flight and skipped — the retention-window contract
        every object-store GC uses. The default 0 keeps the original
        "no writer in flight" semantics (reclaim everything now)."""
        now = time.time()

        def _fresh(path: str, horizon: float | None = None) -> bool:
            h = grace_seconds if horizon is None else horizon
            if h <= 0:
                return False
            try:
                return now - os.stat(path).st_mtime < h
            except OSError:
                return True  # vanished mid-scan -> leave it alone

        with self._locked():
            reachable = self._reachable_manifests()
            live: dict[str, set[int]] = {}
            for m in reachable:
                for name, v in (self._doc(m) or {"tables": {}})["tables"].items():
                    live.setdefault(name, set()).add(int(v))
            removed: dict[str, list[int]] = {}
            for name in os.listdir(self.root):
                tdir = self.table_dir(name)
                if name in (
                    _MANIFEST_DIR, _HEAD, _REFS_DIR, _COMMIT_LOCK,
                ) or not os.path.isdir(tdir):
                    continue
                keep = live.get(name, set())
                for d, v, claim in _version_entries(tdir):
                    path = os.path.join(tdir, d)
                    if claim:
                        # stale reservation from a crashed stager. A
                        # claim is ALWAYS given a minimum age before
                        # reclaim, even at grace_seconds=0: unlinking a
                        # live in-flight claim re-enables the
                        # version-number collision _reserve_version
                        # exists to prevent. A real stager holds its
                        # claim only for the staging write, so the floor
                        # covers any live writer; a crashed one is swept
                        # on the next gc pass.
                        if not _fresh(
                            path, max(grace_seconds, _CLAIM_MIN_AGE_SECONDS)
                        ):
                            try:
                                os.unlink(path)
                            except FileNotFoundError:
                                pass
                    elif v not in keep and not _fresh(path):
                        shutil.rmtree(path, ignore_errors=True)
                        removed.setdefault(name, []).append(v)
                # a never-committed table dir emptied of versions is
                # itself debris; remove it if nothing else lives there
                if name not in live and not os.listdir(tdir):
                    os.rmdir(tdir)
            for mid in self._manifest_ids():
                if mid not in reachable and not _fresh(self._manifest_path(mid)):
                    os.unlink(self._manifest_path(mid))
                    removed.setdefault("_MANIFEST", []).append(mid)
            return {k: sorted(v) for k, v in removed.items()}


class CatalogTransaction:
    """Multi-table bracket over a Catalog: stage freely, commit ONCE.

    >>> with catalog.transaction() as txn:
    ...     txn.overwrite(dim_df, "dim_customers")
    ...     txn.overwrite(fact_df, "fact_orders", partition_by=("OrderDateKey",))
    ... # ONE HEAD swap here: both tables flip together or not at all

    An exception inside the block deletes every staged version; the
    committed manifest — and every table it references — is untouched.
    There is no partial-commit window to retry out of: either the HEAD
    swap happened (everything published) or it didn't (nothing
    published). A one-table write is the same bracket with one
    ``overwrite``.
    """

    def __init__(self, catalog: Catalog, branch: str = "main") -> None:
        # a non-main branch must already exist: without
        # this, a typo'd branch name silently spawned an orphan ref
        # with an empty base at commit time instead of failing fast
        if branch != "main" and catalog.head(branch) is None:
            raise ValueError(
                f"unknown branch {branch!r}; create_branch() it first"
            )
        self._catalog = catalog
        self._branch = branch
        self._staged: dict[str, int] = {}
        self._append_staged: set[str] = set()
        # tables whose staged chain BEGAN with an overwrite in this
        # bracket: an append chained onto that rewrite inherits files
        # that already embody the current schema, so the commit must
        # still reset the table's schema-op list, or the old ops would
        # replay over the rewrite's current-schema files
        self._rewrite_base: set[str] = set()
        # manifest id THIS transaction published (None until a commit
        # happens; stays None for an empty transaction). Callers that
        # report "the manifest my write landed in" must read this, not
        # re-read head() after exit — a racing commit can move head
        # past ours between the swap and the re-read.
        self.committed_manifest: int | None = None
        # optimistic-concurrency snapshot: commit fails (and rolls the
        # staged versions back) if THIS BRANCH's ref moves before we
        # publish — without this, {**manifest(), **staged} re-read at
        # commit time silently drops a racing writer's tables. Writers
        # on DIFFERENT branches never conflict: each CAS
        # guards its own ref.
        self._expected_head = catalog.head(branch)

    def _enforce_constraints(self, df: DataFrame, name: str) -> None:
        """CHECK-constraint gate on the rows THIS write introduces:
        one filtered count per declared constraint, so an
        appended micro-batch pays O(batch), never O(table). FALSE and
        NULL are violations (every row must evaluate TRUE — Delta
        semantics). Raising here aborts the bracket before anything
        stages, so a violating write can never publish."""
        cons = self._catalog._manifest_constraints(
            self._expected_head
        ).get(name)
        if not cons:
            return
        from functools import reduce

        from pyspark.sql import functions as F

        # ONE pass over the write's plan regardless of how many
        # constraints are declared (per-constraint
        # passes recomputed a compaction's full merged plan N times);
        # the per-constraint attribution pass runs only on failure
        violated = [
            ~F.expr(expr).eqNullSafe(F.lit(True))
            for _, expr in sorted(cons.items())
        ]
        any_bad = (
            df.filter(reduce(lambda a, b: a | b, violated))
            .limit(1)
            .count()
        )
        if not any_bad:
            return
        for cname, expr in sorted(cons.items()):
            bad = (
                df.filter(~F.expr(expr).eqNullSafe(F.lit(True)))
                .limit(1)
                .count()
            )
            if bad:
                raise ConstraintViolationError(
                    f"write to {name!r} violates CHECK {cname!r} "
                    f"({expr}); transaction rolled back",
                    name,
                    cname,
                )
        raise ConstraintViolationError(  # pragma: no cover - race only
            f"write to {name!r} violates a CHECK constraint",
            name,
            "?",
        )

    def _track(self, name: str, version: int, appended: bool = False) -> int:
        """Record ``version`` as this bracket's stage of ``name``. A
        rewrite supersedes any earlier append of the table in this
        bracket — its files embody the current schema — and marks the
        table's chain as rewrite-based. An appended version keeps the
        base's (possibly pre-evolution) files, so the commit must NOT
        reset the table's op list — unless the chain began with a
        rewrite here (``_rewrite_base``; __exit__ excludes those). An
        append chained onto an earlier stage replaces it, so the
        superseded dir goes."""
        prev = self._staged.get(name)
        if not appended:
            self._append_staged.discard(name)
            self._rewrite_base.add(name)
        else:
            self._append_staged.add(name)
            if prev is not None and prev != version:
                shutil.rmtree(
                    _version_dir(self._catalog.table_dir(name), prev),
                    ignore_errors=True,
                )
        self._staged[name] = version
        return version

    def overwrite(
        self, df: DataFrame, name: str, partition_by: tuple[str, ...] = ()
    ) -> int:
        self._enforce_constraints(df, name)
        return self._track(
            name,
            stage_version(df, self._catalog.table_dir(name), partition_by),
        )

    def truncate(self, df: DataFrame, name: str) -> int:
        """Stage an EMPTY version of ``name`` carrying ``df``'s schema —
        the metadata-only form of ``overwrite(df.limit(0), name)``: no
        Spark job runs (see stage_empty_version). The compaction
        primitives use this to reset folded side tables (dv/delta/pdv)
        inside their atomic commit. Zero rows satisfy any CHECK
        constraint vacuously, so no enforcement pass is needed."""
        return self._track(
            name,
            stage_empty_version(self._catalog.table_dir(name), df.schema.json()),
        )

    def has_committed(self, name: str) -> bool:
        """Whether ``name`` is in THIS transaction's snapshot — the
        guard before ``read_committed`` for a bracket that bootstraps a
        table on its first write."""
        return name in self._catalog._manifest_tables(self._expected_head)

    def _snapshot(self) -> str:
        return f"snapshot m={self._expected_head} of branch {self._branch!r}"

    def committed_rows(self, name: str) -> int | None:
        """Row count of ``name`` at THIS transaction's snapshot from
        parquet footers (no Spark job; see version_rows), or None when
        the footers cannot answer — callers fall back to a scan.
        Raises FileNotFoundError when the table is not in the
        snapshot, mirroring read_committed."""
        version = self._catalog._version(
            name, self._expected_head, self._snapshot()
        )
        return version_rows(self._catalog.table_dir(name), version)

    def committed_values(
        self, name: str, max_rows: int | None = None
    ) -> list[dict] | None:
        """ALL rows of a METADATA-SIZED table at THIS transaction's
        snapshot as driver-side dicts — no Spark job (the read half of
        the driver-side ledger commit path; see version_values for the
        None conditions, which include the ``max_rows`` growth guard
        and pending schema-evolution ops). Raises FileNotFoundError
        when the table is not in the snapshot, mirroring
        read_committed."""
        return self._catalog._values(
            name, self._expected_head, self._snapshot(), max_rows
        )

    def overwrite_small(self, spark, rows, schema_ddl: str, name: str) -> int:
        """Overwrite ``name`` with DRIVER-MATERIALIZED rows: a direct
        pyarrow parquet stage when the schema maps (stage_small_version
        — no Spark job), the ordinary Spark overwrite otherwise. The
        write half of the driver-side ledger commit path: the
        exactly-once sinks rewrite a by-contract metadata-sized table
        once per micro-batch, and the staged write job was pure fixed
        cost. Tables with declared CHECK constraints take the Spark
        path so enforcement semantics are untouched."""
        from pyspark.sql.types import StructType

        schema = StructType.fromDDL(schema_ddl)
        if not (
            self._catalog._manifest_constraints(self._expected_head).get(name)
        ):
            version = stage_small_version(
                self._catalog.table_dir(name), rows, schema
            )
            if version is not None:
                return self._track(name, version)
        return self.overwrite(spark.createDataFrame(rows, schema_ddl), name)

    def append(self, df: DataFrame, name: str) -> int:
        """Stage base + new rows as a new version WITHOUT rewriting the
        base (stage_version_append: base part files hard-link into the
        new version dir; only ``df`` is actually written). Chains onto
        a version already staged in THIS transaction, else onto the
        transaction's snapshot; a table absent from both degrades to a
        plain overwrite (first write IS the append). Commit semantics
        are unchanged — the staged version publishes atomically with
        everything else in the bracket, CAS-guarded against racing
        writers."""
        if name in self._staged:
            base_v = self._staged[name]
        else:
            snap = self._catalog._manifest_tables(self._expected_head)
            if name not in snap:
                return self.overwrite(df, name)  # enforces constraints
            base_v = snap[name]
        self._enforce_constraints(df, name)
        version = stage_version_append(
            df, self._catalog.table_dir(name), base_v
        )
        return self._track(name, version, appended=True)

    def read_staged(self, spark: SparkSession, name: str) -> DataFrame:
        """Scan a version staged IN THIS transaction (materialized but
        unpublished) — later steps build on earlier stages without
        recomputing their plans (the pipeline's dim -> fact flow)."""
        return _read_version_df(
            spark,
            _version_dir(self._catalog.table_dir(name), self._staged[name]),
        )

    def read_committed(self, spark: SparkSession, name: str) -> DataFrame:
        """Scan a table AS OF THIS TRANSACTION'S SNAPSHOT — the exact
        head the commit will CAS against. Catalog.read resolves the
        CURRENT head instead, so a read-modify-write built on it has a
        TOCTOU window (a commit landing between the read and this
        transaction's open would be silently overwritten by a
        stale-read union that still CAS-succeeds). Reading through the
        snapshot closes it: either the commit lands and the read was
        of the immediately preceding state (linearizable), or the ref
        moved and the commit raises ConcurrentCommitError — retry from
        a fresh transaction. This is snapshot isolation's read side,
        same contract as Iceberg's table-scan-at-snapshot inside a
        pending commit."""
        return self._catalog._read_table(
            spark, name, self._expected_head, self._snapshot()
        )

    def __enter__(self) -> "CatalogTransaction":
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        try:
            # an empty transaction publishes NOTHING — no empty
            # manifest, no head bump (a read-only bracket that
            # early-returns must not mint commits)
            if exc_type is None and self._staged:
                self.committed_manifest = self._catalog._commit(
                    self._staged,
                    expected_head=self._expected_head,
                    branch=self._branch,
                    # a staged chain whose base is a rewrite from this
                    # same bracket embodies the current schema even if
                    # appends followed — its op list must reset too
                    keep_schema_ops=self._append_staged - self._rewrite_base,
                )
                self._staged = {}
        finally:
            # rollback path: an exception in the block OR a failed
            # commit — the staged versions are deleted. A commit that
            # failed AFTER its ref swap (syncing the ref's directory)
            # has published them, so versions the branch head names stay.
            if self._staged:
                live = self._catalog.manifest(self._branch)
                for name, version in self._staged.items():
                    if live.get(name) != version:
                        shutil.rmtree(
                            _version_dir(self._catalog.table_dir(name), version),
                            ignore_errors=True,
                        )
            self._staged = {}
        return False  # propagate the exception after rollback
