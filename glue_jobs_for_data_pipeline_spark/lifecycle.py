"""The one owner of the Spark resources a query leaves behind.

Two lifetimes:

- **Query lifetime.** ``cached`` (a DataFrame cache), ``checkpoint`` (a
  local checkpoint) and ``scratch_dir`` (a per-invocation directory)
  register what they create with the innermost open ``query_scope``;
  closing the scope unpersists every block and deletes every directory.
  ``free`` releases a superseded loop intermediate at once, so a long
  loop holds one round's blocks rather than every round's. A
  checkpointed RDD has no lineage, so its blocks are the only copy:
  close the scope only after the query's result has been acted on
  (``runner.run`` closes it after the sink). Outside any scope nothing
  is tracked: blocks live until the JVM collects their frame, and
  directories until the interpreter exits.
- **Process lifetime.** ``stage`` memoizes an expensive derivation (a
  staged parquet table, trained centroids, a storage layout) once per
  key, so every consumer in the process reads the same artifact.
  ``reset_stages`` deletes every resettable stage, directory included,
  so a harness pass can pay each build again.

Scratch root: ``SPARK_GRAFT_SCRATCH_ROOT``, else the platform tempdir.
On a cluster it must be a filesystem shared by driver and executors
(README "Scratch storage contract").
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from contextlib import contextmanager
from typing import Callable

from py4j.protocol import Py4JError
from pyspark import StorageLevel
from pyspark.sql import DataFrame


# One list of release callbacks per open scope, innermost last.
# Module-global rather than thread-local, so the foreachBatch callbacks
# a streaming query runs on another thread register with the scope of
# the query that started them.
_SCOPES: list[list[Callable[[], object]]] = []


@contextmanager
def query_scope():
    """Release everything registered inside the block when it exits."""
    releases: list[Callable[[], object]] = []
    _SCOPES.append(releases)
    try:
        yield
    finally:
        _SCOPES.remove(releases)
        for release in releases:
            release()


def _on_close(release: Callable[[], object]) -> bool:
    """Run ``release`` when the innermost scope closes; False outside."""
    if _SCOPES:
        _SCOPES[-1].append(release)
    return bool(_SCOPES)


def cached(df: DataFrame) -> DataFrame:
    """``df.cache()``, released when the query scope closes. A plan
    that is already cached reuses that entry, which stays its
    creator's to release."""
    fresh = df.storageLevel == StorageLevel.NONE
    df = df.cache()
    if fresh:
        _on_close(df.unpersist)
    return df


def _unpersist(df: DataFrame) -> None:
    """Drop a checkpointed frame's blocks: the RDD of its LogicalRDD leaf."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Py4JError:  # not a checkpointed frame, or a stopped context
        pass


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``, released when the query scope
    closes unless ``free`` releases it first."""
    ck = df.localCheckpoint(eager=eager)
    _on_close(lambda: _unpersist(ck))
    return ck


def free(df: DataFrame) -> None:
    """Release a superseded checkpoint now. Nothing that is evaluated
    later may read it: its blocks are the only copy of the data."""
    _unpersist(df)


def _mkdtemp(prefix: str) -> str:
    root = os.environ.get("SPARK_GRAFT_SCRATCH_ROOT") or None
    if root:
        os.makedirs(root, exist_ok=True)
    return tempfile.mkdtemp(prefix=prefix, dir=root)


def process_dir(prefix: str) -> str:
    """A fresh scratch directory deleted when the interpreter exits."""
    d = _mkdtemp(prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def scratch_dir(prefix: str) -> str:
    """A fresh per-invocation scratch directory, deleted when the query
    scope closes (at interpreter exit outside a scope). Never a fixed
    path: two runs of one query, or one query at two scale factors,
    would rebuild it under a frame that still reads it lazily."""
    if not _SCOPES:
        return process_dir(prefix)
    d = _mkdtemp(prefix)
    _on_close(lambda: shutil.rmtree(d, ignore_errors=True))
    return d


# key -> (value, directory or None, resettable)
_STAGES: dict[tuple, tuple[object, str | None, bool]] = {}


def stage(
    key: tuple,
    build: Callable,
    prefix: str | None = None,
    resettable: bool = True,
):
    """``build()`` once per process and ``key``; later calls return the
    same value. With ``prefix``, ``build`` receives a fresh directory
    of the process lifetime to write into, and ``reset_stages`` deletes
    it. ``resettable=False`` marks storage setup (a partitioned or
    bucketed layout) that the queries demonstrate reading, not
    writing, so it survives ``reset_stages``."""
    hit = _STAGES.get(key)
    if hit is None:
        d = prefix and process_dir(prefix)
        hit = (build(d) if d else build(), d, resettable)
        _STAGES[key] = hit
    return hit[0]


def reset_stages() -> None:
    """Forget every resettable stage and delete its directory. No frame
    that reads a staged directory may be evaluated afterwards."""
    for key, (_, d, resettable) in list(_STAGES.items()):
        if resettable:
            del _STAGES[key]
            if d:
                shutil.rmtree(d, ignore_errors=True)
