"""Exactly-once streaming commits into the catalog (r17):
streaming/exactly_once.py + the stage_version_append add-files
primitive it rides on."""

from __future__ import annotations

import os

import pytest

from glue_jobs_for_data_pipeline_spark.sources import txn
from glue_jobs_for_data_pipeline_spark.streaming import exactly_once as xo


@pytest.fixture()
def cat(tmp_path):
    return txn.Catalog(str(tmp_path / "wh"))


def _rows(cat, spark, name):
    return sorted(r["k"] for r in cat.read(spark, name).collect())


# -- stage_version_append ------------------------------------------------


def test_append_links_base_and_adds_rows(spark, cat):
    with cat.transaction() as t:
        t.overwrite(spark.range(5).selectExpr("id AS k"), "t")
    base_v = cat.manifest()["t"]
    with cat.transaction() as t:
        t.append(spark.range(5, 8).selectExpr("id AS k"), "t")
    assert _rows(cat, spark, "t") == list(range(8))
    # base version untouched and its files shared via hard links
    base_dir = txn._version_dir(cat.table_dir("t"), base_v)
    new_dir = txn._version_dir(cat.table_dir("t"), cat.manifest()["t"])
    base_parts = [f for f in os.listdir(base_dir) if f.endswith(".parquet")]
    assert base_parts
    for f in base_parts:
        assert os.stat(os.path.join(base_dir, f)).st_nlink >= 2
        assert os.path.exists(os.path.join(new_dir, f))


def test_append_to_absent_table_is_first_write(spark, cat):
    with cat.transaction() as t:
        t.append(spark.range(3).selectExpr("id AS k"), "t")
    assert _rows(cat, spark, "t") == [0, 1, 2]


def test_append_chains_within_one_transaction(spark, cat):
    with cat.transaction() as t:
        t.overwrite(spark.range(2).selectExpr("id AS k"), "t")
    with cat.transaction() as t:
        t.append(spark.range(2, 4).selectExpr("id AS k"), "t")
        t.append(spark.range(4, 6).selectExpr("id AS k"), "t")
    assert _rows(cat, spark, "t") == list(range(6))
    # superseded intra-transaction stage was discarded, not leaked
    vdirs = [
        d for d in os.listdir(cat.table_dir("t"))
        if d.startswith("v=") and not d.endswith(".claim")
    ]
    assert len(vdirs) == 2  # base + final; superseded stage reclaimed


def test_append_refuses_schema_drift(spark, cat):
    with cat.transaction() as t:
        t.overwrite(spark.range(2).selectExpr("id AS k"), "t")
    with pytest.raises(ValueError, match="schema"):
        with cat.transaction() as t:
            t.append(
                spark.range(2).selectExpr("id AS k", "id AS extra"), "t"
            )
    # failed bracket rolled back: table unchanged
    assert _rows(cat, spark, "t") == [0, 1]


def test_append_preserves_partition_layout(spark, cat):
    df = spark.range(6).selectExpr("id AS k", "CAST(id % 2 AS INT) AS p")
    with cat.transaction() as t:
        t.overwrite(df, "t", partition_by=("p",))
    extra = spark.createDataFrame([(10, 0), (11, 1)], "k long, p int")
    with cat.transaction() as t:
        t.append(extra, "t")
    got = cat.read(spark, "t")
    assert sorted(r["k"] for r in got.collect()) == [0, 1, 2, 3, 4, 5, 10, 11]
    # partition pruning still works on the appended version
    pruned = got.filter("p = 0")
    assert sorted(r["k"] for r in pruned.collect()) == [0, 2, 4, 10]


# -- exactly-once sink ---------------------------------------------------


def _mk_source(spark, tmp_path, n_files=3, rows_per=4):
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    k = 0
    for i in range(n_files):
        spark.createDataFrame(
            [(k + j,) for j in range(rows_per)], "k long"
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f{i}")
        k += rows_per
    return src, n_files * rows_per


def test_stream_commits_exactly_once_across_microbatches(
    spark, cat, tmp_path
):
    src, total = _mk_source(spark, tmp_path)
    stream = (
        spark.readStream.schema("k long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    xo.stream_append_exactly_once(
        stream, cat, "sink", str(tmp_path / "ckpt"), app_id="app1"
    )
    assert _rows(cat, spark, "sink") == list(range(total))
    ids = xo.committed_batch_ids(cat, spark, "sink", "app1")
    assert len(ids) >= 2  # maxFilesPerTrigger really split the drain


def test_replayed_batch_is_noop(spark, cat, tmp_path):
    """The at-least-once failure: crash AFTER the manifest commit but
    BEFORE the streaming checkpoint records the batch -> restart
    redelivers the same (batch_id, rows). The sink must converge, not
    double-append."""
    sink = xo.exactly_once_batch_sink(cat, "sink", "app1")
    batch = spark.range(5).selectExpr("id AS k")
    sink(batch, 0)
    before = cat.head()
    sink(batch, 0)  # the replay
    assert cat.head() == before  # no manifest minted, nothing appended
    assert _rows(cat, spark, "sink") == [0, 1, 2, 3, 4]
    sink(spark.range(5, 7).selectExpr("id AS k"), 1)
    assert _rows(cat, spark, "sink") == list(range(7))


def test_rival_instances_of_same_batch_commit_once(spark, cat, tmp_path):
    """Zombie-executor failover: two live instances of the SAME stream
    deliver the same batch concurrently. The CAS makes one commit win;
    the loser's retry sees the ledger row and no-ops."""
    import threading

    sink = xo.exactly_once_batch_sink(cat, "sink", "app1")
    batch = spark.range(10).selectExpr("id AS k")
    errs: list[Exception] = []

    def run():
        try:
            sink(batch, 7)
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    ts = [threading.Thread(target=run) for _ in range(3)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    assert _rows(cat, spark, "sink") == list(range(10))  # exactly once
    assert xo.committed_batch_ids(cat, spark, "sink", "app1") == {7}


def test_ledger_is_namespaced_by_app_id(spark, cat, tmp_path):
    """Two independent streams feeding one table must not mistake each
    other's batch 0 for their own replay."""
    a = xo.exactly_once_batch_sink(cat, "sink", "app_a")
    b = xo.exactly_once_batch_sink(cat, "sink", "app_b")
    a(spark.range(3).selectExpr("id AS k"), 0)
    b(spark.range(3, 6).selectExpr("id AS k"), 0)  # same id, other app
    assert _rows(cat, spark, "sink") == list(range(6))
    assert xo.committed_batch_ids(cat, spark, "sink", "app_a") == {0}
    assert xo.committed_batch_ids(cat, spark, "sink", "app_b") == {0}


def test_mv_sink_commits_raw_and_view_atomically(spark, cat, tmp_path):
    from pyspark.sql import functions as F

    def mv_update(batch_df, cur):
        delta = batch_df.groupBy((F.col("k") % 2).alias("g")).agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
        if cur is None:
            return delta
        return (
            cur.unionByName(delta).groupBy("g")
            .agg(F.sum("n").cast("long").alias("n"))
        )

    sink = xo.exactly_once_mv_sink(cat, "raw", "mv", mv_update, "app")
    sink(spark.range(4).selectExpr("id AS k"), 0)
    sink(spark.range(4, 10).selectExpr("id AS k"), 1)
    assert _rows(cat, spark, "raw") == list(range(10))
    mv = {r["g"]: r["n"] for r in cat.read(spark, "mv").collect()}
    assert mv == {0: 5, 1: 5}
    # every commit carried raw+mv+ledger together
    for entry in cat.log():
        if "raw" in entry["changed"]:
            assert "mv" in entry["changed"]
            assert "raw__commits" in entry["changed"]
    # replay: neither table moves
    head = cat.head()
    sink(spark.range(4).selectExpr("id AS k"), 1)
    assert cat.head() == head
    assert _rows(cat, spark, "raw") == list(range(10))


def test_dedup_sink_drops_cross_batch_duplicates(spark, cat, tmp_path):
    from pyspark.sql import functions as F

    sink = xo.exactly_once_dedup_sink(
        cat, "corpus", F.md5("text"), "doc_id", "app"
    )
    b1 = spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (3, "aa")], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(4, "bb"), (5, "cc")], "doc_id long, text string"
    )
    sink(b1, 0)  # within-batch dup: 3 drops (min-id survivor 1)
    sink(b2, 1)  # cross-batch dup: 4 drops ('bb' committed by batch 0)
    got = sorted(
        (r["doc_id"], r["text"])
        for r in cat.read(spark, "corpus").collect()
    )
    assert got == [(1, "aa"), (2, "bb"), (5, "cc")]
    assert cat.read(spark, "corpus__fp").count() == 3
    # replay of batch 1 changes nothing
    head = cat.head()
    sink(b2, 1)
    assert cat.head() == head


def test_append_after_schema_evolution_refuses_until_rewrite(spark, cat):
    """Append requires the base files' recorded schema; after a
    metadata-only evolution the conformed shape differs from the old
    files, so append refuses (no silently mixed-schema version dir) —
    and works again once a rewrite folds the evolution in."""
    from pyspark.sql import functions as F

    with cat.transaction() as t:
        t.overwrite(
            spark.range(3).selectExpr("id AS k", "'x' AS name"), "t"
        )
    cat.evolve_schema("t", [{"op": "rename", "old": "name", "new": "label"}])
    evolved = cat.read(spark, "t")  # k, label
    with pytest.raises(ValueError, match="schema"):
        with cat.transaction() as t:
            t.append(evolved.limit(1), "t")
    # a rewrite (here: compaction-style overwrite of the conformed
    # read) re-baselines the files; append then chains normally
    with cat.transaction() as t:
        t.overwrite(evolved, "t")
    extra = spark.createDataFrame([(9, "new")], "k long, label string")
    with cat.transaction() as t:
        t.append(extra.select(F.col("k"), F.col("label")), "t")
    assert sorted(r["k"] for r in cat.read(spark, "t").collect()) == [0, 1, 2, 9]


def test_exactly_once_sink_into_partitioned_table(spark, cat, tmp_path):
    """Composability: the exactly-once sink appends into a PARTITIONED
    catalog table — each micro-batch's files land in the right
    col=value subdirs beside the hard-linked base, and pruning still
    works on the final version."""
    from pyspark.sql import functions as F

    base = spark.range(4).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("int").alias("p")
    )
    with cat.transaction() as t:
        t.overwrite(base, "sink", partition_by=("p",))
    sink = xo.exactly_once_batch_sink(cat, "sink", "app")
    sink(spark.createDataFrame([(10, 0), (11, 1)], "k long, p int"), 0)
    sink(spark.createDataFrame([(12, 0)], "k long, p int"), 1)
    sink(spark.createDataFrame([(10, 0)], "k long, p int"), 0)  # replay
    got = cat.read(spark, "sink")
    assert sorted(r["k"] for r in got.collect()) == [0, 1, 2, 3, 10, 11, 12]
    assert sorted(
        r["k"] for r in got.filter("p = 0").collect()
    ) == [0, 2, 10, 12]


def test_ledger_growth_guard_falls_back_and_warns(
    spark, cat, monkeypatch
):
    """A ledger past LEDGER_GUARD_ROWS (a caller that never runs the
    retention fold) must not be materialized on the driver: the sink
    warns that the fold is overdue and commits through the distributed
    replay test + a 1-row append — content-identical to the driver-
    side path, replay protection intact (r20; VERDICT r19 #6)."""
    import warnings as w

    monkeypatch.setattr(xo, "LEDGER_GUARD_ROWS", 2)
    sink = xo.exactly_once_batch_sink(cat, "t", "app")
    for b in range(3):  # rows 0..2: the third commit crosses the guard
        sink(spark.createDataFrame([(b,)], "k long"), b)
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        sink(spark.createDataFrame([(3,)], "k long"), 3)
    assert any("retention fold" in str(c.message) for c in caught)
    assert _rows(cat, spark, "t") == [0, 1, 2, 3]
    ledger = sorted(
        (r["app_id"], r["batch_id"])
        for r in cat.read(spark, xo.ledger_table("t")).collect()
    )
    assert ledger == [("app", 0), ("app", 1), ("app", 2), ("app", 3)]
    # replay protection holds on the guarded path too
    head = cat.head()
    sink(spark.createDataFrame([(99,)], "k long"), 2)
    assert cat.head() == head
    assert xo.latest_batch_id(cat, spark, "t", "app") == 3
    assert xo.committed_batch_ids(cat, spark, "t", "app") == {0, 1, 2, 3}
    # the retention fold repairs the debt through the distributed path
    from glue_jobs_for_data_pipeline_spark.operators import retention

    assert retention.fold_ledger(cat, spark, "t") is not None
    ledger = [
        (r["app_id"], r["batch_id"])
        for r in cat.read(spark, xo.ledger_table("t")).collect()
    ]
    assert ledger == [("app", 3)]


def test_ledger_guard_bounds_the_scan_when_footers_cannot_answer(
    spark, cat, monkeypatch
):
    """With committed_rows and committed_values both None the sink reads
    the ledger through Spark. That read is bounded by the guard as
    well: past it the sink warns and takes the distributed path instead
    of collecting and rewriting the whole ledger on the driver."""
    import warnings as w

    monkeypatch.setattr(xo, "LEDGER_GUARD_ROWS", 2)
    monkeypatch.setattr(
        txn.CatalogTransaction, "committed_rows", lambda self, name: None
    )
    monkeypatch.setattr(
        txn.CatalogTransaction,
        "committed_values",
        lambda self, name, max_rows=None: None,
    )
    rewrites = []
    overwrite_small = txn.CatalogTransaction.overwrite_small

    def spy(self, spark, rows, schema_ddl, name):
        rewrites.append(len(rows))
        return overwrite_small(self, spark, rows, schema_ddl, name)

    monkeypatch.setattr(txn.CatalogTransaction, "overwrite_small", spy)
    sink = xo.exactly_once_batch_sink(cat, "t", "app")
    for b in range(3):  # rows 0..2: under the guard, driver-rewritten
        sink(spark.createDataFrame([(b,)], "k long"), b)
    assert rewrites == [1, 2, 3]
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        sink(spark.createDataFrame([(3,)], "k long"), 3)
    assert any("retention fold" in str(c.message) for c in caught)
    assert rewrites == [1, 2, 3]  # no whole-ledger rewrite past the guard
    assert _rows(cat, spark, "t") == [0, 1, 2, 3]
    ledger = sorted(
        (r["app_id"], r["batch_id"])
        for r in cat.read(spark, xo.ledger_table("t")).collect()
    )
    assert ledger == [("app", 0), ("app", 1), ("app", 2), ("app", 3)]
    head = cat.head()
    sink(spark.createDataFrame([(99,)], "k long"), 3)  # replay: no-op
    assert cat.head() == head


def test_ledger_writes_are_driver_side_without_a_spark_job(spark, cat):
    """The happy-path ledger commit stages a DRIVER-WRITTEN parquet
    file (stage_small_version), not a Spark write: one part file, no
    _SUCCESS marker, footer counts and Spark reads agree (r20)."""
    sink = xo.exactly_once_batch_sink(cat, "t", "app")
    sink(spark.createDataFrame([(1,)], "k long"), 0)
    sink(spark.createDataFrame([(2,)], "k long"), 1)
    lv = cat.manifest()[xo.ledger_table("t")]
    vdir = txn._version_dir(cat.table_dir(xo.ledger_table("t")), lv)
    names = sorted(os.listdir(vdir))
    assert [n for n in names if n.endswith(".parquet")] and (
        "_SUCCESS" not in names
    )
    assert txn.version_rows(cat.table_dir(xo.ledger_table("t")), lv) == 2
    got = sorted(
        (r["app_id"], r["batch_id"])
        for r in cat.read(spark, xo.ledger_table("t")).collect()
    )
    assert got == [("app", 0), ("app", 1)]
    assert cat.read(
        spark, xo.ledger_table("t")
    ).schema.simpleString() == "struct<app_id:string,batch_id:bigint>"
