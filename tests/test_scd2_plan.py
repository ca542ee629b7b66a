"""SCD-2 upsert plan shape: the single-partition funnel (below the size
gate) and the distributed plan (above it) must return what the
straightforward formulation returns (distinct staging, a distinct key
set left-joined with a marker column, a broadcast max key), on the edge
cases where they could drift apart, in both modes and on every
surrogate-key path; the funnel's plan, the job counts of a delta write
on both sides of the gate and of an initial load, and the funnel's one
output file are pinned; and mistyped modes fail loudly.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from glue_jobs_for_data_pipeline_spark.operators.scd2 import scd2_upsert
from glue_jobs_for_data_pipeline_spark.plans import tpch_fixtures as fx
from glue_jobs_for_data_pipeline_spark.sources import readers
from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog

COLS = ["CustomerID", "Name"]
OUT = ["CustomerKey", "CustomerID", "Name", "StartDate", "EndDate"]
RUN = dt.date(2024, 6, 1)
SENTINEL = dt.date(9999, 12, 31)
DIM_DDL = (
    "CustomerKey long, CustomerID int, Name string, StartDate date, EndDate date"
)
SRC_DDL = "CustomerID int, Name string"

# a committed dim: one closed version, a current row per key, a NULL
# attribute and a NULL business key among the current rows
DIM_ROWS = [
    (1, 1, "ann", dt.date(2023, 6, 1), dt.date(2023, 12, 31)),
    (2, 1, "ann2", dt.date(2024, 1, 1), SENTINEL),
    (3, 2, "bob", dt.date(2024, 1, 1), SENTINEL),
    (4, 3, None, dt.date(2024, 1, 1), SENTINEL),
    (5, None, "nul", dt.date(2024, 1, 1), SENTINEL),
    (6, 4, "dee", dt.date(2024, 1, 1), SENTINEL),
]

# batch name -> (rows, whether surrogate keys are fully determined: two
# attribute tuples for one key rank in either order, so only the set of
# keys per business key is fixed)
BATCHES = {
    "duplicate_rows": (
        [(2, "bob"), (2, "bob"), (4, "dee2"), (4, "dee2"), (7, "gus"), (7, "gus")],
        True,
    ),
    "two_tuples_one_key": (
        [(2, "bob2"), (2, "bob3"), (8, "hal"), (8, "hank"), (1, "ann2")],
        False,
    ),
    "null_business_key": ([(None, "nul"), (9, "ike"), (2, "bob")], True),
    "null_attribute": ([(3, None), (1, "ann2"), (4, "dee")], True),
    "empty": ([], True),
    "mixed": ([(1, "ann3"), (2, "bob"), (10, "jo"), (5, "eve")], True),
}


def _before(dim, source, mode, key_mode, broadcast_keys=True):
    """The upsert as a distinct staging, a left-joined key set and a
    broadcast max key."""
    run = F.lit(str(RUN)).cast("date")
    sentinel = F.lit(str(SENTINEL)).cast("date")
    staged = source.select(*COLS).distinct().withColumn("LoadDate", run)
    if mode == "delta" and dim is not None:
        current = dim.filter(F.col("EndDate") == sentinel).select(*COLS)
        staged = staged.join(current, on=COLS, how="left_anti")
    if key_mode == "hash":
        new = staged.withColumn(
            "CustomerKey", F.xxhash64(F.col("CustomerID"), F.col("LoadDate"))
        )
    else:
        new = staged.withColumn(
            "_rn", F.row_number().over(Window.orderBy("CustomerID")).cast("long")
        )
        base = F.lit(0)
        if dim is not None:
            max_key = dim.agg(
                F.coalesce(F.max("CustomerKey"), F.lit(0)).alias("_max_key")
            )
            new = new.crossJoin(F.broadcast(max_key))
            base = F.col("_max_key")
        new = new.withColumn("CustomerKey", (base + F.col("_rn")).cast("long"))
    new = (
        new.withColumn("StartDate", F.col("LoadDate"))
        .withColumn("EndDate", sentinel)
        .select(*OUT)
    )
    if dim is None:
        return new
    keys = staged.select("CustomerID").distinct().withColumn("_in", F.lit(True))
    if broadcast_keys:
        keys = F.broadcast(keys)
    expired = (
        dim.join(keys, on="CustomerID", how="left")
        .withColumn(
            "EndDate",
            F.when(
                (F.col("EndDate") == sentinel) & F.col("_in").isNotNull(),
                F.date_sub(run, 1),
            ).otherwise(F.col("EndDate")),
        )
        .select(*OUT)
    )
    return expired.unionByName(new)


def _sort_key(row):
    return tuple((v is None, v) for v in row)


def _assert_same(got, want, exact: bool):
    got = [tuple(r[c] for c in OUT) for r in got.collect()]
    want = [tuple(r[c] for c in OUT) for r in want.collect()]
    if exact:
        assert sorted(got, key=_sort_key) == sorted(want, key=_sort_key)
        return
    # which of a key's tuples takes which of its keys is a tie
    assert sorted((r[1:] for r in got), key=_sort_key) == sorted(
        (r[1:] for r in want), key=_sort_key
    )
    assert sorted((r[1], r[0]) for r in got if r[1] is not None) == sorted(
        (r[1], r[0]) for r in want if r[1] is not None
    )


@pytest.fixture(scope="module")
def frames(spark, tmp_path_factory):
    """The dim and every batch as parquet-backed frames. A frame built
    from Python rows has no size statistics, so the surrogate-key gate
    would always send it to the rank kernel."""
    root = tmp_path_factory.mktemp("scd2_plan")

    def parquet(name, rows, ddl):
        path = str(root / name)
        spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(path)
        return readers.read_parquet(spark, path)

    out = {name: parquet(name, rows, SRC_DDL) for name, (rows, _) in BATCHES.items()}
    out["dim"] = parquet("dim", DIM_ROWS, DIM_DDL)
    return out


# surrogate-key paths: below spark.graft.sk.kernelMinBytes, rownum keys
# from single-partition windows (the funnel onto a committed dim, one
# ranking window on an initial load); above it, the distributed plan
# with the rownum rank kernel; and hash
KEY_PATHS = {
    "window": ("rownum", str(1 << 40)),
    "kernel": ("rownum", "0"),
    "hash": ("hash", str(1 << 40)),
}
CASES = [(batch, path) for batch in sorted(BATCHES) for path in KEY_PATHS]


@pytest.fixture
def key_mode(spark, path):
    """The key_mode of the surrogate-key path ``path``, with the gate set
    to select it."""
    mode, gate = KEY_PATHS[path]
    spark.conf.set("spark.graft.sk.kernelMinBytes", gate)
    yield mode
    spark.conf.unset("spark.graft.sk.kernelMinBytes")


def _upsert(count_jobs, path, *args, **kwargs):
    """scd2_upsert, checking that no job runs while the plan is built
    unless the rank kernel was chosen (it samples its input)."""
    out = []
    jobs = count_jobs(lambda: out.append(scd2_upsert(*args, **kwargs)))
    if path != "kernel":
        assert jobs == 0
    return out[0]


@pytest.mark.parametrize("mode", ["reference", "delta"])
@pytest.mark.parametrize("batch,path", CASES)
def test_upsert_matches_straightforward_plan(
    frames, count_jobs, batch, path, mode, key_mode
):
    dim, src = frames["dim"], frames[batch]
    got = _upsert(
        count_jobs, path, dim, src, "CustomerID", COLS, "CustomerKey",
        run_date=RUN, mode=mode, key_mode=key_mode,
    )
    _assert_same(got, _before(dim, src, mode, key_mode), BATCHES[batch][1])


@pytest.mark.parametrize("batch,path", CASES)
def test_initial_load_matches_straightforward_plan(
    frames, count_jobs, batch, path, key_mode
):
    src = frames[batch]
    got = _upsert(
        count_jobs, path, None, src, "CustomerID", COLS, "CustomerKey",
        run_date=RUN, key_mode=key_mode,
    )
    _assert_same(got, _before(None, src, "reference", key_mode), BATCHES[batch][1])


@pytest.mark.parametrize("mode", ["reference", "delta"])
@pytest.mark.parametrize("path", ["window", "kernel"])
def test_upsert_without_broadcast_keys_matches(
    frames, count_jobs, mode, path, key_mode
):
    dim, src = frames["dim"], frames["mixed"]
    got = _upsert(
        count_jobs, path, dim, src, "CustomerID", COLS, "CustomerKey",
        run_date=RUN, mode=mode, broadcast_keys=False,
    )
    _assert_same(got, _before(dim, src, mode, key_mode, False), True)


def _operators(df, name: str) -> int:
    """How many ``name`` operators the physical plan holds."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(rf"^[\s:+-]*{name}\b", plan, re.M))


@pytest.mark.parametrize("mode", ["reference", "delta"])
@pytest.mark.parametrize("path", ["window"])
def test_funnel_plan_is_one_exchange_and_two_windows(
    frames, count_jobs, mode, path, key_mode
):
    """Below the gate an upsert onto a committed dim exchanges once, into
    a single partition, and both window operators run inside it."""
    got = _upsert(
        count_jobs, path, frames["dim"], frames["mixed"], "CustomerID", COLS,
        "CustomerKey", run_date=RUN, mode=mode,
    )
    assert _operators(got, "Exchange") == 1
    assert _operators(got, "Exchange SinglePartition") == 1
    assert _operators(got, "Window") == 2


def test_null_attribute_reversions_every_delta_run(frames):
    """Change detection is a null-unsafe anti-join: a current row with a
    NULL attribute never matches its own source row, so delta mode
    expires and re-versions it on every run."""
    out = scd2_upsert(
        frames["dim"], frames["null_attribute"], "CustomerID", COLS,
        "CustomerKey", run_date=RUN, mode="delta",
    ).filter(F.col("CustomerID") == 3)
    got = sorted((r["CustomerKey"], r["EndDate"]) for r in out.collect())
    assert got == [(4, RUN - dt.timedelta(days=1)), (7, SENTINEL)]


# -- job counts -----------------------------------------------------------


def _m1b_batches(spark, sf_dir):
    """The m1b fixture: an initial load of two thirds of the customers,
    then a batch of the even keys with every fourth name edited."""
    src = fx.ref_customers(spark, sf_dir)
    init = src.filter(F.col("CustomerID") % 3 != 0)
    batch = src.filter(F.col("CustomerID") % 2 == 0).withColumn(
        "Name",
        F.when(
            F.col("CustomerID") % 4 == 0, F.concat(F.col("Name"), F.lit(" v2"))
        ).otherwise(F.col("Name")),
    )
    return init, batch


def _scd2_writes(spark, sf_dir, cat):
    """The m1b initial load and delta write, each as one transaction."""
    init, batch = _m1b_batches(spark, sf_dir)
    cols = list(fx.CUSTOMER_COLS)

    def load():
        with cat.transaction() as t:
            t.overwrite(
                scd2_upsert(
                    None, init, "CustomerID", cols, "CustomerKey",
                    run_date=fx.INITIAL_LOAD_DATE,
                ),
                "dim_customers",
            )

    def delta():
        with cat.transaction() as t:
            cur = t.read_committed(spark, "dim_customers")
            t.overwrite(
                scd2_upsert(
                    cur, batch, "CustomerID", cols, "CustomerKey",
                    run_date=fx.SECOND_BATCH_DATE, mode="delta",
                ),
                "dim_customers",
            )

    return load, delta


def _check_m1b_dim(spark, sf_dir, cat):
    init, batch = _m1b_batches(spark, sf_dir)
    cols = list(fx.CUSTOMER_COLS)
    out = cat.read(spark, "dim_customers")
    changed = batch.join(init, on=cols, how="left_anti").count()
    assert out.count() == init.count() + changed
    assert out.select("CustomerKey").distinct().count() == out.count()


def test_scd2_write_job_counts(spark, sf_dir, tmp_path, count_jobs):
    """Below the gate an initial load writes in two jobs (one
    single-partition exchange for distinct and ranking, the write), and
    so does a delta write onto a committed dim (the funnel's one
    exchange, the write), which stages one data file."""
    cat = Catalog(str(tmp_path / "wh"))
    load, delta = _scd2_writes(spark, sf_dir, cat)
    assert count_jobs(load) <= 2
    assert count_jobs(delta) == 2
    version = os.path.join(
        cat.table_dir("dim_customers"), f"v={cat.manifest()['dim_customers']}"
    )
    assert len(glob.glob(os.path.join(version, "**", "*.parquet"), recursive=True)) == 1
    _check_m1b_dim(spark, sf_dir, cat)


@pytest.mark.parametrize("path", ["kernel"])
def test_scd2_delta_write_above_gate_job_count(
    spark, sf_dir, tmp_path, count_jobs, path, key_mode
):
    """Above the gate a delta write keeps the distributed plan. Its rank
    kernel runs a sample collect and a count collect while the plan is
    built, so the write takes eleven jobs, as it did before the
    funnel."""
    cat = Catalog(str(tmp_path / "wh"))
    load, delta = _scd2_writes(spark, sf_dir, cat)
    load()
    assert count_jobs(delta) <= 11
    _check_m1b_dim(spark, sf_dir, cat)


# -- misuse fails loudly ---------------------------------------------------


@pytest.mark.parametrize(
    "kwargs",
    [{"mode": "Delta"}, {"mode": "naive"}, {"key_mode": "Hash"}, {"key_mode": "identity"}],
)
def test_mistyped_mode_raises(frames, kwargs):
    dim, src = frames["dim"], frames["mixed"]
    with pytest.raises(ValueError, match="mode"):
        scd2_upsert(
            dim, src, "CustomerID", COLS, "CustomerKey", run_date=RUN, **kwargs
        )
    with pytest.raises(ValueError, match="mode"):
        scd2_upsert(
            None, src, "CustomerID", COLS, "CustomerKey", run_date=RUN, **kwargs
        )
