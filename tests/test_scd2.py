"""SCD-2 upsert semantics (SURVEY §2.9 M1, §7.4) — the reference's naive
expire-and-reversion behavior plus the delta extension, on the FIXTURES
§A3 edge-case matrix: new key, unchanged key, changed key, absent key.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from glue_jobs_for_data_pipeline_spark.operators.scd2 import scd2_upsert

COLS = ["CustomerID", "Name"]
D0 = dt.date(2024, 1, 1)
D1 = dt.date(2024, 6, 1)
SENTINEL = dt.date(9999, 12, 31)


@pytest.fixture(scope="module")
def initial(spark):
    src = spark.createDataFrame(
        [(1, "ann"), (2, "bob"), (3, "cyd")], "CustomerID int, Name string"
    )
    return scd2_upsert(None, src, "CustomerID", COLS, "CustomerKey", run_date=D0)


def _by_key(rows):
    out = {}
    for r in rows:
        out.setdefault(r["CustomerID"], []).append(r)
    return out


def test_initial_load(initial):
    rows = initial.collect()
    assert len(rows) == 3
    assert all(r["StartDate"] == D0 and r["EndDate"] == SENTINEL for r in rows)
    # surrogate keys contiguous + ordered by business key
    assert [r["CustomerKey"] for r in sorted(rows, key=lambda r: r["CustomerID"])] == [
        1,
        2,
        3,
    ]


def test_naive_upsert_reference_semantics(spark, initial):
    # batch: 2 unchanged, 3 changed, 4 new; 1 absent
    batch = spark.createDataFrame(
        [(2, "bob"), (3, "cyd2"), (4, "dee")], "CustomerID int, Name string"
    )
    out = scd2_upsert(
        initial, batch, "CustomerID", COLS, "CustomerKey", run_date=D1
    ).collect()
    k = _by_key(out)
    # absent key 1: untouched current row (the IN-subquery only expires
    # keys present in the source, dynamic_upsert.py:130)
    assert len(k[1]) == 1 and k[1][0]["EndDate"] == SENTINEL
    # unchanged key 2: naive mode STILL expires + re-versions it
    v2 = sorted(k[2], key=lambda r: r["StartDate"])
    assert len(v2) == 2
    assert v2[0]["EndDate"] == D1 - dt.timedelta(days=1)
    assert v2[1]["StartDate"] == D1 and v2[1]["EndDate"] == SENTINEL
    # changed key 3: expired old, new current version with new value
    v3 = sorted(k[3], key=lambda r: r["StartDate"])
    assert v3[0]["Name"] == "cyd" and v3[0]["EndDate"] == D1 - dt.timedelta(days=1)
    assert v3[1]["Name"] == "cyd2" and v3[1]["EndDate"] == SENTINEL
    # new key 4: one current row
    assert len(k[4]) == 1 and k[4][0]["StartDate"] == D1
    # exactly one current row per key present
    current = [r for r in out if r["EndDate"] == SENTINEL]
    assert sorted(r["CustomerID"] for r in current) == [1, 2, 3, 4]
    # surrogate keys unique and continue past the existing max
    keys = [r["CustomerKey"] for r in out]
    assert len(set(keys)) == len(keys)
    assert {r["CustomerKey"] for r in out if r["StartDate"] == D1} == {4, 5, 6}


def test_delta_mode_skips_unchanged(spark, initial):
    batch = spark.createDataFrame(
        [(2, "bob"), (3, "cyd2")], "CustomerID int, Name string"
    )
    out = scd2_upsert(
        initial, batch, "CustomerID", COLS, "CustomerKey", run_date=D1, mode="delta"
    ).collect()
    k = _by_key(out)
    # unchanged key 2 keeps its single original current row
    assert len(k[2]) == 1 and k[2][0]["EndDate"] == SENTINEL
    # changed key 3 is versioned
    assert len(k[3]) == 2


def test_hash_key_mode(spark, initial):
    batch = spark.createDataFrame(
        [(9, "zed"), (3, "cyd2")], "CustomerID int, Name string"
    )
    out = scd2_upsert(
        initial, batch, "CustomerID", COLS, "CustomerKey", run_date=D1,
        key_mode="hash",
    )
    # every new version is keyed by xxhash64(business key, StartDate)
    new_versions = out.filter(F.col("StartDate") == D1).select(
        "CustomerID",
        (F.col("CustomerKey") == F.xxhash64("CustomerID", "StartDate")).alias("ok"),
    ).collect()
    assert sorted(r["CustomerID"] for r in new_versions) == [3, 9]
    assert all(r["ok"] for r in new_versions)
    new = out.filter(F.col("CustomerID") == 9).collect()[0]
    # deterministic across runs
    again = scd2_upsert(
        initial, batch, "CustomerID", COLS, "CustomerKey", run_date=D1,
        key_mode="hash",
    ).filter(F.col("CustomerID") == 9).collect()[0]
    assert again["CustomerKey"] == new["CustomerKey"]


def test_upsert_sequence_invariants(spark):
    """Property-style: after any sequence of naive upserts, exactly one
    current row per ever-seen key, and validity intervals never overlap."""
    dim = None
    batches = [
        [(1, "a"), (2, "b")],
        [(2, "b"), (3, "c")],
        [(1, "a2"), (3, "c"), (4, "d")],
    ]
    dates = [dt.date(2024, 1, 1), dt.date(2024, 2, 1), dt.date(2024, 3, 1)]
    for rows, d in zip(batches, dates):
        src = spark.createDataFrame(rows, "CustomerID int, Name string")
        dim = scd2_upsert(dim, src, "CustomerID", COLS, "CustomerKey", run_date=d)
        dim = spark.createDataFrame(dim.collect(), dim.schema)  # pin state
    out = dim.collect()
    k = _by_key(out)
    for key, versions in k.items():
        current = [r for r in versions if r["EndDate"] == SENTINEL]
        assert len(current) == 1, f"key {key}"
        ordered = sorted(versions, key=lambda r: r["StartDate"])
        for a, b in zip(ordered, ordered[1:]):
            assert a["EndDate"] < b["StartDate"] or a["EndDate"] <= b["StartDate"]
        for r in versions:
            assert r["StartDate"] <= r["EndDate"]


def test_infer_late_members_flags_and_fills(spark):
    """Keys the fact references before the dim has them get inferred
    placeholder members; unlisted dim columns come out NULL; existing
    members are untouched and flagged false."""
    from pyspark.sql import functions as F

    from glue_jobs_for_data_pipeline_spark.operators.scd2 import (
        infer_late_members,
    )

    dim = spark.createDataFrame(
        [(1, "alice", "AUTO"), (2, "bob", "BIKE")],
        "k long, name string, seg string",
    )
    facts = spark.createDataFrame(
        [(1,), (3,), (3,), (4,)], "k long"
    )
    out = infer_late_members(dim, facts, "k", {"name": "UNKNOWN"})
    rows = {r["k"]: (r["name"], r["seg"], r["is_inferred"]) for r in out.collect()}
    assert rows == {
        1: ("alice", "AUTO", False),
        2: ("bob", "BIKE", False),   # dim-only member survives
        3: ("UNKNOWN", None, True),  # inferred; unlisted col -> NULL
        4: ("UNKNOWN", None, True),
    }
    # idempotent: a second pass infers nothing new
    again = infer_late_members(
        out.drop("is_inferred"), facts, "k", {"name": "UNKNOWN"}
    )
    assert again.filter(F.col("is_inferred")).count() == 0


def test_scd1_overwrite_semantics(spark):
    """Matched keys take batch values but KEEP their surrogate;
    unmatched dim rows pass through; new keys insert with fresh
    contiguous surrogates."""
    from glue_jobs_for_data_pipeline_spark.operators.scd2 import (
        scd1_overwrite,
    )

    dim = spark.createDataFrame(
        [(1, 10, "alice", "AUTO"), (2, 20, "bob", "BIKE")],
        "CustomerKey long, CustomerID long, Name string, Seg string",
    )
    batch = spark.createDataFrame(
        [(10, "alice2", "AUTO"), (30, "carol", "SHIP")],
        "CustomerID long, Name string, Seg string",
    )
    out = scd1_overwrite(
        dim, batch, "CustomerID", ["CustomerID", "Name", "Seg"],
        "CustomerKey",
    )
    rows = {r["CustomerID"]: (r["CustomerKey"], r["Name"], r["Seg"])
            for r in out.collect()}
    assert rows == {
        10: (1, "alice2", "AUTO"),  # overwritten, surrogate kept
        20: (2, "bob", "BIKE"),     # untouched passthrough
        30: (3, "carol", "SHIP"),   # insert, max+1
    }


def test_scd3_prev_carries_forward(spark):
    """First change stamps Prev/ChangeDate; a second application with
    an UNCHANGED tracked value carries both forward; a second CHANGE
    overwrites Prev with the value it displaced (one level of
    history, by contract)."""
    from pyspark.sql import functions as F

    from glue_jobs_for_data_pipeline_spark.operators.scd2 import (
        scd3_update,
    )

    cols = ["CustomerID", "Seg"]
    dim = spark.createDataFrame(
        [(1, 10, "AUTO"), (2, 20, "BIKE")],
        "CustomerKey long, CustomerID long, Seg string",
    )
    b1 = spark.createDataFrame(
        [(10, "SHIP"), (20, "BIKE")], "CustomerID long, Seg string"
    )
    d1 = scd3_update(
        dim, b1, "CustomerID", cols, ["Seg"], "CustomerKey",
        run_date="1995-06-01",
    )
    r1 = {r["CustomerID"]: (r["Seg"], r["PrevSeg"],
                            str(r["SegChangeDate"] or ""))
          for r in d1.collect()}
    assert r1 == {
        10: ("SHIP", "AUTO", "1995-06-01"),  # changed -> prev stamped
        20: ("BIKE", None, ""),              # unchanged -> no prev
    }
    # second run: 10 unchanged (prev carries), 20 changes now
    b2 = spark.createDataFrame(
        [(10, "SHIP"), (20, "RAIL")], "CustomerID long, Seg string"
    )
    d2 = scd3_update(
        d1, b2, "CustomerID", cols, ["Seg"], "CustomerKey",
        run_date="1995-07-01",
    )
    r2 = {r["CustomerID"]: (r["Seg"], r["PrevSeg"],
                            str(r["SegChangeDate"] or ""))
          for r in d2.collect()}
    assert r2 == {
        10: ("SHIP", "AUTO", "1995-06-01"),  # carried forward verbatim
        20: ("RAIL", "BIKE", "1995-07-01"),  # second change stamped
    }


def test_scd1_and_scd3_hash_key_mode(spark):
    """key_mode='hash' must work for the key-grain writers (they stage
    no version date — the hash falls back to the business key alone),
    deterministic across invocations."""
    from glue_jobs_for_data_pipeline_spark.operators.scd2 import (
        scd1_overwrite,
        scd3_update,
    )

    dim = spark.createDataFrame(
        [(1, 10, "alice")], "CustomerKey long, CustomerID long, Name string"
    )
    batch = spark.createDataFrame(
        [(20, "bob")], "CustomerID long, Name string"
    )
    out1 = scd1_overwrite(
        dim, batch, "CustomerID", ["CustomerID", "Name"], "CustomerKey",
        key_mode="hash",
    ).collect()
    out2 = scd1_overwrite(
        dim, batch, "CustomerID", ["CustomerID", "Name"], "CustomerKey",
        key_mode="hash",
    ).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    keys = {r["CustomerID"]: r["CustomerKey"] for r in out1}
    assert keys[10] == 1          # existing surrogate kept
    assert keys[20] not in (None, 1)
    out3 = scd3_update(
        dim, batch, "CustomerID", ["CustomerID", "Name"], ["Name"],
        "CustomerKey", run_date="1995-06-01", key_mode="hash",
    ).collect()
    assert {r["CustomerID"] for r in out3} == {10, 20}


def test_scd1_duplicate_key_batch_collapses_deterministically(spark):
    """Two conflicting updates for one key in a single batch must
    yield ONE output row (greatest attribute tuple wins), preserving
    the one-row-per-key contract."""
    from glue_jobs_for_data_pipeline_spark.operators.scd2 import (
        scd1_overwrite,
    )

    dim = spark.createDataFrame(
        [(1, 10, "alice")], "CustomerKey long, CustomerID long, Name string"
    )
    batch = spark.createDataFrame(
        [(10, "zed"), (10, "alice2"), (30, "carol"), (30, "bo")],
        "CustomerID long, Name string",
    )
    out = scd1_overwrite(
        dim, batch, "CustomerID", ["CustomerID", "Name"], "CustomerKey"
    )
    rows = {r["CustomerID"]: (r["CustomerKey"], r["Name"])
            for r in out.collect()}
    assert out.count() == 2
    assert rows[10] == (1, "zed")      # greatest tuple, surrogate kept
    assert rows[30][1] == "carol"      # greatest tuple for the insert


def test_infer_late_members_preserves_persisted_flag(spark):
    """A dim that already persisted is_inferred keeps it: a
    still-unrepaired placeholder from run 1 must stay flagged in
    run 2, or the repair report silently loses it."""
    from pyspark.sql import functions as F

    from glue_jobs_for_data_pipeline_spark.operators.scd2 import (
        infer_late_members,
    )

    dim = spark.createDataFrame(
        [(1, "alice", "AUTO")], "k long, name string, seg string"
    )
    facts = spark.createDataFrame([(1,), (3,)], "k long")
    run1 = infer_late_members(dim, facts, "k", {"name": "UNKNOWN"})
    assert {r["k"] for r in run1.filter(F.col("is_inferred")).collect()} == {3}
    # run 2 on the PERSISTED dim (flag kept), same still-missing feed
    run2 = infer_late_members(run1, facts, "k", {"name": "UNKNOWN"})
    flagged = {r["k"] for r in run2.filter(F.col("is_inferred")).collect()}
    assert flagged == {3}  # placeholder stays flagged, no clobber to False


def test_surrogate_key_gate_paths_agree(spark, tmp_path, count_jobs):
    """The r11 size gate on assign_surrogate_keys switches PLAN only:
    forcing the kernel path (threshold 0) must yield byte-identical
    keys to the small-dim window path, with and without an existing
    dim's max-key base. The inputs are parquet-backed: a frame built
    from Python rows has no size statistics and would take the kernel
    path under any threshold."""
    from glue_jobs_for_data_pipeline_spark.operators.scd2 import (
        assign_surrogate_keys,
    )
    from glue_jobs_for_data_pipeline_spark.sources.readers import read_parquet

    def parquet(name, rows, ddl):
        spark.createDataFrame(rows, ddl).write.parquet(str(tmp_path / name))
        return read_parquet(spark, str(tmp_path / name))

    staged = parquet(
        "staged",
        [(k, f"name{k}") for k in (7, 3, 11, 1, 9, 5)],
        "bk long, name string",
    )
    dim = parquet("dim", [(1, 40)], "bk long, sk long")

    def keys(threshold: str, base_dim):
        old = spark.conf.get("spark.graft.sk.kernelMinBytes", None)
        spark.conf.set("spark.graft.sk.kernelMinBytes", threshold)
        try:
            out = []
            jobs = count_jobs(
                lambda: out.append(
                    assign_surrogate_keys(staged, base_dim, "bk", "sk")
                )
            )
            # only the kernel runs jobs while the plan is built
            assert (jobs > 0) == (threshold == "0")
            return {(r["bk"], r["sk"]) for r in out[0].collect()}
        finally:
            if old is None:
                spark.conf.unset("spark.graft.sk.kernelMinBytes")
            else:
                spark.conf.set("spark.graft.sk.kernelMinBytes", old)

    window_path = keys(str(1 << 40), None)
    kernel_path = keys("0", None)
    assert window_path == kernel_path
    # contiguous 1..6 over bk order
    assert window_path == {(1, 1), (3, 2), (5, 3), (7, 4), (9, 5), (11, 6)}

    window_base = keys(str(1 << 40), dim)
    kernel_base = keys("0", dim)
    assert window_base == kernel_base
    assert {sk for _, sk in window_base} == set(range(41, 47))
