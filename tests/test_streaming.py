"""Streaming surface: stream==batch equivalence and the stateful sessionizer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from glue_jobs_for_data_pipeline_spark.sources.readers import load_events
from glue_jobs_for_data_pipeline_spark.streaming.events import (
    drain_stream,
    read_events_stream,
    run_stream_to_batch,
    sessionize_stateful,
)


def test_batch_and_stream_readers_agree_on_ts(spark, sf_dir):
    """The batch and stream event readers must produce IDENTICAL ts
    values on the driver fixture. A fixture-layout change (r05:
    nanos-int64 -> timestamp[us]) once made the stream reader misread µs
    as ns, silently collapsing two years of events into minutes — this
    pins the two readers together so that failure mode is loud."""
    streamed = drain_stream(
        read_events_stream(spark, sf_dir).select("event_id", "ts"),
        "t_reader_eq",
        "append",
    )
    batch = load_events(spark, sf_dir).select("event_id", "ts")
    assert streamed.schema["ts"].dataType == batch.schema["ts"].dataType
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_stream_equals_batch(spark, sf_dir):
    streamed = run_stream_to_batch(spark, sf_dir, query_name="t_agg")
    batch = (
        load_events(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    s = sorted(map(tuple, streamed.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert s == b


def test_sessionize_timeout_flushes_trailing_session(spark, tmp_path):
    """A user whose activity ends long before the stream's max event time
    must have their final session flushed by the event-time timeout (the
    watermark passes last_event + gap), not silently dropped."""
    import pandas as pd

    base_ns = 1_700_000_000_000_000_000  # fixed epoch, nanos
    h = 3_600 * 1_000_000_000
    rows = [
        # user 1: two events 5 min apart, then silence
        (1, base_ns, 1, "click", 1.0, "{}"),
        (2, base_ns + 300 * 1_000_000_000, 1, "click", 1.0, "{}"),
        # user 2: a much later event that drives the watermark to +10h
        (3, base_ns + 10 * h, 2, "click", 1.0, "{}"),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    d = tmp_path / "mini_events"
    d.mkdir()
    pdf.to_parquet(d / "events.parquet")
    sessions = sessionize_stateful(spark, str(d), gap_minutes=30).collect()
    by_user = {s["user_id"]: s for s in sessions}
    # user 1's only session closed via timeout: both events, 5-min span
    assert 1 in by_user and by_user[1]["n_events"] == 2
    span = by_user[1]["session_end"] - by_user[1]["session_start"]
    assert span.total_seconds() == 300
    # user 2's trailing session stays pending (watermark never passes it)
    assert 2 not in by_user


def test_sessionize_emits_valid_sessions(spark, sf_dir):
    sessions = sessionize_stateful(spark, sf_dir, gap_minutes=30).collect()
    assert len(sessions) > 0
    for s in sessions:
        assert s["session_start"] <= s["session_end"]
        assert s["n_events"] >= 1
    # sessions for one user don't overlap
    by_user = {}
    for s in sessions:
        by_user.setdefault(s["user_id"], []).append(s)
    for user, ss in by_user.items():
        ss.sort(key=lambda s: s["session_start"])
        for a, b in zip(ss, ss[1:]):
            assert a["session_end"] < b["session_start"], f"user {user} overlap"


def test_stream_dedup_collapses_redelivery(spark, sf_dir):
    """A doubled (at-least-once) stream must dedup back to exactly the
    batch-distinct set of event ids."""
    from glue_jobs_for_data_pipeline_spark.streaming.events import (
        dedup_stream,
        read_events_stream,
    )

    doubled = read_events_stream(spark, sf_dir).unionByName(
        read_events_stream(spark, sf_dir)
    )
    q = (
        dedup_stream(doubled)
        .select("event_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_dedup")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(r["event_id"] for r in spark.table("t_dedup").collect())
    expect = sorted(
        r["event_id"]
        for r in load_events(spark, sf_dir).select("event_id").distinct().collect()
    )
    # exact id multiset, not just the count: each id survives EXACTLY
    # once and no id is invented or lost
    assert got == expect


def test_stream_static_join_matches_batch(spark, sf_dir):
    """Stream-static enrichment must produce the same per-segment counts
    as the equivalent batch join."""
    from glue_jobs_for_data_pipeline_spark.plans.catalog_ext import (
        x_stream_static_join,
    )
    from glue_jobs_for_data_pipeline_spark.sources.readers import load_table

    streamed = {
        r["segment"]: r["n_events"]
        for r in x_stream_static_join(spark, sf_dir).collect()
    }
    cust = load_table(spark, sf_dir, "customer").selectExpr(
        "c_custkey AS user_id", "c_mktsegment AS segment"
    )
    batch = {
        r["segment"]: r["n_events"]
        for r in load_events(spark, sf_dir)
        .join(cust, "user_id", "left")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert streamed == batch


def test_scd2_stream_apply_two_batches(spark, tmp_path):
    """Streaming SCD-2: batch 1 initial-loads the dim; batch 2 (one
    changed row, one new row) expires and re-versions only the changed
    key (delta mode) and appends the new one — matching the batch
    kernel's semantics, with one catalog commit per batch."""
    import datetime as dt

    from glue_jobs_for_data_pipeline_spark.schemas import (
        CURRENT_ROW_SENTINEL,
    )
    from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog
    from glue_jobs_for_data_pipeline_spark.streaming.events import (
        scd2_stream_apply,
    )

    src = str(tmp_path / "src")
    dim_dir = str(tmp_path / "dim_customers")
    ckpt = str(tmp_path / "ckpt")
    schema = "CustomerID long, Name string, City string"
    sentinel = dt.date.fromisoformat(CURRENT_ROW_SENTINEL)

    def stream():
        return spark.readStream.schema(schema).format("parquet").load(src)

    # batch 1: initial load
    spark.createDataFrame(
        [(1, "ann", "oslo"), (2, "bob", "rome"), (3, "cat", "lima")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    scd2_stream_apply(
        stream(), dim_dir, "CustomerID", ("CustomerID", "Name", "City"),
        "CustomerKey", ckpt, run_date=dt.date(2024, 1, 1),
    )
    cat = Catalog(dim_dir)
    m1 = cat.head()
    d1 = cat.read(spark, "dim").collect()
    assert len(d1) == 3 and all(r["EndDate"] == sentinel for r in d1)

    # batch 2: bob moves, dan arrives (ann/cat untouched)
    spark.createDataFrame(
        [(2, "bob", "kyiv"), (4, "dan", "baku")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    scd2_stream_apply(
        stream(), dim_dir, "CustomerID", ("CustomerID", "Name", "City"),
        "CustomerKey", ckpt, run_date=dt.date(2024, 2, 1),
    )
    assert cat.head() == m1 + 1
    d2 = cat.read(spark, "dim").collect()
    by_key = {}
    for r in d2:
        by_key.setdefault(r["CustomerID"], []).append(r)
    # bob: expired old row + new current row with the new city
    bob = sorted(by_key[2], key=lambda r: r["EndDate"])
    assert len(bob) == 2
    assert bob[0]["EndDate"] == dt.date(2024, 1, 31)  # expired day before
    assert bob[1]["EndDate"] == sentinel and bob[1]["City"] == "kyiv"
    # dan: single current row; ann/cat: untouched single rows
    assert len(by_key[4]) == 1 and by_key[4][0]["EndDate"] == sentinel
    assert len(by_key[1]) == 1 and len(by_key[3]) == 1

    # idempotent re-run: checkpoint drained, no new commit
    scd2_stream_apply(
        stream(), dim_dir, "CustomerID", ("CustomerID", "Name", "City"),
        "CustomerKey", ckpt, run_date=dt.date(2024, 3, 1),
    )
    assert cat.head() == m1 + 1


def test_scd2_stream_multi_version_batch_collapses(spark, tmp_path):
    """One availableNow batch draining a backlog with TWO versions of the
    same key must commit only one current row per key (order_col picks
    the latest), never two contradictory current rows."""
    import datetime as dt

    from glue_jobs_for_data_pipeline_spark.schemas import CURRENT_ROW_SENTINEL
    from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog
    from glue_jobs_for_data_pipeline_spark.streaming.events import (
        scd2_stream_apply,
    )

    src = str(tmp_path / "src")
    dim_dir = str(tmp_path / "dim")
    schema = "CustomerID long, City string, seq long"
    sentinel = dt.date.fromisoformat(CURRENT_ROW_SENTINEL)

    # backlog: two files, BOTH pending when the stream first starts
    spark.createDataFrame([(2, "rome", 1)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame([(2, "kyiv", 2)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    scd2_stream_apply(
        spark.readStream.schema(schema).format("parquet").load(src),
        dim_dir, "CustomerID", ("CustomerID", "City"), "CustomerKey",
        str(tmp_path / "ckpt"), run_date=dt.date(2024, 1, 1),
        order_col="seq",
    )
    rows = Catalog(dim_dir).read(spark, "dim").collect()
    current = [r for r in rows if r["EndDate"] == sentinel]
    assert len(current) == 1 and current[0]["City"] == "kyiv"


def test_scd2_stream_replay_is_noop(spark, tmp_path):
    """A replayed batch (crash between the catalog commit and the
    checkpoint commit) must not double-apply: the committed _BATCH id
    makes the replay a no-op."""
    import datetime as dt

    from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog
    from glue_jobs_for_data_pipeline_spark.streaming.events import (
        scd2_stream_apply,
    )

    src = str(tmp_path / "src")
    dim_dir = str(tmp_path / "dim")
    schema = "CustomerID long, City string"
    spark.createDataFrame([(1, "oslo")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    # first run commits batch 0
    scd2_stream_apply(
        spark.readStream.schema(schema).format("parquet").load(src),
        dim_dir, "CustomerID", ("CustomerID", "City"), "CustomerKey",
        str(tmp_path / "ckpt1"), run_date=dt.date(2024, 1, 1),
        mode="reference",
    )
    cat = Catalog(dim_dir)
    m1 = cat.head()
    rows1 = sorted(map(tuple, cat.read(spark, "dim").collect()))

    # simulate the crash window: a FRESH checkpoint replays batch 0
    # against the already-committed dim — reference mode would expire
    # and duplicate the rows if the replay were applied
    scd2_stream_apply(
        spark.readStream.schema(schema).format("parquet").load(src),
        dim_dir, "CustomerID", ("CustomerID", "City"), "CustomerKey",
        str(tmp_path / "ckpt2"), run_date=dt.date(2024, 2, 1),
        mode="reference",
    )
    assert cat.head() == m1
    rows2 = sorted(map(tuple, cat.read(spark, "dim").collect()))
    assert rows2 == rows1


def test_stream_stream_join_equals_batch(spark, sf_dir):
    from glue_jobs_for_data_pipeline_spark.streaming.events import (
        drain_stream,
        read_events_stream,
        stream_stream_interval_join,
    )

    ev = read_events_stream(spark, sf_dir)
    streamed = drain_stream(
        stream_stream_interval_join(ev, ev, max_lag_minutes=30),
        "t_ss_join",
        "append",
    )
    b = load_events(spark, sf_dir)
    l = b.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("left_id"), F.col("ts").alias("left_ts")
    )
    r = b.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("r_user_id"),
        F.col("event_id").alias("right_id"),
        F.col("ts").alias("right_ts"),
    )
    batch = l.join(
        r,
        (F.col("user_id") == F.col("r_user_id"))
        & (F.col("right_ts") >= F.col("left_ts"))
        & (F.col("right_ts") <= F.col("left_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select("user_id", "left_id", "right_id", "left_ts", "right_ts")
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )
    assert streamed.count() > 0  # fixture produces matches


def test_load_events_raises_under_foreign_session_tz(spark, sf_dir):
    """A non-UTC session must not silently shift event instants OR have
    its timezone silently rewritten by a read (ADVICE r06: mutating
    spark.sql.session.timeZone as a side effect changes every unrelated
    timestamp query). load_events raises loudly instead; a UTC session
    works unchanged."""
    import pytest as _pytest

    baseline = {
        (r["event_id"], r["ts"])
        for r in load_events(spark, sf_dir).select("event_id", "ts").collect()
    }
    assert baseline
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        if isinstance(
            spark.read.parquet(f"{sf_dir}/events.parquet").schema["ts"].dataType,
            __import__("pyspark.sql.types", fromlist=["TimestampNTZType"])
            .TimestampNTZType,
        ):
            with _pytest.raises(ValueError, match="not UTC"):
                load_events(spark, sf_dir)
        # the read must NOT have rewritten the session timezone
        assert (
            spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_load_events_normalizes_all_ts_layouts(spark, tmp_path):
    """Every physical ts layout the driver has shipped (TIMESTAMP(NANOS),
    timestamp[us], plus raw int64-nanos) must normalize to the SAME
    TimestampType values — the r05 postmortem as a layout matrix."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base_us = 1_700_000_000_000_000  # epoch micros
    rows_us = [base_us + 123_456, base_us + 3_600_000_001]
    cols = {
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([7, 7], pa.int64()),
        "event_type": pa.array(["a", "b"]),
        "value": pa.array([1.0, 2.0]),
        "props": pa.array(["{}", "{}"]),
    }

    def write(layout, arr):
        d = tmp_path / layout
        d.mkdir()
        pq.write_table(
            pa.table({**cols, "ts": arr}), str(d / "events.parquet")
        )
        return str(d)

    dirs = {
        "us": write("us", pa.array(rows_us, pa.timestamp("us"))),
        "ns": write("ns", pa.array([v * 1000 for v in rows_us], pa.timestamp("ns"))),
        "int64": write("int64", pa.array([v * 1000 for v in rows_us], pa.int64())),
    }
    got = {
        layout: [
            (r["event_id"], r["ts"])
            for r in load_events(spark, d).select("event_id", "ts")
            .orderBy("event_id").collect()
        ]
        for layout, d in dirs.items()
    }
    assert got["us"] == got["ns"] == got["int64"], got
    # and the values are the literal micros we wrote, not shifted
    import datetime as dt

    expect = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=rows_us[0])
    assert got["us"][0][1].replace(tzinfo=None) == expect


def test_stream_stream_left_join_evicts_then_holds(spark, tmp_path):
    """Left-outer interval join: a matchless click whose last possible
    match time the watermark passed emits null-extended; a matchless
    click at the stream's head of time stays pending; matches emit."""
    import pandas as pd

    from glue_jobs_for_data_pipeline_spark.streaming.events import (
        drain_stream,
        read_events_stream,
        stream_stream_interval_join,
    )

    base_ns = 1_700_000_000_000_000_000
    m = 60 * 1_000_000_000  # one minute in ns
    rows = [
        # user 1: click with NO error in [ts, ts+30m] -> matchless, old
        (1, base_ns, 1, "click", 1.0, "{}"),
        # user 2: click + error 6 min later -> matched pair
        (2, base_ns + 4 * m, 2, "click", 1.0, "{}"),
        (3, base_ns + 10 * m, 2, "error", 1.0, "{}"),
        # late click AND late error drive BOTH sides' watermarks to
        # +600 min - 60 min; the click itself is matchless but pending
        (4, base_ns + 600 * m, 3, "click", 1.0, "{}"),
        (5, base_ns + 600 * m, 4, "error", 1.0, "{}"),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    d = tmp_path / "mini_events2"
    d.mkdir()
    pdf.to_parquet(d / "events.parquet")
    ev = read_events_stream(spark, str(d))
    out = drain_stream(
        stream_stream_interval_join(ev, ev, max_lag_minutes=30, how="leftOuter"),
        "t_ss_left", "append",
    ).collect()
    got = {(r["left_id"], r["right_id"]) for r in out}
    # click 1 evicted matchless -> null row; pair (2,3) matched;
    # click 4 matchless but the watermark never passes it -> pending
    assert got == {(1, None), (2, 3)}


def test_stream_stream_full_join_evicts_both_sides(spark, tmp_path):
    """Full-outer interval join: matchless rows on EITHER side emit
    null-extended once their state evicts; the right side's eviction
    horizon is right_ts itself (no +lag), the left side's is
    left_ts + lag; rows at the stream's head of time stay pending."""
    import pandas as pd

    from glue_jobs_for_data_pipeline_spark.streaming.events import (
        drain_stream,
        read_events_stream,
        stream_stream_interval_join,
    )

    base_ns = 1_700_000_000_000_000_000
    m = 60 * 1_000_000_000
    rows = [
        # user 1: matchless old click -> left-evicted null row
        (1, base_ns, 1, "click", 1.0, "{}"),
        # user 5: matchless old error -> right-evicted null row
        (6, base_ns + m, 5, "error", 1.0, "{}"),
        # user 2: matched pair
        (2, base_ns + 4 * m, 2, "click", 1.0, "{}"),
        (3, base_ns + 10 * m, 2, "error", 1.0, "{}"),
        # head-of-time rows on both sides: matchless but pending
        (4, base_ns + 600 * m, 3, "click", 1.0, "{}"),
        (5, base_ns + 600 * m, 4, "error", 1.0, "{}"),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    d = tmp_path / "mini_events3"
    d.mkdir()
    pdf.to_parquet(d / "events.parquet")
    ev = read_events_stream(spark, str(d))
    out = drain_stream(
        stream_stream_interval_join(ev, ev, max_lag_minutes=30, how="fullOuter"),
        "t_ss_full", "append",
    ).collect()
    got = {(r["left_id"], r["right_id"]) for r in out}
    assert got == {(1, None), (None, 6), (2, 3)}
    # user_id survives on BOTH null-extended sides (coalesce)
    users = {(r["left_id"], r["right_id"]): r["user_id"] for r in out}
    assert users[(1, None)] == 1 and users[(None, 6)] == 5


def test_watermark_boundary_late_row_semantics(spark, tmp_path):
    """VERDICT r15 task 7: pin the one semantics edge the
    stream-to-batch equivalence can't — what happens EXACTLY AT the
    watermark. Batches are driven deterministically (drop a file, then
    processAllAvailable) so the watermark is known at each arrival:

      batch 1: events at 01:30 'a' and 03:00 'a'  -> wm = 02:50; the
               no-data batch finalizes window [01:00,02:00) at n=1
      batch 2 (under wm 02:50):
               ts 02:50 'boundary' == wm -> ACCEPTED (its window
               [02:00,03:00) ends after the wm, state still open;
               the drop predicate is strictly ts < wm)
               ts 01:45 'late'     <  wm -> DROPPED: the already-
               finalized window must NOT re-emit or recount
      batch 3: 04:10 'a' -> wm = 04:00; flush emits [02:00) and
               [03:00); the trailing [04:00) window stays pending
    """
    import datetime as dt
    import os

    import pandas as pd

    from glue_jobs_for_data_pipeline_spark.streaming.events import (
        watermarked_event_agg,
    )

    d = tmp_path / "wm_edge"
    d.mkdir()

    def t(h: int, m: int) -> dt.datetime:
        return dt.datetime(2024, 1, 1, h, m)

    def drop(i: int, rows: list) -> None:
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "event_type"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        pdf.to_parquet(os.path.join(str(d), f"f{i}.parquet"))

    drop(0, [(1, t(1, 30), "a"), (2, t(3, 0), "a")])
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, event_type string")
        .format("parquet")
        .load(str(d))
    )
    emitted: list[tuple] = []

    def sink(batch_df, _batch_id):
        emitted.extend(
            (str(r["window_start"]), r["event_type"], r["n_events"])
            for r in batch_df.collect()
        )

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            watermarked_event_agg(stream)
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .queryName("t_wm_boundary")
            .start()
        )
        try:
            q.processAllAvailable()  # batch 1 -> wm 02:50, [01:00) emits
            drop(1, [(3, t(2, 50), "boundary"), (4, t(1, 45), "late")])
            q.processAllAvailable()  # at-wm accepted, below-wm dropped
            drop(2, [(5, t(4, 10), "a")])
            q.processAllAvailable()  # wm 04:00 -> flush open windows
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    assert sorted(emitted) == [
        ("2024-01-01 01:00:00", "a", 1),        # finalized BEFORE the late row
        ("2024-01-01 02:00:00", "boundary", 1),  # ts == wm survives
        ("2024-01-01 03:00:00", "a", 1),
    ]
    # the dropped late row must never re-emit its window, recount it,
    # or appear under its own key; the trailing window stays pending
    assert all(r[1] != "late" for r in emitted)
    assert ("2024-01-01 01:00:00", "a", 2) not in emitted
    assert all(not r[0].startswith("2024-01-01 04:") for r in emitted)
