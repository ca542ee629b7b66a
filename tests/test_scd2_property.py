"""Property-based SCD-2 invariants (SURVEY §5): for ANY sequence of naive
upserts — exactly one current row per ever-seen key, validity intervals
ordered, surrogate keys unique, and version counts equal to the number
of batches mentioning the key (the naive re-versioning semantics,
dynamic_upsert.py:128-139) — on the distributed plan and on the
single-partition funnel."""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from glue_jobs_for_data_pipeline_spark.operators.scd2 import scd2_upsert

SENTINEL = dt.date(9999, 12, 31)
COLS = ["CustomerID", "Name"]

batch_strategy = st.lists(
    st.tuples(st.integers(min_value=1, max_value=6), st.sampled_from("abc")),
    min_size=1,
    max_size=6,
    unique_by=lambda kv: kv[0],  # one row per key per batch
)


PROPERTY = settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
BATCHES = st.lists(batch_strategy, min_size=1, max_size=3)


@PROPERTY
@given(batches=BATCHES)
def test_scd2_invariants_hold_for_any_upsert_sequence(spark, batches):
    """A frame built from Python rows has no size statistics, so every
    upsert here takes the distributed plan."""
    _check_invariants(spark, batches)


@pytest.fixture
def funnel_gate(spark):
    """A size gate no frame exceeds, so upserts onto a dim take the
    funnel."""
    spark.conf.set("spark.graft.sk.kernelMinBytes", str(2**63 - 1))
    yield
    spark.conf.unset("spark.graft.sk.kernelMinBytes")


@PROPERTY
@given(batches=BATCHES)
def test_scd2_invariants_hold_on_the_funnel(spark, funnel_gate, batches):
    _check_invariants(spark, batches)


def _check_invariants(spark, batches) -> None:
    dim = None
    for i, rows in enumerate(batches):
        src = spark.createDataFrame(rows, "CustomerID int, Name string")
        dim = scd2_upsert(
            dim, src, "CustomerID", COLS, "CustomerKey",
            run_date=dt.date(2024, 1, 1) + dt.timedelta(days=31 * i),
        )
        dim = spark.createDataFrame(dim.collect(), dim.schema)  # pin state

    out = dim.collect()
    seen_keys = {k for rows in batches for k, _ in rows}
    by_key: dict[int, list] = {}
    for r in out:
        by_key.setdefault(r["CustomerID"], []).append(r)

    assert set(by_key) == seen_keys
    surrogates = [r["CustomerKey"] for r in out]
    assert len(set(surrogates)) == len(surrogates), "surrogate keys not unique"
    for key, versions in by_key.items():
        current = [r for r in versions if r["EndDate"] == SENTINEL]
        assert len(current) == 1, f"key {key}: {len(current)} current rows"
        # naive mode: one version per batch that mentioned the key
        mentions = sum(1 for rows in batches if any(k == key for k, _ in rows))
        assert len(versions) == mentions
        for r in versions:
            assert r["StartDate"] <= r["EndDate"]
        ordered = sorted(versions, key=lambda r: r["StartDate"])
        for a, b in zip(ordered, ordered[1:]):
            assert a["EndDate"] <= b["StartDate"], f"key {key} overlap"
