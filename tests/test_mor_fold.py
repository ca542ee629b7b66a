"""What each merge-on-read compaction commits, per mix of side tables.

Every case seeds the same partitioned base, adds the side tables its
mix names, runs one compaction and checks three things: which tables
the commit rewrote (versions that differ from the parent manifest),
the logical rows afterwards, and ``None`` with an unmoved head when
there was nothing to fold. A compaction that would strand pending
positional deletes must refuse and publish nothing.
"""

from __future__ import annotations

import pytest

from glue_jobs_for_data_pipeline_spark.operators import (
    deletes,
    mor_upsert,
    positional_deletes as pdel,
)
from glue_jobs_for_data_pipeline_spark.sources import txn

KEY = ("k",)
T, DELTA, DV, PDV = "t", "t__delta", "t__dv", "t__pdv"


def _rows(spark, pairs):
    return spark.createDataFrame(
        [(k, v, k % 2) for k, v in pairs], "k long, v string, p long"
    )


def _seed(cat, spark, mix):
    """Base {0..5: b<k>} partitioned by p; ``delta`` upserts 1 and 7,
    ``dv`` deletes keys 2 and 7 by key, ``pdv`` deletes the row k=4 by
    position. ``empty`` leaves all three side tables present but
    folded, so they hold no rows."""
    with cat.transaction() as t:
        t.overwrite(
            _rows(spark, [(k, f"b{k}") for k in range(6)]), T, ("p",)
        )
    if "delta" in mix or "empty" in mix:
        mor_upsert.upsert_into(
            cat, spark, T, _rows(spark, [(1, "u1"), (7, "u7")]), KEY
        )
    if "dv" in mix or "empty" in mix:
        deletes.delete_where(cat, spark, T, "k IN (2, 7)", KEY)
    if "pdv" in mix or "empty" in mix:
        pdel.delete_where_positional(cat, spark, T, "k = 4")
    if "empty" in mix:
        pdel.compact_positional_deletes(cat, spark, T)
        mor_upsert.compact_full(cat, spark, T, KEY)


def _expected(mix):
    rows = {k: f"b{k}" for k in range(6)}
    if "pdv" in mix or "empty" in mix:
        del rows[4]
    if "delta" in mix or "empty" in mix:
        rows.update({1: "u1", 7: "u7"})
    if "dv" in mix or "empty" in mix:
        rows.pop(2)
        rows.pop(7, None)
    return rows


def _pending(cat, spark, name):
    m = cat.manifest()
    return name in m and cat.read(spark, name).count() > 0


def _logical(cat, spark):
    """Every side table applied: positional deletes on the base scan,
    then the upsert delta, then the key deletion vector."""
    rows = {
        r["k"]: r["v"] for r in pdel.read_positional(cat, spark, T).collect()
    }
    if DELTA in cat.manifest():
        rows.update(
            {r["k"]: r["v"] for r in cat.read(spark, DELTA).collect()}
        )
    if DV in cat.manifest():
        for r in cat.read(spark, DV).collect():
            rows.pop(r["k"], None)
    return rows


_FOLDS = {
    "compact_deletes": lambda c, s: deletes.compact_deletes(c, s, T, KEY),
    "compact_upserts": lambda c, s: mor_upsert.compact_upserts(c, s, T, KEY),
    "compact_full": lambda c, s: mor_upsert.compact_full(c, s, T, KEY),
    "compact_full_n_files": lambda c, s: mor_upsert.compact_full(
        c, s, T, KEY, n_files=2
    ),
    "compact_positional_deletes": lambda c, s: (
        pdel.compact_positional_deletes(c, s, T)
    ),
}

REFUSES = "refuses"

# (fold, side tables carrying rows, tables the commit rewrites — None
# when nothing is folded, REFUSES when positional deletes are pending)
CASES = [
    ("compact_deletes", (), None),
    ("compact_deletes", ("empty",), None),
    ("compact_deletes", ("delta",), None),
    ("compact_deletes", ("pdv",), None),
    ("compact_deletes", ("dv",), {T, DV}),
    ("compact_deletes", ("delta", "dv"), {T, DV, DELTA}),
    ("compact_deletes", ("dv", "pdv"), REFUSES),
    ("compact_upserts", (), None),
    ("compact_upserts", ("empty",), None),
    ("compact_upserts", ("dv",), None),
    ("compact_upserts", ("pdv",), None),
    ("compact_upserts", ("delta",), {T, DELTA}),
    ("compact_upserts", ("delta", "dv"), {T, DELTA}),
    ("compact_upserts", ("delta", "pdv"), REFUSES),
    ("compact_full", (), None),
    ("compact_full", ("empty",), None),
    ("compact_full", ("pdv",), None),
    ("compact_full", ("delta",), {T, DELTA}),
    ("compact_full", ("dv",), {T, DV}),
    ("compact_full", ("delta", "dv"), {T, DELTA, DV}),
    ("compact_full", ("delta", "dv", "pdv"), REFUSES),
    ("compact_full_n_files", (), {T}),
    ("compact_full_n_files", ("empty",), {T}),
    ("compact_full_n_files", ("delta", "dv"), {T, DELTA, DV}),
    ("compact_full_n_files", ("pdv",), REFUSES),
    ("compact_positional_deletes", (), None),
    ("compact_positional_deletes", ("empty",), None),
    ("compact_positional_deletes", ("delta", "dv"), None),
    ("compact_positional_deletes", ("pdv",), {T, PDV}),
    ("compact_positional_deletes", ("delta", "dv", "pdv"), {T, PDV}),
]


@pytest.mark.parametrize(
    "fold,mix,changed",
    CASES,
    ids=[f"{f}-{'+'.join(m) or 'none'}" for f, m, _ in CASES],
)
def test_compaction_commits(spark, tmp_path, fold, mix, changed):
    cat = txn.Catalog(str(tmp_path / "wh"))
    _seed(cat, spark, mix)
    expected = _expected(mix)
    assert _logical(cat, spark) == expected
    head = cat.head()
    if changed is REFUSES:
        with pytest.raises(ValueError, match="positional deletes"):
            _FOLDS[fold](cat, spark)
        assert cat.head() == head
        return
    m = _FOLDS[fold](cat, spark)
    if changed is None:
        assert m is None
        assert cat.head() == head
    else:
        assert m == cat.head()
        old = cat._manifest_tables(cat._manifest_parent(m))
        new = cat._manifest_tables(m)
        assert {n for n in new if new[n] != old.get(n)} == changed
        emptied = changed - {T}
        if fold == "compact_deletes" and DELTA in changed:
            # the dv fold keeps the delta's undeleted rows
            got = cat.read(spark, DELTA).collect()
            assert {r["k"]: r["v"] for r in got} == {1: "u1"}
            emptied -= {DELTA}
        for side in emptied:
            assert not _pending(cat, spark, side)
    assert _logical(cat, spark) == expected
    if not _pending(cat, spark, PDV):
        got = mor_upsert.read_upserted(cat, spark, T, KEY).collect()
        assert {r["k"]: r["v"] for r in got} == expected
    if not (_pending(cat, spark, DELTA) or _pending(cat, spark, DV)):
        got = pdel.read_positional(cat, spark, T).collect()
        assert {r["k"]: r["v"] for r in got} == expected
    vdir = txn._version_dir(cat.table_dir(T), cat.manifest()[T])
    assert txn._detect_partition_cols(vdir) == ("p",)
