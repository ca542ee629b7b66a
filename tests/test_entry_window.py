"""Driver-contract window integrity: _WINDOW_FIRST keys must exist (a
rename would silently shrink the 50-slot correctness window — the
_ordered_keys filter drops unknown names), and every key in the
consumed first-50 must be oracle-able (a rows-only key in the window
wastes a hash-check slot)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as e  # noqa: E402


def test_window_keys_all_exist():
    missing = [k for k in e._WINDOW_FIRST if k not in e.QUERIES]
    assert missing == [], f"window names not in QUERIES: {missing}"


def test_window_first_50_all_oracle_able():
    # _WINDOW_ROWS_ONLY_OK: rows-only keys deliberately seated for
    # their one rows-only driver row (r14 verdict task #6); anything
    # else rows-only in the window is a wasted hash-check slot.
    oracles = e.oracle_sql()
    first50 = list(e.queries())[:50]
    rows_only = [
        k for k in first50
        if k not in oracles and k not in e._WINDOW_ROWS_ONLY_OK
    ]
    assert rows_only == [], f"rows-only keys consuming window slots: {rows_only}"


def test_ordering_preserves_every_key():
    q = e.queries()
    assert sorted(q) == sorted(e.QUERIES)


def test_q_refuses_a_duplicate_key(monkeypatch):
    from glue_jobs_for_data_pipeline_spark.plans import catalog

    monkeypatch.setattr(catalog, "QUERIES", {})
    monkeypatch.setattr(catalog, "ORACLE", {})
    catalog._q("k", "SELECT 1")(lambda spark, sf_dir: None)
    with pytest.raises(ValueError, match="'k' is already registered"):
        catalog._q("k", "SELECT 2")(lambda spark, sf_dir: None)
    assert catalog.ORACLE == {"k": "SELECT 1"}


def test_every_pack_registers_each_key_once(monkeypatch):
    """Re-run every plans module that registers queries and record each
    registration: no key is registered twice, and together they are
    exactly the keys __spark_entry__ serves."""
    import importlib
    import importlib.util
    import pkgutil

    from glue_jobs_for_data_pipeline_spark import plans
    from glue_jobs_for_data_pipeline_spark.plans import catalog

    registered: list[str] = []

    class Recorder(dict):
        def __setitem__(self, key, value):
            registered.append(key)
            super().__setitem__(key, value)

    # a fresh run of catalog.py registers into its own new dict
    spec = importlib.util.find_spec(catalog.__name__)
    fresh = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(fresh)
    registered.extend(fresh.QUERIES)
    # the packs register through the imported catalog's _q
    monkeypatch.setattr(catalog, "QUERIES", Recorder())
    monkeypatch.setattr(catalog, "ORACLE", {})
    for info in pkgutil.iter_modules(plans.__path__):
        name = f"{plans.__name__}.{info.name}"
        if name == catalog.__name__:
            continue
        if getattr(importlib.import_module(name), "_q", None) is not catalog._q:
            continue
        spec = importlib.util.find_spec(name)
        spec.loader.exec_module(importlib.util.module_from_spec(spec))
    dupes = sorted({k for k in registered if registered.count(k) > 1})
    assert dupes == []
    assert sorted(registered) == sorted(e.QUERIES)
