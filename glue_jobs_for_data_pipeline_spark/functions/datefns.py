"""Scalar date helpers (SURVEY §2.8, F5 and F8): the two date
semantics that differ from the plain ``pyspark.sql.functions`` call.

All built-in JVM expressions — zero Python UDFs — so every use stays
inside whole-stage codegen.

Semantics traps pinned here:
- F5: Redshift ``EXTRACT(DOW)`` is 0=Sunday..6=Saturday
  (datespopulation.py:34); Spark ``dayofweek`` is 1=Sunday..7 ->
  subtract 1. DuckDB's ``EXTRACT(dow)`` is also 0=Sunday, so the oracle
  agrees without adjustment.
- F8/F10: the reference uses the wall-clock ``current_date``
  (dynamic_upsert.py:23-25,129) — nondeterministic. Every operator takes
  an injectable ``run_date`` so results are reproducible; passing None
  falls back to the wall clock like the reference.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column
from pyspark.sql import functions as F


def weekday_redshift(d: Column) -> Column:
    """F5: weekday with Redshift numbering, 0=Sunday..6=Saturday."""
    return (F.dayofweek(d) - F.lit(1)).alias("Weekday")


# F8: current_date - INTERVAL '1 day' (dynamic_upsert.py:129), run-date injectable
def run_date_col(run_date: dt.date | str | None) -> Column:
    if run_date is None:
        return F.current_date()
    return F.lit(str(run_date)).cast("date")


def yesterday(run_date: dt.date | str | None = None) -> Column:
    return F.date_sub(run_date_col(run_date), 1)
