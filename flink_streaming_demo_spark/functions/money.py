"""One rule for money sums, as a Column expression and its SQL twin.

A double SUM of per-row money values can land on a half cent and round
either way depending on summation order, which differs between engines
and between runs. Summing the per-row doubles (identical on both
engines) as DECIMAL(28,8) is exact and order-independent, so the
rounded cents agree. The TPC-H plans use it for every money sum whose
cents the oracle compares.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def money_sum(x: Column) -> Column:
    """``CAST(ROUND(SUM(CAST(x AS DECIMAL(28,8))), 2) AS DOUBLE)``."""
    return F.round(F.sum(x.cast("decimal(28,8)")), 2).cast("double")


def sql_money_sum(x: str) -> str:
    """The DuckDB twin of ``money_sum``."""
    return f"CAST(ROUND(SUM(CAST({x} AS DECIMAL(28,8))), 2) AS DOUBLE)"
