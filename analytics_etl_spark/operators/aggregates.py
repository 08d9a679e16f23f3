"""Aggregation operators — A1-A5 parity + generalized surface (SURVEY.md §2.4).

The reference's aggregates are SQL strings run on PostgreSQL
(reference app/services/database_service.py:341-412 and the BI queries
in README.md:274-288). Here they are hash aggregations with automatic
partial/final (map-side combine) — the shuffle carries one row per
group per task, not the fact table.

Money totals use DECIMAL arithmetic (see functions.money): exact and
associative, so results are identical under any partitioning — the
correctness property that matters on 1000 executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def count_by(df: DataFrame, *keys: str, alias: str = "cnt") -> DataFrame:
    """A1 — COUNT(*) per group (reference get_sales_count_by_location,
    database_service.py:341-370)."""
    return df.groupBy(*keys).agg(F.count("*").alias(alias))


def date_range_by(df: DataFrame, ts_col: str, *keys: str) -> DataFrame:
    """A2 — MIN/MAX of a date per group (reference get_sales_date_range,
    database_service.py:373-412)."""
    d = F.to_date(ts_col)
    return df.groupBy(*keys).agg(
        F.min(d).alias("first_sale_date"), F.max(d).alias("last_sale_date")
    )

