"""The end-to-end sales ETL pipeline — O1/O4/O5 in SURVEY.md §2.8.

The reference's driver (reference app/scripts/monthly_etl.py:206-265)
loops locations sequentially: fetch → transform → load, accumulating
stats. The engine expresses the whole run as ONE lazy plan over all
locations at once:

    orders (nested JSON frame)
      → explode line_items → revenue/denylist/validation filters
      → project to sales columns (tz-aware date parts)
      → broadcast-join locations (square_id → surrogate id)
      → date-range / location / limit parameters as pushable filters
      → write partitioned by (location_id, month), dynamic overwrite

Catalyst pushes the date filter into the scan, the location dimension
broadcasts, and the only wide operation before the sink is the write
itself — the pipeline is shuffle-free. Per-location error isolation
(O4) becomes the valid/rejects quarantine split instead of a loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from analytics_etl_spark.config import PipelineConfig
from analytics_etl_spark.operators.etl import (
    denylist_filter,
    explode_line_items,
    project_sales,
    quarantine,
    revenue_filter,
    valid_line_item_pred,
    valid_sales_row_pred,
)
from analytics_etl_spark.operators.joins import lookup_join
from analytics_etl_spark.sinks.writer import overwrite_partitions


def sales_pipeline(
    orders: DataFrame,
    locations: DataFrame,
    config: PipelineConfig,
) -> tuple[DataFrame, DataFrame]:
    """Nested orders + locations dim → (sales, rejects), both lazy.

    orders matches schemas.ORDER_SCHEMA; locations matches
    schemas.LOCATIONS_SCHEMA.
    """
    # S2-analogue: the pushed date-range predicate (on the raw RFC3339
    # string's timestamp) — Catalyst pushes it into the source scan.
    in_range = F.to_timestamp("closed_at").between(
        F.lit(f"{config.start_date} 00:00:00").cast("timestamp"),
        F.lit(f"{config.end_date} 23:59:59.999999").cast("timestamp"),
    )
    windowed = orders.filter(in_range)

    exploded = explode_line_items(windowed)
    filtered = denylist_filter(revenue_filter(exploded), config.denylist)
    # P7 at item level: structurally invalid items become reject rows
    # (the reference logs-and-skips them, etl_service.py:282-321) —
    # they must not silently vanish.
    valid_items, item_rejects = quarantine(filtered, valid_line_item_pred())
    projected = project_sales(valid_items, config.tz)

    # J1: square location id → surrogate int id, broadcast.
    enriched = lookup_join(
        projected,
        locations,
        "square_location_id",
        "square_id",
        how="inner",
        hint_broadcast=True,  # locations is a fixed ~dozens-row dimension
    ).select(
        "item_name",
        "sale_price",
        "qty",
        "sale_timestamp",
        "month",
        "day_of_week",
        "item_category",
        F.col("id").alias("location_id"),
        "modifiers",
    )

    if config.location_filter is not None:
        enriched = enriched.filter(F.col("location_id") == config.location_filter)
    if config.test_limit is not None:
        enriched = enriched.limit(config.test_limit)

    sales, row_rejects = quarantine(enriched, valid_sales_row_pred())
    # one rejects frame, uniform schema across both quarantine stages
    rejects = item_rejects.select(
        F.lit("line_item").alias("stage"),
        F.col("id").alias("order_id"),
        F.col("location_id").cast("string").alias("location_id"),
        F.col("li.name").alias("detail"),
    ).unionByName(
        row_rejects.select(
            F.lit("sales_row").alias("stage"),
            F.lit(None).cast("string").alias("order_id"),
            F.col("location_id").cast("string").alias("location_id"),
            F.col("item_name").alias("detail"),
        )
    )
    return sales, rejects


def run_sales_pipeline(
    orders: DataFrame,
    locations: DataFrame,
    config: PipelineConfig,
) -> dict[str, int]:
    """Execute the pipeline; write sales if config.sales_path is set.

    Returns run stats (O5) — counted via one cached pass, mirroring
    the reference's stats report (monthly_etl.py:268-305).
    """
    sales, rejects = sales_pipeline(orders, locations, config)
    stats: dict[str, int] = {}
    cached = bool(config.sales_path)
    if cached:
        sales = sales.cache()
    try:
        if cached:
            overwrite_partitions(sales, config.sales_path)
        stats["sales_rows"] = sales.count()
        stats["reject_rows"] = rejects.count()
    finally:
        if cached:
            # released once counted: repeated runs in one session
            # accumulate no cached blocks
            sales.unpersist(blocking=True)
    return stats
