"""Datetime functions — F1-F5 and D1-D5 in SURVEY.md §2.5-2.6.

The reference implements these as per-row Python (`datetime.fromisoformat`
+ `astimezone` + `strftime`, reference app/services/etl_service.py:56-103
and app/utils/date_utils.py:28-102). Here each is a single built-in Spark
expression, vectorized under whole-stage codegen — no UDFs.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column
from pyspark.sql import functions as F

CHICAGO = "America/Chicago"


def parse_rfc3339(col: Column | str) -> Column:
    """F1 — RFC3339/'Z'-suffixed UTC string → timestamp.

    Reference normalizes 'Z' → '+00:00' then ``fromisoformat``
    (etl_service.py:74-77); Spark's ``to_timestamp`` parses ISO-8601
    (incl. the Z suffix) natively.
    """
    return F.to_timestamp(col)


def to_local_time(col: Column | str, tz: str = CHICAGO) -> Column:
    """F2 — UTC instant → wall-clock local time (DST-aware).

    Reference: ``astimezone(chicago_tz)`` (etl_service.py:78).
    Accepts TIMESTAMP or TIMESTAMP_NTZ (NTZ is interpreted as UTC,
    consistent with the engine's UTC session tz); returns NTZ local
    wall-clock time.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.from_utc_timestamp(c.cast("timestamp"), tz).cast("timestamp_ntz")


def month_str(col: Column | str) -> Column:
    """F3 — 'YYYY-MM' month label (reference strftime('%Y-%m'), etl_service.py:99)."""
    return F.date_format(col, "yyyy-MM")


def day_of_week_name(col: Column | str) -> Column:
    """F4 — full English day name (reference strftime('%A'), etl_service.py:100)."""
    return F.date_format(col, "EEEE")


def time_of_day(col: Column | str) -> Column:
    """F5 — 'HH:mm:ss' time-of-day (reference date_utils.py:98-102)."""
    return F.date_format(col, "HH:mm:ss")


def hour_of_day(col: Column | str) -> Column:
    """F5 variant for intraday histograms."""
    return F.hour(col)


# --- driver-side (parameter) helpers, D1 and D4 ----------------------------
# These parameterize queries (they produce Python values, not Columns),
# mirroring the reference's driver-side date math (date_utils.py:105-155).


def previous_month_range(today: _dt.date | None = None) -> tuple[str, str]:
    """D1 — (first_day, last_day) of the month before `today`, ISO strings.

    Year-boundary safe, like reference date_utils.py:105-155.
    """
    today = today or _dt.date.today()
    first_of_this = today.replace(day=1)
    last_of_prev = first_of_this - _dt.timedelta(days=1)
    first_of_prev = last_of_prev.replace(day=1)
    return first_of_prev.isoformat(), last_of_prev.isoformat()


def validate_date_range(start_date: str, end_date: str) -> bool:
    """D4 — start <= end (reference date_utils.py:222-241)."""
    return _dt.date.fromisoformat(start_date) <= _dt.date.fromisoformat(end_date)
