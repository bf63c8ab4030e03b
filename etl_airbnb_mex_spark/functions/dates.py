"""Date/time expressions (SURVEY.md §2.9 F15–F18).

Key parity traps handled here (SURVEY.md §7.4):
* weekday: pandas ``dt.dayofweek`` is Mon=0..Sun=6 → Spark ``weekday()``
  (NOT ``dayofweek`` which is Sun=1); DuckDB oracle uses ``isodow(d)-1``.
* month names: English locale via ``date_format(c,'MMMM')``.
* robust parse: ``try_to_timestamp`` → NULL on junk, matching
  ``pd.to_datetime(errors='coerce')``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .cleaning import _col


def robust_to_timestamp(col: Column | str) -> Column:
    """F18 — pd.to_datetime(errors='coerce'): junk -> NULL."""
    return F.try_to_timestamp(_col(col).cast("string"))


def date_normalize(col: Column | str) -> Column:
    """F15 — normalize to a ``'yyyy-MM-dd'`` *string* (the reference
    stringifies normalized dates, src/transformacion.py:25-42); NULL on
    unparseable input. Mongo extended-JSON ``{'$date': ...}`` structs are
    unwrapped by the reader (sources.readers), not here.
    """
    return F.date_format(robust_to_timestamp(_col(col)), "yyyy-MM-dd")


def weekday_mon0(col: Column | str) -> Column:
    """F16 — day of week with Monday=0..Sunday=6 (pandas convention)."""
    return F.weekday(_col(col))


def month_name(col: Column | str) -> Column:
    """F16 — full English month name ('January'...)."""
    return F.date_format(_col(col), "MMMM")


def month_trunc(col: Column | str) -> Column:
    """F17 — truncate timestamp to month start (pd .dt.to_period('M'))."""
    return F.date_trunc("month", _col(col))


def date_parts(df: DataFrame, col: str, prefix: str = "") -> DataFrame:
    """F16 — derive year/month/day/quarter/weekday/month-name columns.

    Reference: ``src/transformacion.py:44-58`` adds ``año, mes, dia,
    trimestre, dia_semana, nombre_mes`` per date column. Column names here
    are English; the pipeline layer applies the reference's Spanish names.
    """
    c = F.col(col)
    p = prefix or f"{col}_"
    return (
        df.withColumn(f"{p}year", F.year(c))
        .withColumn(f"{p}month", F.month(c))
        .withColumn(f"{p}day", F.dayofmonth(c))
        .withColumn(f"{p}quarter", F.quarter(c))
        .withColumn(f"{p}weekday", weekday_mon0(c))
        .withColumn(f"{p}month_name", month_name(c))
    )
