"""Window-function operators (SURVEY.md §2.6 — engine extensions; the
reference computes percent-of-total with a scalar Python len(), never a
window).

Each is one shuffle on the partition key; frames are row-based where the
oracle (DuckDB) uses the same ROWS BETWEEN semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rank_topn_per_group(
    df: DataFrame, group: str, order_col: str, k: int,
    tiebreak: str | None = None, ascending: bool = False,
) -> DataFrame:
    """Top-k rows per group by order_col with a deterministic tie-break
    column (row_number, SURVEY.md §7.4.8)."""
    order = [F.asc(order_col) if ascending else F.desc(order_col)]
    if tiebreak:
        order.append(F.asc(tiebreak))
    w = Window.partitionBy(group).orderBy(*order)
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def moving_avg(
    df: DataFrame, group: str, order_col: str, value_col: str,
    preceding: int = 2, tiebreak: str | None = None, dp: int = 6,
) -> DataFrame:
    """Moving average over the previous ``preceding`` rows + current, per
    group, ordered by (order_col, tiebreak)."""
    order = [F.asc(order_col)] + ([F.asc(tiebreak)] if tiebreak else [])
    w = (
        Window.partitionBy(group)
        .orderBy(*order)
        .rowsBetween(-preceding, Window.currentRow)
    )
    return df.withColumn(
        "moving_avg", F.round(F.avg(value_col).over(w), dp)
    )


def lag_delta(
    df: DataFrame, order_col: str, value_col: str,
    group: str | None = None,
) -> DataFrame:
    """Period-over-period delta: value - lag(value) ordered by order_col
    (the natural follow-on to A11 monthly counts)."""
    w = (Window.partitionBy(group) if group else Window.partitionBy()) \
        .orderBy(F.asc(order_col))
    return df.withColumn(
        "delta", F.col(value_col) - F.lag(value_col, 1).over(w)
    )


def scd2_intervals(
    df: DataFrame, key: str, ts_col: str, state_col: str, tiebreak: str,
) -> DataFrame:
    """Slowly-changing-dimension type-2 builder: collapse a per-key event
    stream into validity intervals — one row per STATE CHANGE with
    [valid_from, valid_to) bounds; the open interval (valid_to NULL) is
    the current state.

    Plan: one shuffle on the key; lag() flags change rows, a second
    window over the (already partitioned) filtered stream leads the next
    change's timestamp into valid_to. Both windows share the same
    partitioning, so Catalyst plans a single Exchange. ``tiebreak`` must
    be unique per key (e.g. an event id) so equal timestamps order
    deterministically on every engine.
    """
    w = Window.partitionBy(key).orderBy(ts_col, tiebreak)
    changes = (
        df.withColumn("__prev", F.lag(state_col).over(w))
        .filter(
            F.col("__prev").isNull()
            | (F.col("__prev") != F.col(state_col))
        )
        .drop("__prev")
    )
    return changes.select(
        key,
        F.col(state_col).alias("state"),
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(
            Window.partitionBy(key).orderBy(ts_col, tiebreak)
        ).alias("valid_to"),
    )
