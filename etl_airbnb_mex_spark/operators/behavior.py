"""User-behavior analytics operators (SURVEY.md §2.11 extensions):
funnel conversion, cohort retention, and sessionization — the event-log
queries a product-analytics workload runs at warehouse scale.

Scale shape: every stage filters the event stream FIRST (predicate
pushdown to the scan), then shuffles only (user_id, ts) pairs on
user_id; consecutive stages join on the same key so AQE co-partitions
the exchanges. Nothing collects to the driver; the only driver-visible
results are final scalar counts or per-cohort aggregates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _ts_us(col: str) -> Column:
    """Event-time in exact integer microseconds. The testdata stores
    ``ts`` as TIMESTAMP_NTZ which pyspark>=4.1's unix_micros rejects;
    the session TZ is pinned UTC so the NTZ→TZ cast is value-preserving
    (same guard as queries/extensions.py window_range_frame)."""
    return F.unix_micros(F.col(col).cast("timestamp"))


def funnel_conversion(
    events: DataFrame,
    stages: tuple[str, ...] = ("signup", "view", "purchase"),
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered funnel: a user reaches stage i+1 only with an event of
    that type AT OR AFTER their first stage-i event. Returns one row of
    per-stage user counts plus step conversion rates.

    Plan: per stage, filter to that event type (pushed to the scan) →
    groupBy(user) min(ts) → join to the previous stage's frontier on
    user_id with the time predicate. Each stage shuffles only the
    surviving (user, ts) pairs on the SAME key, so the exchanges reuse
    the partitioning. r16 (optimization round, guide §2.4): the
    per-stage counts union into ONE tagged frame and aggregate in a
    single conditional-count pass — the previous form ran one 1-row
    aggregate per stage and combined them through |stages|−1
    BroadcastNestedLoopJoins, paying ~2 extra AQE stage jobs per
    funnel stage (measured 12 → 7 jobs on the 3-stage registered
    query).

    The AQE-final plan of the registered query shows that exchange
    reuse between a union branch and the next stage's join input is
    PARTIAL — the analyzer re-aliases one consumer of each frontier
    (self-join expr-id dedup), so its canonical form stops matching
    and the final plan recomputes the intermediate frontier stages
    (one ReusedExchange, 5 shuffle stages for 3 funnel stages). Still
    a measured win over the BNLJ chain (7 vs 12 jobs); the recomputed
    frontiers are small filtered aggregates, and pinning them with
    localCheckpoint would add materialization jobs (an A/B of that
    class of fix on a banded-frame query measured a regression).
    """
    frontier = None
    tagged = None
    for i, stage in enumerate(stages):
        ev = events.filter(F.col(type_col) == stage)
        if frontier is None:
            frontier = ev.groupBy(user_col).agg(F.min(ts_col).alias("__t"))
        else:
            frontier = (
                ev.alias("e")
                .join(frontier.alias("f"), user_col)
                .filter(F.col(f"e.{ts_col}") >= F.col("f.__t"))
                .groupBy(user_col)
                .agg(F.min(f"e.{ts_col}").alias("__t"))
            )
        t = frontier.select(F.lit(i).alias("__stage"))
        tagged = t if tagged is None else tagged.unionByName(t)
    out = tagged.agg(
        *[
            F.count(F.when(F.col("__stage") == i, F.lit(1)))
            .alias(f"n_{stage}")
            for i, stage in enumerate(stages)
        ]
    )
    rates = [
        F.round(
            F.col(f"n_{stages[i + 1]}")
            / F.nullif(F.col(f"n_{stages[i]}"), F.lit(0)),
            6,
        ).alias(f"rate_{stages[i]}_{stages[i + 1]}")
        for i in range(len(stages) - 1)
    ]
    return out.select("*", *rates)


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period: str = "week",
) -> DataFrame:
    """Cohort retention grid: users bucketed by the period of their
    FIRST event; for each (cohort, period-offset) the count of distinct
    cohort users active in that period.

    Plan: one groupBy(user) min(ts) pass for the cohort assignment, one
    join back on user_id (both sides shuffle on the same key), one
    (cohort, offset) hash agg. The distinct-user count is exact for
    oracle parity — at 100 TB swap ``countDistinct`` for
    ``approx_count_distinct`` (same plan shape, sketch merge instead of
    distinct expansion).
    """
    cohort = events.groupBy(user_col).agg(
        F.trunc(F.min(ts_col), period).alias("__cohort")
    )
    offset = (
        F.datediff(F.trunc(F.col(ts_col), period), F.col("__cohort")) / 7
        if period == "week"
        else F.months_between(
            F.trunc(F.col(ts_col), period), F.col("__cohort")
        )
    ).cast("int")
    return (
        events.join(cohort, user_col)
        .groupBy(
            F.date_format("__cohort", "yyyy-MM-dd").alias("cohort"),
            offset.alias("period_offset"),
        )
        .agg(F.countDistinct(user_col).alias("n_users"))
        .orderBy("cohort", "period_offset")
    )


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Assign a per-user session index: a new session starts when the
    gap since the previous event exceeds ``gap_minutes``. The companion
    of the session_window aggregate — this one KEEPS event granularity
    (each event labeled), which the built-in ``session_window`` groupBy
    cannot express.

    Plan: ONE shuffle on user_id serves both windows (lag + running
    sum share the partitioning and sort). Ordering ties on ts break by
    event id so the labeling is deterministic. Integer-microsecond gap
    arithmetic matches the oracle's ``epoch_us`` exactly.
    """
    w = Window.partitionBy(user_col).orderBy("__us", id_col)
    lagged = events.select(
        id_col,
        user_col,
        _ts_us(ts_col).alias("__us"),
    ).withColumn("__prev", F.lag("__us").over(w))
    new_session = (
        F.col("__prev").isNull()
        | ((F.col("__us") - F.col("__prev")) > gap_minutes * 60_000_000)
    ).cast("long")
    return lagged.select(
        id_col,
        user_col,
        F.sum(new_session)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_idx"),
    )
