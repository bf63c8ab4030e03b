"""Time-series / event-window operators (SURVEY.md §2.5 A11–A12, §2.10).

The event-time windows are batch window()/session_window()
aggregations over a finished table; the reference has no streaming
(SURVEY.md §2.10), so there are no watermarks or state. The window
queries check them against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.dates import month_trunc


def monthly_counts(df: DataFrame, ts_col: str) -> DataFrame:
    """A11 — month truncation + count + sort by month (nb:cell10:26-28).
    Month emitted as a 'yyyy-MM-dd' string for cross-engine hash parity."""
    return (
        df.groupBy(
            F.date_format(month_trunc(ts_col), "yyyy-MM-dd").alias("month")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("month")
    )


def monthly_counts_gapfill(df: DataFrame, ts_col: str) -> DataFrame:
    """A11 extension — monthly counts over a COMPLETE month spine:
    months with no rows appear with cnt=0 (the gap-filling every
    time-series chart/SLA report needs; a groupBy alone silently skips
    empty months).

    Plan: the spine generates from the 1-row min/max aggregate via
    ``sequence`` + explode — its size is the number of months in the
    data's range (metadata-scale, never data-scale), so the explode and
    the left join against the monthly aggregate are both tiny; the only
    data-sized work is the same single hash agg monthly_counts runs.
    """
    mdate = F.date_trunc("month", F.col(ts_col)).cast("date")
    bounds = df.agg(
        F.min(mdate).alias("__mn"), F.max(mdate).alias("__mx")
    )
    spine = bounds.select(
        F.explode(
            F.sequence("__mn", "__mx", F.expr("INTERVAL 1 MONTH"))
        ).alias("__m")
    )
    counts = df.groupBy(mdate.alias("__m")).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    return (
        spine.join(counts, "__m", "left")
        .select(
            F.date_format("__m", "yyyy-MM-dd").alias("month"),
            F.coalesce("__cnt", F.lit(0)).alias("cnt"),
        )
        .orderBy("month")
    )


def monthly_cumulative(
    df: DataFrame, ts_col: str, value_col: str
) -> DataFrame:
    """Running (year-to-date-style) totals per month: monthly count and
    decimal-exact value sum plus their cumulative sums.

    Plan: one data-sized hash agg by month; the cumulative window runs
    over the AGGREGATED month axis (tiny), so the unpartitioned ordered
    window is bounded by the number of months, never by input rows —
    the same aggregate-then-window pattern as interval_occupancy.
    """
    monthly = df.groupBy(
        F.date_format(F.date_trunc("month", F.col(ts_col)), "yyyy-MM-dd")
        .alias("month")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col(value_col).cast("decimal(20,4)")).alias("__s"),
    )
    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    return monthly.select(
        "month",
        "cnt",
        F.col("__s").cast("double").alias("sum_value"),
        F.sum("cnt").over(w).alias("cum_cnt"),
        F.sum("__s").over(w).cast("double").alias("cum_value"),
    ).orderBy("month")


def _event_us(ts_col: str):
    """Integer event-time microseconds (NTZ-safe: cast first — the
    session TZ is pinned UTC so the cast is value-preserving)."""
    return F.unix_micros(F.col(ts_col).cast("timestamp"))


def twap_by_key(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Time-weighted average (TWAP): per key, the mean of ``value``
    weighted by how long it was the current observation (financial /
    sensor semantics — a value that held for an hour counts 60× one
    that held a minute; the plain avg treats them equally). The last
    observation per key has no duration and is excluded.

    Plan: ONE shuffle on key serves the lead() window; the weighted sum
    accumulates DECIMAL(value)·µs so it is exact and
    partition-order-independent, divided as IEEE doubles at the end
    (same float policy as the decimal revenue sums). Ties on ts break
    by id for a deterministic interval chain.
    """
    us = _event_us(ts_col)
    w = Window.partitionBy(key).orderBy(us.asc(), F.col(id_col).asc())
    t = df.select(
        F.col(key),
        F.col(value_col).cast("decimal(20,6)").alias("__v"),
        us.alias("__us"),
        F.lead(us).over(w).alias("__nxt"),
    )
    dt = F.col("__nxt") - F.col("__us")
    return (
        t.filter(F.col("__nxt").isNotNull())
        .groupBy(key)
        .agg(
            F.round(
                F.sum(F.col("__v") * dt).cast("double") / F.sum(dt), 6
            ).alias("twap"),
            F.count(F.lit(1)).alias("n_intervals"),
        )
        .orderBy(key)
    )


def ffill_by_key(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col,
    id_col: str,
    out_col: str = "v_filled",
) -> DataFrame:
    """Forward-fill (pandas ``ffill`` per group): each row carries the
    most recent non-NULL value at or before it within its key, in event
    time — the gap-repair step before resampling sensor/price series.

    Plan: one key shuffle, one ordered window with
    ``last(ignorenulls)`` over an unbounded-preceding frame — the
    running-carry pattern shared with the as-of join. Rows before the
    first non-NULL stay NULL (nothing to carry).
    """
    us = _event_us(ts_col)
    w = (
        Window.partitionBy(key)
        .orderBy(us.asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    value = value_col if not isinstance(value_col, str) else F.col(value_col)
    return df.select(
        id_col,
        key,
        F.last(value, ignorenulls=True).over(w).alias(out_col),
    )


def date_range(df: DataFrame, ts_col: str) -> DataFrame:
    """A12 — min/max over a date column (nb:cell10:22-24)."""
    return df.agg(
        F.date_format(F.min(ts_col), "yyyy-MM-dd HH:mm:ss").alias("min_ts"),
        F.date_format(F.max(ts_col), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
    )


def tumbling_window_agg(
    df: DataFrame, ts_col: str, duration: str = "1 hour",
    group_cols: list[str] | None = None, value_col: str | None = None,
) -> DataFrame:
    """§2.10 — tumbling event-time window aggregation over a batch
    table: one count (and rounded value sum) per window and group."""
    group_cols = group_cols or []
    aggs = [F.count(F.lit(1)).alias("cnt")]
    if value_col:
        aggs.append(F.round(F.sum(value_col), 6).alias("sum_value"))
    return (
        df.groupBy(F.window(ts_col, duration).alias("w"), *group_cols)
        .agg(*aggs)
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            *group_cols,
            "cnt",
            *(["sum_value"] if value_col else []),
        )
        .orderBy("window_start", *group_cols)
    )


def session_window_agg(
    df: DataFrame, ts_col: str, key: str, gap: str = "30 minutes",
) -> DataFrame:
    """§2.10 — session windows per key with a fixed inactivity gap (batch
    mode). Oracle-expressible via gaps-and-islands SQL (lag + cumulative
    flag sum), which is exactly how the check is written."""
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("w"), key)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            key,
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "cnt",
        )
        .orderBy(key, "session_start")
    )


def interval_occupancy(
    df: DataFrame, start_col: str, end_col: str,
) -> DataFrame:
    """Occupancy curve: for every boundary day, how many intervals
    [start, end] (dates, inclusive) are active.

    The naive formulation is a range join (calendar × intervals,
    ``start <= day <= end``) — BroadcastNestedLoopJoin, O(days·n).
    This is the sweep-line rewrite: each interval contributes +1 at
    ``start`` and −1 at ``end + 1 day``, deltas hash-aggregate by day
    (ONE shuffle, partial aggs map-side), and a running sum over the
    aggregated day axis yields the step function. Linear in input,
    and the final ordered window runs over DISTINCT boundary days
    (thousands), not raw rows — that is why the single-partition
    global window is acceptable; for a multi-year ms-resolution axis,
    range-partition by time and two-level prefix-sum instead.

    Output: one row per boundary day — (day, delta, n_active), where
    n_active counts intervals with start <= day <= end. Between
    consecutive boundary days the curve is constant.
    """
    deltas = df.select(
        F.to_date(start_col).alias("day"), F.lit(1).alias("delta")
    ).unionAll(
        df.select(
            F.date_add(F.to_date(end_col), 1).alias("day"),
            F.lit(-1).alias("delta"),
        )
    )
    agg = deltas.groupBy("day").agg(F.sum("delta").alias("delta"))
    w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return agg.select(
        "day", "delta", F.sum("delta").over(w).alias("n_active")
    ).orderBy("day")


def ewma_bounded(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    order_tiebreak: str,
    alpha: float = 0.3,
    horizon: int = 8,
) -> DataFrame:
    """Exponentially-weighted moving average per key, bounded horizon:
    ``ewma_i = Σ_{k=0..h-1} (1−α)^k · v_{i−k} / Σ (1−α)^k`` over the
    rows that exist (early rows renormalize over their shorter
    history, matching pandas ``ewm(alpha, adjust=True)`` restricted to
    the horizon). With α=0.3, h=8 the dropped tail weight is
    0.7⁸ ≈ 5.8 % — the truncation that makes the operator
    DISTRIBUTABLE: the exact recursive EWMA is inherently sequential
    per key, while the bounded form is a lag-chain on ONE key-shuffled
    sort, fully whole-stage-codegen'd, no UDF and no iteration. Columns
    of lag terms, not rows, so cost is O(h) expressions per row.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, order_tiebreak)
    v = F.col(value_col)
    num = F.lit(0.0)
    den = F.lit(0.0)
    for k in range(horizon):
        lagged = F.lag(v, k).over(w) if k else v
        wk = F.lit((1.0 - alpha) ** k)
        num = num + F.coalesce(lagged * wk, F.lit(0.0))
        den = den + F.when(lagged.isNotNull(), wk).otherwise(0.0)
    return df.select(
        key_col,
        order_tiebreak,
        v.alias("value"),
        F.round(num / den, 6).alias("ewma"),
    )


def multigrain_rollup(
    df: DataFrame,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Hypertable-style multi-grain time rollup: day, ISO-week and
    month aggregates of the same measure in ONE scan via GROUPING SETS
    — the continuous-aggregate ladder a metrics store maintains,
    without re-reading the fact table per grain.

    Plan: three derived truncation columns, one
    ``groupingSets`` aggregation (Spark expands to a single
    shuffle with grouping-id; partial aggregation still applies
    map-side), then a CASE over ``grouping_id`` labels the grain and
    coalesces the bucket label. Versus three separate groupBys this
    reads and shuffles the fact table once — at 100 TB the scan is the
    cost, so one pass at 3× key width beats three passes.

    Sums go through DECIMAL so they are exact and
    partition-order-independent.
    """
    base = df.select(
        F.date_format(F.date_trunc("day", F.col(ts_col)), "yyyy-MM-dd")
        .alias("g_day"),
        F.date_format(F.date_trunc("week", F.col(ts_col)), "yyyy-MM-dd")
        .alias("g_week"),
        F.date_format(F.date_trunc("month", F.col(ts_col)), "yyyy-MM-dd")
        .alias("g_month"),
        F.col(value_col).cast("decimal(18,2)").alias("v"),
    )
    rolled = base.groupingSets(
        [["g_day"], ["g_week"], ["g_month"]],
        "g_day", "g_week", "g_month",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("v").cast("double").alias("total_value"),
        F.grouping_id().alias("_gid"),
    )
    # grouping_id bit order follows the column list: day,week,month.
    grain = (
        F.when(F.col("_gid") == 3, "day")      # 011: week,month null
        .when(F.col("_gid") == 5, "week")      # 101: day,month null
        .otherwise("month")                    # 110
    )
    return rolled.select(
        grain.alias("grain"),
        F.coalesce("g_day", "g_week", "g_month").alias("bucket"),
        "n_events",
        "total_value",
    )


def hll_distinct_rollup(
    df: DataFrame,
    ts_col: str,
    key_col: str,
) -> DataFrame:
    """Re-aggregatable distinct counting: daily HyperLogLog sketches of
    ``key_col`` unioned into monthly estimates WITHOUT rescanning the
    fact table — the mergeable-sketch pattern (Apache DataSketches,
    exposed as ``hll_sketch_agg``/``hll_union_agg``) that makes
    distinct-count rollups incremental at 100 TB: the expensive pass
    happens once at the finest grain, every coarser grain is a cheap
    union of kilobyte sketches. An exact rollup can NOT do this
    (distinct counts don't add); the sketch trades ~2 % relative error
    for re-aggregatability.

    Rows-only by design: DuckDB's approx_distinct is a different HLL
    implementation with different estimates. The pytest twin bounds the
    estimate against the exact count instead.
    """
    daily = (
        df.select(
            F.date_trunc("day", F.col(ts_col)).alias("day"),
            F.col(key_col).alias("k"),
        )
        .groupBy("day")
        .agg(F.hll_sketch_agg("k").alias("sk"))
    )
    return (
        daily.groupBy(
            F.date_format(F.date_trunc("month", "day"), "yyyy-MM-dd")
            .alias("month")
        )
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk"))
            .alias("approx_distinct")
        )
        .orderBy("month")
    )


def merge_intervals(
    df: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Merge overlapping/touching intervals per key into maximal
    disjoint spans — the interval-union operator behind uptime
    coverage, ad-break stitching and genomic region merging. Distinct
    from gap-based sessionization: inputs are arbitrary [start, end)
    spans, not points.

    Sweep plan: ONE shuffle on the key, then two windows sharing that
    partitioning — (1) the running max of ``end`` over strictly
    preceding rows (start-ordered); a row opens a NEW span iff its
    start exceeds that max; (2) a running sum of the open flags labels
    each row with its span id. One final (key, span) hash agg emits
    min(start), max(end). Linear in input, shuffle-bounded memory —
    never the O(n²) overlap self-join.
    """
    w = Window.partitionBy("k").orderBy(F.asc("s"), F.asc("e"))
    prev_max_end = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    # Two projections: a window expression cannot nest inside another
    # window's argument. Both windows share one partitioning — the key
    # shuffle happens once.
    flagged = df.select(
        F.col(key_col).alias("k"),
        F.col(start_col).alias("s"),
        F.col(end_col).alias("e"),
    ).select(
        "k",
        "s",
        "e",
        F.when(
            prev_max_end.isNull() | (F.col("s") > prev_max_end), 1
        )
        .otherwise(0)
        .alias("opens"),
    )
    labeled = flagged.select(
        "k",
        "s",
        "e",
        F.sum("opens")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("span"),
    )
    return (
        labeled.groupBy("k", "span")
        .agg(F.min("s").alias("span_start"), F.max("e").alias("span_end"))
        .select(
            F.col("k").alias(key_col),
            "span_start",
            "span_end",
        )
    )
