"""Streaming operators (SURVEY.md §2.10): windowed aggregation with
watermarks, watermark-scoped dedup, and a custom stateful operator via
``applyInPandasWithState``.

Each takes a *streaming* DataFrame (``spark.readStream...``) and returns
the transformed streaming DataFrame; the caller owns the sink
(``writeStream``). The aggregation expressions are identical to their
oracle-checked batch twins (operators.timeseries) — same column names,
so a batch backfill and the live stream produce union-compatible output
(the standard lambda/kappa reconciliation property).

State sizing at scale: every operator here bounds state by watermark —
windows close and evict once event time passes ``watermark_delay``; the
counter state uses processing-time timeout for the same reason.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: State-store posture for STATEFUL streams at scale. It ships with
#: the engine, so every caller of :func:`configure_state_store` gets
#: the same posture:
#:
#: * RocksDB provider — state spills to local disk instead of executor
#:   heap; the 100 TB posture for stateful streaming (the HDFS-backed
#:   default holds every version of every key in executor memory).
#: * Changelog checkpointing — each micro-batch commit uploads only the
#:   batch's CHANGELOG; full RocksDB snapshots happen async and
#:   infrequently. Without it, commit latency scales with TOTAL state
#:   size (the r15-era drain measured commitFlushLatency 7.2 s on a
#:   toy 1.5k-row state); with it, with the per-batch delta. r16
#:   interleaved off/on A/B, identical session output
#:   (BENCH_SIDECAR.json:streaming_bench.changelog_ab): worst batch
#:   7.9 s → 2.5 s.
#:
#: Session-level (Spark reads them at query start), so they apply per
#: SparkSession, not per stream: call :func:`configure_state_store`
#: once on the session that will run stateful streams. Kept out of
#: ``session.get_spark`` deliberately — batch queries never touch a
#: state store, and tests that A/B providers need the default intact.
STATEFUL_STATE_STORE_CONF: dict[str, str] = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb."
    "changelogCheckpointing.enabled": "true",
}


def configure_state_store(spark: SparkSession) -> SparkSession:
    """Apply the engine's stateful-stream state-store posture
    (:data:`STATEFUL_STATE_STORE_CONF`) to a session. Idempotent;
    returns the session. Call before starting stateful streams
    (sessionizer / counter / heavy-hitters); restarting an EXISTING
    checkpoint written under a different provider is rejected by Spark
    — switch providers only with a fresh checkpoint location."""
    for key, value in STATEFUL_STATE_STORE_CONF.items():
        spark.conf.set(key, value)
    return spark


def _event_time(sdf: DataFrame, ts_col: str) -> DataFrame:
    """Normalize the event-time column to TIMESTAMP (with zone).

    Parquet written with ``TIMESTAMP_NTZ`` is rejected by
    ``withWatermark`` under pyspark>=4.1
    (``EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE``). The session timezone is
    pinned UTC throughout this engine, so the NTZ→TZ cast is
    value-preserving. Applied at the streaming-source boundary so every
    operator below sees a watermark-eligible column.
    """
    if dict(sdf.dtypes).get(ts_col) == "timestamp_ntz":
        sdf = sdf.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return sdf


def stream_tumbling_agg(
    sdf: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    group_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Tumbling event-time window counts/sums with late-data handling.
    Late rows beyond ``watermark_delay`` are dropped and their windows
    finalized (append-mode emittable)."""
    return (
        _event_time(sdf, ts_col)
        .withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(ts_col, window).alias("w"), *group_cols)
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum(value_col), 6).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            *group_cols,
            "cnt",
            "sum_value",
        )
    )


def stream_sliding_agg(
    sdf: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str = "30 minutes",
    value_col: str = "value",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Sliding event-time windows (each event in window/slide windows)."""
    return (
        _event_time(sdf, ts_col)
        .withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(ts_col, window, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum(value_col), 6).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "cnt",
            "sum_value",
        )
    )


def stream_session_agg(
    sdf: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Session windows (gap-based) per key — the streaming twin of
    operators.timeseries.session_window_agg."""
    return (
        _event_time(sdf, ts_col)
        .withWatermark(ts_col, watermark_delay)
        .groupBy(F.session_window(ts_col, gap).alias("w"), key_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            key_col,
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "cnt",
        )
    )


def stream_dedup_within_watermark(
    sdf: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Exactly-once-per-key within the watermark horizon
    (dropDuplicatesWithinWatermark): the streaming face of D1. State per
    key is evicted once the watermark passes — bounded memory, unlike an
    unbounded dropDuplicates."""
    return (
        _event_time(sdf, ts_col)
        .withWatermark(ts_col, watermark_delay)
        .dropDuplicatesWithinWatermark(list(keys))
    )


_COUNTER_STATE_SCHEMA = "events_seen bigint, value_sum double"


def streaming_counter_state(
    sdf: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    timeout_ms: int = 0,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a running
    per-key (event count, value sum) that emits the updated totals each
    micro-batch — the §2.10 escape hatch for semantics the built-in
    window operators can't express. Arrow-batched (pandas per group),
    never row-at-a-time Python.

    State boundedness: with ``timeout_ms`` set, a key idle past the
    processing-time timeout is REMOVED (its final totals are emitted
    once with the eviction); without it, state is per-key forever — use
    only on bounded key domains. The output key column/type mirror
    ``key_col`` from the input schema.
    """
    import pandas as pd  # local import: executors need it, driver may not
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            sdf.schema[key_col],
            T.StructField("events_seen", T.LongType()),
            T.StructField("value_sum", T.DoubleType()),
        ]
    )

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        seen, total = state.get if state.exists else (0, 0.0)
        if state.hasTimedOut:
            # Idle key: emit final totals and evict — this is what keeps
            # state bounded on unbounded key domains.
            state.remove()
            yield pd.DataFrame(
                {key_col: [key[0]], "events_seen": [seen], "value_sum": [total]}
            )
            return
        for pdf in pdfs:
            seen += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((seen, total))
        if timeout_ms:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            {key_col: [key[0]], "events_seen": [seen], "value_sum": [total]}
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms
        else GroupStateTimeout.NoTimeout
    )
    return sdf.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=_COUNTER_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


def stream_merge_upsert_sink(
    sdf: DataFrame,
    snapshot_dir: str,
    key: str,
    order_col: str | None = None,
):
    """CDC apply loop: keep a parquet snapshot current from a change
    stream by MERGE-upserting every micro-batch via ``foreachBatch`` —
    the serving-table pattern when no table format (Delta/Iceberg) is
    available. Returns a ``DataStreamWriter``; the caller sets
    trigger/checkpoint and starts it.

    Each batch: read the current snapshot, overlay the batch with
    :func:`~etl_airbnb_mex_spark.operators.setops.merge_upsert`
    (last-write-wins within the batch when ``order_col`` is given),
    write to ``<snapshot_dir>.tmp`` — which MATERIALIZES the merge
    before the old snapshot is touched — then swap via RENAME-ASIDE
    (snapshot → ``.old``, ``.tmp`` → snapshot, delete ``.old``). Each
    rename is atomic, so no crash window loses the merged state: a
    crash mid-swap leaves either the prior snapshot in ``.old`` or the
    fully-merged result in ``.tmp``, and the recovery pass at the start
    of the next batch completes whichever half-finished swap it finds
    before merging (the checkpoint then replays the batch; the upsert
    is idempotent on the key, so re-merging is safe). Production with a
    table format (Delta/Iceberg) gets this from the format's atomic
    commit — the batch logic is identical there (MERGE INTO).

    Scale: the merge shuffles both sides once on the key (what any
    MERGE pays); foreachBatch reuses the batch engine so AQE applies
    per micro-batch.
    """
    import os
    import shutil

    from ..operators.setops import merge_upsert

    tmp = snapshot_dir.rstrip("/") + ".tmp"
    old = snapshot_dir.rstrip("/") + ".old"

    def _recover() -> None:
        # Complete a swap a previous run crashed in the middle of.
        if not os.path.isdir(snapshot_dir):
            if os.path.isdir(tmp):
                # Crash after snapshot→.old but before .tmp→snapshot:
                # .tmp holds the complete merged result — promote it.
                os.rename(tmp, snapshot_dir)
            elif os.path.isdir(old):
                # .tmp never finished (or was promoted then lost):
                # roll back to the prior snapshot.
                os.rename(old, snapshot_dir)
        if os.path.isdir(old):
            # Crash after promotion but before cleanup.
            shutil.rmtree(old)
        # A leftover .tmp alongside a live snapshot is a stale partial
        # write; mode("overwrite") below replaces it.

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _recover()
        if os.path.isdir(snapshot_dir):
            base = spark.read.parquet(snapshot_dir)
        else:
            base = spark.createDataFrame([], batch_df.schema)
        merged = merge_upsert(
            base, batch_df, key, updates_order_col=order_col
        )
        merged.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(snapshot_dir):
            os.rename(snapshot_dir, old)
        os.rename(tmp, snapshot_dir)
        if os.path.isdir(old):
            shutil.rmtree(old)

    return sdf.writeStream.foreachBatch(_apply).outputMode("append")


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lookback: str = "1 hour",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition:
    each left row matches right rows with the same key whose timestamp
    falls in [left_ts − lookback, left_ts] — the streaming twin of the
    bounded-range as-of/theta join family (purchases joined to the
    clicks that preceded them).

    State bounds (the 100 TB concern): BOTH sides carry watermarks and
    the join condition bounds the time range in BOTH directions, so
    Spark evicts buffered rows once the watermark passes
    ``left_ts − lookback`` — state is O(events in the lookback window
    per key), not unbounded. Without the two-sided time bound Spark
    would have to buffer a whole side forever.
    """
    l = _event_time(left, left_ts).withWatermark(left_ts, watermark_delay).alias("l")
    r = _event_time(right, right_ts).withWatermark(right_ts, watermark_delay).alias("r")
    lts = F.col(f"l.{left_ts}")
    rts = F.col(f"r.{right_ts}")
    return l.join(
        r,
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (rts <= lts)
        & (rts >= lts - F.expr(f"INTERVAL {lookback}")),
        "inner",
    )


def stream_drift_monitor(
    sdf: DataFrame,
    ref_lo: float,
    ref_hi: float,
    ref_counts: list[int],
    ts_col: str = "ts",
    value_col: str = "value",
    window: str = "1 hour",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Per-window PSI drift against a fixed reference distribution — the
    streaming twin of the batch ``psi_drift`` query (queries/mleval.py)
    and the standard production model-input monitor: the reference
    histogram is learned offline (training-time feature distribution),
    ships with the job as literals, and every event-time window emits
    one (window_start, n, psi) row when its watermark closes.

    Scale/state posture: the stream bins IN-ROW on the reference grid
    (clamped to [0, B); a degenerate lo = hi reference collapses to bin
    0, matching the batch twin's guard), then ONE stateful tumbling
    aggregation holds exactly B+1 longs per open window — per-bin
    conditional counts via sum(when(bin = i)) — and PSI is computed
    in-row on the emitted row from Laplace-smoothed (+0.5) terms, the
    reference side folded to literals at plan build. No second
    stateful operator, no stream-stream join, no per-event state.
    """
    nbins = len(ref_counts)
    ref_total = sum(ref_counts)
    # reference probabilities (and their logs) are plain python floats
    # folded into the plan — the broadcast-as-literal deployment shape
    p_ref = [
        (c + 0.5) / (ref_total + 0.5 * nbins) for c in ref_counts
    ]
    if ref_hi == ref_lo:
        bin_expr = F.lit(0)
    else:
        width = (ref_hi - ref_lo) / nbins
        bin_expr = F.least(
            F.greatest(
                F.floor((F.col(value_col) - F.lit(ref_lo)) / F.lit(width))
                .cast("long"),
                F.lit(0),
            ),
            F.lit(nbins - 1),
        )
    agg = (
        _event_time(sdf, ts_col)
        .filter(F.col(value_col).isNotNull())
        .withColumn("__bin", bin_expr)
        .withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(ts_col, window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.when(F.col("__bin") == i, 1).otherwise(0))
                .alias(f"c{i}")
                for i in range(nbins)
            ],
        )
    )
    denom = F.col("n") + 0.5 * nbins
    psi = F.lit(0.0)
    for i in range(nbins):
        q_i = (F.col(f"c{i}") + 0.5) / denom
        psi = psi + (F.lit(p_ref[i]) - q_i) * (
            F.lit(math.log(p_ref[i])) - F.log(q_i)
        )
    return agg.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        F.col("n").cast("bigint").alias("n"),
        F.round(psi, 6).alias("psi"),
    )


def stream_static_enrich(
    sdf: DataFrame,
    dim: DataFrame,
    key: str,
    dim_key: str,
    dim_cols: tuple[str, ...],
    how: str = "left",
) -> DataFrame:
    """Stream-static dimension enrichment: join each micro-batch of the
    stream against a STATIC dimension frame — the standard lookup step
    (user profile, catalog row, geo table) a streaming pipeline applies
    before aggregating.

    Spark handles stream-static joins natively and stateless-ly: the
    static side is planned per micro-batch, so a broadcast hint on a
    small dimension makes every batch a broadcast hash join — no
    shuffle of the stream, no state store, and the watermark (if any)
    passes through untouched. Re-reading the static plan per batch also
    means a dimension REFRESH (overwritten parquet) is picked up on the
    next batch without restarting the query — the poor-man's
    slowly-refreshing dimension. Inner and left joins are supported by
    Spark for stream-static; right/full (state-requiring) are not, and
    this helper rejects them up front.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"stream-static join supports inner/left, got {how!r}"
        )
    d = dim.select(
        F.col(dim_key).alias(key),
        *[F.col(c) for c in dim_cols],
    )
    return sdf.join(F.broadcast(d), key, how)


_SESSION_STATE_SCHEMA = (
    "start_us bigint, end_us bigint, n_events bigint"
)


_MG_STATE_SCHEMA = "vals array<string>, cnts array<long>, n bigint"


def stream_heavy_hitters(
    sdf: DataFrame,
    value_col: str = "user_id",
    ts_col: str = "ts",
    window: str = "1 hour",
    k: int = 16,
    n_shards: int = 8,
    watermark_delay: str = "1 minute",
) -> DataFrame:
    """Windowed streaming heavy hitters with BOUNDED state — the
    streaming face of ``operators.corpus.heavy_hitters``' Misra-Gries
    sketch (realtime trending-items / hot-key detection). A windowed
    ``groupBy(window, value).count()`` holds state proportional to the
    full value cardinality per open window; this holds ``k`` counters
    per (window, shard) regardless of cardinality.

    Mechanics: events route to (window_start, shard = hash(value) mod
    n_shards) groups — sharding keeps a hot window from funneling
    through one task AND preserves the MG superset guarantee, because
    every occurrence of a value lands in the SAME shard: a value with
    shard-local count > n_shard/(k+1) survives its shard's sketch.
    Each group's state is a weighted MG summary (batch rows are
    pre-counted vectorized, only the ≤distinct-per-batch merge touches
    Python — the corpus operator's fold). When the watermark passes
    the window end (event-time timeout) the sketch emits its
    candidates with the MG error contract — count_min ≤ true count ≤
    count_min + err_bound, err_bound = floor(n_shard/(k+1)) — and the
    state evicts, so memory is O(open windows × n_shards × k).

    Emitted candidates are a SUPERSET of the shard-heavy values; an
    exact count needs the batch verify pass (heavy_hitters) — the
    sketch-now/verify-later split every realtime trending pipeline
    makes. Window start emits as epoch microseconds (integer,
    timezone-proof), like the stateful sessionizer.
    """
    import pandas as pd  # noqa: F401 — executor-side
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    win_us = {
        "1 hour": 3_600_000_000,
    }.get(window)
    if win_us is None:
        # parse "N unit" for the simple grammar the engine's windows use
        num, unit = window.split()
        win_us = int(num) * {
            "second": 1_000_000, "seconds": 1_000_000,
            "minute": 60_000_000, "minutes": 60_000_000,
            "hour": 3_600_000_000, "hours": 3_600_000_000,
        }[unit]
    out_schema = T.StructType(
        [
            T.StructField("window_start_us", T.LongType()),
            T.StructField("shard", T.IntegerType()),
            T.StructField("value", T.StringType()),
            T.StructField("count_min", T.LongType()),
            T.StructField("err_bound", T.LongType()),
            T.StructField("n_shard", T.LongType()),
        ]
    )

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        wstart_us, shard = int(key[0]), int(key[1])
        if state.hasTimedOut:
            vals, cnts, n = state.get
            state.remove()
            err = n // (k + 1)
            yield pd.DataFrame(
                [
                    (wstart_us, shard, v, int(c), err, n)
                    for v, c in sorted(
                        zip(vals, cnts), key=lambda vc: (-vc[1], vc[0])
                    )
                ],
                columns=[
                    "window_start_us", "shard", "value", "count_min",
                    "err_bound", "n_shard",
                ],
            )
            return
        if state.exists:
            vals, cnts, n = state.get
            counters = dict(zip(vals, cnts))
        else:
            counters, n = {}, 0
        for pdf in pdfs:
            n += len(pdf)
            for val, w in pdf["__v"].value_counts().items():
                if val in counters:
                    counters[val] += int(w)
                elif len(counters) < k:
                    counters[val] = int(w)
                else:
                    m = min(int(w), min(counters.values()))
                    counters = {
                        t: c - m for t, c in counters.items() if c > m
                    }
                    if int(w) > m:
                        counters[val] = int(w) - m
        state.update(
            (list(counters), [int(c) for c in counters.values()], n)
        )
        # close when the watermark passes the window end (clamped a ms
        # ahead, as in stream_session_state — Spark rejects a timeout
        # at-or-behind the current watermark)
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(
            max((wstart_us + win_us) // 1000, wm_ms + 1)
        )
        yield pd.DataFrame(
            [],
            columns=[
                "window_start_us", "shard", "value", "count_min",
                "err_bound", "n_shard",
            ],
        )

    keyed = (
        _event_time(sdf, ts_col)
        .withWatermark(ts_col, watermark_delay)
        .select(
            ts_col,
            F.col(value_col).cast("string").alias("__v"),
            (
                F.unix_micros(F.window(ts_col, window).start)
            ).alias("__wstart_us"),
            F.pmod(F.xxhash64(F.col(value_col).cast("string")),
                   F.lit(n_shards)).cast("int").alias("__shard"),
        )
    )
    return keyed.groupBy("__wstart_us", "__shard").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=_MG_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_session_state(
    sdf: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    watermark_delay: str = "1 minute",
) -> DataFrame:
    """Custom EVENT-TIME stateful sessionizer via
    ``applyInPandasWithState``: emits one row per CLOSED session
    (key, session_start, session_end, n_events) — the
    "session ended" notification that ``session_window`` aggregation
    cannot give in update mode (it emits evolving partials, never a
    close event). The pattern behind realtime abandoned-cart /
    session-summary pipelines.

    Mechanics: per key, state holds the open session's
    (start, last_event, count) as epoch-microsecond longs. Each batch
    folds its (pre-sorted, vectorized pandas) events in: an event
    within ``gap_minutes`` of the last extends the session; a later
    one closes it (emitted) and opens a new one. The event-time
    timeout fires when the WATERMARK passes last_event + gap — the
    open session can then never be extended (late events are behind
    the watermark), so it closes and its state evicts; state is
    therefore bounded by keys-active-within-one-gap, not by history.

    Sessions still open when the stream pauses stay in state (they
    may yet be extended) — the batch-equivalence test accounts for
    each key's final session exactly this way. Timestamps emit as
    epoch microseconds (integer, timezone-proof); map to TIMESTAMP
    with ``timestamp_micros`` downstream.
    """
    import pandas as pd  # noqa: F401 — executor-side
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000
    out_schema = T.StructType(
        [
            sdf.schema[key_col],
            T.StructField("session_start_us", T.LongType()),
            T.StructField("session_end_us", T.LongType()),
            T.StructField("n_events", T.LongType()),
        ]
    )

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        closed: list[tuple[Any, int, int, int]] = []
        if state.hasTimedOut:
            # Watermark passed last_event + gap: no in-order event can
            # extend this session any more — close and evict.
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                [(key[0], start, last, n)],
                columns=[
                    key_col, "session_start_us", "session_end_us",
                    "n_events",
                ],
            )
            return
        start, last, n = (
            state.get if state.exists else (None, None, 0)
        )
        # Gather ALL chunks before sorting: one micro-batch may deliver
        # a key's rows as several Arrow chunks with no ordering between
        # them — folding chunk-by-chunk would record a wrong session
        # start when a later chunk holds earlier events.
        all_ts: list[int] = []
        for pdf in pdfs:
            all_ts.extend(
                int(t)
                for t in pd.to_datetime(pdf[ts_col])
                .astype("int64")
                .floordiv(1000)
            )
        for t in sorted(all_ts):
            if start is None:
                start, last, n = t, t, 1
            elif t - last <= gap_us:
                # A cross-batch late event (behind the stored session
                # start but inside the watermark) must pull the start
                # back too, or the emitted session_start diverges from
                # the batch sessionizer's — min() keeps the promised
                # batch-equivalence.
                start, last, n = min(start, t), max(last, t), n + 1
            else:
                closed.append((key[0], start, last, n))
                start, last, n = t, t, 1
        if start is not None:
            state.update((start, last, n))
            # Event-time timeout: fire once the watermark passes the
            # point after which this session could still be extended.
            # Spark rejects a timeout at-or-behind the current
            # watermark (the session was already un-extendable when
            # folded) — clamp one ms past it so the close fires on the
            # next watermark advance.
            wm_ms = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(
                max((last + gap_us) // 1000, wm_ms + 1)
            )
        yield pd.DataFrame(
            closed,
            columns=[
                key_col, "session_start_us", "session_end_us", "n_events",
            ],
        )

    return (
        _event_time(sdf, ts_col)
        .withWatermark(ts_col, watermark_delay)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
