"""SparkSession factory and parity configuration.

The reference runs a single-threaded pandas process (see SURVEY.md §4.2);
this engine runs on Spark and must behave identically whether the session
is built here (tests, bench) or handed to us by the driver. Two kinds of
config are therefore split:

* build-time conf (master, AQE, memory) — applied in :func:`get_spark`;
* runtime parity conf (timezone, ANSI) — applied in
  :func:`ensure_parity_conf` which is safe to call on *any* live session
  and is invoked by the table loader so every oracle-checked query runs
  under identical semantics.

Scale posture: AQE on (partition coalescing + skew-join for the 45.9 %
hot-key case recorded in the reference, SURVEY.md §4.3), broadcast joins
for dimension tables, shuffle partitions sized to the local core count
here and expected to be overridden (or AQE-coalesced) on a real cluster.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

log = logging.getLogger("etl_airbnb_mex_spark")

#: Runtime SQL confs required for oracle parity (DuckDB / pandas semantics).
PARITY_CONF: dict[str, str] = {
    # Format/collect timestamps in UTC so date_format output matches the
    # naive timestamps DuckDB reads from the same parquet files.
    "spark.sql.session.timeZone": "UTC",
    # ANSI off: cast('junk' as double) -> NULL, matching pandas
    # to_numeric(errors='coerce') (SURVEY.md §7.4.11). Spark 4 defaults on.
    "spark.sql.ansi.enabled": "false",
    # en-US locale month names ('MMMM' -> 'January'), matching DuckDB
    # monthname() and pandas dt.month_name() defaults (SURVEY.md §7.4.9).
    "spark.sql.legacy.timeParserPolicy": "CORRECTED",
    # events.parquet stores TIMESTAMP(NANOS) which the vectorized reader
    # rejects; read as raw nanos-long and convert in the loader.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

#: ``spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold``: the
#: :func:`shj_local_map_threshold` bound for an 8g heap and 32 slots,
#: rounded down to a power of two (reasoning at its use in get_spark).
#: Fewer slots only raise the bound, so it holds on any smaller box.
SHJ_LOCAL_MAP_THRESHOLD = 16 * 1024 * 1024

#: ``spark.sql.files.maxPartitionBytes`` (reasoning at its use in
#: get_spark).
MAX_PARTITION_BYTES = 16 * 1024 * 1024


def shj_local_map_threshold(
    heap_bytes: int,
    slots: int,
    execution_fraction: float = 0.6,
    hashmap_expansion: float = 6.0,
) -> int:
    """Safe ``spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold``
    for a given executor shape — the bound that keeps concurrent
    shuffled-hash-join builds inside the execution pool (session conf
    below). A build side above the threshold stays a sort-merge join,
    which spills instead of holding an unspillable hash map:

        threshold = heap · execution_fraction / slots / expansion

    The AQE gate compares COMPRESSED shuffle bytes per partition, but
    the in-memory LongToUnsafeRowMap is ``hashmap_expansion`` (~4–6×)
    that size, SHJ build sides CANNOT spill, and every task slot may
    build concurrently — so the bound must divide the unified-memory
    execution pool (``heap · spark.memory.fraction``) across ALL slots
    and the expansion, not just check one partition. At the local
    shape (8g heap, 32 slots, 0.6, 6×) the bound is ~25.6 MiB; the
    shipped conf rounds DOWN to the next power of two (16 MiB) for
    margin against the expansion factor's 4–6× uncertainty — the
    value measured to keep q5/q9's SHJ win through sf8 while q21's
    oversized build sides fall back to SMJ (sorts, never OOMs) from
    sf24 up. The unit test pins both facts (exact synthetic triples +
    shipped conf ≤ bound) so the formula and the conf cannot silently
    drift apart. On a real cluster: heap = executor memory, slots =
    executor cores.
    """
    if heap_bytes <= 0 or slots <= 0:
        raise ValueError("heap_bytes and slots must be positive")
    if not (0.0 < execution_fraction <= 1.0) or hashmap_expansion < 1.0:
        raise ValueError(
            "execution_fraction in (0, 1], hashmap_expansion >= 1"
        )
    return int(heap_bytes * execution_fraction / slots / hashmap_expansion)


def ensure_parity_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime parity confs to an existing session (idempotent).

    A conf that cannot be set is logged as a warning naming the key; it
    is harmless only if the session already holds the parity value (a
    static conf set at build time, say). If the value read back differs
    from the parity value, queries would give different answers, so
    this raises instead of running on.
    """
    for key, value in PARITY_CONF.items():
        try:
            spark.conf.set(key, value)
        except Exception as exc:
            log.warning("parity conf %s=%s not set: %s", key, value, exc)
        actual = spark.conf.get(key, None)
        if actual != value:
            raise RuntimeError(
                f"parity conf {key} is {actual!r}, expected {value!r}"
            )
    return spark


def get_spark(
    app_name: str = "etl-airbnb-mex-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Local dev/test runs ``local[$SPARK_GRAFT_CPUS]``, by default as many
    threads as the CPUs this process may run on; on a real cluster the
    master comes from spark-submit and this factory only contributes
    conf. ``extra_conf`` overrides any conf set here.
    """
    cpus = int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Static broadcast threshold uses COMPRESSED file-size estimates:
        # at 64 MiB the sf1 orders table (23 MB parquet, 1.5M rows,
        # ~10x that in-memory) broadcast — a single-threaded driver
        # hash-table build that made TPC-H q5 SLOWER at sf1 (5.1 s)
        # than at sf2 (2.4 s, where it tipped to SortMergeJoin). 16 MiB
        # keeps every real dimension (nation/region/supplier/customer
        # ≤ 2 MB) on the broadcast path and leaves fact-fact joins to
        # AQE, which re-plans with ACTUAL shuffle sizes at runtime.
        .config("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
        # Let AQE demote SortMergeJoin to ShuffledHashJoin when RUNTIME
        # stats show every build-side partition fits a small local hash
        # map (default 0 disables the rewrite entirely). Without it
        # q5's orderkey join plans SMJ and sorts the full 24M-row
        # lineitem shuffle at sf4 — measured 7.1 → 3.2 s (q9 3.3 →
        # 2.8 s; q1/q21 unchanged) with the conversion on. Invariant:
        # the threshold is CONCURRENCY-aware, not just per-partition.
        # The gate compares COMPRESSED shuffle bytes, the in-memory
        # LongToUnsafeRowMap is ~4-6× that, SHJ build sides CANNOT
        # spill, and all 32 slots build at once — a 64 MiB setting
        # passes the gate at sf24 (orders build side ≈ 18 MiB
        # compressed/partition) and dies in
        # cannotAcquireMemoryToBuildLongHashedRelation: 32 × ~100 MB
        # maps ≈ the whole 8g-heap execution pool. Safe bound =
        # executionPool / slots / expansion ≈ (0.6·8g)/32/6 ≈ 16 MiB;
        # partitions above it (q21's orders side from sf24 up) stay
        # SMJ, which sorts but never OOMs, while q5/q9's post-filter
        # build sides (≤ 8 MiB/partition through sf8) keep the SHJ
        # win. The bound is :func:`shj_local_map_threshold` (unit-
        # tested so the formula can't rot); 16 MiB = the local-shape
        # bound rounded down to a power of two. On a real cluster
        # recompute via shj_local_map_threshold(executor_mem, cores)
        # and pass it through extra_conf or spark-submit.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(SHJ_LOCAL_MAP_THRESHOLD),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Scan-split size. The 128 MiB default assumes the multi-file
        # layout a production table actually has; the local test tables
        # are ONE compressed parquet file each (sf1 lineitem = 110 MB,
        # 6×1M-row row groups), so at 128 MiB the whole fact scan is a
        # single task while DuckDB reads row groups on 32 threads — a
        # join-suite probe measured q1 at 28× DuckDB purely on that
        # parallelism floor. 16 MiB splits along row-group boundaries
        # restore the parallelism the same data would have as a real
        # multi-file table; AQE coalesces the extra post-shuffle
        # partitions, and openCostInBytes keeps tiny dims at one task.
        # On a real 100 TB cluster, set 128m+ via spark-submit (inputs
        # arrive as thousands of files; this knob stops mattering).
        .config("spark.sql.files.maxPartitionBytes", str(MAX_PARTITION_BYTES))
        # Catalog warehouse: the in-memory catalog makes its default-
        # database directory here the first time the catalog is touched
        # (``spark.catalog.listTables()``); without this conf that is
        # ./spark-warehouse in the caller's working directory.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"
            ),
        )
        .config("spark.ui.enabled", "false")
    )
    for key, value in PARITY_CONF.items():
        builder = builder.config(key, value)
    if extra_conf:
        for key, value in extra_conf.items():
            builder = builder.config(key, value)
    spark = builder.getOrCreate()
    return ensure_parity_conf(spark)
