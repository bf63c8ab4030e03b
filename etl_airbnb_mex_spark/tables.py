"""Loaders for the driver test tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}/``.

Parquet is read lazily; Catalyst handles column pruning and predicate
pushdown into the scan, so callers should *not* pre-select columns here —
express the query and let the optimizer prune (verify with
``.explain('formatted')``: ReadSchema / PushedFilters).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import ensure_parity_conf

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: (sf_dir, table) -> inferred StructType. Without it, EVERY
#: spark.read.parquet fires a footer/schema-inference Spark job — a
#: q5-shaped 6-table query pays 6 scheduling round-trips per run
#: before any real work.
#: Schema is a catalog fact: infer it once per process per table, then
#: hand it to the reader so the job disappears. On a real deployment
#: the schema comes from the metastore/table format and this cache is
#: the moral equivalent, not an extra consistency risk — the cached
#: value IS the schema inference returned for that same path earlier
#: in the process (tests/test_readers.py pins cached == inferred for
#: every table, events' NANOS column included). The entry carries the
#: file's (mtime_ns, size) signature so an in-process regeneration of
#: the same path with a different schema re-infers instead of silently
#: reading NULLs through a stale user-supplied schema (the
#: wiped-.scaledata regen workflow rewrites files in place). The
#: dict is keyed by (sf_dir, name) with the signature stored in the
#: VALUE: a stale signature replaces its entry instead
#: of accreting a new key per regeneration, so long regen loops stay
#: bounded at one entry per table.
_SCHEMA_CACHE: dict[tuple[str, str], tuple[tuple, "object"]] = {}


def _schema_sig(sf_dir: str, name: str) -> tuple:
    try:
        st = os.stat(table_path(sf_dir, name))
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        # Non-local fs (object-store URI): no driver-side stat; those
        # paths are immutable deployments — a constant sig always hits.
        return ("immutable",)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table. Applies parity conf (UTC, ANSI off) so every
    query entered through here runs under oracle-identical semantics.

    ``events.ts`` is physically TIMESTAMP(NANOS) parquet, which Spark's
    reader rejects; with ``nanosAsLong`` it arrives as a nanos-since-epoch
    long and is converted to a microsecond timestamp here (truncation,
    matching DuckDB's ns→µs read of the same file)."""
    ensure_parity_conf(spark)
    sig = _schema_sig(sf_dir, name)
    cached = _SCHEMA_CACHE.get((sf_dir, name))
    if cached is not None and cached[0] == sig:
        df = spark.read.schema(cached[1]).parquet(table_path(sf_dir, name))
    else:
        df = spark.read.parquet(table_path(sf_dir, name))
        _SCHEMA_CACHE[(sf_dir, name)] = (sig, df.schema)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


#: Tables whose row count is fixed by the data spec at EVERY scale
#: factor (TPC-H 4.2.3: nation = 25, region = 5) — the only tables
#: eligible for a driver-side read.
_SPEC_BOUNDED_DIMS = frozenset({"nation", "region"})


def read_dim_driver_side(
    spark: SparkSession, sf_dir: str, name: str, cols: list[str]
) -> list[dict]:
    """Read a spec-bounded dimension table on the DRIVER, as plain
    rows — zero Spark jobs.

    nation/region are catalog-style constants (25/5 rows at any SF);
    queries that only need them to derive literal filters/maps (q5's
    region→nation prune) would otherwise pay two scheduled Spark jobs
    per run for what is a metadata lookup. pyarrow reads the footer + one tiny
    row group in microseconds; if the path is not driver-readable
    (object-store URI on a real deployment without local pyarrow fs
    support) it degrades to the Spark collect it replaces. Only
    ``_SPEC_BOUNDED_DIMS`` are accepted — everything else scales with
    SF and must stay on the cluster read path.
    """
    if name not in _SPEC_BOUNDED_DIMS:
        raise ValueError(
            f"{name!r} is not a spec-bounded dim (allowed: "
            f"{sorted(_SPEC_BOUNDED_DIMS)}); SF-scaled tables must not "
            "be read driver-side"
        )
    try:
        import pyarrow.parquet as pq

        t = pq.read_table(table_path(sf_dir, name), columns=cols)
        cols_data = [t.column(c).to_pylist() for c in cols]
        return [dict(zip(cols, vals)) for vals in zip(*cols_data)]
    except (OSError, ImportError, ValueError):
        return [
            r.asDict()
            for r in load_table(spark, sf_dir, name).select(*cols).collect()
        ]


def parallelize_scan(
    df: DataFrame, spark: SparkSession, cap: int | None = None
) -> DataFrame:
    """Widen an under-split scan before CPU-heavy in-row fan-out.

    Spark sizes scan partitions by BYTES (``maxPartitionBytes``), which
    wildly underestimates the work downstream of a compressed text
    column feeding an explode (a 6 MB zstd documents file is ~50× that
    in trigram rows) — a handful of splits serializes the whole corpus
    pass on a 32-core executor. When the scan yields fewer partitions
    than the session's shuffle width, repartition up: the one-time
    byte shuffle is linear in input size while the CPU it unblocks is
    the len×fan-out multiple. At real multi-TB scale the input arrives
    as thousands of splits and this is a no-op — the guard exists for
    the small-file/compressed-text regime, the same reason production
    pipelines repartition after reading gzip shards.

    ``cap`` bounds the widening below the full shuffle width. Round-robin repartition destroys key locality
    for any downstream partial aggregation — EVERY task then builds a
    hash map over (nearly) the full key space, so at full width the
    executor CPU of an agg-dominated pass inflates with the task count
    (minimal repro at sf0.1: the bigram explode+agg costs 0.67 s CPU
    direct, 0.87 s at width 8, 6.5 s at width 32). Passes whose
    per-row compute dominates (minhash signatures, LSH banding, regex
    scrubbing) want the full width; agg-dominated token-stat passes
    want a small multiple of the split count — measured best at 8 for
    tfidf_topk (interleaved A/B at sf0.1)."""
    target = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if cap is not None:
        target = min(target, cap)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every available test table as a dict (the engine's 'named
    table set' — the Spark analogue of the reference's dict[str,
    pd.DataFrame] pipeline state, src/main.py:22-24)."""
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        path = table_path(sf_dir, name)
        if os.path.exists(path):
            out[name] = load_table(spark, sf_dir, name)
    return out


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views for spark.sql(...) queries."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def catalog_tables(spark: SparkSession) -> list[str]:
    """S3 — catalog listing / existence check
    (db.list_collection_names() / sqlite_master analogue,
    src/extraccion.py:79,116, src/carga.py:103)."""
    return sorted(t.name for t in spark.catalog.listTables())


def table_exists(spark: SparkSession, name: str) -> bool:
    """S3 — membership probe before reading a collection."""
    return spark.catalog.tableExists(name)
