"""Sinks (SURVEY.md §2.1 S7–S12).

The reference loads into SQLite with overwrite semantics plus two Excel
workbooks and a JSON run report (src/carga.py, src/main.py:175-222). The
engine's primary sink is partitioned Parquet (the 100 TB path); Excel and
JSON reports are driver-side conveniences for *small* results only and
are explicitly bounded.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def drop_id_columns(df: DataFrame, cols: tuple[str, ...] = ("_id",)) -> DataFrame:
    """S8 — pre-write projection: drop opaque source ids (the reference
    drops Mongo's _id for SQLite compatibility, src/carga.py:34-38;
    evidence log:108,110: 110→109 and 18→17 columns)."""
    return df.drop(*[c for c in cols if c in df.columns])


def normalize_for_sink(df: DataFrame) -> DataFrame:
    """S9 — cast normalization before a weakly-typed sink: the reference
    stringifies every object column (src/carga.py:41-47). With real Spark
    types this reduces to stringifying complex types (arrays/structs/maps)
    that flat sinks can't hold; scalar columns keep their types."""
    exprs = []
    for field in df.schema.fields:
        if field.dataType.typeName() in ("array", "struct", "map"):
            exprs.append(F.to_json(F.col(field.name)).alias(field.name))
        else:
            exprs.append(F.col(field.name))
    return df.select(*exprs)


def write_parquet_overwrite(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
) -> None:
    """S7 — relational sink with overwrite semantics
    (to_sql if_exists='replace' analogue, src/carga.py:50-51).
    ``partition_by`` (e.g. year, month) is the 100 TB posture: partition
    pruning for readers, parallel writers, no single-file bottleneck."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_clustered_parquet(
    df: DataFrame,
    path: str,
    cluster_by: tuple[str, ...],
    num_files: int | None = None,
) -> None:
    """Range-cluster rows across files so parquet min/max footer stats
    (zone maps) actually prune: ``repartitionByRange`` on the cluster
    key(s) makes file value-ranges disjoint, ``sortWithinPartitions``
    tightens row-group stats inside each file. A point/range filter on
    the leading cluster key then skips every non-overlapping file at
    PLANNING time (parquet row-group/file skipping) — the 100 TB layout
    decision that turns a full scan into a touch of a few files.
    Unlike ``partitionBy`` (one DIRECTORY per value — wrong for
    high-cardinality numeric keys), clustering keeps file count fixed
    and bounded.

    ``num_files`` defaults to the session's shuffle parallelism.
    """
    if num_files is None:
        num_files = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    cols = [F.col(c) for c in cluster_by]
    (
        df.repartitionByRange(num_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_excel_report(
    df: DataFrame, path: str, max_rows: int = 100_000
) -> dict[str, Any]:
    """S10 — two-sheet Excel workbook: Datos (data) + Resumen (rows/cols/
    timestamp), mirroring src/carga.py:62-93. Excel is inherently a
    small-result sink — the export is capped at ``max_rows`` collected to
    the driver (the reference spent 96.5 s / 71 % of its wall clock here,
    log:113-115; at scale use Parquet and export only aggregates).

    Returns the summary dict. Falls back to CSV + JSON summary when no
    Excel writer (openpyxl) is installed.
    """
    pdf = df.limit(max_rows).toPandas()
    summary = {
        "total_registros": int(len(pdf)),
        "total_columnas": int(len(pdf.columns)),
        "fecha_generacion": datetime.now(timezone.utc).isoformat(),
    }
    try:
        import pandas as pd

        with pd.ExcelWriter(path) as xw:
            pdf.to_excel(xw, sheet_name="Datos", index=False)
            pd.DataFrame([summary]).to_excel(
                xw, sheet_name="Resumen", index=False
            )
    except (ImportError, ValueError, ModuleNotFoundError):
        base, _ = os.path.splitext(path)
        pdf.to_csv(base + ".csv", index=False)
        with open(base + "_resumen.json", "w") as fh:
            json.dump(summary, fh)
    return summary


def write_sqlite(
    df: DataFrame,
    db_path: str,
    table: str,
    max_rows: int = 1_000_000,
    batch_size: int = 10_000,
) -> int:
    """S7 exact-parity sink: SQLite with overwrite semantics
    (``to_sql(if_exists='replace')``, src/carga.py:50-51).

    SQLite is a single-file, single-writer store — inherently a
    driver-side, small-result sink (no cluster JDBC parallelism to win);
    rows stream to the driver via ``toLocalIterator`` in Arrow-sized
    batches so at most one partition is in driver memory, and the export
    is capped at ``max_rows``. The 100 TB path is
    :func:`write_parquet_overwrite`; this exists for drop-in
    compatibility with the reference's warehouse consumers.

    Returns the number of rows written.
    """
    import sqlite3

    flat = normalize_for_sink(df.limit(max_rows))
    # SQLite has no temporal affinity; ship ISO strings (the reference
    # stores normalized date *strings* too, F15).
    flat = flat.select(
        *[
            F.col(f.name).cast("string").alias(f.name)
            if f.dataType.typeName() in ("timestamp", "timestamp_ntz", "date")
            else F.col(f.name)
            for f in flat.schema.fields
        ]
    )
    cols = flat.columns
    placeholders = ",".join("?" for _ in cols)
    col_list = ",".join(f'"{c}"' for c in cols)
    con = sqlite3.connect(db_path)
    try:
        con.execute(f'DROP TABLE IF EXISTS "{table}"')
        con.execute(
            f'CREATE TABLE "{table}" ({", ".join(chr(34) + c + chr(34) for c in cols)})'
        )
        written = 0
        batch: list[tuple] = []
        for row in flat.toLocalIterator():
            batch.append(tuple(row))
            if len(batch) >= batch_size:
                con.executemany(
                    f'INSERT INTO "{table}" ({col_list}) VALUES ({placeholders})',
                    batch,
                )
                written += len(batch)
                batch = []
        if batch:
            con.executemany(
                f'INSERT INTO "{table}" ({col_list}) VALUES ({placeholders})',
                batch,
            )
            written += len(batch)
        con.commit()
        return written
    finally:
        con.close()


def verify_sqlite_counts(db_path: str) -> dict[str, int]:
    """S11 — post-load verification: COUNT(*) for every table in
    sqlite_master (src/carga.py:95-121)."""
    import sqlite3

    con = sqlite3.connect(db_path)
    try:
        tables = [
            r[0]
            for r in con.execute(
                "SELECT name FROM sqlite_master WHERE type='table'"
            )
        ]
        return {
            t: con.execute(f'SELECT COUNT(*) FROM "{t}"').fetchone()[0]
            for t in tables
        }
    finally:
        con.close()


def write_json_report(report: dict[str, Any], path: str) -> None:
    """S12 — JSON run-report sink (src/main.py:204-208): driver-side
    metadata + per-table metric aggregates collected from DataFrame
    counts, never row data."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as fh:
        json.dump(report, fh, indent=2, default=str)


def zorder_key(
    x: Column,
    y: Column,
    x_min: float,
    x_max: float,
    y_min: float,
    y_max: float,
    bits: int = 16,
) -> Column:
    """Z-order (Morton) curve key for two numeric columns: quantize
    each to ``bits`` bits over its [min, max] range, then interleave
    the bits — points close on the curve are close in BOTH dimensions,
    which is what lets one sort order serve filters on either key.
    Pure integer Column arithmetic (shifts/masks), whole-stage codegen.
    """
    def quant(c: Column, lo: float, hi: float) -> Column:
        span = (hi - lo) or 1.0
        q = F.floor(
            (c.cast("double") - F.lit(lo)) / F.lit(span)
            * F.lit(float(2 ** bits - 1))
        ).cast("long")
        return F.least(F.lit(2 ** bits - 1), F.greatest(F.lit(0), q))

    qx, qy = quant(x, x_min, x_max), quant(y, y_min, y_max)
    parts = []
    for i in range(bits):
        parts.append(F.shiftleft(F.shiftright(qx, i).bitwiseAND(1), 2 * i))
        parts.append(
            F.shiftleft(F.shiftright(qy, i).bitwiseAND(1), 2 * i + 1)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out + p
    return out


def write_zordered_parquet(
    df: DataFrame,
    path: str,
    zorder_by: tuple[str, str],
    num_files: int | None = None,
    bits: int = 16,
) -> None:
    """Multi-dimensional clustering: range-cluster files along the
    Z-ORDER curve of two keys so parquet zone maps prune point/range
    filters on EITHER key — what ``write_clustered_parquet`` (1-D
    range clustering) cannot give: sorting by x makes y's per-file
    ranges full-width, so any y filter scans every file. Along the
    Morton curve each file covers a compact 2-D tile, so both
    dimensions' per-file ranges stay narrow (a point filter touches
    O(√n_files) tiles instead of all of them). This is the layout
    behind Delta/Iceberg OPTIMIZE ZORDER BY, expressed as plain
    repartitionByRange + sort.

    The quantization ranges come from ONE min/max aggregate (4 scalars
    — metadata, same discipline as the centroid literals). Write-side
    utility: eager by nature.
    """
    xc, yc = zorder_by
    lim = df.agg(
        F.min(F.col(xc).cast("double")),
        F.max(F.col(xc).cast("double")),
        F.min(F.col(yc).cast("double")),
        F.max(F.col(yc).cast("double")),
    ).collect()[0]
    zk = zorder_key(
        F.col(xc), F.col(yc), lim[0], lim[1], lim[2], lim[3], bits
    )
    if num_files is None:
        num_files = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    (
        df.withColumn("__zk", zk)
        .repartitionByRange(num_files, F.col("__zk"))
        .sortWithinPartitions("__zk")
        .drop("__zk")
        .write.mode("overwrite")
        .parquet(path)
    )


def _walk_parquet_files(root: str) -> list[str]:
    """All ``*.parquet`` files under ``root``, recursively — partitioned
    datasets nest files under ``key=value/`` directories, so a flat
    top-level glob sees nothing there."""
    import os

    out: list[str] = []
    for dirpath, _dirnames, filenames in os.walk(root):
        out.extend(
            os.path.join(dirpath, f)
            for f in filenames
            if f.endswith(".parquet")
        )
    return out


def dataset_manifest(spark, path: str) -> DataFrame:
    """File-level manifest of a parquet dataset: one row per file with
    row count and byte size — the bookkeeping view behind compaction
    decisions and scan-cost estimates (what a table format's metadata
    layer maintains; computed here from the data for plain parquet
    directories).

    Plan: one scan grouped by ``input_file_name`` (file-keyed hash
    agg); sizes come from the filesystem listing (driver-side, one
    entry per file — metadata scale by definition). The listing walks
    RECURSIVELY so partitioned/nested layouts report real byte sizes
    (a flat glob would report n_bytes=0 for them);
    spark part-file basenames embed a UUID, so basename keys are
    collision-free across partition directories.
    """
    import os

    sizes = {
        os.path.basename(p): os.path.getsize(p)
        for p in _walk_parquet_files(path)
    }
    rows = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("file_uri"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .collect()
    )
    out = [
        (
            os.path.basename(r["file_uri"].split("://")[-1]),
            int(r["n_rows"]),
            int(sizes.get(
                os.path.basename(r["file_uri"].split("://")[-1]), 0
            )),
        )
        for r in rows
    ]
    return spark.createDataFrame(
        out, "file string, n_rows bigint, n_bytes bigint"
    )


def compact_parquet(
    spark,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a fragmented parquet directory
    into ceil(total_bytes / target) files — the maintenance op that
    keeps scan task counts sane after many small incremental writes
    (thousands of KB-files make a 100 TB scan schedule millions of
    no-op tasks; 128 MiB files match maxPartitionBytes so one task
    reads one file).

    Uses ``coalesce`` (narrow — no shuffle: existing partitions are
    glued, which is exactly right for compaction) rather than
    ``repartition``. Returns the output file count. Layout-preserving
    compaction of a CLUSTERED dataset should re-run
    write_clustered_parquet instead — coalesce keeps row order only
    within glued groups.
    """
    import math
    import os

    total = sum(
        os.path.getsize(p) for p in _walk_parquet_files(src_path)
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    (
        spark.read.parquet(src_path)
        .coalesce(n_files)
        .write.mode("overwrite")
        .parquet(dst_path)
    )
    return len(_walk_parquet_files(dst_path))
