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

from pyspark.sql import DataFrame
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

