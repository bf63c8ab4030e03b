"""Sink tests (SURVEY.md §2.1 S7–S12): SQLite overwrite parity, Excel
(or CSV-fallback) bounded export, partitioned parquet, and the
verification read-back."""

from __future__ import annotations

import os
import sqlite3

from pyspark.sql import functions as F

from etl_airbnb_mex_spark.sources.writers import (
    drop_id_columns,
    normalize_for_sink,
    write_excel_report,
    write_parquet_overwrite,
    write_sqlite,
    verify_sqlite_counts,
)
from etl_airbnb_mex_spark.tables import load_table


def test_sqlite_roundtrip_and_overwrite(spark, sf_dir, tmp_path):
    db = str(tmp_path / "dw.db")
    orders = load_table(spark, sf_dir, "orders")
    n = write_sqlite(orders, db, "raw_orders_transformado")
    assert n == orders.count()
    con = sqlite3.connect(db)
    try:
        rows = con.execute(
            "SELECT COUNT(*), COUNT(DISTINCT o_orderkey) "
            "FROM raw_orders_transformado"
        ).fetchone()
        assert rows == (n, n)
        # temporal columns arrive as ISO strings, never binary blobs
        sample = con.execute(
            "SELECT o_orderdate FROM raw_orders_transformado LIMIT 1"
        ).fetchone()[0]
        assert isinstance(sample, str) and sample[4] == "-"
    finally:
        con.close()
    # overwrite semantics: a second load replaces, not appends (S7)
    n2 = write_sqlite(orders.limit(10), db, "raw_orders_transformado")
    assert n2 == 10
    assert verify_sqlite_counts(db) == {"raw_orders_transformado": 10}


def test_excel_export_bounded(spark, sf_dir, tmp_path):
    path = str(tmp_path / "reporte.xlsx")
    summary = write_excel_report(
        load_table(spark, sf_dir, "orders"), path, max_rows=50
    )
    assert summary["total_registros"] == 50  # bounded export (S10)
    wrote_xlsx = os.path.exists(path)
    wrote_csv = os.path.exists(str(tmp_path / "reporte.csv"))
    assert wrote_xlsx or wrote_csv  # openpyxl or the CSV fallback


def test_partitioned_parquet_prunes(spark, sf_dir, tmp_path):
    """The 100 TB sink posture: partitionBy(year) → a year-filtered read
    shows partition pruning in the scan (PartitionFilters), not a full
    scan."""
    out = str(tmp_path / "orders_by_year")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "year", F.year("o_orderdate")
    )
    write_parquet_overwrite(orders, out, partition_by=("year",))
    years = [
        d for d in os.listdir(out) if d.startswith("year=")
    ]
    assert len(years) > 1
    back = spark.read.parquet(out).filter(F.col("year") == 1995)
    plan = back._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PartitionFilters: [isnotnull(year" in plan
    assert back.count() > 0


def test_normalize_and_drop_id(spark):
    df = spark.createDataFrame(
        [("a1", [1, 2], {"k": "v"}, 1)],
        "id string, arr array<int>, m map<string,string>, x int",
    ).withColumnRenamed("id", "_id")
    out = normalize_for_sink(drop_id_columns(df))
    assert "_id" not in out.columns
    dtypes = dict(out.dtypes)
    assert dtypes["arr"] == "string" and dtypes["m"] == "string"
    assert dtypes["x"] == "int"  # scalars keep their types (S9 refined)
