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


def test_clustered_write_produces_disjoint_zone_maps(spark, sf_dir, tmp_path):
    """After range-clustering on o_custkey, per-file [min,max] key ranges
    must be (near-)disjoint — the property parquet zone-map skipping
    needs. An unclustered write of the same data has massively
    overlapping ranges; we assert the clustered total overlap is at
    least 10x smaller, and that a point filter's matching files shrink
    to 1-2."""
    from etl_airbnb_mex_spark.sources.writers import write_clustered_parquet

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    clustered = str(tmp_path / "clustered")
    plain = str(tmp_path / "plain")
    write_clustered_parquet(o, clustered, ("o_custkey",), num_files=8)
    o.repartition(8).write.mode("overwrite").parquet(plain)

    def ranges(path):
        return (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg(F.min("o_custkey").alias("lo"), F.max("o_custkey").alias("hi"))
            .collect()
        )

    def total_overlap(rs):
        tot = 0
        for i, a in enumerate(rs):
            for b in rs[i + 1:]:
                tot += max(0, min(a["hi"], b["hi"]) - max(a["lo"], b["lo"]))
        return tot

    rc, rp = ranges(clustered), ranges(plain)
    assert len(rc) >= 4
    assert total_overlap(rc) * 10 <= total_overlap(rp), (
        total_overlap(rc), total_overlap(rp)
    )
    # a point lookup overlaps at most 2 clustered files (range boundary)
    probe = rc[len(rc) // 2]
    key = (probe["lo"] + probe["hi"]) // 2
    matching = [r for r in rc if r["lo"] <= key <= r["hi"]]
    assert len(matching) <= 2, matching


def test_zordered_write_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """Z-order clustering must keep BOTH keys' per-file ranges narrow:
    a point filter on either dimension matches a strict subset of
    files, while 1-D range clustering on x leaves y unprunable (every
    file matches any y probe)."""
    from etl_airbnb_mex_spark.sources.writers import (
        write_clustered_parquet,
        write_zordered_parquet,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    zpath, xpath = str(tmp_path / "z"), str(tmp_path / "x")
    write_zordered_parquet(o, zpath, ("o_custkey", "o_totalprice"),
                           num_files=16)
    write_clustered_parquet(o, xpath, ("o_custkey",), num_files=16)

    def ranges(path, col):
        return (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
            .collect()
        )

    def matching(rs, key):
        return sum(1 for r in rs if r["lo"] <= key <= r["hi"])

    # mid-domain probes
    med = o.agg(
        F.expr("percentile(o_custkey, 0.5)"),
        F.expr("percentile(o_totalprice, 0.5)"),
    ).collect()[0]
    ckey, pkey = med[0], med[1]

    zc, zp = ranges(zpath, "o_custkey"), ranges(zpath, "o_totalprice")
    xc, xp = ranges(xpath, "o_custkey"), ranges(xpath, "o_totalprice")
    n = len(zc)
    assert n >= 8
    # 1-D layout: x prunes hard (<=2 files), y not at all (all files)
    assert matching(xc, ckey) <= 2
    assert matching(xp, pkey) >= n - 1
    # z-order: BOTH dimensions prune to a strict subset
    assert matching(zc, ckey) <= n * 3 // 4
    assert matching(zp, pkey) <= n * 3 // 4
    # and the x-dimension pruning is not catastrophically worse than 1-D
    assert matching(zc, ckey) < n


def test_compaction_and_manifest(spark, sf_dir, tmp_path):
    """A fragmented write compacts to the computed file count without
    losing rows; the manifest reports per-file rows and bytes."""
    from etl_airbnb_mex_spark.sources.writers import (
        compact_parquet,
        dataset_manifest,
    )

    o = load_table(spark, sf_dir, "orders")
    frag = str(tmp_path / "frag")
    o.repartition(64).write.parquet(frag)  # 64 tiny files
    man = dataset_manifest(spark, frag)
    assert man.count() == 64
    total_rows = man.agg(F.sum("n_rows")).collect()[0][0]
    assert total_rows == o.count()
    assert man.where(F.col("n_bytes") <= 0).count() == 0

    compacted = str(tmp_path / "compact")
    n = compact_parquet(spark, frag, compacted,
                        target_file_bytes=1 << 30)  # everything fits one
    assert n == 1
    assert spark.read.parquet(compacted).count() == total_rows
