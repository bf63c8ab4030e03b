"""End-to-end E-T-L orchestration (SURVEY.md §3.1 redesigned).

The reference runs eager sequential phases through an ETLManager
(src/main.py:224-263) holding every table in driver RAM between phases.
Here each table is ONE lazy plan — scan → transform expressions → write —
so Spark pipelines extract+transform+load per partition with no
whole-table materialization. The write's plan counts the extracted and
the transformed rows in flight (``Observation``s), and the S11 re-read
counts what was persisted: two Spark actions per input table. The driver
only ever holds those counts for the run report (S12).
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import read_table_set
from ..sources.writers import (
    drop_id_columns,
    normalize_for_sink,
    write_json_report,
    write_parquet_overwrite,
)
from .transforms import TRANSFORMS


def run_pipeline(
    spark: SparkSession,
    input_paths: dict[str, str],
    output_dir: str,
    fmt: str = "parquet",
    report_path: str | None = None,
    limit: int | None = None,
    partition_spec: dict[str, tuple[str, ...]] | None = None,
) -> dict[str, Any]:
    """Extract → transform → load → verify → report, one lazy plan per
    table. Returns the run report dict (S12 shape: per-table extracted /
    transformed / loaded counts + timings, src/main.py:175-222).

    Each input table fires exactly two Spark actions: the parquet write,
    which also yields ``extraidos`` (rows after the ``limit`` cap) and
    ``transformados`` (rows entering the sink) from observations on its
    plan, and the S11 re-read of the written files, which gives
    ``cargados``. ``report["acciones"]`` holds one row per action. A
    table with no input path is recorded as 0/0/0 without a Spark job;
    an input with no rows is still written.
    """
    unknown_parts = sorted(set(partition_spec or {}) - set(input_paths))
    if unknown_parts:
        # Same fail-loudly contract as the CLI's entradas validation: a
        # typo here would silently skip the 100 TB partitioning posture.
        raise ValueError(
            f"partition_spec names unknown tables {unknown_parts}; "
            f"inputs are {sorted(input_paths)}"
        )
    if limit is not None and limit < 1:
        # A cap below one is bad input, not a 0-row run; Spark would also
        # optimize the observed scan away.
        raise ValueError(f"limit must be at least 1, got {limit}")
    started = time.perf_counter()
    actions: list[dict[str, Any]] = []
    report: dict[str, Any] = {
        "fecha_inicio": datetime.now(timezone.utc).isoformat(),
        "tablas": {},
    }

    rows = F.count(F.lit(1)).alias("filas")
    tables = read_table_set(spark, input_paths, fmt=fmt)
    for name, raw in tables.items():
        if name not in input_paths:
            # Missing collection: recorded, not fatal (the reference's
            # calendar case, log:31 / report:36).
            report["tablas"][name] = {
                "extraidos": 0, "transformados": 0, "cargados": 0,
                "segundos": 0.0,
            }
            continue
        t0 = time.perf_counter()
        if limit is not None:
            # S1/O3 — the reference's --limite extraction cap
            # (find().limit(n)); Catalyst pushes the LocalLimit to the
            # scan, so capped runs never read the full source.
            raw = raw.limit(limit)
        extracted, transformed = Observation(), Observation()
        sink_df = normalize_for_sink(
            drop_id_columns(_transform(name, raw.observe(extracted, rows)))
        )
        out_path = os.path.join(output_dir, f"raw_{name}_transformado")
        # 100 TB sink posture: partitioned writes (e.g. reviews by año)
        # give readers partition pruning and writers full parallelism.
        partitions = (partition_spec or {}).get(name, ())
        start = time.perf_counter()
        write_parquet_overwrite(
            sink_df.observe(transformed, rows), out_path,
            partition_by=partitions,
        )
        n_transformed = transformed.get["filas"]
        actions.append(_action(f"carga_{name}", start, n_transformed))
        # S11 verification: count what was actually persisted.
        start = time.perf_counter()
        loaded = spark.read.parquet(out_path).count()
        actions.append(_action(f"verificacion_{name}", start, loaded))
        report["tablas"][name] = {
            "extraidos": extracted.get["filas"],
            "transformados": n_transformed,
            "cargados": loaded,
            "columnas": len(sink_df.columns),
            "ruta": out_path,
            "segundos": round(time.perf_counter() - t0, 3),
        }

    report["total_registros"] = sum(
        t["cargados"] for t in report["tablas"].values()
    )
    report["acciones"] = actions
    report["segundos_totales"] = round(time.perf_counter() - started, 3)
    report["fecha_fin"] = datetime.now(timezone.utc).isoformat()
    if report_path:
        write_json_report(report, report_path)
    return report


def _action(name: str, start: float, rows: int) -> dict[str, Any]:
    """One ``acciones`` row: a Spark action's wall clock and row count."""
    return {
        "accion": name,
        "duracion_ms": round((time.perf_counter() - start) * 1e3, 3),
        "filas": rows,
    }


def _transform(name: str, df: DataFrame) -> DataFrame:
    fn = TRANSFORMS.get(name)
    return fn(df) if fn else df
