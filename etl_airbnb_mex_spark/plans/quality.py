"""Data-quality reporting (SURVEY.md §2.5 A9/A10; transform step 10).

Reference: ``generar_reporte_calidad`` (src/transformacion.py:424-436)
prints per-column null counts/completeness; the notebook repeats it at
nb:cell6. Here it is ONE aggregation pass regardless of column count —
at 100 TB this is the difference between one scan and |cols| scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.stats import null_profile


def quality_report(df: DataFrame, top: int | None = None) -> DataFrame:
    """Per-column (null_count, completeness_pct) rows, worst first.
    ``top`` mirrors the reference's top-10 screen (nb:cell6:16-20)."""
    out = null_profile(df)
    if top is not None:
        out = out.limit(top)
    return out
