"""Local oracle differential harness — a faithful replica of the driver's
correctness gate (SURVEY.md §5.3.1).

Runs a registered query through Spark AND its DuckDB oracle SQL on the
same parquet tables, then compares row count, column names, and an
order-insensitive multiset of canonicalized row values. Used by
tests/test_oracle.py so every operator is gate-checked *before* the
driver runs it.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from datetime import date, datetime
from decimal import Decimal
from typing import Any

import duckdb
from pyspark.sql import SparkSession

from .tables import TABLE_NAMES, table_path
from .queries import REGISTRY, _load


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Pre-register the test tables as views, as the driver does."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{table_path(sf_dir, name)}')"
        )
    return con


def _canon(v: Any) -> Any:
    """Canonicalize a cell for cross-engine comparison.

    Numeric cells are TYPE-TAGGED ("i" int vs "f" float) so an integer
    on one side and a float on the other NEVER compare equal — the
    driver's value-hash stringifies pandas cells, so DuckDB
    HUGEINT→float64 ``555.0`` vs Spark bigint ``555`` is a driver
    failure even though Python's ``555 == 555.0`` (``entropy_by_group``
    and ``rare_label_collapse`` once failed this way). Local
    green must imply driver green, so be exactly as strict.
    """
    if v is None:
        return None
    if isinstance(v, bool):  # before int: bool is an int subclass
        return v
    if isinstance(v, Decimal):
        return ("f", float(v))
    if isinstance(v, int):
        return ("i", int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return None
        if v == 0.0:  # normalize -0.0
            return ("f", 0.0)
        return ("f", v)
    if isinstance(v, datetime):
        if v != v:  # pandas NaT (a datetime subclass) → NULL
            return None
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if hasattr(v, "item"):  # numpy scalar
        return _canon(v.item())
    return v


def _rowset(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = [tuple(_canon(r[i]) for i in order) for r in rows]
    return sorted(canon, key=repr)


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    reasons: list[str] = field(default_factory=list)

    def __str__(self) -> str:
        status = "OK " if self.ok else "FAIL"
        msg = f"[{status}] {self.name}: spark={self.spark_rows} oracle={self.oracle_rows}"
        for r in self.reasons:
            msg += f"\n    {r}"
        return msg


def compare_query(
    spark: SparkSession, sf_dir: str, name: str,
    con: duckdb.DuckDBPyConnection | None = None,
) -> CompareResult:
    _load()
    spec = REGISTRY[name]
    sdf = spec.spark(spark, sf_dir)
    if spec.oracle is not None:
        # Faithfulness to the driver: its pandas canonicalizer
        # sort_values over result columns and cannot hash list/dict
        # cells (``parse_array`` once failed there with a list column).
        # This replica converts lists to tuples and would silently
        # pass, so reject container-typed columns up front — compare
        # a to_json/array_join rendering instead. Schema-only check,
        # BEFORE collect(): no point executing a plan just to refuse it.
        bad = [
            f.name for f in sdf.schema.fields
            if f.dataType.typeName() in ("array", "map", "struct")
        ]
        if bad:
            return CompareResult(
                name, False, -1, -1,
                [f"driver-unhashable container columns {bad}: the real "
                 "driver's pandas canonicalizer dies on these — emit "
                 "to_json(...)/array_join(...) strings instead"],
            )
        # DATE outputs are asymmetric across the two pandas fetches:
        # DuckDB DATE via .df() becomes a midnight Timestamp
        # ('2020-01-03 00:00:00') while Spark DateType via toPandas
        # stays datetime.date ('2020-01-03') — a date-valued oracle
        # would false-fail on the driver with identical values.
        # Reject DateType up front; render dates
        # with date_format(...) / strftime(...) strings, or cast to
        # timestamp on BOTH sides (midnight timestamps compare fine).
        bad_dates = [
            f.name for f in sdf.schema.fields
            if f.dataType.typeName() == "date"
        ]
        if bad_dates:
            return CompareResult(
                name, False, -1, -1,
                [f"DateType output columns {bad_dates}: DuckDB DATE "
                 "pandas-converts to midnight Timestamp while Spark "
                 "DateType stays datetime.date — render as "
                 "date_format(...) strings or cast both sides to "
                 "timestamp"],
            )
    # Driver-faithful fetch on the SPARK side too: the driver hashes
    # pandas frames, where a nullable bigint column becomes float64
    # (-30 → -30.0). window_lag_delta was driver-GREEN in r3 with that
    # representation, so collect() (which keeps Python ints) would
    # false-fail it under the type-strict compare below — and would
    # false-pass the inverse. Same conversion as the driver, both sides.
    s_pdf = sdf.toPandas()
    s_cols = list(s_pdf.columns)
    s_rows = [tuple(r) for r in s_pdf.itertuples(index=False, name=None)]

    if spec.oracle is None:
        # rows-only check, like the driver's weaker path
        return CompareResult(name, True, len(s_rows), -1,
                             ["rows-only (no oracle SQL declared)"])

    own_con = con is None
    if own_con:
        con = duckdb_connection(sf_dir)
    try:
        # Driver-faithful fetch: the driver pulls the oracle result
        # through DuckDB's pandas conversion, where HUGEINT (e.g. a
        # bare sum(BIGINT)) becomes float64 — NOT a Python int as
        # fetchall() would give. Fetching the same way means a bare-
        # HUGEINT oracle column fails HERE, not on the driver.
        odf = con.execute(spec.oracle).df()
        o_cols = list(odf.columns)
        o_rows = [tuple(r) for r in odf.itertuples(index=False, name=None)]
    finally:
        if own_con:
            con.close()

    reasons: list[str] = []
    if sorted(s_cols) != sorted(o_cols):
        reasons.append(f"schema mismatch: spark={sorted(s_cols)} oracle={sorted(o_cols)}")
    if len(s_rows) != len(o_rows):
        reasons.append("row count mismatch")
    if not reasons:
        a = _rowset(s_cols, s_rows)
        b = _rowset(o_cols, o_rows)
        if a != b:
            diff_i = next(
                (i for i, (x, y) in enumerate(zip(a, b)) if x != y), None
            )
            detail = (
                f"first diff at sorted row {diff_i}: spark={a[diff_i]!r} "
                f"oracle={b[diff_i]!r}" if diff_i is not None else "tail rows differ"
            )
            reasons.append("value mismatch: " + detail)
    return CompareResult(name, not reasons, len(s_rows), len(o_rows), reasons)
