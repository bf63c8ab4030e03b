"""Oracle-checked query registry — the driver contract surface.

Every implemented operator from SURVEY.md §2 registers here as a
:class:`QuerySpec`: a Spark callable ``(spark, sf_dir) -> DataFrame``
plus (when SQL-expressible) the equivalent DuckDB oracle SQL. The driver
runs both at sf=0.01 and compares row-count + schema + order-insensitive
value-hash — so every computed column is aliased identically on both
sides, float aggregates are rounded to the same dp on both sides, and
sums over doubles go through DECIMAL so they are exact and
partition-order-independent (SURVEY.md §7.4.12).

Oracle design rules (each learned from a driver failure class):
  1. Alias every computed column identically on both sides.
  2. Round float aggregates to the same dp on both sides; sum doubles
     through DECIMAL for partition-order independence.
  3. CAST integer sums to BIGINT in the oracle SQL: DuckDB types
     ``sum(BIGINT)`` as HUGEINT, which the driver's pandas conversion
     renders float64 (``555.0``) while Spark emits bigint ``555`` —
     hash mismatch with identical values (``entropy_by_group`` and
     ``rare_label_collapse`` failed this way). The local replica
     (oracle.py) now fetches via pandas and compares type-strictly,
     so a bare-HUGEINT column fails in pytest before it can reach
     the driver.
  4. No array/map/struct output columns — render to_json/array_join.
  5. No DateType output columns: DuckDB DATE pandas-converts to a
     midnight Timestamp ('2020-01-03 00:00:00') while Spark DateType
     stays datetime.date ('2020-01-03') — identical values, driver
     hash mismatch. Render dates as date_format/strftime strings or
     cast BOTH sides to timestamp (the local gate rejects DateType
     up front, oracle.py).
"""

from __future__ import annotations

from dataclasses import dataclass
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver records rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    """Decorator: register a (spark, sf_dir) -> DataFrame callable."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(name=name, spark=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load()
    return {name: spec.spark for name, spec in REGISTRY.items()}


def all_oracle_sql() -> dict[str, str]:
    _load()
    return {
        name: spec.oracle
        for name, spec in REGISTRY.items()
        if spec.oracle is not None
    }


_loaded = False


def _load() -> None:
    global _loaded
    if not _loaded:
        from . import core  # noqa: F401
        from . import extensions  # noqa: F401
        from . import advanced  # noqa: F401
        from . import decision  # noqa: F401
        from . import llmprep  # noqa: F401
        from . import mleval  # noqa: F401
        _loaded = True
