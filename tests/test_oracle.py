"""Oracle differential tests — the local replica of the driver's
correctness gate. Every registered query must match its DuckDB oracle
(row count + schema + order-insensitive values) at the test scale
factor; rows-only queries must at least execute and return a stable
schema."""

from __future__ import annotations

import pytest

from etl_airbnb_mex_spark.oracle import compare_query, duckdb_connection
from etl_airbnb_mex_spark.queries import REGISTRY, _load

_load()
ALL_NAMES = sorted(REGISTRY)


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_connection(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", ALL_NAMES)
def test_query_matches_oracle(spark, sf_dir, con, name):
    result = compare_query(spark, sf_dir, name, con)
    assert result.ok, str(result)


def test_bare_hugeint_oracle_fails_locally(spark, sf_dir, con):
    """The bare-HUGEINT failure class must be un-reintroducible:
    DuckDB types a bare sum(BIGINT) as HUGEINT, which its pandas
    conversion renders float64 while Spark emits int64 — the driver's
    value-hash then mismatches on representation alone. The replica
    now compares type-strictly through the same pandas conversions,
    so a bare-HUGEINT oracle column must FAIL here (and a CAST ...
    AS BIGINT one must pass)."""
    from etl_airbnb_mex_spark.oracle import _canon, compare_query
    from etl_airbnb_mex_spark.queries import QuerySpec, REGISTRY

    def spark_side(sp, d):
        from pyspark.sql import functions as F

        from etl_airbnb_mex_spark.tables import load_table

        return load_table(sp, d, "region").agg(
            F.sum("r_regionkey").cast("long").alias("s")
        )

    bare = QuerySpec(
        name="__hugeint_probe__", spark=spark_side,
        oracle="SELECT sum(r_regionkey) AS s FROM region",
    )
    cast = QuerySpec(
        name="__hugeint_probe__", spark=spark_side,
        oracle="SELECT CAST(sum(r_regionkey) AS BIGINT) AS s FROM region",
    )
    try:
        REGISTRY["__hugeint_probe__"] = bare
        assert not compare_query(spark, sf_dir, "__hugeint_probe__", con).ok
        REGISTRY["__hugeint_probe__"] = cast
        assert compare_query(spark, sf_dir, "__hugeint_probe__", con).ok
    finally:
        del REGISTRY["__hugeint_probe__"]
    # and the tag itself distinguishes the representations
    assert _canon(555) != _canon(555.0)


def test_entry_smoke(spark):
    import importlib.util
    import pathlib

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__",
        pathlib.Path(__file__).resolve().parents[1] / "__spark_entry__.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns[0] == "l_returnflag"

    q = mod.queries()
    o = mod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 10
