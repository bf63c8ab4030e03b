"""Reader tests (SURVEY.md §2.1 S1–S6): JSONL document extraction with
declared schemas, Mongo extended-JSON date handling, the multi-table
extract loop's empty-table fallback, and limit pushdown."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from etl_airbnb_mex_spark.sources.readers import (
    AIRBNB_SCHEMAS,
    read_jsonl,
    read_table_set,
    unwrap_mongo_date,
)


def test_jsonl_with_extended_json_dates(spark, tmp_path):
    """A reviews JSONL where `date` is sometimes a plain string and
    sometimes {"$date": ...} — the reference's Mongo export reality
    (src/transformacion.py:31-32). With the declared StringType schema
    the object arrives as its JSON text; unwrap_mongo_date recovers the
    inner value either way."""
    rows = [
        {"_id": "a", "id": 1, "listing_id": 1, "date": "2024-06-15",
         "reviewer_id": 1, "reviewer_name": "Ana", "comments": "good"},
        {"_id": "b", "id": 2, "listing_id": 1,
         "date": {"$date": "2011-04-02T00:00:00Z"},
         "reviewer_id": 2, "reviewer_name": "Bo", "comments": "bad"},
        {"_id": "c", "id": 3, "listing_id": 2, "date": None,
         "reviewer_id": 3, "reviewer_name": None, "comments": None},
    ]
    path = tmp_path / "reviews.jsonl"
    path.write_text("\n".join(json.dumps(r) for r in rows))

    df = read_jsonl(spark, str(path), AIRBNB_SCHEMAS["reviews"])
    got = {
        r["id"]: r["d"]
        for r in df.select(
            "id", unwrap_mongo_date("date").alias("d")
        ).collect()
    }
    assert got[1] == "2024-06-15"
    assert got[2] == "2011-04-02T00:00:00Z"
    assert got[3] is None


def test_read_table_set_empty_fallback(spark, tmp_path):
    """Missing collections yield EMPTY frames with the declared schema
    (the reference's absent-calendar case, log:31) — downstream plans
    still analyze."""
    lst_path = tmp_path / "listings.jsonl"
    lst_path.write_text(
        json.dumps({"_id": "x", "id": 1, "price": "$100.00"})
    )
    tables = read_table_set(
        spark, {"listings": str(lst_path)}, fmt="json"
    )
    assert set(tables) == {"listings", "reviews", "calendar"}
    assert tables["listings"].count() == 1
    assert tables["calendar"].count() == 0
    assert tables["calendar"].schema == AIRBNB_SCHEMAS["calendar"]
    # missing fields in present docs → NULL, not failure (PERMISSIVE)
    row = tables["listings"].collect()[0]
    assert row["price"] == "$100.00" and row["room_type"] is None


def test_limit_pushdown_reaches_scan(spark, sf_dir):
    """S1/O3 — df.limit(n) plans a pushed LocalLimit over the scan, the
    engine face of find().limit(n)."""
    from etl_airbnb_mex_spark.tables import load_table

    df = load_table(spark, sf_dir, "orders").limit(7)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert "GlobalLimit 7" in plan or "CollectLimit 7" in plan
    assert df.count() == 7


def test_unwrap_passthrough_on_braces(spark):
    """A value that starts with '{' but has no $date field passes
    through unchanged (defensive: JSON-looking comments etc.)."""
    df = spark.createDataFrame(
        [('{"note": "x"}',), ("plain",)], "v string"
    )
    got = [r["u"] for r in df.select(
        unwrap_mongo_date("v").alias("u")
    ).collect()]
    assert got == ['{"note": "x"}', "plain"]


def test_ensure_columns_schema_drift(spark):
    """A drifted source (missing cols, extra cols) normalizes to the
    declared schema once at the read boundary (SURVEY.md §1.2 'defensive
    behavior as an optional schema-drift mode')."""
    from etl_airbnb_mex_spark.sources.readers import ensure_columns

    drifted = spark.createDataFrame(
        [(1, "x", "surprise")], "id long, name string, extra string"
    )
    out = ensure_columns(drifted, AIRBNB_SCHEMAS["reviews"])
    assert set(AIRBNB_SCHEMAS["reviews"].fieldNames()) <= set(out.columns)
    assert "extra" in out.columns  # extras pass through
    row = out.collect()[0]
    assert row["comments"] is None  # typed NULL fill
    assert dict(out.dtypes)["listing_id"] == "bigint"


def test_mongo_source_falls_back_to_parquet(spark, tmp_path, monkeypatch):
    """S1 config path (VERDICT.md r1 #5): with no Mongo URI set, the
    reader must serve the declared schema from parquet."""
    import pytest

    from etl_airbnb_mex_spark.sources.readers import read_mongo_or_parquet

    monkeypatch.delenv("SPARK_GRAFT_MONGO_URI", raising=False)
    p = str(tmp_path / "reviews.parquet")
    spark.createDataFrame(
        [(1, 10, "2024-01-01")], "id long, listing_id long, date string"
    ).write.mode("overwrite").parquet(p)
    out = read_mongo_or_parquet(spark, "reviews", parquet_path=p)
    assert out.count() == 1
    # declared schema applies: every reviews column materializes
    assert set(AIRBNB_SCHEMAS["reviews"].fieldNames()) <= set(out.columns)

    # no URI and no fallback path is a loud error, not a silent empty read
    with pytest.raises(ValueError, match="no parquet fallback"):
        read_mongo_or_parquet(spark, "reviews")


def test_mongo_source_branch_selects_connector(spark, monkeypatch):
    """With a URI configured the mongodb DataSource V2 is attempted —
    the connector jar is absent in this sandbox, so reaching Spark's
    'failed to find data source: mongodb' error IS the proof that the
    branch routed to the connector, not to parquet."""
    import pytest

    monkeypatch.setenv("SPARK_GRAFT_MONGO_URI", "mongodb://localhost:27017")
    from etl_airbnb_mex_spark.sources.readers import read_mongo_or_parquet

    with pytest.raises(Exception, match="(?i)mongodb"):
        read_mongo_or_parquet(spark, "reviews", parquet_path="/nonexistent")


def test_mongo_live_read_smoke(spark, tmp_path, monkeypatch):
    """Live-Mongo end-to-end smoke (VERDICT r9 #8): seed a local mongod,
    read the collection through read_mongo_or_parquet's connector
    branch, and assert rows + declared schema. Requires BOTH a mongod
    binary on PATH and the MongoDB Spark connector on the session
    classpath — neither ships in this sandbox (no network, no apt/pip),
    so the test self-skips there and runs wherever the two public
    dependencies exist."""
    import shutil as _shutil
    import subprocess as _sp
    import time as _time

    import pytest

    if _shutil.which("mongod") is None:
        pytest.skip("mongod not installed in this environment")
    try:
        spark._jvm.java.lang.Class.forName(
            "com.mongodb.spark.sql.connector.MongoTableProvider"
        )
    except Exception:
        pytest.skip("mongo-spark-connector not on the session classpath")

    dbdir = tmp_path / "mongo-data"
    dbdir.mkdir()
    proc = _sp.Popen(
        ["mongod", "--dbpath", str(dbdir), "--port", "27027",
         "--bind_ip", "127.0.0.1"],
        stdout=_sp.DEVNULL, stderr=_sp.DEVNULL,
    )
    try:
        _time.sleep(2.0)  # mongod startup
        uri = "mongodb://127.0.0.1:27027"
        seed = spark.createDataFrame(
            [(1, 10, "2024-01-01"), (2, 11, "2024-01-02")],
            "id long, listing_id long, date string",
        )
        (seed.write.format("mongodb")
         .option("connection.uri", uri)
         .option("database", "airbnb")
         .option("collection", "reviews")
         .mode("overwrite").save())
        from etl_airbnb_mex_spark.sources.readers import (
            read_mongo_or_parquet,
        )

        out = read_mongo_or_parquet(spark, "reviews", mongo_uri=uri)
        assert out.count() == 2
        assert {"id", "listing_id", "date"} <= set(out.columns)
    finally:
        proc.terminate()
        proc.wait(timeout=10)


def test_parallelize_scan_widens_only_under_split(spark, sf_dir):
    """The scan-widening guard (tables.parallelize_scan): an
    under-split scan repartitions up to the session shuffle width; a
    frame already at-or-above it passes through IDENTICALLY (no extra
    exchange at real split counts). Results are unaffected either way."""
    from pyspark.sql import functions as F

    from etl_airbnb_mex_spark.tables import load_table, parallelize_scan

    target = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    assert d.rdd.getNumPartitions() < target  # single-file fixture
    widened = parallelize_scan(d, spark)
    assert widened.rdd.getNumPartitions() == target
    # identical results (count + checksum over ids)
    a = d.agg(F.count("*"), F.sum("doc_id")).collect()[0]
    b = widened.agg(F.count("*"), F.sum("doc_id")).collect()[0]
    assert tuple(a) == tuple(b)
    # already-wide input: the SAME DataFrame comes back (no-op)
    wide = d.repartition(target + 4)
    assert parallelize_scan(wide, spark) is wide


def test_load_table_schema_cache_matches_inference(spark, sf_dir):
    """r13: load_table caches the inferred StructType per (sf_dir,
    table) so repeat reads skip the footer/schema-inference Spark job
    (a q5-shaped 6-table query paid 6 scheduling round-trips per run).
    The cached-schema read must be indistinguishable from inference for
    EVERY table — schema object, dtypes, and a value sample — events'
    TIMESTAMP(NANOS) column included (it arrives as bigint under
    nanosAsLong on both paths and converts to µs identically)."""
    from etl_airbnb_mex_spark import tables as T

    for name in T.TABLE_NAMES:
        T._SCHEMA_CACHE.pop((sf_dir, name), None)
        inferred = T.load_table(spark, sf_dir, name)  # populates cache
        assert (sf_dir, name) in T._SCHEMA_CACHE
        cached = T.load_table(spark, sf_dir, name)    # schema() path
        assert cached.schema == inferred.schema, name
        assert cached.dtypes == inferred.dtypes, name
        a = inferred.limit(5).collect()
        b = cached.limit(5).collect()
        assert a == b, name


def test_load_table_schema_cache_invalidates_on_regen(spark, tmp_path):
    """ADVICE r13 #2: the cache key carries the file's (mtime_ns,
    size), so regenerating a table at the same path with a DIFFERENT
    schema re-infers instead of reading NULLs through the stale
    user-supplied schema (spark.read.schema() is not validated against
    the parquet footer)."""
    import os
    import time

    from etl_airbnb_mex_spark import tables as T

    sf_dir = str(tmp_path)
    p = T.table_path(sf_dir, "nation")
    spark.range(3).selectExpr("id AS n_nationkey").toPandas().to_parquet(p)
    first = T.load_table(spark, sf_dir, "nation")
    assert first.columns == ["n_nationkey"]
    # regenerate in place with a renamed column; nudge mtime so the
    # key is provably different even on coarse-mtime filesystems
    spark.range(3).selectExpr(
        "id AS n_nationkey2", "id * 2 AS extra"
    ).toPandas().to_parquet(p)
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    again = T.load_table(spark, sf_dir, "nation")
    assert set(again.columns) == {"n_nationkey2", "extra"}
    assert again.filter("n_nationkey2 IS NULL").count() == 0
    # ADVICE r14 #4: regeneration REPLACES the entry (sig lives in the
    # value, not the key) — a regen loop must not grow the cache
    assert (
        len([k for k in T._SCHEMA_CACHE if k == (sf_dir, "nation")]) == 1
    )


def test_read_dim_driver_side_guards_and_matches_spark(spark, sf_dir):
    """r13: the driver-side dim read is allowed ONLY for spec-bounded
    tables (nation/region, fixed 25/5 rows at any SF); an SF-scaled
    table must raise. The pyarrow rows must equal the Spark read."""
    import pytest as _pytest

    from etl_airbnb_mex_spark.tables import load_table, read_dim_driver_side

    rows = read_dim_driver_side(
        spark, sf_dir, "nation", ["n_nationkey", "n_name"]
    )
    via_spark = {
        (r["n_nationkey"], r["n_name"])
        for r in load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name").collect()
    }
    assert {(r["n_nationkey"], r["n_name"]) for r in rows} == via_spark
    assert 0 < len(rows) <= 25
    with _pytest.raises(ValueError, match="spec-bounded"):
        read_dim_driver_side(spark, sf_dir, "customer", ["c_custkey"])
