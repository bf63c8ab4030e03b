"""Readers (SURVEY.md §2.1 S1–S6).

The reference extracts MongoDB collections into pandas with inferred
schemas (src/extraccion.py:72-146) and probes column presence defensively
everywhere because schema is never declared. This engine inverts that:
explicit StructType schemas per source (schema-on-write into the plan),
with schema drift handled once at the read boundary instead of at every
operator.

Scan pushdown: `spark.read.parquet(...).limit(n)` reaches the source as a
LocalLimit (S1's `find().limit(n)` analogue); filters and column prunes
land in the parquet scan via Catalyst — verified by `.explain` showing
PushedFilters / ReadSchema.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Explicit schemas for the Airbnb-shaped pipeline inputs — the columns
#: the transforms touch (FIXTURES.md B; full reference lists at log:23,29).
#: Messy columns are deliberately StringType: cleaning is the transform's
#: job (SURVEY.md §2.9), not the reader's.
AIRBNB_SCHEMAS: dict[str, T.StructType] = {
    "listings": T.StructType(
        [
            T.StructField("_id", T.StringType()),
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("description", T.StringType()),
            T.StructField("neighbourhood_cleansed", T.StringType()),
            T.StructField("latitude", T.DoubleType()),
            T.StructField("longitude", T.DoubleType()),
            T.StructField("property_type", T.StringType()),
            T.StructField("room_type", T.StringType()),
            T.StructField("accommodates", T.StringType()),
            T.StructField("bedrooms", T.StringType()),
            T.StructField("beds", T.StringType()),
            T.StructField("minimum_nights", T.StringType()),
            T.StructField("maximum_nights", T.StringType()),
            T.StructField("availability_30", T.StringType()),
            T.StructField("availability_60", T.StringType()),
            T.StructField("availability_90", T.StringType()),
            T.StructField("availability_365", T.StringType()),
            T.StructField("amenities", T.StringType()),
            T.StructField("price", T.StringType()),
            T.StructField("host_since", T.StringType()),
            T.StructField("calendar_last_scraped", T.StringType()),
            T.StructField("last_scraped", T.StringType()),
            T.StructField("host_is_superhost", T.StringType()),
            T.StructField("host_identity_verified", T.StringType()),
            T.StructField("has_availability", T.StringType()),
            T.StructField("review_scores_rating", T.DoubleType()),
            T.StructField("reviews_per_month", T.DoubleType()),
        ]
    ),
    "reviews": T.StructType(
        [
            T.StructField("_id", T.StringType()),
            T.StructField("id", T.LongType()),
            T.StructField("listing_id", T.LongType()),
            T.StructField("date", T.StringType()),
            T.StructField("reviewer_id", T.LongType()),
            T.StructField("reviewer_name", T.StringType()),
            T.StructField("comments", T.StringType()),
        ]
    ),
    "calendar": T.StructType(
        [
            T.StructField("listing_id", T.LongType()),
            T.StructField("date", T.StringType()),
            T.StructField("available", T.StringType()),
            T.StructField("price", T.StringType()),
        ]
    ),
}


def unwrap_mongo_date(col: Column | str) -> Column:
    """Mongo extended-JSON date unwrap (src/transformacion.py:31-32):
    a value may be a plain string OR the JSON object ``{"$date": "..."}``.
    Handled as a string expression so it composes with StringType inputs:
    if the trimmed value looks like an extended-JSON object, extract the
    ``$date`` field; otherwise pass through.
    """
    c = F.col(col) if isinstance(col, str) else col
    s = F.trim(c.cast("string"))
    extracted = F.get_json_object(s, "$['$date']")
    return F.when(
        s.startswith("{") & extracted.isNotNull(), extracted
    ).otherwise(c.cast("string"))


def ensure_columns(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Schema-drift defensive mode: the reference probes
    ``if col in df.columns`` before every step (src/transformacion.py:
    211,267,296,309) because its inputs are schemaless. The declared-
    schema readers already materialize every declared column (typed NULL
    when absent from files); this helper is for frames arriving from
    OUTSIDE them — e.g. an existing DataFrame handed straight to a
    plans.transforms function — any declared column missing is added as
    a typed NULL, extras pass through, so transforms can assume the
    full schema."""
    present = set(df.columns)
    additions = [
        F.lit(None).cast(field.dataType).alias(field.name)
        for field in schema.fields
        if field.name not in present
    ]
    return df.select("*", *additions) if additions else df


def read_parquet(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """S6 — full-table read; Catalyst prunes columns/pushes filters from
    the downstream plan into this scan."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """JSON-lines reader — the batch analogue of the reference's document
    extraction (S1/S5). With an explicit schema, malformed rows become
    NULLs (PERMISSIVE) rather than failures, matching the reference's
    defensive posture."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    # Without a schema: inference = the reference's
    # pd.DataFrame(list_of_dicts) (S5) — one extra pass; explicit
    # schemas preferred at scale.
    return reader.json(path)


def read_mongo_or_parquet(
    spark: SparkSession,
    collection: str,
    parquet_path: str | None = None,
    schema: T.StructType | None = None,
    mongo_uri: str | None = None,
    database: str = "airbnb",
) -> DataFrame:
    """S1 — the reference's live document-store read
    (src/extraccion.py:72-112: ``client[db][collection].find().limit()``)
    as a configuration path, with a parquet fallback for environments
    without a reachable server (this sandbox).

    When a connection URI is given — explicitly or via the
    ``SPARK_GRAFT_MONGO_URI`` environment variable — the read goes
    through the public MongoDB Spark connector's DataSource V2
    (``spark.read.format("mongodb")``), which pushes projections and
    filters into the server as aggregation-pipeline ``$project`` /
    ``$match`` stages and splits the collection into input partitions by
    shard/chunk ranges, so a downstream ``select(...).filter(...)``
    never ships whole documents. An explicit schema skips the
    connector's sampling-based inference pass (its analogue of the
    reference's ``pd.DataFrame(list(cursor))`` schema guess, S5).

    With no URI configured the same declared schema reads from
    ``parquet_path`` — identical downstream plan either way, so the
    choice of source is pure configuration, not code.
    """
    import os as _os

    uri = mongo_uri or _os.environ.get("SPARK_GRAFT_MONGO_URI")
    if uri:
        reader = (
            spark.read.format("mongodb")
            .option("connection.uri", uri)
            .option("database", database)
            .option("collection", collection)
        )
        if schema is not None:
            reader = reader.schema(schema)
        return reader.load()
    if parquet_path is None:
        raise ValueError(
            f"collection '{collection}': no Mongo URI configured and no "
            "parquet fallback path given"
        )
    return read_parquet(
        spark, parquet_path, schema or AIRBNB_SCHEMAS.get(collection)
    )


def read_table_set(
    spark: SparkSession,
    paths: dict[str, str],
    targets: tuple[str, ...] = ("listings", "reviews", "calendar"),
    fmt: str = "parquet",
) -> dict[str, DataFrame]:
    """S2 — multi-table extract loop: for each target, read if present,
    else register an EMPTY frame with the declared schema (the reference
    emits an empty DataFrame for missing collections,
    src/extraccion.py:119-121 — calendar was absent in the recorded run,
    log:31)."""
    out: dict[str, DataFrame] = {}
    for name in targets:
        schema = AIRBNB_SCHEMAS.get(name)
        path = paths.get(name)
        if path is None:
            if schema is None:
                raise ValueError(
                    f"table '{name}' has no path and no declared schema in "
                    "AIRBNB_SCHEMAS — an empty frame cannot be synthesized"
                )
            out[name] = spark.createDataFrame([], schema)
            continue
        if fmt == "parquet":
            out[name] = read_parquet(spark, path, schema)
        elif fmt == "json":
            out[name] = read_jsonl(spark, path, schema)
        else:
            raise ValueError(f"unsupported format: {fmt}")
    return out
