"""The reference's exploratory-analytics workload (SURVEY.md §3.2) as
lazy DataFrame queries.

Reference: ``exploracion_airbnb.ipynb`` cells 5–14 — nine analysis
functions, each re-traversing the full in-memory pandas table. Here each
analysis is a small aggregation plan returning a tiny driver-side result;
callers run them over ONE cached cleaned table (``df.persist()``) so the
scan cost is paid once, not nine times (SURVEY.md §4.1 cache-reuse).

Every function takes the *transformed* table(s) (plans.transforms output
naming) and returns a DataFrame; plotting stays driver-side on collected
results, exactly like the notebook's matplotlib usage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import stats, topn
from ..operators.timeseries import date_range, monthly_counts


def informacion_general(df: DataFrame) -> DataFrame:
    """nb:cell5 — shape + dtype census (A17): one row with row count,
    column count, and per-category column counts (driver-side schema)."""
    type_counts: dict[str, int] = {}
    for f in df.schema.fields:
        type_counts[f.dataType.simpleString()] = (
            type_counts.get(f.dataType.simpleString(), 0) + 1
        )
    base = df.agg(F.count(F.lit(1)).alias("n_rows"))
    base = base.withColumn("n_cols", F.lit(len(df.columns)))
    for t, n in sorted(type_counts.items()):
        base = base.withColumn(f"n_{t}_cols", F.lit(n))
    return base


def calidad_datos(df: DataFrame, key: str = "id", top: int = 10) -> DataFrame:
    """nb:cell6 — data-quality block: top-N null profile (A9/A10).
    Duplicate counts (D2/D3) are separate scalars via
    :func:`duplicados`."""
    return stats.null_profile(df).limit(top)


def duplicados(df: DataFrame, key: str = "id") -> DataFrame:
    """nb:cell6:26-31 — full-row (D2) and key (D3) duplicate counts in
    one result row. Two jobs (distinct is its own shuffle); at 100 TB use
    approx_count_distinct for the key side."""
    total = df.count()
    distinct_rows = df.distinct().count()
    return df.agg(
        F.lit(total - distinct_rows).alias("dup_rows"),
        (F.count(key) - F.countDistinct(key)).alias("dup_keys"),
    )


def distribuciones_numericas(df: DataFrame, col: str) -> DataFrame:
    """nb:cell7 — describe block for one numeric column (A5); the q99
    plot-trim filter (P3) is :func:`trim_quantile`."""
    return stats.describe_stats(df, col)


def trim_quantile(df: DataFrame, col: str, q: float = 0.99) -> DataFrame:
    """P3 — keep rows <= the exact q-quantile (two-pass: quantile
    broadcast, then filter). NaN is missing, as in pandas: it is not in
    the quantile and NaN rows are dropped (Spark orders NaN above every
    value, so ``<=`` never keeps them)."""
    thresh = stats.exact_quantiles(df, col, (q,), dp=None).select(
        F.col(stats._pname(q)).alias("__q")
    )
    return df.crossJoin(F.broadcast(thresh)).filter(
        F.col(col) <= F.col("__q")
    ).drop("__q")


def analisis_categorico(
    df: DataFrame, col: str, k: int | None = None
) -> DataFrame:
    """nb:cell8 — top-N frequency + % of total for a categorical column
    (A2+A3+O1): property_type k=10, room_type all, neighbourhood k=15."""
    out = topn.pct_of_total(df, col)
    return out.limit(k) if k else out


def analisis_precios(df: DataFrame, price_col: str = "price_clean") -> dict[str, DataFrame]:
    """nb:cell9 — price suite: scalar stats (A6), exact percentiles (A7),
    and the grouped mean/median/count by room type (A4). The medians
    skip NaN as pandas does; the scalar moments ride the exact median's
    ``stats.exact_quantiles`` call."""
    moments = {
        "mean_price": F.round(F.avg(price_col), 6),
        "min_price": F.round(F.min(price_col), 6),
        "max_price": F.round(F.max(price_col), 6),
        "std_price": F.round(F.stddev_samp(price_col), 6),
    }
    return {
        "stats": stats.exact_quantiles(
            df, price_col, (0.5,), moments=moments
        ).select(
            "mean_price", F.col("p50").alias("median_price"),
            "min_price", "max_price", "std_price",
        ),
        "percentiles": stats.percentiles(df, price_col),
        "por_room_type": (
            df.groupBy("room_type_normalizado")
            .agg(
                F.round(F.avg(price_col), 6).alias("mean"),
                F.round(F.median(stats._no_nan(price_col)), 6)
                .alias("median"),
                F.count(price_col).alias("count"),
            )
            .orderBy("room_type_normalizado")
        ),
    }


def analisis_reviews(df: DataFrame, ts_col: str = "date_clean") -> dict[str, DataFrame]:
    """nb:cell10 — review suite: date range (A12), monthly counts (A11),
    sentiment distribution (A8 over F13)."""
    with_ts = df.withColumn("__ts", F.to_timestamp(ts_col))
    sc = F.col("sentiment_score")
    return {
        "rango_fechas": date_range(with_ts, "__ts"),
        "por_mes": monthly_counts(with_ts, "__ts"),
        "sentimiento": df.agg(
            F.sum((sc > 0).cast("long")).alias("n_pos"),
            F.sum((sc < 0).cast("long")).alias("n_neg"),
            F.sum((sc == 0).cast("long")).alias("n_neutral"),
            F.round(F.avg(sc), 6).alias("avg_sentiment"),
        ),
    }


def analisis_outliers(df: DataFrame, cols: list[str]) -> dict[str, DataFrame]:
    """nb:cell11-12 — IQR outlier summary per column (A15)."""
    return {c: stats.iqr_outliers(df, c) for c in cols}


def analisis_correlaciones(
    df: DataFrame, cols: list[str], min_non_null: int = 50
) -> DataFrame:
    """nb:cell13 — Pearson correlation matrix (A13) over columns passing
    the >min_non_null screen (P6: one counts pass, driver-side filter,
    then one corr pass)."""
    counts = df.agg(
        *[F.count(c).alias(c) for c in cols]
    ).collect()[0]
    keep = [c for c in cols if counts[c] > min_non_null]
    return stats.corr_matrix(df, keep)


def correlacion_vs_target(
    corr_df: DataFrame, target: str, threshold: float = 0.1
) -> DataFrame:
    """nb:cell13:40-50 (A14) — rank |corr| against a target column from
    the unpivoted A13 output, screen > threshold."""
    other = F.when(F.col("col_a") == target, F.col("col_b")).otherwise(
        F.col("col_a")
    )
    return (
        corr_df.filter(
            (F.col("col_a") == target) | (F.col("col_b") == target)
        )
        .select(other.alias("column"), F.abs(F.col("corr")).alias("abs_corr"))
        .filter(F.col("abs_corr") > threshold)
        .orderBy(F.desc("abs_corr"), "column")
    )


def resumen_final(tables: dict[str, DataFrame]) -> DataFrame:
    """nb:cell14-15 — run summary: per-table row counts + grand total
    (A1), the reference's 'Total de registros procesados' line."""
    first = next(iter(tables.values()))
    spark = first.sparkSession
    counts = {name: df.count() for name, df in tables.items()}
    rows = [(name, n) for name, n in counts.items()] + [
        ("TOTAL", sum(counts.values()))
    ]
    return spark.createDataFrame(rows, "tabla string, registros long")
