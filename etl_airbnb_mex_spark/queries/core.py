"""Core relational queries (SURVEY.md §2.1–2.3, §2.5, §2.7, §2.9).

Parity conventions used throughout (see package docstring):
* SUM over doubles → DECIMAL(20,4) accumulate, cast back to double —
  exact and independent of partition merge order.
* AVG → decimal sum / count (same reason); stddev/corr stay double and
  round to 6 dp (error ~1e-12 relative, far from the rounding boundary).
* Timestamps cross the engine boundary as 'yyyy-MM-dd[ HH:mm:ss]'
  strings (UTC session) so type/zone semantics can't skew the hash.
* Every top-N carries a deterministic tie-break (SURVEY.md §7.4.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.cleaning import (
    bool_encode,
    clean_price,
    map_with_default,
    numeric_coerce,
    price_bucket,
    text_fill_sentinel,
)
from ..functions.dates import date_normalize, month_name, weekday_mon0
from ..functions.text import title_case
from ..operators import stats, topn
from ..operators.dedup import dedup_keep_first
from ..tables import load_table
from . import register

DSUM = "decimal(20,4)"


def dsum(col) -> F.Column:
    """Exact, order-independent sum of a money/quantity double column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DSUM)).cast("double")


# --------------------------------------------------------------------------
# Flagship (SURVEY.md §7.1): scan → filter → hash agg → window pct → top-N.
# --------------------------------------------------------------------------

def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    agg = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(24,8)"
                )
            ).cast("double").alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_quantity").cast(DSUM)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    total = F.sum("cnt").over(Window.partitionBy())
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "avg_qty",
        "avg_disc",
        "cnt",
        F.round(F.col("cnt") / total * 100, 4).alias("pct_of_total"),
    ).orderBy("l_returnflag", "l_linestatus")


register(
    "flagship_topn_pct",
    """
    WITH agg AS (
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_base_price,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS DOUBLE) AS sum_disc_price,
             round(CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) / count(*), 6) AS avg_qty,
             round(avg(l_discount), 6) AS avg_disc,
             count(*) AS cnt
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price,
           avg_qty, avg_disc, cnt,
           round(cnt * 100.0 / sum(cnt) OVER (), 4) AS pct_of_total
    FROM agg ORDER BY l_returnflag, l_linestatus
    """,
    "SURVEY.md §7.1 minimum slice: A2+A3+A4 shape on lineitem (TPC-H Q1 "
    "flavor + percent-of-total window).",
)(flagship)


# --------------------------------------------------------------------------
# §2.1 scans
# --------------------------------------------------------------------------

@register(
    "scan_limit",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_orderkey LIMIT 100
    """,
    "S1/O3 — limit pushdown (deterministic via orderBy key): "
    "src/extraccion.py:72-112.",
)
def scan_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
        .limit(100)
    )


@register(
    "count_star",
    "SELECT count(*) AS n_rows FROM lineitem",
    "S4/A1 — count scan: src/extraccion.py:148-168, src/main.py:213-214.",
)
def count_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


# --------------------------------------------------------------------------
# §2.2 projections / filters
# --------------------------------------------------------------------------

@register(
    "project_subset",
    "SELECT c_custkey, c_name, c_mktsegment FROM customer",
    "P1 — column-subset projection (nb:cell7:10-14); pruned at the scan.",
)
def project_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "filter_notnull",
    """
    SELECT o_orderkey FROM orders
    WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
    """,
    "P2 — critical-key not-null filter (src/transformacion.py:195,339,384).",
)
def filter_notnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .na.drop(subset=["o_custkey", "o_orderdate"])
        .select("o_orderkey")
    )


@register(
    "filter_quantile",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
    WHERE l_extendedprice <= (
      SELECT quantile_cont(l_extendedprice, 0.95) FROM lineitem)
    """,
    "P3 — quantile-threshold filter (nb:cell9:44-45): exact p95 from "
    "stats.exact_quantiles (native percentile aggregate when the "
    "column's plan estimate is small, bucket-select otherwise; same "
    "value either way), then a 1-row broadcast filter. The threshold "
    "is exact: 6-dp rounding cannot move a comparison against 2-dp "
    "prices.",
)
def filter_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    thresh = stats.exact_quantiles(li, "l_extendedprice", (0.95,))
    return (
        li.crossJoin(F.broadcast(thresh))
        .filter(F.col("l_extendedprice") <= F.col("p95"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


@register(
    "filter_castable",
    """
    SELECT c_custkey, TRY_CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS name_num
    FROM customer
    WHERE TRY_CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) IS NOT NULL
    """,
    "P5 — keep parseable numerics (pd.to_numeric().dropna(), nb:cell9:26).",
)
def filter_castable(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = F.regexp_extract(F.col("c_name"), r"([0-9]+)", 1).try_cast("bigint")
    return (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", parsed.alias("name_num"))
        .filter(F.col("name_num").isNotNull())
    )


# --------------------------------------------------------------------------
# §2.3 dedup
# --------------------------------------------------------------------------

@register(
    "dedup_by_key",
    """
    SELECT o_orderkey, o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders) WHERE rn = 1
    """,
    "D1 — keep-first dedup with deterministic tie-break "
    "(src/transformacion.py:200,343; SURVEY.md §7.4.4).",
)
def dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = dedup_keep_first(
        load_table(spark, sf_dir, "orders"),
        keys=["o_custkey"],
        order=["o_orderdate", "o_orderkey"],
    )
    return df.select(
        "o_orderkey",
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
    )


@register(
    "dup_fullrow_count",
    """
    SELECT CAST((SELECT count(*) FROM lineitem)
         - (SELECT count(*) FROM (SELECT DISTINCT * FROM lineitem)) AS BIGINT)
      AS dup_rows
    """,
    "D2 — full-row duplicate count (nb:cell6:26-27).",
)
def dup_fullrow_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    total = li.agg(F.count(F.lit(1)).alias("__t"))
    dn = li.distinct().agg(F.count(F.lit(1)).alias("__d"))
    return total.crossJoin(dn).select(
        (F.col("__t") - F.col("__d")).alias("dup_rows")
    )


@register(
    "dup_key_count",
    """
    SELECT CAST(count(o_custkey) - count(DISTINCT o_custkey) AS BIGINT)
      AS dup_keys FROM orders
    """,
    "D3 — duplicate-key count (nb:cell6:29-31).",
)
def dup_key_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").agg(
        (F.count("o_custkey") - F.countDistinct("o_custkey")).alias("dup_keys")
    )


# --------------------------------------------------------------------------
# §2.5 aggregations
# --------------------------------------------------------------------------

@register(
    "topn_by_count",
    """
    SELECT lang, count(*) AS cnt FROM documents
    GROUP BY lang ORDER BY cnt DESC, lang ASC LIMIT 3
    """,
    "A2/O1 — value_counts().head(k) with deterministic ties "
    "(nb:cell8:9,27,49); plans as TakeOrderedAndProject.",
)
def topn_by_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return topn.topn_by_count(load_table(spark, sf_dir, "documents"), "lang", 3)


@register(
    "mode_value",
    """
    SELECT lang, count(*) AS cnt FROM documents
    GROUP BY lang ORDER BY cnt DESC, lang ASC LIMIT 1
    """,
    "A2 variant — mode (most frequent value, nb:cell14:40-45) with "
    "deterministic tie-break.",
)
def mode_value_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return topn.mode(load_table(spark, sf_dir, "documents"), "lang")


@register(
    "pct_of_total",
    """
    SELECT lang, count(*) AS cnt,
           round(count(*) * 100.0 / sum(count(*)) OVER (), 4) AS pct
    FROM documents GROUP BY lang ORDER BY cnt DESC, lang ASC
    """,
    "A3 — percent-of-total alongside counts (nb:cell8:12,30,52).",
)
def pct_of_total_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return topn.pct_of_total(load_table(spark, sf_dir, "documents"), "lang")


@register(
    "groupby_multi_agg",
    """
    SELECT o_orderstatus,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                 / count(o_totalprice), 6) AS avg_price,
           round(median(o_totalprice), 6) AS median_price,
           count(o_totalprice) AS cnt
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "A4 — grouped multi-aggregate mean/median/count (nb:cell9:64-72); "
    "exact median for oracle parity (SURVEY.md §7.4.2).",
)
def groupby_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.round(
                dsum("o_totalprice") / F.count("o_totalprice"), 6
            ).alias("avg_price"),
            F.round(F.median("o_totalprice"), 6).alias("median_price"),
            F.count("o_totalprice").alias("cnt"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "describe_stats",
    """
    SELECT count(l_quantity) AS cnt,
           round(avg(l_quantity), 6) AS mean,
           round(stddev_samp(l_quantity), 6) AS std,
           round(min(l_quantity), 6) AS min,
           round(quantile_cont(l_quantity, 0.25), 6) AS p25,
           round(quantile_cont(l_quantity, 0.50), 6) AS p50,
           round(quantile_cont(l_quantity, 0.75), 6) AS p75,
           round(max(l_quantity), 6) AS max
    FROM lineitem
    """,
    "A5 — df.describe() block (nb:cell7:30-35); stddev is sample (ddof=1). "
    "The moments and the exact quartiles come from one "
    "stats.exact_quantiles call: a single fused aggregate when the "
    "column's plan estimate is small, otherwise bucket-select with the "
    "moments in its 1-row limits aggregate.",
)
def describe_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.describe_stats(load_table(spark, sf_dir, "lineitem"), "l_quantity")


@register(
    "scalar_stats",
    """
    SELECT round(CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                 / count(o_totalprice), 6) AS mean_price,
           round(median(o_totalprice), 6) AS median_price,
           round(min(o_totalprice), 6) AS min_price,
           round(max(o_totalprice), 6) AS max_price,
           round(stddev_samp(o_totalprice), 4) AS std_price
    FROM orders
    """,
    "A6 — scalar stats family: mean/median/min/max/sample-std "
    "(nb:cell9:30-34). The moments ride the exact median's "
    "stats.exact_quantiles call: one fused aggregate when the column's "
    "plan estimate is small, otherwise bucket-select with the moments "
    "in its 1-row limits aggregate.",
)
def scalar_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    moments = {
        "mean_price": F.round(
            dsum("o_totalprice") / F.count("o_totalprice"), 6
        ),
        "min_price": F.round(F.min("o_totalprice"), 6),
        "max_price": F.round(F.max("o_totalprice"), 6),
        "std_price": F.round(F.stddev_samp("o_totalprice"), 4),
    }
    return stats.exact_quantiles(
        o, "o_totalprice", (0.5,), moments=moments
    ).select(
        "mean_price", F.col("p50").alias("median_price"),
        "min_price", "max_price", "std_price",
    )


@register(
    "percentiles",
    """
    SELECT round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
           round(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
           round(quantile_cont(l_extendedprice, 0.90), 6) AS p90,
           round(quantile_cont(l_extendedprice, 0.95), 6) AS p95,
           round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
    FROM lineitem
    """,
    "A7 — exact percentiles at the reference's cut points (nb:cell9:37-41) "
    "from stats.exact_quantiles: one native percentile aggregate when the "
    "column's plan estimate is small, bucket-select (memory bounded at "
    "any size) otherwise; the answer is the same either way. The "
    "approx_percentile sketch is checked separately by "
    "percentiles_approx.",
)
def percentiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.percentiles(
        load_table(spark, sf_dir, "lineitem"), "l_extendedprice"
    )


@register(
    "conditional_agg",
    """
    SELECT CAST(sum(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           CAST(sum(CASE WHEN value < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           CAST(sum(CASE WHEN value >= 10 AND value <= 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_mid,
           round(avg(value), 6) AS avg_value
    FROM events
    """,
    "A8 — conditional aggregation (sentiment split shape, nb:cell10:43-55).",
)
def conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = F.col("value")
    return load_table(spark, sf_dir, "events").agg(
        F.sum(F.when(v > 100, 1).otherwise(0)).alias("n_high"),
        F.sum(F.when(v < 10, 1).otherwise(0)).alias("n_low"),
        F.sum(F.when((v >= 10) & (v <= 100), 1).otherwise(0)).alias("n_mid"),
        F.round(F.avg(v), 6).alias("avg_value"),
    )


def _null_profile_oracle(cols: list[str], table: str) -> str:
    aggs = ", ".join(
        f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS n_{c}" for c in cols
    )
    arms = " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, CAST(n_{c} AS BIGINT) AS null_count, "
        f"round((total - n_{c}) * 100.0 / total, 2) AS completeness_pct FROM t"
        for c in cols
    )
    return (
        f"WITH t AS (SELECT count(*) AS total, {aggs} FROM {table}) "
        f"SELECT * FROM ({arms}) ORDER BY null_count DESC, column_name"
    )


_ORDERS_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
]


@register(
    "null_profile",
    _null_profile_oracle(_ORDERS_COLS, "orders"),
    "A9+A10 — per-column null count + completeness % in one pass "
    "(src/transformacion.py:424-436, nb:cell6:13-21).",
)
def null_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.null_profile(
        load_table(spark, sf_dir, "orders"), _ORDERS_COLS
    )


@register(
    "monthly_counts",
    """
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
           count(*) AS cnt
    FROM orders GROUP BY 1 ORDER BY 1
    """,
    "A11/F17/O2 — month-period truncation + count + sort (nb:cell10:26-28).",
)
def monthly_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import monthly_counts

    return monthly_counts(load_table(spark, sf_dir, "orders"), "o_orderdate")


@register(
    "date_range",
    """
    SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS min_ts,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts
    FROM events
    """,
    "A12 — min/max over event time (nb:cell10:22-24).",
)
def date_range_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import date_range

    return date_range(load_table(spark, sf_dir, "events"), "ts")


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr_oracle() -> str:
    pairs = [
        (a, b)
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1:]
    ]
    arms = " UNION ALL ".join(
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, round(corr({a}, {b}), 6) AS corr "
        f"FROM lineitem"
        for a, b in pairs
    )
    return f"SELECT * FROM ({arms}) ORDER BY col_a, col_b"


@register(
    "corr_matrix",
    _corr_oracle(),
    "A13/A14 — pairwise Pearson correlations in one aggregate pass, "
    "unpivoted (nb:cell13:23-29).",
)
def corr_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.corr_matrix(load_table(spark, sf_dir, "lineitem"), _CORR_COLS)


@register(
    "outliers_iqr",
    """
    WITH q AS (
      SELECT quantile_cont(o_totalprice, 0.25) AS q1,
             quantile_cont(o_totalprice, 0.75) AS q3,
             count(o_totalprice) AS total
      FROM orders
    ), b AS (
      SELECT q1, q3, total, q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi FROM q
    )
    SELECT count(*) AS outlier_count,
           round(any_value(q1), 6) AS q1,
           round(any_value(q3), 6) AS q3,
           round(any_value(lo), 6) AS lower_bound,
           round(any_value(hi), 6) AS upper_bound,
           round(count(*) * 100.0 / any_value(total), 4) AS outlier_pct,
           round(min(o_totalprice), 6) AS outlier_min,
           round(max(o_totalprice), 6) AS outlier_max
    FROM orders, b
    WHERE o_totalprice < lo OR o_totalprice > hi
    """,
    "A15 — IQR outlier detection summary (nb:cell11-12): Q1/Q3 → ±1.5·IQR "
    "bounds → count/%/min/max. Q1/Q3 and the row count come from one "
    "stats.exact_quantiles call (native aggregate for small plan "
    "estimates, bucket-select otherwise), then a 1-row broadcast filter.",
)
def outliers_iqr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.iqr_outliers(load_table(spark, sf_dir, "orders"), "o_totalprice")


@register(
    "histogram",
    """
    SELECT CAST(floor(l_extendedprice / 5000.0) AS BIGINT) AS bin,
           count(*) AS cnt
    FROM lineitem WHERE l_extendedprice IS NOT NULL
    GROUP BY 1 ORDER BY 1
    """,
    "A16 — fixed-width histogram binning, DataFrame-native (nb:cell7:49).",
)
def histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.histogram(
        load_table(spark, sf_dir, "lineitem"), "l_extendedprice", 0.0, 5000.0
    )


# --------------------------------------------------------------------------
# §2.9 scalar-expression queries — messy inputs are CONSTRUCTED
# deterministically from the clean test tables (pmod switch) so both
# engines see byte-identical inputs, then the reference semantic applies.
# --------------------------------------------------------------------------

@register(
    "clean_price",
    """
    WITH raw AS (
      SELECT o_orderkey,
             CASE o_orderkey % 5
               WHEN 0 THEN '$' || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
               WHEN 1 THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
               WHEN 2 THEN 'N/A'
               WHEN 3 THEN ''
               ELSE NULL END AS price_raw
      FROM orders)
    SELECT o_orderkey,
           round(coalesce(TRY_CAST(regexp_replace(price_raw, '[$,]', '', 'g') AS DOUBLE), 0.0), 4) AS price_clean,
           CASE
             WHEN coalesce(TRY_CAST(regexp_replace(price_raw, '[$,]', '', 'g') AS DOUBLE), 0.0) <= 500 THEN 'Económico'
             WHEN coalesce(TRY_CAST(regexp_replace(price_raw, '[$,]', '', 'g') AS DOUBLE), 0.0) <= 1000 THEN 'Medio'
             WHEN coalesce(TRY_CAST(regexp_replace(price_raw, '[$,]', '', 'g') AS DOUBLE), 0.0) <= 2000 THEN 'Medio-Alto'
             WHEN coalesce(TRY_CAST(regexp_replace(price_raw, '[$,]', '', 'g') AS DOUBLE), 0.0) <= 5000 THEN 'Alto'
             ELSE 'Premium' END AS categoria_precio
    FROM raw
    """,
    "F1+F9 — money-string cleaning (src/transformacion.py:14-23) and price "
    "bucketing incl. the NULL→0→'Económico' trap (:71-87, SURVEY.md §7.4.6).",
)
def clean_price_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    price_str = F.col("o_totalprice").cast("decimal(18,2)").cast("string")
    raw = (
        F.when(F.col("o_orderkey") % 5 == 0, F.concat(F.lit("$"), price_str))
        .when(F.col("o_orderkey") % 5 == 1, price_str)
        .when(F.col("o_orderkey") % 5 == 2, F.lit("N/A"))
        .when(F.col("o_orderkey") % 5 == 3, F.lit(""))
        .otherwise(F.lit(None).cast("string"))
    )
    base = o.select("o_orderkey", raw.alias("price_raw"))
    return base.select(
        "o_orderkey",
        F.round(clean_price("price_raw"), 4).alias("price_clean"),
        price_bucket(clean_price("price_raw")).alias("categoria_precio"),
    )


@register(
    "map_categories",
    """
    SELECT CASE WHEN o_orderpriority IS NULL THEN 'No especificado'
                WHEN o_orderpriority = '1-URGENT' THEN 'Urgente'
                WHEN o_orderpriority = '2-HIGH' THEN 'Alta'
                ELSE o_orderpriority END AS priority_es,
           count(*) AS cnt
    FROM orders GROUP BY 1 ORDER BY 1
    """,
    "F10 — dict-map with passthrough default + NULL sentinel "
    "(src/transformacion.py:229-261).",
)
def map_categories_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    mapped = map_with_default(
        "o_orderpriority", {"1-URGENT": "Urgente", "2-HIGH": "Alta"}
    )
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(mapped.alias("priority_es"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("priority_es")
    )


@register(
    "bool_encode",
    """
    SELECT l_orderkey, l_linenumber,
           CASE WHEN lower(trim(CASE (l_orderkey + l_linenumber) % 8
             WHEN 0 THEN 't' WHEN 1 THEN ' True ' WHEN 2 THEN '1'
             WHEN 3 THEN 'yes' WHEN 4 THEN 'SI' WHEN 5 THEN 'f'
             WHEN 6 THEN '' ELSE NULL END))
             IN ('t','true','1','yes','si') THEN 1 ELSE 0 END AS flag
    FROM lineitem
    """,
    "F11 — truthy-string → 0/1 with the reference's truthy set "
    "(src/transformacion.py:263-287).",
)
def bool_encode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    k = (F.col("l_orderkey") + F.col("l_linenumber")) % 8
    raw = (
        F.when(k == 0, "t").when(k == 1, " True ").when(k == 2, "1")
        .when(k == 3, "yes").when(k == 4, "SI").when(k == 5, "f")
        .when(k == 6, "").otherwise(F.lit(None).cast("string"))
    )
    return li.select(
        "l_orderkey", "l_linenumber", bool_encode(raw).alias("flag")
    )


@register(
    "numeric_coerce",
    """
    SELECT l_orderkey, l_linenumber,
           coalesce(TRY_CAST(CASE l_linenumber % 4
             WHEN 0 THEN CAST(l_quantity AS VARCHAR)
             WHEN 1 THEN 'abc' WHEN 2 THEN '' ELSE NULL END AS DOUBLE), 0.0)
             AS qty_coerced
    FROM lineitem
    """,
    "F14 — pd.to_numeric(errors='coerce').fillna(0) "
    "(src/transformacion.py:289-303).",
)
def numeric_coerce_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    k = F.col("l_linenumber") % 4
    raw = (
        F.when(k == 0, F.col("l_quantity").cast("string"))
        .when(k == 1, F.lit("abc"))
        .when(k == 2, F.lit(""))
        .otherwise(F.lit(None).cast("string"))
    )
    return li.select(
        "l_orderkey", "l_linenumber", numeric_coerce(raw).alias("qty_coerced")
    )


@register(
    "text_clean",
    """
    SELECT c_custkey,
           trim(coalesce(CASE c_custkey % 3
             WHEN 0 THEN '  ' || c_name || '  '
             WHEN 1 THEN NULL ELSE c_name END, 'No especificado')) AS name_clean
    FROM customer
    """,
    "F4+F8 — trim + NULL→sentinel text fill (src/transformacion.py:307-316).",
)
def text_clean_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey") % 3
    raw = (
        F.when(k == 0, F.concat(F.lit("  "), F.col("c_name"), F.lit("  ")))
        .when(k == 1, F.lit(None).cast("string"))
        .otherwise(F.col("c_name"))
    )
    return c.select("c_custkey", text_fill_sentinel(raw).alias("name_clean"))


@register(
    "string_length",
    """
    SELECT c_custkey, CAST(length(c_name) AS INT) AS name_len,
           CAST(length(coalesce(CASE WHEN c_custkey % 7 = 0 THEN NULL
             ELSE c_name END, 'nan')) AS INT) AS name_len_compat
    FROM customer
    """,
    "F5 — string length incl. the astype(str) NULL→'nan' (length 3) compat "
    "trap (src/transformacion.py:352-353, SURVEY.md §7.4.5).",
)
def string_length_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import string_length_compat

    c = load_table(spark, sf_dir, "customer")
    nullable = F.when(F.col("c_custkey") % 7 == 0, F.lit(None).cast("string")) \
        .otherwise(F.col("c_name"))
    return c.select(
        "c_custkey",
        F.length("c_name").alias("name_len"),
        string_length_compat(nullable).alias("name_len_compat"),
    )


@register(
    "title_case",
    """
    SELECT c_custkey,
           upper(substr(lower(c_mktsegment), 1, 1)) || substr(lower(c_mktsegment), 2)
             AS segment_title
    FROM customer
    """,
    "F6 — str.title() ≈ initcap; parity-checked on single-word tokens only "
    "(apostrophe/digit divergence, SURVEY.md §7.4.10).",
)
def title_case_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey", title_case(F.col("c_mktsegment")).alias("segment_title")
    )


@register(
    "date_parts",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS year,
           CAST(month(o_orderdate) AS INT) AS month,
           CAST(day(o_orderdate) AS INT) AS day,
           CAST(quarter(o_orderdate) AS INT) AS quarter,
           CAST(isodow(CAST(o_orderdate AS DATE)) - 1 AS INT) AS weekday,
           monthname(CAST(o_orderdate AS DATE)) AS month_name
    FROM orders
    """,
    "F16 — calendar-part derivation incl. the Mon=0 weekday convention "
    "(src/transformacion.py:44-58, SURVEY.md §7.4.1).",
)
def date_parts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("year"),
        F.month(d).alias("month"),
        F.dayofmonth(d).alias("day"),
        F.quarter(d).alias("quarter"),
        weekday_mon0(d).alias("weekday"),
        month_name(d).alias("month_name"),
    )


@register(
    "clean_price_null",
    """
    WITH raw AS (
      SELECT o_orderkey,
             CASE o_orderkey % 5
               WHEN 0 THEN '$' || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
               WHEN 1 THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
               WHEN 2 THEN 'N/A'
               WHEN 3 THEN ''
               ELSE NULL END AS price_raw
      FROM orders)
    SELECT o_orderkey,
           round(TRY_CAST(regexp_replace(price_raw, '[$,]', '', 'g') AS DOUBLE), 4)
             AS price_clean
    FROM raw
    """,
    "F2 — price cleaning, unparseable → NULL (the notebook re-impl, "
    "nb:cell7:18-28) — vs F1's → 0.0.",
)
def clean_price_null_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.cleaning import clean_price_null

    o = load_table(spark, sf_dir, "orders")
    price_str = F.col("o_totalprice").cast("decimal(18,2)").cast("string")
    raw = (
        F.when(F.col("o_orderkey") % 5 == 0, F.concat(F.lit("$"), price_str))
        .when(F.col("o_orderkey") % 5 == 1, price_str)
        .when(F.col("o_orderkey") % 5 == 2, F.lit("N/A"))
        .when(F.col("o_orderkey") % 5 == 3, F.lit(""))
        .otherwise(F.lit(None).cast("string"))
    )
    return o.select(
        "o_orderkey",
        F.round(clean_price_null(raw), 4).alias("price_clean"),
    )


@register(
    "bool_encode_narrow",
    """
    SELECT l_orderkey, l_linenumber,
           CASE CASE (l_orderkey + l_linenumber) % 4
                  WHEN 0 THEN 't' WHEN 1 THEN 'f' WHEN 2 THEN 'maybe'
                  ELSE NULL END
             WHEN 't' THEN 1 WHEN 'f' THEN 0 ELSE 0 END AS available_flag
    FROM lineitem
    """,
    "F12 — narrow availability map {'t':1,'f':0} else/NULL → 0 "
    "(src/transformacion.py:396-397).",
)
def bool_encode_narrow_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.cleaning import bool_encode_narrow

    li = load_table(spark, sf_dir, "lineitem")
    k = (F.col("l_orderkey") + F.col("l_linenumber")) % 4
    raw = (
        F.when(k == 0, "t").when(k == 1, "f").when(k == 2, "maybe")
        .otherwise(F.lit(None).cast("string"))
    )
    return li.select(
        "l_orderkey", "l_linenumber",
        bool_encode_narrow(raw).alias("available_flag"),
    )


@register(
    "parse_array",
    """
    SELECT p_partkey,
           CAST(CASE p_partkey % 6
             WHEN 0 THEN to_json(string_split(p_name, ' '))
             WHEN 1 THEN to_json([p_name])
             ELSE to_json(CAST([] AS VARCHAR[])) END AS VARCHAR) AS items
    FROM part
    """,
    "F19 — string→array parse with every fallback: JSON-array string "
    "(parsed), bare string (1-elem), ''/'nan'/NULL/malformed (empty) "
    "(src/transformacion.py:126-137). The oracle derives the expected "
    "array from the deterministic construction; Spark genuinely parses. "
    "The compared column is the to_json rendering of the array (both "
    "engines emit compact [\"a\",\"b\"]) because the driver's pandas "
    "canonicalizer cannot hash raw list values; the array-returning "
    "operator itself stays array-typed for composition "
    "(functions/arrays.py:parse_string_array).",
)
def parse_array_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.arrays import parse_string_array

    p = load_table(spark, sf_dir, "part")
    words = F.split(F.col("p_name"), " ")
    json_arr = F.concat(
        F.lit('["'), F.array_join(words, '", "'), F.lit('"]')
    )
    k = F.col("p_partkey") % 6
    raw = (
        F.when(k == 0, json_arr)
        .when(k == 1, F.col("p_name"))
        .when(k == 2, F.lit(""))
        .when(k == 3, F.lit("nan"))
        .when(k == 4, F.lit(None).cast("string"))
        .otherwise(F.lit("[unclosed"))
    )
    return p.select(
        "p_partkey", F.to_json(parse_string_array(raw)).alias("items")
    )


def _amenities_flags_oracle() -> str:
    from ..functions.arrays import AMENITY_NAMES, amenity_flag_name

    # Hand-derived truth per construction arm (see the Spark side):
    # arm 0 → WiFi, Kitchen; arm 1 → wifi (substring), air conditioning,
    # parking; arm 2 → bare 'TV'; arm 3 → NULL → all zero.
    by_arm = {
        "WiFi": (1, 1, 0), "Kitchen": (1, 0, 0), "Air conditioning": (0, 1, 0),
        "Heating": (0, 0, 0), "TV": (0, 0, 1), "Washer": (0, 0, 0),
        "Dryer": (0, 0, 0), "Pool": (0, 0, 0), "Gym": (0, 0, 0),
        "Parking": (0, 1, 0),
    }
    cols = ", ".join(
        f"CASE p_partkey % 4 WHEN 0 THEN {by_arm[n][0]} WHEN 1 THEN "
        f"{by_arm[n][1]} WHEN 2 THEN {by_arm[n][2]} ELSE 0 END AS "
        f"{amenity_flag_name(n)}"
        for n in AMENITY_NAMES
    )
    return f"SELECT p_partkey, {cols} FROM part"


@register(
    "amenities_flags",
    _amenities_flags_oracle(),
    "F19+F20+F21 — parse amenity string → clean elements → 10 binary "
    "containment flags (src/transformacion.py:106-183; the 16.2 s hot "
    "spot, log:56-57 — here pure codegen). Oracle is the hand-derived "
    "truth table of the deterministic construction.",
)
def amenities_flags_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.arrays import (
        amenity_flags_packed,
        clean_string_array,
        parse_string_array,
    )

    p = load_table(spark, sf_dir, "part")
    k = F.col("p_partkey") % 4
    raw = (
        F.when(k == 0, F.lit('["WiFi", "Kitchen"]'))
        .when(
            k == 1,
            F.lit('["Fast wifi – 400 Mbps", "Air conditioning unit", "Free parking"]'),
        )
        .when(k == 2, F.lit("TV"))
        .otherwise(F.lit(None).cast("string"))
    )
    arr = clean_string_array(parse_string_array(raw))
    return p.select("p_partkey", *amenity_flags_packed(arr))


@register(
    "date_normalize",
    """
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS date_clean
    FROM orders
    """,
    "F15/F18 — robust parse + normalize to 'yyyy-MM-dd' string "
    "(src/transformacion.py:25-42).",
)
def date_normalize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey", date_normalize(F.col("o_orderdate")).alias("date_clean")
    )
