"""Extension queries (SURVEY.md §2.4 joins, §2.6 windows, §2.8 set ops,
§2.10 event windows, §2.11 LLM-pipeline text/vector operators).

The reference implements none of these (§2.4/2.6/2.8 are empty in its
code); they are first-class engine capabilities mandated by the north
star. Oracle SQL is provided wherever DuckDB can express the semantics;
MinHash/SimHash/LSH (xxhash64-based) are rows-only checks by design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    LANG_MARKERS,
    NEGATIVE_WORDS,
    POSITIVE_WORDS,
    quality_score_cols,
    sentiment_score,
    tokenize,
)
from ..operators.dedup import (
    dedup_text_exact,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    normalize_text,
    simhash_signatures,
)
from ..operators.joins import (
    anti_join,
    asof_join,
    broadcast_dim_join,
    range_bin_join,
    semi_join,
)
from ..operators.similarity import (
    knn_cosine,
    knn_cosine_lsh,
)
from ..operators.timeseries import (
    interval_occupancy,
    session_window_agg,
    tumbling_window_agg,
)
from ..operators.windows import (
    lag_delta,
    moving_avg,
    rank_topn_per_group,
    scd2_intervals,
)
from ..tables import load_table, parallelize_scan
from . import register

TS_FMT = "%Y-%m-%d %H:%M:%S"


# --------------------------------------------------------------------------
# §2.4 joins
# --------------------------------------------------------------------------

@register(
    "join_inner_fk",
    """
    SELECT c_mktsegment, count(*) AS cnt,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
             / 100.0 AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    "Equi inner join on the latent FK (reviews.listing_id→listings.id "
    "analogue; the reference never joins — SURVEY.md §2.4). r13 plan "
    "(the sf24 floor decomposition: 2.25 s of the 4.0 s wall was the "
    "DRIVER-SIDE serial build of the 3.6M-entry customer broadcast "
    "relation — the on-disk pruned estimate stays under the 16 MiB "
    "static threshold at every tier while the in-memory relation "
    "does not): (1) the revenue/count aggregation is PUSHED BELOW the "
    "join — orders partial-aggregates by o_custkey first (map-side "
    "combine, 36M rows -> |customers| before any join shuffle; "
    "integer-cents sums are associative so the two-level rollup is "
    "exact), the aggregate-through-join rewrite Catalyst does not do "
    "itself; (2) the join takes a SHUFFLE_HASH hint on the customer "
    "side — both sides are now ~|customers| rows, the build side's "
    "key is UNIQUE (uniform hash distribution, per-partition build = "
    "|customer|/shuffle_partitions entries — metadata-scale under any "
    "production partition sizing, and skew-free by construction), so "
    "the hint trades the serial driver build for parallel per-"
    "partition builds without the SHJ no-spill hazard the AQE "
    "threshold gate exists for. Measured sf24 isolated: BHJ 3.25 s / "
    "preagg+BHJ 2.84 s / preagg+SHJ 1.71 s; sf0.1 neutral (0.39 s). "
    "Revenue sums as integer CENTS (q1's r9 treatment: exact, order-"
    "independent, no decimal(38) aggregate buffers); overflow bound "
    "~SF 10^5 per segment, decimal swap documented at q1.",
)
def join_inner_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").hint("SHUFFLE_HASH")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    per_cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.sum(cents).alias("__cents"),
    )
    return (
        per_cust.join(c, F.col("o_custkey") == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.sum("__cnt").alias("cnt"),
            (F.sum("__cents").cast("double") / F.lit(100.0)).alias(
                "revenue"
            ),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "join_broadcast_dim",
    """
    SELECT r_name, count(*) AS n_customers,
           round(CAST(sum(CAST(c_acctbal AS DECIMAL(20,4))) AS DOUBLE)
                 / count(*), 6) AS avg_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name ORDER BY r_name
    """,
    "Broadcast dimension join chain (customer→nation→region): the fact "
    "side never shuffles (SURVEY.md §4.3).",
)
def join_broadcast_dim_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = broadcast_dim_join(
        broadcast_dim_join(c, n, "c_nationkey", "n_nationkey"),
        r, "n_regionkey", "r_regionkey",
    )
    return (
        joined.groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(20,4)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_acctbal"),
        )
        .orderBy("r_name")
    )


@register(
    "join_left_semi",
    """
    SELECT c_custkey FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey
    """,
    "Left-semi join: 'listings with ≥1 review' shape (SURVEY.md §2.4).",
)
def join_left_semi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return semi_join(c, o, "c_custkey", "o_custkey").select("c_custkey").orderBy(
        "c_custkey"
    )


@register(
    "join_left_anti",
    """
    SELECT c_custkey FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey
    """,
    "Left-anti join: 'customers with no orders'.",
)
def join_left_anti_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return anti_join(c, o, "c_custkey", "o_custkey").select("c_custkey").orderBy(
        "c_custkey"
    )


@register(
    "join_range_theta",
    """
    SELECT s_suppkey, count(*) AS n_richer_customers
    FROM supplier JOIN customer
      ON c_nationkey = s_nationkey AND c_acctbal > s_acctbal
    GROUP BY s_suppkey ORDER BY s_suppkey
    """,
    "Theta join (equi + non-equi residual): same-nation customers with "
    "higher balance than the supplier.",
)
def join_range_theta_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    return (
        s.join(
            c,
            (c["c_nationkey"] == s["s_nationkey"])
            & (c["c_acctbal"] > s["s_acctbal"]),
        )
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_richer_customers"))
        .orderBy("s_suppkey")
    )


@register(
    "join_asof",
    f"""
    SELECT p.event_id,
           strftime(p.ts, '{TS_FMT}') AS ts,
           strftime(c.ts, '{TS_FMT}') AS asof_ts,
           c.value AS asof_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    ORDER BY p.event_id
    """,
    "As-of join (nearest-earlier click per purchase, per user) via the "
    "scalable union+ordered-window plan — ONE shuffle on (key, ts), no "
    "range-join blow-up (SURVEY.md §2.4).",
)
def join_asof_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    joined = asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="ts",
        right_value_cols=["ts", "value"],
    )
    return joined.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.date_format("asof_ts", "yyyy-MM-dd HH:mm:ss").alias("asof_ts"),
        F.col("asof_value"),
    ).orderBy("event_id")


@register(
    "join_salted_skew",
    """
    WITH dim AS (SELECT lang, avg(n_chars) AS avg_chars
                 FROM documents GROUP BY lang)
    SELECT d.lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN d.n_chars > dim.avg_chars THEN 1 ELSE 0 END)
                AS BIGINT) AS n_above_avg
    FROM documents d JOIN dim ON d.lang = dim.lang
    GROUP BY d.lang ORDER BY d.lang
    """,
    "Skew-mitigated join (SURVEY.md §4.3): documents.lang is the hot-key "
    "case ('en' ≈ 44% of the corpus, mirroring the reference's 45.9% "
    "Cuauhtémoc skew) — fact rows spread over 8 salt replicas of the "
    "per-lang dim so no single reducer owns the hot key. The salt never "
    "changes the result (operators/joins.py:salted_join), which is "
    "exactly what the plain-join oracle verifies.",
)
def join_salted_skew_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import salted_join

    d = load_table(spark, sf_dir, "documents")
    dim = d.groupBy(F.col("lang").alias("lang_k")).agg(
        F.avg("n_chars").alias("avg_chars")
    )
    joined = salted_join(d, dim, "lang", "lang_k", salt=8)
    return (
        joined.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_chars") > F.col("avg_chars")).cast("long"))
            .alias("n_above_avg"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# §2.6 window functions
# --------------------------------------------------------------------------

@register(
    "window_rank_topn",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY o_orderpriority
        ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
    WHERE rn <= 3 ORDER BY o_orderpriority, rn
    """,
    "row_number top-k per group with deterministic tie-break "
    "(SURVEY.md §2.6).",
)
def window_rank_topn_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        rank_topn_per_group(
            o, "o_orderpriority", "o_totalprice", 3, tiebreak="o_orderkey"
        )
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_orderpriority", "rn")
    )


@register(
    "window_moving_avg",
    """
    SELECT o_custkey, o_orderkey,
           round(avg(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS moving_avg
    FROM orders ORDER BY o_custkey, o_orderkey
    """,
    "Moving average over event order per customer (SURVEY.md §2.6).",
)
def window_moving_avg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        moving_avg(
            o, "o_custkey", "o_orderdate", "o_totalprice",
            preceding=2, tiebreak="o_orderkey",
        )
        .select("o_custkey", "o_orderkey", "moving_avg")
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "window_lag_delta",
    """
    WITH m AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
             count(*) AS cnt
      FROM orders GROUP BY 1)
    SELECT month, cnt, cnt - lag(cnt) OVER (ORDER BY month) AS delta
    FROM m ORDER BY month
    """,
    "lag/lead period-over-period delta on the A11 monthly series "
    "(SURVEY.md §2.6).",
)
def window_lag_delta_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import monthly_counts

    m = monthly_counts(load_table(spark, sf_dir, "orders"), "o_orderdate")
    return lag_delta(m, "month", "cnt").orderBy("month")


# --------------------------------------------------------------------------
# §2.8 set operations
# --------------------------------------------------------------------------

@register(
    "set_union_by_name",
    """
    SELECT c_custkey, 'building' AS src FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT c_custkey, 'rich' AS src FROM customer WHERE c_acctbal > 5000
    ORDER BY src, c_custkey
    """,
    "unionByName — schema-aligned append, the Spark idiom for the "
    "reference's per-collection extract loop (S2, SURVEY.md §2.8).",
)
def set_union_by_name_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.setops import union_by_name

    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey", F.lit("building").alias("src")
    )
    b = c.filter(F.col("c_acctbal") > 5000).select(
        "c_custkey", F.lit("rich").alias("src")
    )
    return union_by_name(a, b).orderBy("src", "c_custkey")


@register(
    "set_intersect",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    ORDER BY c_custkey
    """,
    "INTERSECT (distinct) — SURVEY.md §2.8.",
)
def set_intersect_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.setops import intersect_distinct

    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return intersect_distinct(a, b).orderBy("c_custkey")


@register(
    "set_except_all",
    """
    SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT ALL
    SELECT c_nationkey FROM customer WHERE c_acctbal > 5000
    ORDER BY c_nationkey
    """,
    "EXCEPT ALL — multiset difference (bag semantics preserve "
    "multiplicity; SURVEY.md §2.8).",
)
def set_except_all_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.setops import except_all

    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_nationkey")
    return except_all(a, b).orderBy("c_nationkey")


@register(
    "set_except",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    ORDER BY c_custkey
    """,
    "EXCEPT (distinct) set difference (SURVEY.md §2.8).",
)
def set_except_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.setops import except_distinct

    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return except_distinct(a, b).orderBy("c_custkey")


# --------------------------------------------------------------------------
# §2.10 event-time windows over the batch events table
# --------------------------------------------------------------------------

@register(
    "window_tumbling_agg",
    f"""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '{TS_FMT}') AS window_start,
           event_type, count(*) AS cnt, round(sum(value), 6) AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "Tumbling event-time window aggregation over the batch events "
    "table (SURVEY.md §2.10).",
)
def window_tumbling_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_window_agg(
        load_table(spark, sf_dir, "events"), "ts", "1 hour",
        group_cols=["event_type"], value_col="value",
    )


@register(
    "window_session_agg",
    f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged)
    SELECT user_id, strftime(min(ts), '{TS_FMT}') AS session_start,
           count(*) AS cnt
    FROM sessions GROUP BY user_id, sid ORDER BY user_id, session_start
    """,
    "Session windows (30 min gap) per user — session_window() in Spark, "
    "gaps-and-islands SQL as the oracle (SURVEY.md §2.10). New session "
    "when the gap is >= the timeout (Spark session end is exclusive).",
)
def window_session_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_window_agg(
        load_table(spark, sf_dir, "events"), "ts", "user_id", "30 minutes"
    )


# --------------------------------------------------------------------------
# §2.5 extensions: rollup / approx-distinct / semi-structured JSON
# --------------------------------------------------------------------------

@register(
    "agg_rollup",
    """
    SELECT coalesce(c_mktsegment, 'ALL') AS segment,
           coalesce(CAST(c_nationkey AS BIGINT), -1) AS nation,
           count(*) AS cnt,
           CAST(sum(CAST(c_acctbal AS DECIMAL(20,4))) AS DOUBLE) AS sum_acctbal
    FROM customer
    GROUP BY ROLLUP(c_mktsegment, c_nationkey)
    ORDER BY segment, nation
    """,
    "Engine extension (SURVEY.md §2.5 notes): ROLLUP subtotal hierarchy — "
    "segment × nation, per-segment subtotal, grand total. NULL group keys "
    "coalesced to sentinels for hash stability.",
)
def agg_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return (
        c.rollup("c_mktsegment", "c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("c_acctbal").cast("decimal(20,4)"))
            .cast("double")
            .alias("sum_acctbal"),
        )
        .select(
            F.coalesce(F.col("c_mktsegment"), F.lit("ALL")).alias("segment"),
            F.coalesce(F.col("c_nationkey").cast("bigint"), F.lit(-1)).alias(
                "nation"
            ),
            "cnt",
            "sum_acctbal",
        )
        .orderBy("segment", "nation")
    )


@register(
    "dataset_split",
    """
    WITH k AS (
      SELECT doc_id,
             ((doc_id % 4294967296) + 4294967296) % 4294967296 AS kk
      FROM documents),
    b AS (
      SELECT doc_id,
             ((kk // 65536 * 2654435761) % 4294967296 * 65536
              + (kk % 65536) * 2654435761) % 4294967296 % 100 AS bucket
      FROM k)
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS cnt
    FROM b GROUP BY 1 ORDER BY 1
    """,
    "Training-pipeline extension — deterministic 80/10/10 corpus split "
    "by multiplicative key hash (stable across runs/engines/partitioning, "
    "unlike randomSplit; rows never migrate as the corpus grows).",
)
def dataset_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.setops import split_by_hash

    d = load_table(spark, sf_dir, "documents")
    return (
        split_by_hash(d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("split")
    )


@register(
    "group_collect",
    """
    SELECT n_nationkey,
           len(list(c_custkey)) AS n_custkeys,
           array_to_string(list_sort(list(c_custkey)), ',') AS custkeys_csv
    FROM nation JOIN customer ON c_nationkey = n_nationkey
    GROUP BY n_nationkey ORDER BY n_nationkey
    """,
    "Engine extension — array/string aggregation (collect_list + "
    "sort_array + array_join): per-nation customer id lists. Sorted on "
    "both sides because collection order is partition-dependent; the "
    "compared columns are the CSV rendering + length (the driver's "
    "canonicalizer cannot hash raw array values, which once failed "
    "parse_array).",
)
def group_collect_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    keys = F.sort_array(F.collect_list("c_custkey"))
    return (
        n.join(c, n["n_nationkey"] == c["c_nationkey"])
        .groupBy("n_nationkey")
        .agg(
            F.size(keys).cast("long").alias("n_custkeys"),
            F.array_join(keys, ",").alias("custkeys_csv"),
        )
        .orderBy("n_nationkey")
    )


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@register(
    "pivot_counts",
    f"""
    SELECT o_orderstatus,
           {", ".join(
               f'''CAST(sum(CASE WHEN o_orderpriority = '{p}' THEN 1 ELSE 0 END)
               AS BIGINT) AS "{p}"''' for p in _PRIORITIES
           )}
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "Engine extension — pivot/crosstab: status × priority counts. "
    "Explicit value list (pinned) so the output schema is deterministic; "
    "missing combos coalesce to 0 to match the CASE-sum oracle.",
)
def pivot_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .count()
    )
    return wide.select(
        "o_orderstatus",
        *[
            F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(p)
            for p in _PRIORITIES
        ],
    ).orderBy("o_orderstatus")


@register(
    "agg_cube",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS cnt
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    ORDER BY status, priority
    """,
    "Engine extension — CUBE: all subtotal combinations of the two "
    "grouping axes (SURVEY.md §2.5 notes).",
)
def agg_cube_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "cnt",
        )
        .orderBy("status", "priority")
    )


@register(
    "window_dense_rank",
    """
    SELECT o_orderpriority, o_orderkey,
           CAST(dense_rank() OVER (
             PARTITION BY o_orderpriority ORDER BY o_orderstatus) AS INT)
             AS status_rank,
           round(percent_rank() OVER (
             PARTITION BY o_orderpriority ORDER BY o_totalprice), 6)
             AS price_pct_rank
    FROM orders
    """,
    "Engine extension — dense_rank + percent_rank per group "
    "(SURVEY.md §2.6); tie rows share values in both engines.",
)
def window_dense_rank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w_status = Window.partitionBy("o_orderpriority").orderBy("o_orderstatus")
    w_price = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return o.select(
        "o_orderpriority",
        "o_orderkey",
        F.dense_rank().over(w_status).alias("status_rank"),
        F.round(F.percent_rank().over(w_price), 6).alias("price_pct_rank"),
    )


@register(
    "window_first_last",
    """
    SELECT o_custkey, o_orderkey,
           strftime(first_value(o_orderdate) OVER w, '%Y-%m-%d')
             AS first_order_date,
           strftime(last_value(o_orderdate) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
             '%Y-%m-%d') AS last_order_date
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "Engine extension — first_value/last_value over per-customer order "
    "history (full-frame last_value; SURVEY.md §2.6).",
)
def window_first_last_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format(F.first("o_orderdate").over(w), "yyyy-MM-dd").alias(
            "first_order_date"
        ),
        F.date_format(F.last("o_orderdate").over(w_full), "yyyy-MM-dd").alias(
            "last_order_date"
        ),
    )


@register(
    "window_ntile",
    """
    SELECT o_orderkey,
           CAST(ntile(4) OVER (
             PARTITION BY o_orderpriority
             ORDER BY o_totalprice, o_orderkey) AS INT) AS quartile
    FROM orders
    """,
    "Engine extension — ntile quartiles per group with deterministic "
    "tie-break (SURVEY.md §2.6).",
)
def window_ntile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return o.select(
        "o_orderkey", F.ntile(4).over(w).alias("quartile")
    )


@register(
    "window_cume_dist",
    """
    SELECT o_orderkey,
           round(cume_dist() OVER (
             PARTITION BY o_orderstatus ORDER BY o_totalprice), 6)
             AS cume
    FROM orders
    """,
    "Engine extension — cumulative distribution per group "
    "(SURVEY.md §2.6); tie rows share a value in both engines.",
)
def window_cume_dist_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice")
    return o.select(
        "o_orderkey", F.round(F.cume_dist().over(w), 6).alias("cume")
    )


@register(
    "approx_distinct",
    """
    SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_custkeys,
           TRUE AS within_10pct
    FROM orders
    """,
    "Engine extension (SURVEY.md §2.5 notes): approx_count_distinct — the "
    "documented 100 TB swap for countDistinct (single pass, no distinct "
    "shuffle). Bounded-assertion form: the plan computes "
    "BOTH the HLL++ estimate (rsd=0.02) and the exact count and emits "
    "(exact, |approx−exact| ≤ 10%·exact) — deterministic regardless of "
    "partial-merge order because HLL register union is commutative and "
    "10% is 5σ of the configured rsd, so the driver can hash-assert it. "
    "tests/test_operators.py still bounds the raw estimate.",
)
def approx_distinct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_custkey").alias("exact_custkeys"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("__approx"),
    ).select(
        "exact_custkeys",
        (
            F.abs(F.col("__approx") - F.col("exact_custkeys"))
            <= 0.10 * F.col("exact_custkeys")
        ).alias("within_10pct"),
    )


@register(
    "percentiles_approx",
    """
    SELECT count(l_extendedprice) AS cnt,
           round(avg(l_extendedprice), 6) AS mean,
           round(stddev_samp(l_extendedprice), 6) AS std,
           round(min(l_extendedprice), 6) AS min,
           round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
           round(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
           round(max(l_extendedprice), 6) AS max,
           TRUE AS approx_in_bracket
    FROM lineitem
    """,
    "The approx_percentile sketch next to the exact quartiles: the "
    "sketch is mergeable with bounded memory per partition — no "
    "per-partition value map, no single-threaded merge. The plan "
    "computes the sketch quartiles AND the exact quartiles "
    "(stats.exact_percentiles_bucket_select, never a full-column "
    "buffer) and emits the EXACT values plus one boolean asserting "
    "every sketch value lies inside the exact [p−0.01, p+0.01] value "
    "bracket. The sketch and the moments are bucket-select's moments: "
    "columns of its 1-row limits frame (cnt reads 0 on empty input). "
    "The sketch's rank error at the default accuracy is n/10000 ≈ "
    "0.01%·n — two orders inside the ±1%-rank bracket — so the boolean is "
    "TRUE under ANY partial-merge order and the row can be "
    "hash-asserted whole.",
)
def percentiles_approx_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import _no_nan, exact_percentiles_bucket_select

    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    sketch_ps = F.array(*[F.lit(p) for p in (0.25, 0.50, 0.75)])
    fused = exact_percentiles_bucket_select(
        li, "l_extendedprice",
        ps=(0.24, 0.25, 0.26, 0.49, 0.50, 0.51, 0.74, 0.75, 0.76),
        dp=None,
        moments={
            "cnt": F.count(x),
            "mean": F.round(F.avg(x), 6),
            "std": F.round(F.stddev_samp(x), 6),
            "min": F.round(F.min(x), 6),
            "__q": F.percentile_approx(_no_nan("l_extendedprice"), sketch_ps),
            "max": F.round(F.max(x), 6),
        },
    )
    in_bracket = (
        (F.element_at("__q", 1) >= F.col("p24"))
        & (F.element_at("__q", 1) <= F.col("p26"))
        & (F.element_at("__q", 2) >= F.col("p49"))
        & (F.element_at("__q", 2) <= F.col("p51"))
        & (F.element_at("__q", 3) >= F.col("p74"))
        & (F.element_at("__q", 3) <= F.col("p76"))
    )
    return fused.select(
        "cnt", "mean", "std", "min",
        F.round(F.col("p25"), 6).alias("p25"),
        F.round(F.col("p50"), 6).alias("p50"),
        F.round(F.col("p75"), 6).alias("p75"),
        "max",
        in_bracket.alias("approx_in_bracket"),
    )


@register(
    "json_extract",
    """
    SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
    "S5/§1.2 semi-structured — JSON field extraction from the events "
    "props column (the engine face of the reference's Mongo extended-JSON "
    "handling, src/transformacion.py:31-32).",
)
def json_extract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )


@register(
    "window_sliding_agg",
    f"""
    WITH both_grids AS (
      SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '{TS_FMT}')
               AS window_start, value
      FROM events
      UNION ALL
      SELECT strftime(time_bucket(INTERVAL '1 hour', ts, INTERVAL '30 minutes'),
                      '{TS_FMT}') AS window_start, value
      FROM events)
    SELECT window_start, count(*) AS cnt, round(sum(value), 6) AS sum_value
    FROM both_grids GROUP BY 1 ORDER BY 1
    """,
    "§2.10 — sliding event-time window (1 h window, 30 min slide): each "
    "event lands in 2 windows. Oracle = union of the two half-offset "
    "tumbling grids.",
)
def window_sliding_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "cnt",
            "sum_value",
        )
        .orderBy("window_start")
    )


# --------------------------------------------------------------------------
# §2.11 text analysis over `documents`
# --------------------------------------------------------------------------

_TOKS_SQL = (
    "list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')"
)


@register(
    "token_topn",
    f"""
    SELECT token, count(*) AS cnt FROM (
      SELECT unnest({_TOKS_SQL}) AS token FROM documents)
    GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 20
    """,
    "§2.11 — token frequency top-N: explode + groupBy + "
    "TakeOrderedAndProject.",
)
def token_topn_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokenize("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(20)
    )


@register(
    "token_count",
    f"""
    SELECT doc_id, CAST(len({_TOKS_SQL}) AS INT) AS n_tokens FROM documents
    """,
    "§2.11 — per-document token count (whitespace tokenizer).",
)
def token_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", F.size(tokenize("text")).alias("n_tokens"))


def _sentiment_sql(col: str) -> str:
    pos = " + ".join(
        f"CAST(contains(lower({col}), '{w}') AS INT)" for w in POSITIVE_WORDS
    )
    neg = " + ".join(
        f"CAST(contains(lower({col}), '{w}') AS INT)" for w in NEGATIVE_WORDS
    )
    return f"(({pos}) - ({neg}))"


@register(
    "sentiment_score",
    f"""
    SELECT doc_id, CAST({_sentiment_sql('text')} AS INT) AS sentiment_score
    FROM documents WHERE text IS NOT NULL
    """,
    "F13 — lexicon sentiment with the duplicate-entry double-count rule "
    "(src/transformacion.py:355-364, SURVEY.md §7.4.7).",
)
def sentiment_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.filter(F.col("text").isNotNull()).select(
        "doc_id", sentiment_score("text").alias("sentiment_score")
    )


@register(
    "sentiment_dist",
    f"""
    WITH s AS (
      SELECT {_sentiment_sql('text')} AS sc FROM documents WHERE text IS NOT NULL)
    SELECT CAST(sum(CASE WHEN sc > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           CAST(sum(CASE WHEN sc < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
           CAST(sum(CASE WHEN sc = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neutral,
           round(avg(sc), 6) AS avg_sentiment
    FROM s
    """,
    "A8 over F13 — sentiment distribution (pos/neg/neutral/mean, "
    "nb:cell10:43-55).",
)
def sentiment_dist_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sc = sentiment_score("text")
    base = d.filter(F.col("text").isNotNull()).select(sc.alias("sc"))
    return base.agg(
        F.sum(F.when(F.col("sc") > 0, 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(F.col("sc") < 0, 1).otherwise(0)).alias("n_neg"),
        F.sum(F.when(F.col("sc") == 0, 1).otherwise(0)).alias("n_neutral"),
        F.round(F.avg("sc"), 6).alias("avg_sentiment"),
    )


def _lang_score_sql(lang: str) -> str:
    toks = _TOKS_SQL
    return " + ".join(
        f"CAST(list_contains({toks}, '{w}') AS INT)" for w in LANG_MARKERS[lang]
    )


@register(
    "lang_id",
    f"""
    WITH s AS (
      SELECT doc_id, lang,
             ({_lang_score_sql('de')}) AS s_de,
             ({_lang_score_sql('en')}) AS s_en,
             ({_lang_score_sql('es')}) AS s_es,
             ({_lang_score_sql('fr')}) AS s_fr
      FROM documents)
    SELECT CASE
             WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
             WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
             WHEN s_es >= s_fr THEN 'es'
             ELSE 'fr' END AS pred_lang,
           count(*) AS cnt
    FROM s GROUP BY 1 ORDER BY 1
    """,
    "§2.11 — marker-word language ID, argmax with lexicographic "
    "tie-break, aggregated to a distribution.",
)
def lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import lang_id_score

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        *[lang_id_score("text", L).alias(f"s_{L}") for L in ("de", "en", "es", "fr")],
    )
    s = {L: F.col(f"s_{L}") for L in ("de", "en", "es", "fr")}
    pred = (
        F.when(
            (s["de"] >= s["en"]) & (s["de"] >= s["es"]) & (s["de"] >= s["fr"]),
            "de",
        )
        .when((s["en"] >= s["es"]) & (s["en"] >= s["fr"]), "en")
        .when(s["es"] >= s["fr"], "es")
        .otherwise("fr")
    )
    return (
        scored.groupBy(pred.alias("pred_lang"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("pred_lang")
    )


@register(
    "quality_score",
    f"""
    WITH t AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents)
    SELECT doc_id,
           CAST(length(text) AS INT) AS n_chars,
           CAST(len(toks) AS INT) AS n_tokens,
           round(CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum')
                 AS DOUBLE) / len(toks), 6) AS mean_token_len,
           round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                 * 1.0 / length(text), 6) AS punct_ratio,
           round(len(list_filter(toks, x -> x IN ('the','a','and','of','is')))
                 * 1.0 / len(toks), 6) AS stopword_ratio
    FROM t WHERE len(toks) > 0 AND length(text) > 0
    """,
    "§2.11 — text quality scoring: length / punctuation / stopword "
    "ratios, all native expressions.",
)
def quality_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    cols = quality_score_cols("text")
    return (
        d.select(
            "doc_id",
            cols["n_chars"].alias("n_chars"),
            cols["n_tokens"].alias("n_tokens"),
            F.round(cols["mean_token_len"], 6).alias("mean_token_len"),
            F.round(cols["punct_ratio"], 6).alias("punct_ratio"),
            F.round(cols["stopword_ratio"], 6).alias("stopword_ratio"),
        )
        .filter((F.col("n_tokens") > 0) & (F.col("n_chars") > 0))
    )


@register(
    "token_count_bpe",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+'))
             AS INT) AS n_bpe_tokens
    FROM documents
    """,
    "§2.11 — BPE-ish pre-tokenizer count (GPT-2-style regex; the cheap "
    "LLM token-budget proxy). Same \\p{L}/\\p{N} pattern runs in Java "
    "regex and RE2.",
)
def token_count_bpe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import bpe_ish_tokens

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.size(bpe_ish_tokens("text")).alias("n_bpe_tokens")
    )


@register(
    "quality_filter",
    f"""
    WITH t AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents)
    SELECT doc_id FROM t
    WHERE len(toks) >= 20
      AND (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
            * 1.0 / length(text) <= 0.1
      AND len(list_filter(toks, x -> x IN ('the','a','and','of','is')))
            * 1.0 / len(toks) >= 0.05
    ORDER BY doc_id
    """,
    "§2.11 — corpus quality filter: keep docs with >= 20 tokens, punct "
    "ratio <= 10%, stopword ratio >= 5% (the C4-style heuristic gate, "
    "composed from the quality_score features).",
)
def quality_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r16 (guide §2.5): width-capped scan widening — the 1-split text
    # scan serialized the in-row scoring on one core; interleaved A/B
    # med 0.85 s direct → 0.74 s at width 8 (full width loses to the
    # round-robin agg-map duplication, parallelize_scan docstring).
    d = parallelize_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark, cap=8,
    )
    cols = quality_score_cols("text")
    return (
        d.select("doc_id", *(cols[c].alias(c) for c in
                             ("n_tokens", "punct_ratio", "stopword_ratio")))
        .filter(
            (F.col("n_tokens") >= 20)
            & (F.col("punct_ratio") <= 0.1)
            & (F.col("stopword_ratio") >= 0.05)
        )
        .select("doc_id")
        .orderBy("doc_id")
    )


def _minhash_pairs_sql(
    num_hashes: int = 32, bands: int = 8, max_bucket: int = 1000,
    shingle_n: int = 3, source: str = "documents",
) -> str:
    """DuckDB twin of the PORTABLE minhash_near_dup_pairs: md5-prefix
    gram hash mod the Mersenne prime 2^31−1, the same deterministic
    affine mixes (operators/dedup.py:minhash_mix_params), the same
    band fold / hot-bucket guard / bucket equi-join / agreement-rate
    estimate — exact BIGINT math end to end, so the driver hash-checks
    the full LSH pipeline."""
    from ..operators.dedup import (
        MINHASH_BAND_K,
        MINHASH_P,
        minhash_mix_params,
    )

    p, k = MINHASH_P, MINHASH_BAND_K
    rows_per_band = num_hashes // bands
    gram = " || ' ' || ".join(
        f"tk[p+{r}]" if r else "tk[p]" for r in range(shingle_n)
    )
    mins = ",\n             ".join(
        f"min(({a} * h + {b}) % {p}) AS m{i}"
        for i, (a, b) in enumerate(minhash_mix_params(num_hashes))
    )
    band_selects = []
    for b in range(bands):
        acc = f"m{b * rows_per_band}"
        for r in range(1, rows_per_band):
            acc = f"(({acc}) * {k} + m{b * rows_per_band + r}) % {p}"
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, ({acc}) AS band_hash FROM sig"
        )
    union = "\n      UNION ALL\n      ".join(band_selects)
    agree = " + ".join(
        f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    return rf"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS tk
      FROM {source}),
    pos AS (
      SELECT doc_id, tk,
             unnest(generate_series(1, len(tk) - {shingle_n - 1})) AS p
      FROM toks),
    g AS (SELECT DISTINCT doc_id, {gram} AS gram FROM pos),
    gh AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) % {p} AS h
      FROM g),
    sig AS (
      SELECT doc_id,
             {mins}
      FROM gh GROUP BY doc_id),
    banded AS (
      {union}),
    ok AS (
      SELECT doc_id, band_id, band_hash FROM banded
      QUALIFY count(*) OVER (PARTITION BY band_id, band_hash)
              <= {max_bucket}),
    cand AS (
      SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
      FROM ok a JOIN ok b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id)
    SELECT ia AS id_a, ib AS id_b,
           round(({agree}) / {num_hashes}.0, 4) AS est_jaccard
    FROM cand
    JOIN sig sa ON sa.doc_id = ia
    JOIN sig sb ON sb.doc_id = ib
    ORDER BY id_a, id_b
    """


@register(
    "ngram_jaccard_verified",
    rf"""
    WITH cand AS (
      SELECT id_a, id_b FROM ({_minhash_pairs_sql(32, 8, 1000)})),
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS tk
      FROM documents),
    pos AS (
      SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS p
      FROM toks),
    g AS (
      SELECT DISTINCT doc_id,
             tk[p] || ' ' || tk[p+1] || ' ' || tk[p+2] AS gram
      FROM pos),
    sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS i
      FROM cand c
      JOIN g a ON a.doc_id = c.id_a
      JOIN g b ON b.doc_id = c.id_b AND b.gram = a.gram
      GROUP BY 1, 2),
    j AS (
      SELECT id_a, id_b,
             round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
      FROM inter
      JOIN sz sa ON sa.doc_id = id_a
      JOIN sz sb ON sb.doc_id = id_b)
    SELECT id_a, id_b, jaccard FROM j
    WHERE jaccard >= 0.5 ORDER BY id_a, id_b
    """,
    "§2.11 — production near-dup verification: exact 3-gram Jaccard "
    "computed ONLY on MinHash-LSH candidate pairs (no O(n²) cross "
    "product anywhere). Oracle-checked since r9 (was rows-only): "
    "candidates come from the portable MinHash family (dedup_minhash's "
    "oracle) and the verification Jaccard is exact gram-string math, "
    "so DuckDB replays the identical candidate set AND the identical "
    "verified pairs. Production swap: portable=False (xxhash64).",
)
def ngram_jaccard_verified_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_jaccard_verified_pairs

    return ngram_jaccard_verified_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5,
        portable=True,
    )


@register(
    "doc_winnowing",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS tk
      FROM documents),
    pos AS (
      SELECT doc_id, tk, ng, unnest(generate_series(1, ng)) AS pos
      FROM (SELECT doc_id, tk, len(tk) - 2 AS ng FROM toks)),
    g AS (
      SELECT doc_id, pos, ng,
             CAST('0x' || substr(
               md5(tk[pos] || ' ' || tk[pos+1] || ' ' || tk[pos+2]), 1, 15)
               AS BIGINT) AS h
      FROM pos),
    m AS (
      SELECT doc_id,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
               AS fingerprint
      FROM g QUALIFY pos <= ng - 3)
    SELECT DISTINCT doc_id, fingerprint
    FROM m ORDER BY doc_id, fingerprint
    """,
    "§2.11 — winnowing fingerprints (Schleimer et al. SIGMOD'03: "
    "positional k-gram hashes, sliding-window minima, k=3 window=4): "
    "the overlap-detection fingerprint family, one row per (doc, "
    "fingerprint). Oracle-checked since r9: the registered form hashes "
    "grams with the portable md5-prefix long (CAST('0x'||substr(md5,1,"
    "15)) in DuckDB ≡ conv(substring(md5,1,15),16,10) in Spark) so "
    "both engines replay identical fingerprints; the production 100 TB "
    "swap is hash_fn=xxhash64 (same plan shape, documented in "
    "operators/dedup.py:md5_prefix_hash). In-row work until one "
    "(id, 8-byte hash) distinct shuffle — text never shuffles.",
)
def doc_winnowing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import md5_prefix_hash, winnowing_fingerprints

    return winnowing_fingerprints(
        load_table(spark, sf_dir, "documents"), hash_fn=md5_prefix_hash
    )


@register(
    "doc_fingerprint",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
    "§2.11 — document fingerprint: md5 of whitespace-normalized text "
    "(the oracle-checkable fingerprint; simhash is the LSH-ready variant).",
)
def doc_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.md5(normalize_text("text")).alias("fingerprint")
    )


# --------------------------------------------------------------------------
# §2.11 dedup family over `documents`
# --------------------------------------------------------------------------

@register(
    "dedup_text_exact",
    """
    SELECT doc_id, text_hash FROM (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS text_hash,
             row_number() OVER (
               PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               ORDER BY doc_id) AS rn
      FROM documents) WHERE rn = 1
    ORDER BY doc_id
    """,
    "§2.11 — exact-hash dedup: md5(normalized text), keep lowest doc_id; "
    "shuffle ships the 32-byte hash, not the document.",
)
def dedup_text_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_text_exact(
        load_table(spark, sf_dir, "documents")
    ).orderBy("doc_id")


@register(
    "dedup_minhash",
    _minhash_pairs_sql(num_hashes=32, bands=8, max_bucket=1000),
    "§2.11 — MinHash+LSH near-dup candidate pairs (shingle → 32-hash "
    "signature → 8-band bucket equi-join). O(n·bands) shuffle, the "
    "100 TB near-dup strategy. Oracle-checked since r9 (was rows-only): "
    "the registered form uses the PORTABLE hash family — md5-prefix "
    "gram hash mod 2^31−1 + deterministic affine mixes, every step "
    "exact BIGINT math in both engines (operators/dedup.py:"
    "minhash_signatures portable=True) — so DuckDB replays the "
    "identical signatures, band buckets, hot-bucket guard, and "
    "agreement-rate estimates. Production swap: portable=False "
    "(xxhash64, full 64-bit width), same plan shape.",
)
def dedup_minhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parallelize_scan: the shingle explode + 32-way hash agg is the
    # cost; a 1-2 split compressed scan would serialize it
    # (tables.py:parallelize_scan).
    return minhash_near_dup_pairs(
        parallelize_scan(load_table(spark, sf_dir, "documents"), spark),
        num_hashes=32, bands=8, portable=True,
    )


@register(
    "dedup_simhash",
    r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(trim(text)),
                                                   '\s+'),
                    x -> x <> '')) AS tok
      FROM documents),
    h AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
      FROM toks),
    bits AS (
      SELECT doc_id, b.b,
             CASE WHEN sum(CASE WHEN (h >> b.b) & 1 = 1
                                THEN 1 ELSE -1 END) > 0
                  THEN (CAST(1 AS BIGINT) << b.b) ELSE 0 END AS bit
      FROM h, (SELECT unnest(generate_series(0, 59)) AS b) b
      GROUP BY doc_id, b.b)
    SELECT doc_id, CAST(sum(bit) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id ORDER BY doc_id
    """,
    "§2.11 — SimHash per document (token bit votes, native bit ops); "
    "hamming-distance bucketing is the near-dup variant. Oracle-checked "
    "since r9 (was rows-only): the registered form votes over the "
    "60-bit portable md5-prefix token hash so DuckDB replays identical "
    "signatures (each occurrence votes, ties fold to 0, sign-fold into "
    "one long); the production 100 TB swap is hash_fn=xxhash64 at the "
    "full 64 bits (operators/dedup.py:simhash_signatures).",
)
def dedup_simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import md5_prefix_hash

    d = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    return simhash_signatures(
        d, bits=60, hash_fn=md5_prefix_hash
    ).orderBy("doc_id")


@register(
    "ngram_jaccard",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS tk
      FROM documents WHERE doc_id < 100),
    pos AS (
      SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS p
      FROM toks),
    g AS (
      SELECT DISTINCT doc_id,
             tk[p] || ' ' || tk[p+1] || ' ' || tk[p+2] AS gram
      FROM pos),
    sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
      FROM g a JOIN g b USING (gram)
      WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
    j AS (
      SELECT ia AS id_a, ib AS id_b,
             round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
      FROM inter
      JOIN sz sa ON sa.doc_id = ia
      JOIN sz sb ON sb.doc_id = ib)
    SELECT id_a, id_b, jaccard FROM j
    WHERE jaccard >= 0.02 ORDER BY id_a, id_b
    """,
    "§2.11 — exact token-3-gram Jaccard pairs (gated to doc_id < 100; "
    "at scale fed by minhash candidates, not the cross product). "
    "Oracle-checked since r9 (was rows-only): grams are exact STRINGS "
    "on both engines, |A∪B| = |A|+|B|−|A∩B| from the distinct-gram "
    "equi-join, identical rounded division — zero-intersection pairs "
    "fall out of the join on the oracle side and fail the rounded "
    "threshold on the Spark side, so the pair sets agree exactly.",
)
def ngram_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        # 0.02: the synthetic docs are near-unique (max observed 3-gram
        # Jaccard ~0.03 at sf0.01), so the demo returns a non-empty pair
        # set the driver's rows-only check can actually witness.
        n=3, threshold=0.02, max_ids=100,
    )


# --------------------------------------------------------------------------
# §2.11 similarity search over `embeddings`
# --------------------------------------------------------------------------

@register(
    "knn_cosine",
    """
    WITH q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv, vec_id AS qid
      FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6)
             AS cosine_sim
    FROM embeddings, q WHERE vec_id <> qid
    ORDER BY cosine_sim DESC, vec_id ASC LIMIT 10
    """,
    "§2.11 — brute-force cosine top-k vs the vec_id=0 query vector: "
    "broadcast 1-row query, TakeOrderedAndProject ranking.",
)
def knn_cosine_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return knn_cosine(e, e.filter(F.col("vec_id") == 0), k=10)


def _fixed_planes(dim: int = 64, n: int = 32) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (no RNG dependency: a fixed
    LCG) shared by tests; at scale planes ship as literals with the job."""
    planes, state = [], 1234567891
    for _ in range(n):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (2 ** 31)
            row.append((state / (2 ** 31)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def _knn_lsh_sql(
    planes: list[list[float]], bits_per_table: int, k: int,
    query_id: int = 0,
) -> str:
    """DuckDB twin of knn_cosine_lsh for a fixed query id: replays the
    identical sign-bit buckets per table (deterministic plane
    literals), probes the query's bucket in every table, unions the
    candidate hits, and ranks exact rounded cosine with the same
    (sim desc, id asc) tie-break and LIMIT k."""
    n_tables = len(planes) // bits_per_table
    table_exprs = []
    for t in range(n_tables):
        bits = []
        for i in range(bits_per_table):
            plane = planes[t * bits_per_table + i]
            lits = ",".join(repr(x) for x in plane)
            bits.append(
                f"(CASE WHEN list_dot_product(e, CAST([{lits}] AS DOUBLE[]))"
                f" >= 0 THEN {2 ** i} ELSE 0 END)"
            )
        table_exprs.append(
            f"SELECT vec_id, {t} AS t, ({' + '.join(bits)}) AS b FROM v"
        )
    union = "\n    UNION ALL\n    ".join(table_exprs)
    return f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    sig AS (SELECT vec_id, t, b FROM ({union})),
    cand AS (
      SELECT DISTINCT s.vec_id
      FROM sig s JOIN sig q ON s.t = q.t AND s.b = q.b
      WHERE q.vec_id = {query_id} AND s.vec_id <> {query_id})
    SELECT c.vec_id,
           round(list_cosine_similarity(
             x.e, (SELECT e FROM v WHERE vec_id = {query_id})), 6)
             AS cosine_sim
    FROM cand c JOIN v x ON c.vec_id = x.vec_id
    ORDER BY cosine_sim DESC, c.vec_id ASC LIMIT {k}
    """


@register(
    "knn_cosine_lsh",
    _knn_lsh_sql(_fixed_planes(), bits_per_table=4, k=10, query_id=0),
    "§2.11 — LSH-bucketed ANN: 8-table random-hyperplane bucket probe, "
    "exact cosine over the candidate union (the 100 TB probe path). "
    "Oracle-checked since r9 (was rows-only): planes are deterministic "
    "literals, so the oracle replays the identical per-table sign-bit "
    "buckets, the same candidate union, and the same rounded-cosine "
    "(desc, id asc) top-k — exact semantic parity with the LSH probe, "
    "not a recall check (the recall-vs-exact property stays in pytest).",
)
def knn_cosine_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return knn_cosine_lsh(
        e, e.filter(F.col("vec_id") == 0), planes=_fixed_planes(),
        bits_per_table=4, k=10,
    )


@register(
    "near_dedup_corpus",
    f"""
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id NOT IN (
      SELECT id_b FROM ({_minhash_pairs_sql(32, 8, 1000)})
      WHERE est_jaccard >= 0.5)
    ORDER BY doc_id
    """,
    "§2.11 — full near-dedup operation: drop docs with est. Jaccard >= "
    "0.5 to a lower-id doc (MinHash candidates → threshold → anti "
    "join); returns the surviving corpus rows. Oracle-checked since r9 "
    "(was rows-only): same portable hash family as dedup_minhash, so "
    "the oracle replays the exact victim set with a NOT IN over the "
    "replayed pair estimates.",
)
def near_dedup_corpus_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import near_dedup_corpus

    return near_dedup_corpus(
        parallelize_scan(load_table(spark, sf_dir, "documents"), spark),
        portable=True,
    ).select("doc_id", "lang", "source").orderBy("doc_id")


def _ivf_pinned_sql(n_probe: int, k: int, query_id: int = 0) -> str:
    """DuckDB twin of ivf_probe_pinned: the coarse quantizer is pinned
    literals (queries/_ivf_centroids.py), so the oracle replays the
    IDENTICAL rounded-cosine argmax assignment, the same top-n_probe
    centroid selection, and the same rounded-cosine (desc, id asc)
    top-k inside the probed lists — exact semantic parity with the IVF
    probe path, not a recall check."""
    from ._ivf_centroids import IVF_PINNED_CENTROIDS

    rows = ",\n      ".join(
        f"({i}, CAST([{','.join(repr(x) for x in c)}] AS DOUBLE[]))"
        for i, c in enumerate(IVF_PINNED_CENTROIDS)
    )
    return f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cents(cid, c) AS (VALUES
      {rows}),
    assign AS (
      SELECT vec_id, e, cid FROM (
        SELECT v.vec_id, v.e, cents.cid,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY round(list_cosine_similarity(v.e, cents.c), 6)
                            DESC,
                          cents.cid ASC) AS rn
        FROM v CROSS JOIN cents) WHERE rn = 1),
    q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id = {query_id}),
    probe AS (
      SELECT cid
      FROM cents CROSS JOIN q
      ORDER BY round(list_cosine_similarity(q.qe, cents.c), 6) DESC,
               cid ASC
      LIMIT {n_probe})
    SELECT a.vec_id,
           round(list_cosine_similarity(a.e, q.qe), 6) AS cosine_sim
    FROM assign a JOIN probe USING (cid) CROSS JOIN q
    WHERE a.vec_id <> q.qid
    ORDER BY cosine_sim DESC, a.vec_id ASC LIMIT {k}
    """


@register(
    "knn_cosine_ivf",
    _ivf_pinned_sql(n_probe=4, k=10, query_id=0),
    "§2.11 — IVF-flat ANN, pinned-quantizer probe path: 16 KMeans "
    "centroids trained once on the sf0.01 sample and shipped as "
    "literals (queries/_ivf_centroids.py — the production train-on-a-"
    "sample pattern), in-row rounded-cosine argmax assignment, probe "
    "the 4 nearest lists, exact cosine inside them. Oracle-checked "
    "since r10 (was rows-only): pinning the quantizer makes the whole "
    "probe exact SQL. The per-call-retraining one-shot form "
    "(operators/similarity.py:knn_cosine_ivf) stays recall-tested in "
    "pytest — only the TRAINING loop is engine-internal, not the probe.",
)
def knn_cosine_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_probe_pinned
    from ._ivf_centroids import IVF_PINNED_CENTROIDS

    e = load_table(spark, sf_dir, "embeddings")
    return ivf_probe_pinned(
        e, IVF_PINNED_CENTROIDS, e.filter(F.col("vec_id") == 0),
        k=10, n_probe=4,
    )


def _ivf_build_probe_sql(
    n_centroids: int, n_probe: int, k: int, query_id: int
) -> str:
    """DuckDB twin of the ivf_build_probe lifecycle: the seed
    selection uses the engine-portable multiplicative hash (the
    hash_bucket family, operators/setops.py), so the oracle rebuilds
    the IDENTICAL quantizer from the data, then replays the same
    rounded-cosine argmax assignment, probe pick, and in-list top-k as
    _ivf_pinned_sql — full build→probe parity, not a recall check."""
    return f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    hh AS (
      SELECT vec_id, e, vec_id % {n_centroids} AS b,
             ((kk // 65536 * 2654435761) % 4294967296 * 65536
              + (kk % 65536) * 2654435761) % 4294967296 % 1000000 AS h
      FROM (SELECT vec_id, e,
                   ((vec_id % 4294967296) + 4294967296) % 4294967296 AS kk
            FROM v)),
    cents AS (
      SELECT b AS cid, e AS c FROM (
        SELECT b, e,
               row_number() OVER (PARTITION BY b ORDER BY h, vec_id) AS rn
        FROM hh) WHERE rn = 1),
    assign AS (
      SELECT vec_id, e, cid FROM (
        SELECT v.vec_id, v.e, cents.cid,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY round(list_cosine_similarity(v.e, cents.c), 6)
                            DESC,
                          cents.cid ASC) AS rn
        FROM v CROSS JOIN cents) WHERE rn = 1),
    q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id = {query_id}),
    probe AS (
      SELECT cid
      FROM cents CROSS JOIN q
      ORDER BY round(list_cosine_similarity(q.qe, cents.c), 6) DESC,
               cid ASC
      LIMIT {n_probe})
    SELECT a.vec_id,
           round(list_cosine_similarity(a.e, q.qe), 6) AS cosine_sim
    FROM assign a JOIN probe USING (cid) CROSS JOIN q
    WHERE a.vec_id <> q.qid
    ORDER BY cosine_sim DESC, a.vec_id ASC LIMIT {k}
    """


@register(
    "ivf_build_probe",
    _ivf_build_probe_sql(n_centroids=8, n_probe=3, k=10, query_id=1),
    "§2.11 — IVF build→probe LIFECYCLE as one driver query: the "
    "coarse quantizer is BUILT from the corpus in-query — "
    "one metadata-scale aggregation picks 8 seed vectors (bucket = "
    "vec_id mod 8, min engine-portable multiplicative hash per bucket, "
    "operators/setops.py:hash_bucket) — then the probe runs the exact "
    "ivf_probe_pinned path against them: in-row rounded-cosine argmax "
    "assignment, 3 probed lists, exact cosine top-10 inside them. The "
    "hash-seeded quantizer makes the BUILD engine-portable, so the "
    "oracle replays the entire lifecycle bit-exactly — unlike the "
    "KMeans build (operators/similarity.py:ivf_build), which stays the "
    "recall/quality path, pytest-tested, with its trained centroids "
    "shipped as literals (knn_cosine_ivf). At 100 TB the build side is "
    "one map-side-combinable min_by agg to k·dim floats of metadata; "
    "the assignments are written partitioned by list id "
    "(test_ivf_lifecycle_partitioned_write) so each probe scans "
    "n_probe/n_centroids of the corpus via partition pruning.",
)
def ivf_build_probe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.setops import hash_bucket
    from ..operators.similarity import ivf_probe_pinned

    e = load_table(spark, sf_dir, "embeddings")
    seeds = (
        e.select(
            F.col("vec_id"),
            F.col("embedding").cast("array<double>").alias("__vec"),
            F.pmod(F.col("vec_id"), F.lit(8)).alias("__b"),
            hash_bucket("vec_id", 1_000_000).alias("__h"),
        )
        .groupBy("__b")
        .agg(
            F.min_by(
                F.col("__vec"), F.struct(F.col("__h"), F.col("vec_id"))
            ).alias("__c")
        )
        .orderBy("__b")
        .collect()  # metadata-scale: 8 seed vectors (k·dim floats)
    )
    centroids = [list(r["__c"]) for r in seeds]
    return ivf_probe_pinned(
        e, centroids, e.filter(F.col("vec_id") == 1), k=10, n_probe=3,
    )


def _bucketed_near_dup_sql(
    planes: list[list[float]], bits_per_table: int, threshold: float,
    max_bucket: int,
) -> str:
    """DuckDB twin of cosine_near_dup_bucketed: the planes are
    deterministic literals, so the oracle replays the IDENTICAL
    sign-bit buckets (one CASE per plane, 2^i weights), the same
    hot-bucket guard (QUALIFY window count), the same (table, bucket)
    equi-join + pair-dedup, and the same rounded-cosine residual —
    exact semantic parity, not an approximation check."""
    n_tables = len(planes) // bits_per_table
    table_exprs = []
    for t in range(n_tables):
        bits = []
        for i in range(bits_per_table):
            plane = planes[t * bits_per_table + i]
            lits = ",".join(repr(x) for x in plane)
            bits.append(
                f"(CASE WHEN list_dot_product(e, CAST([{lits}] AS DOUBLE[]))"
                f" >= 0 THEN {2 ** i} ELSE 0 END)"
            )
        table_exprs.append(
            f"SELECT vec_id, e, {t} AS t, ({' + '.join(bits)}) AS b FROM v"
        )
    union = "\n    UNION ALL\n    ".join(table_exprs)
    return f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    sig AS (
      SELECT vec_id, e, t, b FROM ({union})
      QUALIFY count(*) OVER (PARTITION BY t, b) <= {max_bucket}),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
      FROM sig a JOIN sig c
        ON a.t = c.t AND a.b = c.b AND a.vec_id < c.vec_id)
    SELECT id_a, id_b,
           round(list_cosine_similarity(x.e, y.e), 6) AS cosine_sim
    FROM cand
    JOIN v x ON cand.id_a = x.vec_id
    JOIN v y ON cand.id_b = y.vec_id
    WHERE round(list_cosine_similarity(x.e, y.e), 6) >= {threshold}
    ORDER BY id_a, id_b
    """


@register(
    "cosine_near_dup",
    _bucketed_near_dup_sql(
        _fixed_planes(n=12), bits_per_table=6, threshold=0.3,
        max_bucket=1000,
    ),
    "§2.11 — embedding-cosine near-dup pairs via the SCALE form: "
    "2-table random-hyperplane LSH bucket equi-join (no BNLJ, no "
    "all-pairs), hot-bucket guard, exact rounded cosine ≥ 0.3 as the "
    "residual filter. Deterministic planes → the oracle replays the "
    "identical buckets, so this is hash-checked despite being an LSH "
    "plan. Registered at 6 bits/table (64 buckets/table) — the r8 "
    "4-bit form saturated the max_bucket=1000 hot-bucket guard above "
    "~16k vectors (buckets silently dropped, work collapsed); at b6 "
    "occupancy stays ~n/64 per table (sf1 measured 0.5× DuckDB in the "
    "scale series), and the documented scale axis remains 'raise bits "
    "with n' so bucket size tracks n/2^bits. The O(n²) exact form "
    "survives only as the pytest oracle "
    "(operators/similarity.py:cosine_near_dup_pairs).",
)
def cosine_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_near_dup_bucketed

    return cosine_near_dup_bucketed(
        load_table(spark, sf_dir, "embeddings"),
        planes=_fixed_planes(n=12), bits_per_table=6,
        threshold=0.3, max_bucket=1000,
    )


# --------------------------------------------------------------------------
# §2.11 round 2: corpus text statistics, PII scrub, stratified sampling
# --------------------------------------------------------------------------

@register(
    "pii_scrub",
    r"""
    WITH raw AS (
      SELECT doc_id,
             CASE doc_id % 4
               WHEN 0 THEN substr(text, 1, 40) || ' contact user'
                           || doc_id || '@mail.example.com now'
               WHEN 1 THEN substr(text, 1, 40) || ' call 555-867-5309 today'
               WHEN 2 THEN substr(text, 1, 40) || ' from 192.168.10.25 logged'
               ELSE substr(text, 1, 40) END AS s
      FROM documents)
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(s,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'),
             '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS scrubbed
    FROM raw
    """,
    "§2.11 — PII redaction (emails/IPv4/phones → placeholder tokens), the "
    "pre-training scrub step of C4/RefinedWeb-style pipelines. Inputs are "
    "constructed deterministically per doc_id arm so both engines see "
    "identical bytes; patterns are Java-regex/RE2 portable "
    "(functions/text.py:pii_scrub). Pure codegen'd regexp_replace chain.",
)
def pii_scrub_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import pii_scrub

    d = load_table(spark, sf_dir, "documents")
    base = F.substring("text", 1, 40)
    k = F.col("doc_id") % 4
    raw = (
        F.when(k == 0, F.concat(
            base, F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@mail.example.com now")))
        .when(k == 1, F.concat(base, F.lit(" call 555-867-5309 today")))
        .when(k == 2, F.concat(base, F.lit(" from 192.168.10.25 logged")))
        .otherwise(base)
    )
    return d.select("doc_id", pii_scrub(raw).alias("scrubbed"))


@register(
    "repetition_ratio",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS l
      FROM documents)
    SELECT doc_id,
           len(l) AS n_tokens,
           CASE WHEN len(l) > 0
                THEN round(1.0 - len(list_distinct(l))::DOUBLE / len(l), 6)
                END AS rep_ratio
    FROM toks
    """,
    "§2.11 — Gopher-style repetition quality signal: 1 − distinct/total "
    "word occurrences per document, computed with array expressions "
    "inside the row (no explode, no shuffle — "
    "functions/text.py:word_repetition_ratio).",
)
def repetition_ratio_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokenize, word_repetition_ratio

    # Scan-width cap sweep: the 1-split text scan
    # serialized the in-row tokenize on one core; width 8 measured
    # min 0.44→0.27 s / median 0.55→0.31 s (interleaved, 5 passes).
    d = parallelize_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark, cap=8,
    )
    # size(NULL) is -1 under the legacy (ANSI-off) conf while the
    # oracle's len(NULL list) is NULL — guard so both sides emit NULL
    # for NULL text.
    return d.select(
        "doc_id",
        F.when(
            F.col("text").isNotNull(), F.size(tokenize("text"))
        ).cast("long").alias("n_tokens"),
        word_repetition_ratio("text").alias("rep_ratio"),
    )


@register(
    "tfidf_topk",
    r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                x -> x <> '')) AS token
      FROM documents),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT token, count(*) AS dfc FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             tf.tf * ln(n.n_docs / dfreq.dfc) AS raw_tfidf,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * ln(n.n_docs / dfreq.dfc) DESC, tf.token
             ) AS rn
      FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n)
    SELECT doc_id, token, round(raw_tfidf, 6) AS tfidf, CAST(rn AS INT) AS rn
    FROM scored WHERE rn <= 3
    ORDER BY doc_id, rn
    """,
    "§2.11 — top-3 TF-IDF terms per document (operators/corpus.py): "
    "(doc,token) hash agg → token-keyed df join → broadcast 1-row corpus "
    "count → one window on doc_id. Shuffles carry ids+tokens only; no "
    "driver collect. Ties broken by token asc for determinism. r16 "
    "(optimization round, guide §2.5 input skew): parallelize_scan — the "
    "compressed documents file scans as ONE split, serializing the "
    "tokenize+explode+agg on a single core (measured 2.4 s of "
    "executor_run on 1 task at sf0.1); the widening repartition is also "
    "shared by the tf and n_docs branches via ReuseExchange, so the "
    "text column is scanned once instead of twice. Width CAPPED at 8: "
    "this pass is agg-dominated, and at full 32-way width the "
    "round-robin exchange makes every task build a near-full-vocabulary "
    "agg map (interleaved A/B: med 2.19 s direct / 1.74 s w8 / 3.21 s "
    "w32 — see parallelize_scan's cap docstring).",
)
def tfidf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import tfidf_topk

    # Project to the two consumed columns BEFORE
    # the widening exchange, matching the other cap=8 call sites —
    # the full documents table (lang/source/etc.) was riding the
    # round-robin repartition for nothing. n_docs = count(*) is
    # row-preserving under the projection.
    d = parallelize_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark, cap=8,
    )
    return tfidf_topk(d, "doc_id", "text", k=3).orderBy("doc_id", "rn")


@register(
    "bigram_topn",
    r"""
    WITH toks AS (
      SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS l
      FROM documents),
    pairs AS (
      SELECT unnest([l[i] || ' ' || l[i+1]
                     for i in generate_series(1, len(l) - 1)]) AS bigram
      FROM toks WHERE len(l) >= 2)
    SELECT bigram, count(*) AS cnt
    FROM pairs GROUP BY 1 ORDER BY cnt DESC, bigram LIMIT 20
    """,
    "§2.11 — top-20 word bigrams by corpus frequency "
    "(operators/corpus.py:bigram_topn): bigrams built in-row via "
    "zip_with over aligned slices, so the explode ships short strings "
    "and the count is a partial+final hash agg — no joins.",
)
def bigram_topn_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import bigram_topn

    # r16 (guide §2.5): width-capped widening of the 1-split text scan
    # (interleaved A/B med 0.85 → 0.61 s at width 8)
    d = parallelize_scan(
        load_table(spark, sf_dir, "documents").select("text"),
        spark, cap=8,
    )
    return bigram_topn(d, "text", n=20)


@register(
    "sample_stratified",
    """
    WITH k AS (
      SELECT doc_id, lang,
             ((doc_id % 4294967296) + 4294967296) % 4294967296 AS kk
      FROM documents),
    b AS (
      SELECT doc_id, lang,
             ((kk // 65536 * 2654435761) % 4294967296 * 65536
              + (kk % 65536) * 2654435761) % 4294967296 % 100 AS bucket
      FROM k)
    SELECT doc_id, lang FROM b
    WHERE bucket < CASE lang WHEN 'en' THEN 25 WHEN 'zh' THEN 50
                             WHEN 'es' THEN 50 WHEN 'de' THEN 75
                             WHEN 'fr' THEN 100 ELSE 0 END
    ORDER BY doc_id
    """,
    "§2.11 — deterministic stratified sampling by key hash "
    "(operators/setops.py:stratified_sample_hash): downsample the "
    "dominant language (en→25%) while keeping the tail — corpus "
    "rebalancing with run/engine/partitioning-stable membership, unlike "
    "sampleBy's seeded RNG. Pure filter, no shuffle.",
)
def sample_stratified_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.setops import stratified_sample_hash

    d = load_table(spark, sf_dir, "documents")
    return stratified_sample_hash(
        d, "doc_id", "lang",
        {"en": 0.25, "zh": 0.5, "es": 0.5, "de": 0.75, "fr": 1.0},
    ).select("doc_id", "lang").orderBy("doc_id")


@register(
    "agg_grouping_sets",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS cnt,
           CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
             AS sum_total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), (o_orderpriority), ())
    ORDER BY status, priority
    """,
    "Engine extension (SURVEY.md §2.5 notes): arbitrary GROUPING SETS — "
    "the general form rollup/cube specialize; one pass produces the "
    "status×priority cells plus both one-dimension margins and the grand "
    "total. Decimal-accumulated sum for partition-order independence.",
)
def agg_grouping_sets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"],
             ["o_orderpriority"], []],
            "o_orderstatus", "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(20,4)"))
            .cast("double").alias("sum_total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "cnt",
            "sum_total",
        )
        .orderBy("status", "priority")
    )


@register(
    "decontaminate",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS l
      FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(
               [l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3]
                     || ' ' || l[i+4]
                for i in generate_series(1, len(l) - 4)])) AS gram
      FROM toks),
    ev AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0)
    SELECT g.doc_id, count(*) AS n_overlap
    FROM grams g JOIN ev USING (gram)
    WHERE g.doc_id % 97 <> 0
    GROUP BY g.doc_id ORDER BY g.doc_id
    """,
    "§2.11 — benchmark decontamination: corpus docs sharing ≥1 distinct "
    "word 5-gram with the eval slice (doc_id % 97 = 0 stands in for a "
    "held-out benchmark). Gram-keyed equi join, distinct shingles per "
    "side; at 100 TB grams become xxhash64 8-byte keys "
    "(operators/dedup.py:decontaminate_ngram_overlap).",
)
def decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import decontaminate_ngram_overlap

    d = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    eval_set = d.filter(F.col("doc_id") % 97 == 0)
    return decontaminate_ngram_overlap(corpus, eval_set, n=5).orderBy("doc_id")


@register(
    "embedding_centroids",
    """
    SELECT label, i - 1 AS pos,
           round(avg(CAST(v AS DOUBLE)), 6) AS mean_v,
           count(*) AS n_vecs
    FROM (SELECT label, unnest(embedding) AS v,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings)
    GROUP BY label, pos ORDER BY label, pos
    """,
    "§2.11 — per-label embedding centroids in long form (label, pos, "
    "mean): posexplode + (label,pos) hash agg with map-side partial "
    "sums, so the shuffle carries labels×dim running sums, never "
    "vectors (operators/similarity.py:embedding_centroids).",
)
def embedding_centroids_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import embedding_centroids

    e = load_table(spark, sf_dir, "embeddings")
    return embedding_centroids(e).orderBy("label", "pos")


@register(
    "window_range_frame",
    f"""
    SELECT event_id,
           strftime(ts, '{TS_FMT}') AS ts,
           CAST(sum(CAST(value AS DECIMAL(20,4))) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS rolling_1h_sum
    FROM events
    ORDER BY event_id
    """,
    "§2.6 — RANGE interval frame: per-user rolling 1-hour sum, ordered "
    "by epoch-microseconds so both engines bound the frame identically "
    "(timestamp-native RANGE frames truncate differently across "
    "engines). Decimal accumulation keeps per-frame sums "
    "partition-order-independent. One shuffle on user_id.",
)
def window_range_frame_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        # Cast: testdata stores ts as TIMESTAMP_NTZ, which pyspark>=4.1's
        # unix_micros rejects; the session TZ is pinned UTC so NTZ→TZ is
        # value-preserving.
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        ev.select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            F.sum(F.col("value").cast("decimal(20,4)"))
            .over(w)
            .cast("double")
            .alias("rolling_1h_sum"),
        )
        .orderBy("event_id")
    )


@register(
    "join_multiway_revenue",
    """
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(20,4))) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name ORDER BY n_name
    """,
    "TPC-H Q5-shape six-table join: two fact-fact shuffle joins "
    "(orders⋈customer, lineitem⋈orders) with supplier/nation/region as "
    "broadcast dims and the region filter pushed below the joins — the "
    "multi-join reordering + mixed-strategy case a 100 TB star query "
    "exercises. Decimal-accumulated revenue for partition-order "
    "independence.",
)
def join_multiway_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(
            F.broadcast(s),
            (li["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .filter(F.col("r_name") == "ASIA")
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(20,4)")
            ).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("n_name")
    )


@register(
    "subquery_above_avg",
    """
    SELECT o_orderkey, o_custkey,
           round(o_totalprice, 6) AS total
    FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
      AND o_orderkey % 10 = 0
    ORDER BY o_orderkey
    """,
    "Scalar-subquery filter (orders above the global average): the "
    "decorrelated plan is a broadcast 1-row aggregate joined into the "
    "scan — same shape Catalyst produces for an uncorrelated scalar "
    "subquery; no second full scan on the probe side at 100 TB.",
)
def subquery_above_avg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    avg_row = o.agg(F.avg("o_totalprice").alias("__avg"))
    return (
        o.crossJoin(F.broadcast(avg_row))
        .filter(
            (F.col("o_totalprice") > F.col("__avg"))
            & (F.col("o_orderkey") % 10 == 0)
        )
        .select(
            "o_orderkey", "o_custkey",
            F.round("o_totalprice", 6).alias("total"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "merge_upsert_snapshot",
    """
    WITH updates AS (
      SELECT c_custkey, c_name, 'UPDATED' AS c_mktsegment,
             round(c_acctbal + 1000, 2) AS c_acctbal
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT 9000000 + r_regionkey AS c_custkey,
             'new-' || r_name AS c_name, 'NEW' AS c_mktsegment,
             0.0 AS c_acctbal
      FROM region),
    base AS (
      SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer)
    SELECT coalesce(u.c_custkey, b.c_custkey) AS c_custkey,
           CASE WHEN u.c_custkey IS NOT NULL THEN u.c_name
                ELSE b.c_name END AS c_name,
           CASE WHEN u.c_custkey IS NOT NULL THEN u.c_mktsegment
                ELSE b.c_mktsegment END AS c_mktsegment,
           CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal
                ELSE b.c_acctbal END AS c_acctbal
    FROM base b FULL OUTER JOIN updates u ON b.c_custkey = u.c_custkey
    ORDER BY c_custkey
    """,
    "CDC MERGE/upsert without a table format "
    "(operators/setops.py:merge_upsert): deterministic update set (every "
    "10th customer mutated + 5 inserts from region) overlaid on the base "
    "snapshot via full-outer join; matched rows take the update row "
    "whole. One key shuffle per side — the Delta/Iceberg MERGE cost "
    "model.",
)
def merge_upsert_snapshot_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.setops import merge_upsert

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    r = load_table(spark, sf_dir, "region")
    updates = c.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey", "c_name",
        F.lit("UPDATED").alias("c_mktsegment"),
        F.round(F.col("c_acctbal") + 1000, 2).alias("c_acctbal"),
    ).unionByName(
        r.select(
            (F.lit(9_000_000) + F.col("r_regionkey")).alias("c_custkey"),
            F.concat(F.lit("new-"), F.col("r_name")).alias("c_name"),
            F.lit("NEW").alias("c_mktsegment"),
            F.lit(0.0).alias("c_acctbal"),
        )
    )
    return merge_upsert(c, updates, "c_custkey").orderBy("c_custkey")


@register(
    "unpivot_metrics",
    """
    SELECT o_orderkey, metric, round(value, 6) AS value
    FROM (SELECT o_orderkey,
                 round(o_totalprice, 6) AS total_price,
                 round(o_totalprice * 0.16, 6) AS total_tax
          FROM orders WHERE o_orderkey % 100 = 0)
    UNPIVOT (value FOR metric IN (total_price, total_tax))
    ORDER BY o_orderkey, metric
    """,
    "Wide→long unpivot/melt (the inverse of pivot_counts): per-order "
    "metric rows via the native UNPIVOT operator on both engines — an "
    "Expand node in Spark, no join, no shuffle beyond the final sort.",
)
def unpivot_metrics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    wide = o.filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey",
        F.round("o_totalprice", 6).alias("total_price"),
        F.round(F.col("o_totalprice") * 0.16, 6).alias("total_tax"),
    )
    return (
        wide.unpivot(
            ids=["o_orderkey"],
            values=["total_price", "total_tax"],
            variableColumnName="metric",
            valueColumnName="value",
        )
        .select("o_orderkey", "metric", F.round("value", 6).alias("value"))
        .orderBy("o_orderkey", "metric")
    )


@register(
    "linreg_by_group",
    """
    WITH s AS (
      SELECT l_returnflag,
             CAST(round(l_quantity * 100) AS BIGINT) AS xs,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS ys
      FROM lineitem),
    m AS (
      SELECT l_returnflag,
             count(*) AS n,
             CAST(sum(xs) AS DOUBLE) AS sx,
             CAST(sum(ys) AS DOUBLE) AS sy,
             CAST(sum(xs * ys) AS DOUBLE) AS sxy,
             CAST(sum(xs * xs) AS DOUBLE) AS sxx,
             CAST(sum(ys * ys) AS DOUBLE) AS syy
      FROM s GROUP BY l_returnflag)
    SELECT l_returnflag,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                 / n / 100, 6) AS intercept,
           round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2,
           n
    FROM m ORDER BY l_returnflag
    """,
    "Engine extension (SURVEY.md §2.5 notes): per-group ordinary least "
    "squares (price vs quantity per return flag) — single-pass "
    "partial+final hash agg of the five moment sums; slope/intercept/r2 "
    "are closed-form over them, no iteration. The 2-dp inputs are "
    "quantized to fixed-point longs (×100) so every per-row product is "
    "an exact int64 (requires |value| ≲ 3e7, far above the price "
    "domain); sums accumulate as DECIMAL(38,0) — exact, "
    "partition-order independent, and ~2.5× faster than summing "
    "DECIMAL(30,8) values (measured 1.1 s vs 2.6 s at sf0.1). The "
    "scaling cancels in slope/r2 and divides out of intercept, and the "
    "final double arithmetic is bit-identical on both engines, so the "
    "6-dp rounding can never flip — the native regr_* aggregates "
    "accumulate raw doubles whose merge order differs across engines "
    "(cross-engine flake the driver hash would catch). Same shape the "
    "reference's notebook computes driver-side with numpy.",
)
def linreg_by_group_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    # round() yields an integral double, so the long cast is exact
    xs = F.round(F.col("l_quantity") * 100).cast("long")
    ys = F.round(F.col("l_extendedprice") * 100).cast("long")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xs.cast(dec)).cast("double").alias("sx"),
        F.sum(ys.cast(dec)).cast("double").alias("sy"),
        F.sum((xs * ys).cast(dec)).cast("double").alias("sxy"),
        F.sum((xs * xs).cast(dec)).cast("double").alias("sxx"),
        F.sum((ys * ys).cast(dec)).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "l_returnflag",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n / 100, 6).alias("intercept"),
        F.round(
            (n * sxy - sx * sy) * (n * sxy - sx * sy)
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
        "n",
    ).orderBy("l_returnflag")


@register(
    "near_dup_components",
    r"""
    WITH RECURSIVE
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS tk
      FROM documents),
    pos AS (
      SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 4)) AS pos
      FROM toks),
    grams AS (
      SELECT DISTINCT doc_id,
             tk[pos] || ' ' || tk[pos+1] || ' ' || tk[pos+2] || ' ' ||
             tk[pos+3] || ' ' || tk[pos+4] AS gram
      FROM pos),
    ok AS (
      SELECT doc_id, gram FROM grams
      QUALIFY count(*) OVER (PARTITION BY gram) <= 50),
    e0 AS (
      SELECT a.doc_id AS s, b.doc_id AS d
      FROM ok a JOIN ok b USING (gram)
      WHERE a.doc_id < b.doc_id GROUP BY 1, 2 HAVING count(*) >= 3),
    e AS (SELECT s, d FROM e0 UNION ALL SELECT d, s FROM e0),
    n AS (SELECT DISTINCT s AS node FROM e),
    r AS (
      SELECT node, node AS lab FROM n
      UNION
      SELECT e.d, r.lab FROM r JOIN e ON e.s = r.node)
    SELECT node, CAST(min(lab) AS BIGINT) AS component
    FROM r GROUP BY node ORDER BY node
    """,
    "§2.11 — connected components over the near-dup graph "
    "(operators/dedup.py:connected_components): iterative min-label "
    "propagation, localCheckpoint-truncated lineage, O(diameter) "
    "rounds. The cluster-exact companion to near_dedup_corpus's greedy "
    "policy (near_dedup_canonical keeps exactly one doc per component). "
    "Oracle-checked since r9 (was rows-only): edges are docs sharing "
    "≥3 distinct word 5-grams (exact gram STRINGS both engines — the "
    "decontaminate portability pattern; production swap xxhash64(gram) "
    "or the MinHash estimate), hot grams capped at document-frequency "
    "50 BEFORE the gram self-join so fan-out is df²-bounded per gram, "
    "never corpus²; the oracle replays the component labels with WITH "
    "RECURSIVE min-label reachability, mirroring graph_reachability's "
    "BFS twin.",
)
def near_dup_components_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components, shingles

    g = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(shingles("text", 5)).alias("gram")
    )
    # document-frequency cap: one gram-keyed shuffle, then the filter
    # bounds the self-join fan-out at 50²/2 pairs per gram
    ok = (
        g.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("gram"))
        )
        .filter(F.col("__df") <= 50)
        .drop("__df")
    )
    a, b = ok.alias("a"), ok.alias("b")
    edges = (
        a.join(b, "gram")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 3)
        .select("id_a", "id_b")
    )
    return (
        connected_components(edges, src="id_a", dst="id_b")
        .select("node", F.col("label").cast("bigint").alias("component"))
        .orderBy("node")
    )


@register(
    "percentile_by_group",
    """
    SELECT o_orderpriority,
           count(*) AS n,
           round(quantile_cont(o_totalprice, 0.25), 6) AS p25,
           round(quantile_cont(o_totalprice, 0.50), 6) AS p50,
           round(quantile_cont(o_totalprice, 0.75), 6) AS p75,
           round(quantile_cont(o_totalprice, 0.90), 6) AS p90,
           round(quantile_cont(o_totalprice, 0.99), 6) AS p99
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "A7 grouped — exact percentile ladder per group (order-value "
    "distribution by priority class). ONE percentile(col, array(...)) "
    "buffer per group, not five (each separate percentile call "
    "re-buffers and re-sorts the group — measured 4× in round 1, see "
    "PLANS.md); partial+final ObjectHashAggregate. At 100 TB the "
    "documented swap is approx_percentile with the same call shape — "
    "the exact form here is the oracle-parity requirement, and group "
    "count (5 priorities) bounds the buffer count, not the row count.",
)
def percentile_by_group_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    qs = (0.25, 0.50, 0.75, 0.90, 0.99)
    ps = F.percentile("o_totalprice", F.array(*[F.lit(q) for q in qs]))
    g = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), ps.alias("__ps")
    )
    return g.select(
        "o_orderpriority",
        "n",
        *[
            F.round(F.col("__ps")[i], 6).alias(a)
            for i, a in enumerate(("p25", "p50", "p75", "p90", "p99"))
        ],
    ).orderBy("o_orderpriority")


@register(
    "sequence_pack",
    f"""
    WITH t AS (
      SELECT doc_id, CAST(len({_TOKS_SQL}) AS INT) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t)
    SELECT doc_id, n_tokens,
           CAST((cum - n_tokens) // 2048 AS BIGINT) AS seq_id,
           CAST((cum - n_tokens) % 2048 AS BIGINT) AS seq_off
    FROM c
    """,
    "§2.11 — GPT-style sequence packing: concatenate documents in "
    "deterministic doc_id order and chop into 2048-token context "
    "windows; each doc gets (seq_id, seq_off) = divmod of its start "
    "position. The global prefix-sum is computed DISTRIBUTED: "
    "per-range-bucket cumsum (parallel partitioned window) + a "
    "broadcast join of per-bucket prefix offsets (window over the tiny "
    "bucket-totals frame only) — NOT a single-partition global window, "
    "which would serialize the whole corpus through one task at 100 TB. "
    "Integer `div`/`%` on longs keeps both engines exact (no double "
    "division).",
)
def sequence_pack_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ctx = 2048
    bucket_width = 1000  # doc_ids per prefix-sum bucket
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        # NULL text → NULL n_tokens (not size()'s -1 sentinel): both
        # engines' sums then skip the row, keeping cum aligned.
        F.when(F.col("text").isNotNull(), F.size(tokenize("text"))).alias(
            "n_tokens"
        ),
        (F.col("doc_id") - (F.col("doc_id") % bucket_width)).alias("__b"),
    ).filter(F.col("__b").isNotNull())
    # ^ doc_id is never NULL (data contract), so the filter is free — but
    # stating it explicitly makes BOTH consumers' exchange subtrees
    # canonically identical (the inner join infers isnotnull(__b) on one
    # side only), which is what lets ReusedExchange fire below.
    w_local = (
        Window.partitionBy("__b")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = t.withColumn("__cum_local", F.sum("n_tokens").over(w_local))
    # Bucket totals come from the windowed frame, not a second pass over
    # t: __cum_local is nondecreasing within a bucket, so its max is the
    # bucket total, the groupBy reuses the window's hash partitioning on
    # __b, and both consumers share one Exchange subtree (ReusedExchange)
    # — the corpus is scanned and tokenized ONCE.
    totals = local.groupBy("__b").agg(F.max("__cum_local").alias("__tot"))
    w_prefix = (
        Window.orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = totals.select(
        "__b", F.coalesce(F.sum("__tot").over(w_prefix), F.lit(0)).alias("__pre")
    )
    c = local.join(F.broadcast(prefix), "__b").withColumn(
        "cum", (F.col("__pre") + F.col("__cum_local")).cast("long")
    )
    start = F.col("cum") - F.col("n_tokens")
    return c.select(
        "doc_id",
        "n_tokens",
        F.expr(f"(cum - n_tokens) div {ctx}").alias("seq_id"),
        (start % ctx).cast("bigint").alias("seq_off"),
    )


@register(
    "join_range_binned",
    """
    SELECT s_suppkey, count(*) AS n_within_100
    FROM supplier JOIN customer
      ON c_acctbal BETWEEN s_acctbal - 100 AND s_acctbal + 100
    GROUP BY s_suppkey ORDER BY s_suppkey
    """,
    "Pure-range join (NO equi key) rewritten as a binned equi join "
    "(operators/joins.py:range_bin_join): Spark would otherwise plan "
    "BroadcastNestedLoopJoin, O(|supplier|x|customer|). Bins of width "
    "200 = the +-100 interval span, so each interval lands in <=2 bins "
    "and matching pairs meet in exactly one. The oracle runs the naive "
    "theta join — identical result proves the rewrite.",
)
def join_range_binned_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (F.col("s_acctbal") - 100).alias("__lo"),
        (F.col("s_acctbal") + 100).alias("__hi"),
    )
    c = load_table(spark, sf_dir, "customer").select("c_acctbal")
    j = range_bin_join(c, s, "c_acctbal", "__lo", "__hi", bin_width=200.0)
    return (
        j.groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_within_100"))
        .orderBy("s_suppkey")
    )


@register(
    "interval_occupancy",
    """
    WITH iv AS (
      SELECT CAST(o_orderdate AS DATE) AS lo,
             CAST(o_orderdate AS DATE)
               + CAST(1 + o_orderkey % 28 AS INTEGER) AS hi
      FROM orders
    ), deltas AS (
      SELECT lo AS d, 1 AS delta FROM iv
      UNION ALL
      SELECT hi + 1, -1 FROM iv
    ), agg AS (
      SELECT d, CAST(sum(delta) AS BIGINT) AS delta FROM deltas GROUP BY d
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, delta,
           CAST(sum(delta) OVER (ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS n_active
    FROM agg ORDER BY day
    """,
    "Interval-occupancy curve (open orders per day; each order stays "
    "open 1 + o_orderkey % 28 days) via the sweep-line rewrite "
    "(operators/timeseries.py:interval_occupancy): +1/-1 deltas, ONE "
    "hash agg by day, prefix sum over the aggregated day axis — linear "
    "where the naive calendar x intervals range join is O(days*n). The "
    "oracle computes the same sweep in SQL.",
)
def interval_occupancy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    iv = o.select(
        F.to_date("o_orderdate").alias("lo"),
        F.date_add(
            F.to_date("o_orderdate"),
            (F.lit(1) + F.col("o_orderkey") % 28).cast("int"),
        ).alias("hi"),
    )
    occ = interval_occupancy(iv, "lo", "hi")
    return occ.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "delta",
        "n_active",
    ).orderBy("day")


@register(
    "join_asof_forward",
    f"""
    SELECT p.event_id,
           strftime(p.ts, '{TS_FMT}') AS ts,
           strftime(c.ts, '{TS_FMT}') AS next_ts,
           c.value AS next_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts <= c.ts
    ORDER BY p.event_id
    """,
    "Forward as-of join (nearest-LATER click per purchase, per user) — "
    "same union+ordered-window plan as join_asof, direction flipped "
    "(first/ignoreNulls over a following frame). ONE shuffle on "
    "(key, ts); equal timestamps match, mirroring DuckDB ASOF's "
    "inclusive <=.",
)
def join_asof_forward_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    joined = asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="ts",
        right_value_cols=["ts", "value"], direction="forward",
    )
    return joined.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.date_format("asof_ts", "yyyy-MM-dd HH:mm:ss").alias("next_ts"),
        F.col("asof_value").alias("next_value"),
    ).orderBy("event_id")


@register(
    "scd2_intervals",
    f"""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ), changes AS (
      SELECT user_id, event_type, ts, event_id FROM ordered
      WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id, event_type AS state,
           strftime(ts, '{TS_FMT}') AS valid_from,
           strftime(lead(ts) OVER
             (PARTITION BY user_id ORDER BY ts, event_id),
             '{TS_FMT}') AS valid_to
    FROM changes ORDER BY user_id, valid_from
    """,
    "SCD type-2 interval builder (operators/windows.py:scd2_intervals): "
    "collapse each user's event stream into [valid_from, valid_to) "
    "state-validity intervals; NULL valid_to = current state. One "
    "shuffle on the key; both windows share the partitioning.",
)
def scd2_intervals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    iv = scd2_intervals(
        ev, key="user_id", ts_col="ts", state_col="event_type",
        tiebreak="event_id",
    )
    return iv.select(
        "user_id",
        "state",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
    ).orderBy("user_id", "valid_from")


@register(
    "dq_checks",
    """
    WITH a AS (
      SELECT count(*) AS n,
             count(DISTINCT o_orderkey) AS n_keys,
             sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS n_null_cust,
             sum(CASE WHEN o_totalprice < 0 OR o_totalprice > 1000000
                 THEN 1 ELSE 0 END) AS n_bad_price,
             sum(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                 THEN 1 ELSE 0 END) AS n_bad_status
      FROM orders
    )
    SELECT check_name, n_violations, n_violations = 0 AS pass
    FROM (
      SELECT 'orderkey_unique' AS check_name,
             CAST(n - n_keys AS BIGINT) AS n_violations FROM a
      UNION ALL SELECT 'custkey_not_null', CAST(n_null_cust AS BIGINT) FROM a
      UNION ALL SELECT 'totalprice_in_range', CAST(n_bad_price AS BIGINT) FROM a
      UNION ALL SELECT 'orderstatus_in_set', CAST(n_bad_status AS BIGINT) FROM a
    ) ORDER BY check_name
    """,
    "Deequ-style data-quality report: uniqueness, completeness, range "
    "and domain checks computed in ONE aggregation pass (partial aggs "
    "map-side), then unpivoted to a row per check. count(DISTINCT key) "
    "is exact by parity requirement; at 100 TB swap to "
    "approx_count_distinct like approx_distinct does.",
)
def dq_checks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("o_orderkey").alias("n_keys"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("n_null_cust"),
        F.sum(
            ((F.col("o_totalprice") < 0) | (F.col("o_totalprice") > 1000000))
            .cast("long")
        ).alias("n_bad_price"),
        F.sum(
            (~F.col("o_orderstatus").isin("O", "F", "P")).cast("long")
        ).alias("n_bad_status"),
    )
    checks = a.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("orderkey_unique").alias("check_name"),
                    (F.col("n") - F.col("n_keys")).alias("n_violations"),
                ),
                F.struct(
                    F.lit("custkey_not_null").alias("check_name"),
                    F.col("n_null_cust").alias("n_violations"),
                ),
                F.struct(
                    F.lit("totalprice_in_range").alias("check_name"),
                    F.col("n_bad_price").alias("n_violations"),
                ),
                F.struct(
                    F.lit("orderstatus_in_set").alias("check_name"),
                    F.col("n_bad_status").alias("n_violations"),
                ),
            )
        ).alias("c")
    )
    return checks.select(
        F.col("c.check_name").alias("check_name"),
        F.col("c.n_violations").alias("n_violations"),
        (F.col("c.n_violations") == 0).alias("pass"),
    ).orderBy("check_name")


@register(
    "histogram_equidepth",
    """
    WITH r AS (
      SELECT c_acctbal,
             row_number() OVER (ORDER BY c_acctbal, c_custkey) AS rn,
             count(*) OVER () AS n
      FROM customer
    )
    SELECT CAST((rn - 1) * 10 // n AS BIGINT) + 1 AS bin,
           count(*) AS cnt,
           round(min(c_acctbal), 2) AS lo,
           round(max(c_acctbal), 2) AS hi
    FROM r GROUP BY bin ORDER BY bin
    """,
    "Equi-depth histogram (10 ~equal-count bins over c_acctbal) via the "
    "fully-lazy bucketed global rank "
    "(operators/stats.py:equidepth_histogram_prefix): one action, zero "
    "driver round-trips, no single-task ntile sort. Bin = "
    "floor((rank-1)*k/n) + 1 (1-based), computed with INTEGER "
    "floor-division on longs on both sides, so it equals the oracle "
    "structurally with no 2^53 double-rounding bound to reason about.",
)
def histogram_equidepth_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import equidepth_histogram_prefix

    c = load_table(spark, sf_dir, "customer")
    return equidepth_histogram_prefix(
        c, "c_acctbal", k=10, tiebreak="c_custkey"
    )


# --------------------------------------------------------------------------
# Round-3 extensions: behavior analytics, corpus hygiene, ML-prep.


@register(
    "funnel_conversion",
    """
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'view' AND e.ts >= s1.t1 GROUP BY e.user_id),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 GROUP BY e.user_id)
    SELECT (SELECT count(*) FROM s1) AS n_signup,
           (SELECT count(*) FROM s2) AS n_view,
           (SELECT count(*) FROM s3) AS n_purchase,
           round((SELECT count(*) FROM s2)
                 / nullif((SELECT count(*) FROM s1), 0), 6) AS rate_signup_view,
           round((SELECT count(*) FROM s3)
                 / nullif((SELECT count(*) FROM s2), 0), 6) AS rate_view_purchase
    """,
    "Ordered funnel (signup -> view -> purchase): per-stage distinct-user "
    "counts where stage i+1 requires an event at/after the user's first "
    "stage-i event. Per stage: type filter pushed to the scan, "
    "groupBy(user) min(ts), join to the previous frontier on user_id — "
    "every shuffle keys on user_id so the exchanges co-partition "
    "(operators/behavior.py:funnel_conversion).",
)
def funnel_conversion_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.behavior import funnel_conversion

    ev = load_table(spark, sf_dir, "events")
    return funnel_conversion(ev, stages=("signup", "view", "purchase"))


@register(
    "cohort_retention",
    """
    WITH fu AS (
      SELECT user_id, date_trunc('week', CAST(min(ts) AS DATE)) AS cw
      FROM events GROUP BY user_id)
    SELECT strftime(cw, '%Y-%m-%d') AS cohort,
           CAST(datediff('day', cw, date_trunc('week', CAST(e.ts AS DATE))) // 7
                AS INTEGER) AS period_offset,
           count(DISTINCT e.user_id) AS n_users
    FROM events e JOIN fu USING (user_id)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "Weekly cohort retention grid: users bucketed by the Monday-start "
    "week of their first event; per (cohort, week-offset) the distinct "
    "cohort users active. One groupBy(user) pass + one user_id join + "
    "one (cohort, offset) hash agg; exact countDistinct for oracle "
    "parity with the approx_count_distinct swap documented "
    "(operators/behavior.py:cohort_retention).",
)
def cohort_retention_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.behavior import cohort_retention

    ev = load_table(spark, sf_dir, "events")
    return cohort_retention(ev, period="week")


@register(
    "sessionize_ids",
    """
    SELECT event_id, user_id,
           CAST(sum(CASE WHEN prev IS NULL
                         OR epoch_us(ts) - epoch_us(prev) > 1800000000
                         THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS session_idx
    FROM (SELECT event_id, user_id, ts,
                 lag(ts) OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id) AS prev
          FROM events)
    ORDER BY event_id
    """,
    "Per-event session labeling (30-min gap): the event-granularity "
    "companion of session_window (which only aggregates). ONE shuffle on "
    "user_id serves both the lag and the running-sum window (shared "
    "partitioning + sort, ties broken by event_id); gap arithmetic in "
    "integer microseconds matches epoch_us exactly "
    "(operators/behavior.py:sessionize).",
)
def sessionize_ids_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.behavior import sessionize

    ev = load_table(spark, sf_dir, "events")
    return sessionize(ev, gap_minutes=30).orderBy("event_id")


@register(
    "vocab_prune",
    """
    WITH n AS (SELECT count(*) AS c FROM documents),
    dfreq AS (
      SELECT tok, count(DISTINCT doc_id) AS dc
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      GROUP BY tok),
    hotlist AS (
      SELECT coalesce(list(tok ORDER BY tok), []) AS hl
      FROM dfreq, n WHERE dc > 0.8 * c)
    SELECT doc_id,
           array_to_string(list_filter(string_split(text, ' '),
                                       t -> NOT list_contains(hl, t)),
                           ' ') AS pruned_text,
           CAST(len(string_split(text, ' '))
                - len(list_filter(string_split(text, ' '),
                                  t -> NOT list_contains(hl, t)))
             AS BIGINT) AS n_removed
    FROM documents, hotlist ORDER BY doc_id
    """,
    "C4-style boilerplate-token pruning: tokens present in > 80% of "
    "documents are removed, order-preserving. The hot set is bounded by "
    "construction (<= per-doc vocabulary / df_frac), so it inlines into "
    "a pure in-row array filter — second pass has NO shuffle and no "
    "join (operators/corpus.py:vocab_prune; the broadcast-anti-join "
    "form is documented for low df_frac).",
)
def vocab_prune_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import vocab_prune

    d = load_table(spark, sf_dir, "documents")
    return vocab_prune(d, "doc_id", "text", df_frac=0.8).orderBy("doc_id")


@register(
    "feature_scale",
    """
    WITH s AS (
      SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx,
             avg(o_totalprice) AS mu, stddev_samp(o_totalprice) AS sd
      FROM orders)
    SELECT o_orderkey, o_totalprice,
           round((o_totalprice - mn) / nullif(mx - mn, 0), 6)
             AS o_totalprice_minmax,
           round((o_totalprice - mu) / nullif(sd, 0), 6) AS o_totalprice_z
    FROM orders, s ORDER BY o_orderkey
    """,
    "ML-prep feature scaling (min-max + z-score) for o_totalprice: ONE "
    "aggregate pass for all statistics, broadcast back as a 1-row "
    "scalar, then a pure projection — no data-row shuffle "
    "(operators/stats.py:feature_scale). 6-dp rounding absorbs "
    "summation-order variance (describe_stats policy).",
)
def feature_scale_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import feature_scale

    o = load_table(spark, sf_dir, "orders")
    return feature_scale(
        o, cols=("o_totalprice",), keep=("o_orderkey",)
    ).orderBy("o_orderkey")


@register(
    "sample_weighted",
    """
    WITH mx AS (SELECT max(o_totalprice) AS maxw FROM orders),
    k AS (
      SELECT o_orderkey, o_totalprice, maxw,
             ((o_orderkey % 4294967296) + 4294967296) % 4294967296 AS kk
      FROM orders, mx),
    b AS (
      SELECT o_orderkey, o_totalprice, maxw,
             ((kk // 65536 * 2654435761) % 4294967296 * 65536
              + (kk % 65536) * 2654435761) % 4294967296 % 1000000 AS bucket
      FROM k)
    SELECT o_orderkey, o_totalprice
    FROM b
    WHERE bucket < floor(least(o_totalprice / maxw, 1.0) * 1000000)
    ORDER BY o_orderkey
    """,
    "Deterministic weighted Bernoulli sample: keep probability "
    "proportional to o_totalprice (p = w/max(w)), decided by the "
    "overflow-safe multiplicative hash at 1e-6 granularity — membership "
    "is stable across runs/engines/partitioning, and the threshold uses "
    "only IEEE-exact x,/,floor so both engines compute it identically "
    "(operators/setops.py:weighted_sample_hash). max(w) broadcast as a "
    "1-row scalar; the sample itself is a pure filter, no shuffle.",
)
def sample_weighted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.setops import weighted_sample_hash

    o = load_table(spark, sf_dir, "orders")
    return (
        weighted_sample_hash(o, "o_orderkey", "o_totalprice")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


@register(
    "anomaly_zscore",
    """
    WITH s AS (
      SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
      FROM events GROUP BY event_type)
    SELECT event_id, e.event_type, value,
           round((value - mu) / nullif(sd, 0), 6) AS z
    FROM events e JOIN s USING (event_type)
    WHERE abs(round((value - mu) / nullif(sd, 0), 6)) > 3.0
    ORDER BY event_id
    """,
    "Grouped z-score anomaly screen (|z| > 3 within event_type): group "
    "stats are one hash agg broadcast back onto the stream; filter + "
    "projection after the join, no second shuffle. Gate compares the "
    "ROUNDED z so both engines make the identical cut "
    "(operators/stats.py:anomaly_zscore).",
)
def anomaly_zscore_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import anomaly_zscore

    ev = load_table(spark, sf_dir, "events")
    return anomaly_zscore(
        ev, "value", group_cols=("event_type",), id_cols=("event_id",)
    ).orderBy("event_id")


@register(
    "dup_ngram_frac",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    ng AS (
      SELECT doc_id, array_to_string(list_slice(toks, i, i + 1), ' ') AS g
      FROM t, unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS u(i)),
    agg AS (
      SELECT doc_id, count(*) AS n_ngrams,
             round(1.0 - count(DISTINCT g) * 1.0 / count(*), 6) AS f
      FROM ng GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(coalesce(n_ngrams, 0) AS BIGINT) AS n_ngrams,
           coalesce(f, 0.0) AS dup_ngram_frac
    FROM t LEFT JOIN agg USING (doc_id) ORDER BY doc_id
    """,
    "Gopher-style within-document repetition: fraction of word bigrams "
    "that are duplicates. Built ENTIRELY in-row (transform over a "
    "position sequence + array_distinct) — one codegen'd projection, no "
    "explode, no shuffle (operators/corpus.py:dup_ngram_fraction).",
)
def dup_ngram_frac_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import dup_ngram_fraction

    # Scan-width cap sweep: the heaviest single-task tail
    # entry — the in-row bigram build + array_distinct serialized on
    # one core. Width 16 measured min 5.24→0.84 s / median
    # 6.62→1.49 s (interleaved, 5 passes); per-row compute dominates
    # here (no downstream agg map to duplicate), so it takes more
    # width than the agg-dominated family (w32 measured slightly
    # worse: med 1.16 — the fan-out is only 5k rows).
    d = parallelize_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark, cap=16,
    )
    return dup_ngram_fraction(d, "doc_id", "text", n=2).orderBy("doc_id")


@register(
    "join_bloom_prefilter",
    """
    SELECT count(*) AS n_items,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE)
             AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    """,
    "Runtime bloom-filter join: the build side's (filtered) distinct "
    "keys hash into a fixed-size bitmap broadcast onto the probe, which "
    "drops non-matching rows BEFORE its shuffle; the exact join then "
    "guarantees a byte-identical result (false positives only pass "
    "extra rows to the exact join). The oracle is the plain join — "
    "equivalence IS the contract "
    "(operators/joins.py:bloom_prefilter_join).",
)
def join_bloom_prefilter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import bloom_prefilter_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_extendedprice"
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("okey"))
    )
    return bloom_prefilter_join(li, o, "okey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(20,4)"))
        .cast("double")
        .alias("sum_price"),
    )


@register(
    "monthly_gapfill",
    """
    WITH b AS (
      SELECT date_trunc('month', min(o_orderdate)) AS mn,
             date_trunc('month', max(o_orderdate)) AS mx
      FROM orders),
    spine AS (
      SELECT unnest(generate_series(mn, mx, INTERVAL 1 MONTH)) AS m FROM b),
    c AS (
      SELECT date_trunc('month', o_orderdate) AS m, count(*) AS cnt
      FROM orders GROUP BY 1)
    SELECT strftime(spine.m, '%Y-%m-%d') AS month,
           CAST(coalesce(cnt, 0) AS BIGINT) AS cnt
    FROM spine LEFT JOIN c ON spine.m = c.m ORDER BY month
    """,
    "A11 extension — monthly counts over a COMPLETE month spine (empty "
    "months appear as 0). Spine explodes from the 1-row min/max "
    "aggregate (metadata-scale); the only data-sized work is the same "
    "hash agg monthly_counts runs "
    "(operators/timeseries.py:monthly_counts_gapfill).",
)
def monthly_gapfill_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import monthly_counts_gapfill

    o = load_table(spark, sf_dir, "orders")
    return monthly_counts_gapfill(o, "o_orderdate")


@register(
    "monthly_cumulative",
    """
    WITH m AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
             count(*) AS cnt,
             sum(CAST(o_totalprice AS DECIMAL(20,4))) AS s
      FROM orders GROUP BY 1)
    SELECT month, cnt,
           CAST(s AS DOUBLE) AS sum_value,
           CAST(sum(cnt) OVER (ORDER BY month
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_cnt,
           CAST(sum(s) OVER (ORDER BY month
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS cum_value
    FROM m ORDER BY month
    """,
    "Running YTD-style totals per month: decimal-exact monthly sums, "
    "cumulative window over the AGGREGATED month axis (bounded by "
    "months, never input rows — the aggregate-then-window pattern) "
    "(operators/timeseries.py:monthly_cumulative).",
)
def monthly_cumulative_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import monthly_cumulative

    o = load_table(spark, sf_dir, "orders")
    return monthly_cumulative(o, "o_orderdate", "o_totalprice")


@register(
    "mad_robust",
    """
    WITH m AS (SELECT median(l_extendedprice) AS med FROM lineitem)
    SELECT round(max(med), 6) AS median,
           round(median(abs(l_extendedprice - med)), 6) AS mad
    FROM lineitem, m
    """,
    "Robust location/scale: median + MAD — two chained median "
    "aggregates in ONE lazy plan (first broadcasts back as a 1-row "
    "scalar); both medians are exact, through the stats.exact_quantiles "
    "branch picked once on the input: a native percentile aggregate at "
    "or below NATIVE_QUANTILE_MAX_BYTES, bucket-select above it "
    "(operators/stats.py:mad_robust).",
)
def mad_robust_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import mad_robust

    li = load_table(spark, sf_dir, "lineitem")
    return mad_robust(li, "l_extendedprice")


@register(
    "mode_by_group",
    """
    SELECT lang, source, cnt FROM (
      SELECT lang, source, count(*) AS cnt,
             row_number() OVER (PARTITION BY lang
                                ORDER BY count(*) DESC, source ASC) AS rn
      FROM documents GROUP BY lang, source)
    WHERE rn = 1 ORDER BY lang
    """,
    "Per-group mode (most frequent source per lang, ties by source "
    "asc): one (group,key) hash agg + one group-partitioned window — "
    "no global sort (operators/topn.py:mode_by_group).",
)
def mode_by_group_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.topn import mode_by_group

    d = load_table(spark, sf_dir, "documents")
    return mode_by_group(d, "lang", "source")


@register(
    "corpus_pipeline",
    rf"""
    WITH cp_toks AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS l
      FROM documents
      WHERE doc_id % 97 <> 0 AND text IS NOT NULL),
    cp_gated AS (
      SELECT doc_id, text FROM cp_toks
      WHERE len(l) >= 5
        AND coalesce(1.0 - len(list_distinct(l))::DOUBLE / len(l), 0.0)
            <= 0.6),
    cp_exact AS (
      SELECT doc_id, text FROM (
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}',
                 '<EMAIL>', 'g'),
                 '\b\d{{1,3}}(\.\d{{1,3}}){{3}}\b', '<IP>', 'g'),
                 '\b\d{{3}}[-.]\d{{3}}[-.]\d{{4}}\b', '<PHONE>', 'g')
                 AS text
        FROM cp_gated) s
      QUALIFY row_number() OVER (
        PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ',
                                             'g')))
        ORDER BY doc_id) = 1),
    cp_near AS (
      SELECT doc_id, text FROM cp_exact
      WHERE doc_id NOT IN (
        SELECT id_b
        FROM ({_minhash_pairs_sql(32, 8, 1000, source="cp_exact")})
        WHERE est_jaccard >= 0.5)),
    cp_flagged AS (
      SELECT DISTINCT cg.doc_id
      FROM (
        SELECT doc_id, unnest(list_distinct(
          [l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3]
                || ' ' || l[i+4]
           for i in generate_series(1, len(l) - 4)])) AS gram
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                                    '\s+'),
                                 x -> x <> '') AS l
              FROM cp_near)) cg
      JOIN (
        SELECT DISTINCT unnest(list_distinct(
          [l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3]
                || ' ' || l[i+4]
           for i in generate_series(1, len(l) - 4)])) AS gram
        FROM (SELECT list_filter(string_split_regex(lower(trim(text)),
                                                    '\s+'),
                                 x -> x <> '') AS l
              FROM documents WHERE doc_id % 97 = 0)) ev
      USING (gram))
    SELECT doc_id, text AS clean_text,
           len(string_split_regex(text, '\s+')) AS n_tokens
    FROM cp_near
    WHERE doc_id NOT IN (SELECT doc_id FROM cp_flagged)
    ORDER BY doc_id
    """,
    "End-to-end LLM hygiene pipeline (plans/corpus.py): quality gate -> "
    "PII scrub -> exact dedup -> MinHash near-dedup -> decontamination "
    "vs an eval slice, composed as ONE lazy plan. Text never enters a "
    "shuffle (md5 / band-hash / gram keys only). Oracle-checked since "
    "r9 (was rows-only): the registered form runs the MinHash stage on "
    "the portable hash family, so the ENTIRE composed pipeline — gates, "
    "scrub regexes, md5 dedup, LSH victims, 5-gram decontamination, "
    "final token counts — replays in one DuckDB statement. Production "
    "swap: portable=False (xxhash64 LSH stage).",
)
def corpus_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.corpus import corpus_pipeline

    d = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    # r17 (optimization round, guide §2.4): the eval slice reads its
    # own direct scan instead of hanging off the corpus branch's
    # 32-way widening repartition. Catalyst was already planning a
    # separate pushed-filter scan for the eval branch, but kept the
    # round-robin exchange and a 32-task stage for 52 documents; the
    # direct load drops that exchange and its stage fan-out (jobs
    # 16→14 together with the SMJ band join, interleaved same-phase
    # A/B −21% wall, −24 s executor CPU at sf0.1). Same rows by
    # construction (same filter on the same table).
    eval_set = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 97 == 0
    )
    return corpus_pipeline(corpus, eval_set, portable=True).orderBy("doc_id")


@register(
    "centroid_assign",
    """
    WITH ev AS (
      SELECT vec_id, label, i - 1 AS pos, CAST(v AS DOUBLE) AS v
      FROM (SELECT vec_id, label, unnest(embedding) AS v,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)),
    c AS (
      SELECT label AS clabel, pos, round(avg(v), 6) AS mv
      FROM ev GROUP BY label, pos),
    d AS (
      SELECT ev.vec_id, c.clabel,
             round(sum((ev.v - c.mv) * (ev.v - c.mv)), 6) AS dist_sq
      FROM ev JOIN c ON ev.pos = c.pos
      GROUP BY ev.vec_id, c.clabel),
    r AS (
      SELECT vec_id, clabel AS assigned_label, dist_sq,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist_sq, clabel) AS rn
      FROM d)
    SELECT vec_id, assigned_label, dist_sq
    FROM r WHERE rn = 1 ORDER BY vec_id
    """,
    "Nearest-centroid assignment (k-means E-step / IVF coarse "
    "quantizer): per-label 6dp-rounded centroids lift into the plan as "
    "literals (metadata-scale collect, vocab_prune pattern); the "
    "assignment is ONE in-row projection — zip_with distances + "
    "array_min over (rounded dist, label) structs, no join, no "
    "shuffle, no k-fold blowup. Argmin on the ROUNDED distance with "
    "label tie-break keeps both engines' picks identical "
    "(operators/similarity.py:centroid_assign).",
)
def centroid_assign_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import centroid_assign

    e = load_table(spark, sf_dir, "embeddings")
    return centroid_assign(e).orderBy("vec_id")


@register(
    "key_skew_profile",
    """
    WITH c AS (
      SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey
      ORDER BY cnt DESC, o_custkey ASC LIMIT 10),
    t AS (SELECT count(*) AS total FROM orders)
    SELECT o_custkey, cnt,
           round(cnt * 100.0 / total, 4) AS pct,
           round(sum(cnt) OVER (ORDER BY cnt DESC, o_custkey ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 * 100.0 / total, 4) AS cum_pct
    FROM c, t ORDER BY cnt DESC, o_custkey ASC
    """,
    "Join-key skew diagnostic: top-10 heavy keys with share and "
    "cumulative share of rows. Hash agg + TakeOrderedAndProject; the "
    "total is a broadcast 1-row scalar, NOT a window over the distinct "
    "keys axis (billions at 100 TB); the cumulative window covers only "
    "the k survivors (operators/topn.py:key_skew_profile).",
)
def key_skew_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.topn import key_skew_profile

    o = load_table(spark, sf_dir, "orders")
    return key_skew_profile(o, "o_custkey", k=10)


def _pagerank_sql(max_iter: int, round_dp: int, k: int) -> str:
    """Unrolled-SQL twin of operators/graph.py:pagerank at a FIXED
    iteration count: each round is one chained CTE replaying the exact
    engine arithmetic — contrib = sum(rank/out_deg) per dst, dangling
    mass from zero-out-degree nodes spread uniformly, new rank =
    (1-d)/N + d*(contrib + dangling/N) — with every round's ranks
    rounded to ``round_dp`` on BOTH sides (the operator's
    ``round_ranks``), so last-ulp float-sum divergence never compounds
    across rounds. Fixed iterations turn the 'iterative fixpoint' into
    plain SQL (the same move graph_reachability's bounded-hops oracle
    makes for BFS)."""
    iters = []
    prev = "r0"
    for i in range(1, max_iter + 1):
        iters.append(f"""
    r{i} AS (
      SELECT nd.node, nd.deg,
             round((1.0 - 0.85) / nn.n
                   + 0.85 * (coalesce(c.contrib, 0.0) + dg.d / nn.n),
                   {round_dp}) AS rank
      FROM nd CROSS JOIN nn
      CROSS JOIN (SELECT coalesce(sum(rank), 0.0) AS d
                  FROM {prev} WHERE deg = 0) dg
      LEFT JOIN (SELECT e.dst AS node, sum(r.rank / r.deg) AS contrib
                 FROM e JOIN {prev} r ON e.src = r.node
                 GROUP BY e.dst) c
        ON nd.node = c.node)""")
        prev = f"r{i}"
    return f"""
    WITH e AS (
      SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    outdeg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
    nd AS (SELECT node, coalesce(deg, 0) AS deg
           FROM nodes LEFT JOIN outdeg ON node = src),
    r0 AS (SELECT node, deg, 1.0 / n AS rank FROM nd, nn),{",".join(iters)}
    SELECT node, rank FROM (
      SELECT node, round(rank, 6) AS rank FROM {prev})
    ORDER BY rank DESC, node ASC LIMIT {k}
    """


@register(
    "pagerank_parts",
    _pagerank_sql(max_iter=5, round_dp=12, k=20),
    "PageRank over the supplier->part supply graph (edges from "
    "lineitem): the iterative-algorithm representative. Two node-keyed "
    "shuffles per round, dangling mass redistributed, lineage "
    "truncated by localCheckpoint every 4 rounds "
    "(operators/graph.py:pagerank). Top-20 nodes by rank, "
    "deterministic tie-break. Oracle-checked since r10 (was rows-only "
    "'by design'): a FIXED iteration count unrolls into chained SQL "
    "CTEs, and per-round 12-dp rank rounding (round_ranks) pins both "
    "engines to identical doubles each round — the iterative loop "
    "itself is what stays engine-only, not the arithmetic.",
)
def pagerank_parts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst")
    ).distinct()
    return (
        pagerank(edges, max_iter=5, round_ranks=12)
        .orderBy(F.desc("rank"), F.asc("node"))
        .limit(20)
    )


@register(
    "mom_growth",
    """
    WITH m AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
             count(*) AS cnt
      FROM orders GROUP BY 1)
    SELECT month, cnt,
           round((cnt - lag(cnt) OVER (ORDER BY month)) * 100.0
                 / nullif(lag(cnt) OVER (ORDER BY month), 0), 4)
             AS mom_pct
    FROM m ORDER BY month
    """,
    "Month-over-month growth: lag window over the AGGREGATED month axis "
    "(bounded by months, never rows); first month NULL. Same "
    "aggregate-then-window shape as monthly_cumulative.",
)
def mom_growth_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd")
        .alias("month")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("month")
    prev = F.lag("cnt").over(w)
    return monthly.select(
        "month",
        "cnt",
        F.round((F.col("cnt") - prev) * 100.0 / F.nullif(prev, F.lit(0)), 4)
        .alias("mom_pct"),
    ).orderBy("month")


@register(
    "chi_square_assoc",
    """
    WITH o AS (
      SELECT lang, source, count(*) AS obs FROM documents GROUP BY 1, 2),
    r AS (SELECT lang, sum(obs) AS rt FROM o GROUP BY lang),
    c AS (SELECT source, sum(obs) AS ct FROM o GROUP BY source),
    t AS (SELECT sum(obs) AS n FROM o)
    SELECT round(sum((obs - rt * ct * 1.0 / n) * (obs - rt * ct * 1.0 / n)
                     / (rt * ct * 1.0 / n)), 6) AS chi2,
           CAST((SELECT count(*) FROM r) - 1 AS BIGINT)
             * CAST((SELECT count(*) FROM c) - 1 AS BIGINT) AS dof
    FROM o JOIN r USING (lang) JOIN c USING (source), t
    """,
    "Chi-square association between two categoricals (lang x source) — "
    "the categorical complement of corr_matrix. All math runs on the "
    "AGGREGATED contingency axis: one (lang,source) hash agg over the "
    "data, then margins/expected/statistic over that tiny frame. r16 "
    "(optimization round, guide §2.4): margins and the total are "
    "windows OVER the cell frame and the dof factors are "
    "countDistinct in the final aggregate — the previous five side "
    "branches (row margin, column margin, total, two dof counts) each "
    "cost an aggregate job plus a broadcast build on a frame bounded "
    "by |langs|·|sources| at any scale (10 → 4 jobs measured).",
)
def chi_square_assoc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    o = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("obs"))
    ub = (Window.unboundedPreceding, Window.unboundedFollowing)
    cells = o.select(
        "lang", "source", "obs",
        F.sum("obs").over(
            Window.partitionBy("lang").rowsBetween(*ub)
        ).alias("rt"),
        F.sum("obs").over(
            Window.partitionBy("source").rowsBetween(*ub)
        ).alias("ct"),
        F.sum("obs").over(Window.rowsBetween(*ub)).alias("n"),
    )
    exp = F.col("rt") * F.col("ct") * 1.0 / F.col("n")
    # dof counts CATEGORIES, and a NULL category is a category: the
    # oracle's count(*) over the GROUP BY margin frames counts a NULL
    # lang/source group, while a bare countDistinct(col) would skip it
    # (a latent dof drift if either categorical is ever null; current
    # data has none). Counting distinct over the
    # (isnull, value) STRUCT keeps NULL as one distinct group with no
    # sentinel-collision risk, on the same ≤|langs|·|sources| frame.
    n_cats = lambda c: F.countDistinct(  # noqa: E731
        F.struct(F.col(c).isNull(), F.col(c))
    )
    return cells.agg(
        F.round(
            F.sum((F.col("obs") - exp) * (F.col("obs") - exp) / exp), 6
        ).alias("chi2"),
        (
            (n_cats("lang") - 1) * (n_cats("source") - 1)
        ).cast("long").alias("dof"),
    )


@register(
    "twap_by_user",
    """
    WITH t AS (
      SELECT user_id, CAST(value AS DECIMAL(20,6)) AS v, epoch_us(ts) AS us,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts), event_id) AS nxt
      FROM events)
    SELECT user_id,
           round(CAST(sum(v * (nxt - us)) AS DOUBLE) / sum(nxt - us), 6)
             AS twap,
           count(*) AS n_intervals
    FROM t WHERE nxt IS NOT NULL GROUP BY user_id ORDER BY user_id
    """,
    "Time-weighted average per user (financial/sensor semantics): ONE "
    "key shuffle serves the lead() window; the weighted sum accumulates "
    "DECIMAL(value)*microseconds so it is exact and partition-order-"
    "independent; final division in IEEE doubles "
    "(operators/timeseries.py:twap_by_key).",
)
def twap_by_user_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import twap_by_key

    ev = load_table(spark, sf_dir, "events")
    return twap_by_key(ev, "user_id", "ts", "value", "event_id")


@register(
    "ffill_timeseries",
    """
    SELECT event_id, user_id,
           last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END
                      IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS v_filled
    FROM events ORDER BY event_id
    """,
    "Forward-fill per key (pandas ffill): error readings are masked "
    "NULL, then each row carries the most recent valid value — one key "
    "shuffle, one last(ignorenulls) window (the as-of carry pattern). "
    "Rows before the first valid value stay NULL "
    "(operators/timeseries.py:ffill_by_key).",
)
def ffill_timeseries_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import ffill_by_key

    ev = load_table(spark, sf_dir, "events")
    masked = F.when(F.col("event_type") != "error", F.col("value"))
    return ffill_by_key(
        ev, "user_id", "ts", masked, "event_id"
    ).orderBy("event_id")


#: Unordered-pair encoding base: pair key = least·2³¹ + greatest, one
#: 8-byte long per pair. Exact while every part id < 2³¹ (TPC-H partkey
#: = 200k·SF → SF ≈ 10,000); the decode below is INTEGER arithmetic
#: (shiftright / %), so there is no floating-point bound — decoding
#: with F.floor(pc / enc) would go through a DOUBLE division that loses
#: exactness past 2⁵³ ≈ partkey 4.2M.
_PAIR_ENC = 2_147_483_648


def _order_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem → one row per order with its DISTINCT part set.

    The shared edge-build head for the market-basket family
    (copurchase_pairs / basket_lift / triangle_count / graph seeds):
    ONE groupBy(order) shuffle — collect_set dedups (order, part)
    without a separate distinct shuffle, and the groupBy IS the
    co-locating exchange (a pre-repartition would just double the
    round-trip). Item sets are bounded by lineitems-per-order (≤7 in
    TPC-H), so the per-row array never skews.
    """
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("__ps"))
    )


def _basket_pair_counts(baskets: DataFrame) -> DataFrame:
    """Double-explode unordered-pair expansion + ONE hash agg on the
    encoded pair key: explode the item set once to (set, x) rows, then
    explode ``filter(set, y > x)`` — every unordered pair appears
    exactly once (the set is a collect_set, so values are distinct and
    ``y > x`` is a total tiebreak), encoded as the single 8-byte long
    ``x·2³¹ + y`` with x < y guaranteed by construction (no
    least/greatest needed). An earlier shape built a nested
    array-of-arrays via transform(slice)+flatten BEFORE its explode —
    the per-row nested allocation measured +22% at sf4 (11.45 s vs
    9.38 s, phase-stamped); the double explode streams pairs through
    codegen with only the filtered tail array materialized per (row,
    x). Shared by copurchase_pairs / basket_lift / triangle_count (the
    edge build, 18.2 s → 6.5 s at sf2 vs the order-keyed self-join).
    Returns (__pc encoded pair, n_orders).
    """
    enc = F.lit(_PAIR_ENC)
    pairs = (
        baskets.select(F.col("__ps"), F.explode("__ps").alias("__x"))
        .select(
            "__x",
            F.explode(
                F.filter("__ps", lambda y: y > F.col("__x"))
            ).alias("__y"),
        )
        .select(
            (F.col("__x").cast("long") * enc + F.col("__y").cast("long"))
            .alias("__pc")
        )
    )
    return pairs.groupBy("__pc").agg(F.count(F.lit(1)).alias("n_orders"))


def _decode_pair(a: str, b: str) -> list:
    """Integer-exact decode of the encoded pair long: shiftright for the
    low id (enc is 2³¹) and long % for the high id — both pure integer
    ops, exact over the full encodable range."""
    return [
        F.shiftright(F.col("__pc"), 31).cast("long").alias(a),
        (F.col("__pc") % F.lit(_PAIR_ENC)).cast("long").alias(b),
    ]


@register(
    "copurchase_pairs",
    """
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           count(*) AS n_orders
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY n_orders DESC, part_a ASC, part_b ASC LIMIT 20
    """,
    "Market-basket co-occurrence: top part pairs ordered together, "
    "counted per ORDER. The oracle states the distinct-(order,part) "
    "self-join; the engine builds the same pairs with ONE "
    "groupBy(order) + IN-ROW pair expansion (_basket_pair_counts — "
    "collect_set dedups without a distinct shuffle, the k² fan-out "
    "(k = items/order, ≤7) runs inside codegen, each unordered pair "
    "ships as one encoded 8-byte long), then one pair hash agg + "
    "integer decode + TakeOrderedAndProject. Replaces the r7 "
    "order-keyed self-join (two reads of a checkpointed distinct scan "
    "+ a key join) that the r8 triangle rewrite measured 3× slower at "
    "sf2 on the identical shape.",
)
def copurchase_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _basket_pair_counts(_order_baskets(spark, sf_dir))
        .select(*_decode_pair("part_a", "part_b"), "n_orders")
        .orderBy(F.desc("n_orders"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
    )


@register(
    "monthly_active_users",
    """
    WITH fm AS (
      SELECT user_id,
             strftime(date_trunc('month', min(ts)), '%Y-%m-%d') AS first_m
      FROM events GROUP BY user_id),
    act AS (
      SELECT strftime(date_trunc('month', ts), '%Y-%m-%d') AS month,
             e.user_id
      FROM events e GROUP BY 1, 2)
    SELECT act.month,
           count(*) AS n_active,
           CAST(sum(CASE WHEN fm.first_m = act.month THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new,
           CAST(sum(CASE WHEN fm.first_m <> act.month THEN 1 ELSE 0 END)
                AS BIGINT) AS n_returning
    FROM act JOIN fm USING (user_id)
    GROUP BY act.month ORDER BY act.month
    """,
    "Monthly active / new / returning users: distinct (month,user) "
    "hash agg, first-seen month per user (one user agg), join on "
    "user_id, final month agg — every shuffle keys on user or month, "
    "exact distinct via the pre-agg (no countDistinct buffer).",
)
def monthly_active_users_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    month = F.date_format(F.date_trunc("month", "ts"), "yyyy-MM-dd")
    fm = ev.groupBy("user_id").agg(
        F.date_format(F.date_trunc("month", F.min("ts")), "yyyy-MM-dd")
        .alias("first_m")
    )
    act = ev.select(month.alias("month"), "user_id").distinct()
    return (
        act.join(fm, "user_id")
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum((F.col("first_m") == F.col("month")).cast("long"))
            .alias("n_new"),
            F.sum((F.col("first_m") != F.col("month")).cast("long"))
            .alias("n_returning"),
        )
        .orderBy("month")
    )


# --------------------------------------------------------------------------
# §2.11 round 4: ML-prep encoders, corpus health, graph cohesion
# --------------------------------------------------------------------------

@register(
    "pivot_wide",
    """
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                AS BIGINT) AS status_O,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS status_F,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
                AS BIGINT) AS status_P
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "§2.5 wide reshape — groupBy().pivot() with the value domain "
    "PROVIDED (['O','F','P']): Spark skips the extra distinct-values "
    "job and plans ONE hash agg with pivot output columns (same cost "
    "as the CASE-sum form the oracle spells out). Missing cells "
    "coalesce to 0. Unbounded-domain pivot at 100 TB is the documented "
    "anti-pattern — always pass the column list.",
)
def pivot_wide_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
    )
    return p.select(
        "o_orderpriority",
        *[
            F.coalesce(F.col(s), F.lit(0)).alias(f"status_{s}")
            for s in ("O", "F", "P")
        ],
    ).orderBy("o_orderpriority")


@register(
    "entropy_by_group",
    """
    WITH c AS (
      SELECT lang, source, count(*) AS cnt
      FROM documents GROUP BY lang, source)
    SELECT lang,
           CAST(sum(cnt) AS BIGINT) AS n,
           count(*) AS n_distinct,
           round(ln(sum(cnt)) - sum(cnt * ln(cnt)) / sum(cnt), 6)
             AS entropy_nats
    FROM c GROUP BY lang ORDER BY lang
    """,
    "Data-profiling: Shannon entropy (nats) of the source distribution "
    "per language — two chained hash aggs using the counts-only "
    "algebraic form ln n − Σ c·ln c / n; the second agg's input is "
    "one row per distinct (group, value) "
    "(operators/stats.py:group_entropy).",
)
def entropy_by_group_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import group_entropy

    return group_entropy(
        load_table(spark, sf_dir, "documents"), "lang", "source"
    )


@register(
    "winsorize_stats",
    """
    WITH b AS (
      SELECT l_returnflag AS grp,
             quantile_cont(l_extendedprice, 0.05) AS p_lo,
             quantile_cont(l_extendedprice, 0.95) AS p_hi
      FROM lineitem GROUP BY 1)
    SELECT l_returnflag,
           count(*) AS n,
           round(avg(l_extendedprice), 6) AS mean_raw,
           round(avg(least(greatest(l_extendedprice, p_lo), p_hi)), 6)
             AS mean_winsorized,
           round(any_value(p_lo), 6) AS p_lo,
           round(any_value(p_hi), 6) AS p_hi
    FROM lineitem JOIN b ON l_returnflag = b.grp
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "ML prep — winsorized mean per group: ONE exact percentile(array) "
    "buffer per group for the [p05, p95] bounds, group-keyed join back "
    "(AQE-sized), clip + second group agg "
    "(operators/stats.py:winsorize_summary).",
)
def winsorize_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import winsorize_summary

    return winsorize_summary(
        load_table(spark, sf_dir, "lineitem"),
        "l_extendedprice", "l_returnflag", lo=0.05, hi=0.95,
    )


@register(
    "rare_label_collapse",
    """
    WITH c AS (
      SELECT p_brand, count(*) AS cnt FROM part GROUP BY p_brand)
    SELECT CASE WHEN cnt >= 75 THEN p_brand ELSE 'OTHER' END AS p_brand,
           CAST(sum(cnt) AS BIGINT) AS n
    FROM c GROUP BY 1 ORDER BY n DESC, p_brand ASC
    """,
    "ML prep — rare-category collapse (labels with < 75 rows fold into "
    "OTHER before encoding): label hash agg, in-row CASE on the count, "
    "second agg over one row per DISTINCT original label "
    "(operators/topn.py:collapse_rare_labels).",
)
def rare_label_collapse_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.topn import collapse_rare_labels

    return collapse_rare_labels(
        load_table(spark, sf_dir, "part"), "p_brand", min_count=75
    )


@register(
    "target_encode",
    """
    WITH g AS (SELECT avg(p_retailprice) AS gm FROM part)
    SELECT p_brand,
           count(p_retailprice) AS n,
           round((sum(p_retailprice) + 10.0 * any_value(gm))
                 / (count(p_retailprice) + 10.0), 6) AS encoded,
           round(any_value(gm), 6) AS global_mean
    FROM part, g
    GROUP BY p_brand ORDER BY p_brand
    """,
    "ML prep — smoothed target encoding (Σt + m·ḡ)/(n + m): one "
    "category hash agg + one scalar global agg broadcast on (the "
    "audited 1-row-crossJoin shape); rare categories shrink toward the "
    "global mean (operators/stats.py:target_encode).",
)
def target_encode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import target_encode

    return target_encode(
        load_table(spark, sf_dir, "part"),
        "p_brand", "p_retailprice", smoothing=10.0,
    )


_TOKS4 = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')"


@register(
    "gopher_quality_signals",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS4} AS toks FROM documents),
    s AS (
      SELECT doc_id,
             len(toks) AS n_words,
             round(list_sum(list_transform(toks, w -> length(w)))::DOUBLE
                   / len(toks), 6) AS mean_word_len,
             round(len(list_filter(toks,
                     w -> list_contains(['the','a','of','to','and','in'], w)
                   ))::DOUBLE / len(toks), 6) AS stopword_frac,
             round(len(list_distinct(toks))::DOUBLE / len(toks), 6)
               AS unique_word_frac
      FROM t)
    SELECT doc_id, CAST(n_words AS INT) AS n_words, mean_word_len,
           stopword_frac, unique_word_frac,
           (n_words >= 20 AND n_words <= 100000
            AND mean_word_len >= 2.0 AND mean_word_len <= 10.0
            AND stopword_frac >= 0.01) AS keep
    FROM s ORDER BY doc_id
    """,
    "§2.11 corpus hygiene — Gopher-style quality gates (word count, "
    "mean word length, stopword fraction, unique-word fraction) as "
    "pure in-row array expressions: NO explode, NO shuffle, runs at "
    "scan speed in front of the dedup stages "
    "(operators/corpus.py:quality_signals).",
)
def gopher_quality_signals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import quality_signals

    # r16 (guide §2.5): width-capped widening of the 1-split text scan
    # (interleaved A/B med 1.05 → 0.72 s at width 8; see
    # parallelize_scan's cap docstring for why not full width)
    df = quality_signals(parallelize_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark, cap=8,
    ))
    return df.withColumn("n_words", F.col("n_words").cast("int"))


@register(
    "zipf_slope",
    f"""
    WITH freqs AS (
      SELECT token, count(*) AS freq FROM (
        SELECT unnest({_TOKS4}) AS token FROM documents)
      GROUP BY token ORDER BY freq DESC, token ASC LIMIT 500),
    ranked AS (
      SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, token ASC)
                     AS DOUBLE)) AS lr,
             ln(CAST(freq AS DOUBLE)) AS lf
      FROM freqs)
    SELECT CAST(count(*) AS BIGINT) AS n_tokens_ranked,
           round(regr_slope(lf, lr), 6) AS slope,
           round(regr_intercept(lf, lr), 6) AS intercept
    FROM ranked
    """,
    "§2.11 corpus health — Zipf's-law fit: OLS slope of ln(freq) on "
    "ln(rank) over the top-500 tokens (natural text ≈ −1). Token hash "
    "agg → TakeOrderedAndProject(500) → window + regr_slope on the "
    "500-row frame only — top_k bounds the non-distributed part by "
    "construction (operators/corpus.py:zipf_slope).",
)
def zipf_slope_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import zipf_slope

    # r16 (guide §2.5): width-capped widening of the 1-split text scan
    # (interleaved A/B min 0.58 → 0.44 s at width 8)
    return zipf_slope(parallelize_scan(
        load_table(spark, sf_dir, "documents").select("text"),
        spark, cap=8,
    ), top_k=500)


@register(
    "histogram2d",
    """
    SELECT CAST(floor(l_quantity / 10.0) AS BIGINT) AS bin_x,
           CAST(floor(round(l_discount * 100, 0) / 2) AS BIGINT) AS bin_y,
           count(*) AS cnt
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
    GROUP BY 1, 2 ORDER BY bin_x, bin_y
    """,
    "A16 2-D — equi-width heatmap over (quantity × discount): single "
    "hash agg on the two bin keys; the money axis bins on integer "
    "CENTS (floor(round(y·100)/2)) so 0.04/0.02 = 1.999… float edges "
    "cannot split bins across engines "
    "(operators/stats.py:histogram2d).",
)
def histogram2d_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import histogram2d

    return histogram2d(
        load_table(spark, sf_dir, "lineitem"),
        "l_quantity", "l_discount", x_width=10.0, y_cents_per_bin=2,
    )


@register(
    "triangle_count",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2)
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM e e1 JOIN e e2 ON e1.v = e2.u
              JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    """,
    "§2.11 graph — exact triangle count over the co-purchase graph "
    "(parts ordered together in ≥ 2 orders) via DEGREE ORIENTATION "
    "(Suri & Vassilvitskii WWW'11): orient edges low→high (degree, id) "
    "so out-degree is O(√m), then count per EDGE as "
    "size(array_intersect(N⁺(a), N⁺(b))) over sorted out-neighbor "
    "arrays — the O(m^1.5) term runs in-row inside codegen instead of "
    "materializing + shuffling the wedge set, immune to hub vertices. "
    "r9 per-process sf2 probe: 8.2 s end-to-end vs 18.2 s for the r7 "
    "self-join form and 17.6 s for the DuckDB oracle (0.47×, inverted "
    "— sidecar scale_trend). The oracle counts the same triangles by "
    "id-order (operators/graph.py:triangle_count).",
)
def triangle_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import triangle_count

    # r8 edge build, r9-shared as _order_baskets/_basket_pair_counts:
    # ONE groupBy(order) + IN-ROW pair expansion, each unordered pair
    # one encoded 8-byte long (sf2 edge build measured 18.2 s → 6.5 s
    # vs the r7 self-join; AQE re-splits the post-explode skew). The
    # decode is integer (shiftright/%) — an F.floor(pc/enc) DOUBLE
    # division would be exact only below partkey 2^53/2^31 ≈ 4.2M;
    # shiftright holds over the full 2^31 encoding range.
    edges = (
        _basket_pair_counts(_order_baskets(spark, sf_dir))
        .filter(F.col("n_orders") >= 2)
        .select(*_decode_pair("src", "dst"))
    )
    return triangle_count(edges)


# ---------------------------------------------------------------------------
# Round-4 batch 2: robust location, experimentation, skyline, LM scoring,
# smoothing, leakage-safe splits, CDC reconciliation.
# ---------------------------------------------------------------------------


@register(
    "weighted_median",
    """
    WITH c AS (
      SELECT l_returnflag,
             l_extendedprice AS v,
             sum(l_quantity) OVER (PARTITION BY l_returnflag
                                   ORDER BY l_extendedprice) AS cw,
             sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL)
    SELECT l_returnflag, round(min(v), 6) AS weighted_median
    FROM c WHERE cw * 2 >= tw
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "Weighted median per group — smallest value whose cumulative weight "
    "reaches half the group total. The DEFAULT window frame with ORDER "
    "BY (RANGE ..CURRENT ROW) includes all value ties on both engines, "
    "so the cutoff depends only on the value, never intra-tie row "
    "order. One key shuffle, shuffle-bounded memory "
    "(operators/stats.py:weighted_median_by_group).",
)
def weighted_median_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import weighted_median_by_group

    return weighted_median_by_group(
        load_table(spark, sf_dir, "lineitem"),
        "l_extendedprice", "l_quantity", "l_returnflag",
    )


@register(
    "ab_test_ztest",
    """
    WITH u AS (
      SELECT user_id,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
      FROM events GROUP BY 1, 2),
    s AS (
      SELECT CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN variant = 'A' THEN conv ELSE 0 END)
                  AS BIGINT) AS conv_a,
             CAST(sum(CASE WHEN variant = 'B' THEN conv ELSE 0 END)
                  AS BIGINT) AS conv_b
      FROM u)
    SELECT n_a, n_b, conv_a, conv_b,
           round(conv_a / n_a, 6) AS rate_a,
           round(conv_b / n_b, 6) AS rate_b,
           round((conv_a / n_a - conv_b / n_b)
                 / sqrt((conv_a + conv_b) / (n_a + n_b)
                        * (1 - (conv_a + conv_b) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 6) AS z_score
    FROM s
    """,
    "A/B experiment readout: per-user conversion (unit-level max, so "
    "event frequency cannot bias the rate), then the pooled "
    "two-proportion z statistic in one conditional agg — two keyed "
    "shuffles total regardless of event volume "
    "(operators/stats.py:two_proportion_ztest).",
)
def ab_test_ztest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import two_proportion_ztest

    ev = load_table(spark, sf_dir, "events")
    return two_proportion_ztest(
        ev,
        "user_id",
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B"),
        F.col("event_type") == "purchase",
    )


@register(
    "skyline_pareto",
    """
    WITH r AS (
      SELECT p_retailprice, max(p_size) AS p_size FROM part
      WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
      GROUP BY p_retailprice),
    s AS (
      SELECT p_retailprice, p_size,
             max(p_size) OVER (ORDER BY p_retailprice
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS bound
      FROM r)
    SELECT p_retailprice, p_size FROM s
    WHERE bound IS NULL OR bound < p_size
    ORDER BY p_retailprice
    """,
    "2-D Pareto skyline (cheapest-AND-biggest parts): sort-based "
    "O(n log n), never the O(n²) dominance self-join — per-price max "
    "agg, then an exclusive prefix MAX over the bucketed price order: "
    "bucket maxima prefixed on the ≤4096-row bucket frame, broadcast "
    "back, plus a per-bucket window — one lazy plan, no driver "
    "round-trip, no single-partition window over the data "
    "(operators/stats.py:skyline_2d).",
)
def skyline_pareto_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import skyline_2d

    return skyline_2d(
        load_table(spark, sf_dir, "part"), "p_retailprice", "p_size"
    )


@register(
    "unigram_logprob",
    f"""
    WITH tf AS (
      SELECT doc_id, token, count(*) AS k FROM (
        SELECT doc_id, unnest({_TOKS_SQL}) AS token FROM documents)
      GROUP BY doc_id, token),
    freq AS (SELECT token, sum(k) AS cnt FROM tf GROUP BY token),
    tot AS (SELECT sum(cnt) AS n_corpus FROM freq)
    SELECT doc_id,
           CAST(sum(k) AS BIGINT) AS n_tokens,
           round(sum(k * ln(cnt / n_corpus)) / sum(k), 6) AS logprob
    FROM tf JOIN freq USING (token) CROSS JOIN tot
    GROUP BY doc_id ORDER BY doc_id
    """,
    "CCNet-style unigram LM quality score: mean per-token "
    "log-probability under the corpus's own unigram distribution — the "
    "cheap perplexity proxy for gibberish/boilerplate filtering. "
    "Tokens shuffle, documents never do; corpus total is a broadcast "
    "scalar (operators/corpus.py:unigram_logprob).",
)
def unigram_logprob_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import unigram_logprob

    return unigram_logprob(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    )


def _ewma_oracle_sql(alpha: float = 0.3, horizon: int = 8) -> str:
    """Generate the lag-chain EWMA oracle with the SAME weight literals
    (repr of the CPython double (1−α)^k) and the SAME left-associative
    accumulation order as the Spark expression tree in
    ``operators/timeseries.py:ewma_bounded`` — float-exact parity by
    construction, not by tolerance."""
    lags, nums, dens = [], [], []
    for k in range(horizon):
        w = repr((1.0 - alpha) ** k)
        src = "value" if k == 0 else f"l{k}"
        if k:
            lags.append(f"lag(value, {k}) OVER w AS l{k}")
        nums.append(f"coalesce({src} * {w}, 0.0)")
        dens.append(f"CASE WHEN {src} IS NOT NULL THEN {w} ELSE 0.0 END")
    lag_sql = ",\n             ".join(lags)
    num_sql = "\n                  + ".join(nums)
    den_sql = "\n                    + ".join(dens)
    return f"""
    WITH o AS (
      SELECT user_id, event_id, value,
             {lag_sql}
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id, event_id, value,
           round((0.0 + {num_sql})
                 / (0.0 + {den_sql}), 6) AS ewma
    FROM o ORDER BY event_id
    """


@register(
    "ewma_smooth",
    _ewma_oracle_sql(),
    "Bounded-horizon EWMA per user (α=0.3, h=8; dropped tail weight "
    "0.7⁸ ≈ 5.8 %): the truncation that turns the inherently-sequential "
    "recursive EWMA into a lag-chain over ONE key-shuffled sort — "
    "whole-stage-codegen'd columns, no UDF, no iteration "
    "(operators/timeseries.py:ewma_bounded).",
)
def ewma_smooth_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import ewma_bounded

    ev = load_table(spark, sf_dir, "events")
    return ewma_bounded(
        ev, "user_id", "ts", "value", "event_id", alpha=0.3, horizon=8
    ).orderBy("event_id").select("user_id", "event_id", "value", "ewma")


@register(
    "grouped_split",
    """
    WITH k AS (
      SELECT user_id,
             ((user_id % 4294967296) + 4294967296) % 4294967296 AS kk
      FROM events),
    b AS (
      SELECT user_id,
             ((kk // 65536 * 2654435761) % 4294967296 * 65536
              + (kk % 65536) * 2654435761) % 4294967296 % 100 AS bucket
      FROM k),
    s AS (
      SELECT user_id,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM b),
    g AS (SELECT split, user_id, count(*) AS n FROM s GROUP BY 1, 2)
    SELECT split,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_users
    FROM g GROUP BY split ORDER BY split
    """,
    "Leakage-safe train/val/test split: the split is a pure "
    "deterministic function of the GROUP key (user), so all of a "
    "user's events land in one split by construction — no join, no "
    "state, rows never migrate as the corpus grows. Exact user counts "
    "via (split, user) pre-agg, no countDistinct buffer "
    "(operators/setops.py:split_by_hash).",
)
def grouped_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.setops import split_by_hash

    ev = load_table(spark, sf_dir, "events")
    return (
        split_by_hash(
            ev, "user_id", {"train": 0.8, "val": 0.1, "test": 0.1}
        )
        .groupBy("split", "user_id")
        .agg(F.count(F.lit(1)).alias("__n"))
        .groupBy("split")
        .agg(
            F.sum("__n").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
        )
        .orderBy("split")
    )


@register(
    "snapshot_diff",
    """
    WITH old AS (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderkey % 97 <> 0),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 89 <> 0),
    d AS (
      SELECT CASE WHEN o.o_orderkey IS NULL THEN 'added'
                  WHEN n.o_orderkey IS NULL THEN 'removed'
                  WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                    THEN 'changed'
                  ELSE 'unchanged' END AS change
      FROM old o FULL JOIN new n ON o.o_orderkey = n.o_orderkey)
    SELECT change, count(*) AS cnt FROM d GROUP BY change ORDER BY change
    """,
    "CDC snapshot reconciliation: added/removed/changed/unchanged "
    "classification of two table versions (simulated deterministically "
    "from orders: %97 deletes in old, %89 deletes in new, +1.0 price "
    "drift on %13) — ONE full-outer equi-join on the key, "
    "classification as pure projection, null-safe value compare "
    "(operators/setops.py:snapshot_diff).",
)
def snapshot_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.setops import snapshot_diff

    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey", "o_totalprice"
    )
    new = orders.filter(F.col("o_orderkey") % 89 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + 1.0
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    return (
        snapshot_diff(old, new, ["o_orderkey"], ["o_totalprice"])
        .groupBy("change")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("change")
    )
