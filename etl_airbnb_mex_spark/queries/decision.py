"""Round-6 decision-support suite: the remaining classic TPC-H query
shapes not yet covered by rounds 2-5 (which did Q11/Q12/Q14/Q17/Q18/Q22
— supplier_revenue_concentration, ship_delay_priority,
promo_revenue_share, subquery_correlated_qty, having_join_bigorders,
antijoin_wealthy_inactive).

This file adds the Q1/Q3/Q5/Q7/Q8/Q10/Q13/Q16/Q19 shapes (batch 1)
and Q2/Q4/Q6/Q9/Q15/Q20/Q21 (batch 2) — with which the engine covers
all 22 classic TPC-H query patterns — adapted to the driver
testdata's slimmed TPC-H schema (TESTDATA.md: no
l_commitdate/l_receiptdate/o_comment/partsupp — lateness becomes
ship-vs-order lag, costs derive from observed unit prices, and the
part-supplier relation is the distinct (l_partkey, l_suppkey)
projection of lineitem).

The reference implements none of these (zero joins anywhere,
SURVEY.md §2.4); they are engine capabilities mandated by the north
star ("same query capabilities ... design every operator for 100 TB
scale", BASELINE.json:6). Shared determinism rules (SURVEY.md §7.4):
revenue sums run in DECIMAL (exact, shuffle-order-independent — the
per-row product CAST(price AS DECIMAL(18,2)) * (1 - CAST(disc AS
DECIMAL(18,2))) is exact decimal arithmetic on both engines), averages
derive from exact decimal sums with ONE final double division, ratios
quantize to integer PPM via floor(x+0.5), dates render as strings, and
every ORDER BY carries a full deterministic tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table, read_dim_driver_side
from . import register


def _dec(col: str) -> F.Column:
    return F.col(col).cast("decimal(18,2)")


def _disc_price() -> F.Column:
    """Exact decimal l_extendedprice * (1 - l_discount)."""
    return _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))


@register(
    "q1_pricing_summary",
    """
    WITH c AS (
      SELECT l_returnflag, l_linestatus,
             CAST(round(l_quantity) AS BIGINT) AS q,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
             CAST(round(l_discount * 100) AS BIGINT) AS dc,
             CAST(round(l_tax * 100) AS BIGINT) AS tc
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01')
    SELECT l_returnflag, l_linestatus,
           CAST(sum(q) AS BIGINT) AS sum_qty,
           CAST(sum(pc) AS DOUBLE) / 100.0 AS sum_base_price,
           CAST(sum(pc * (100 - dc)) AS DOUBLE) / 10000.0
             AS sum_disc_price,
           CAST(sum(pc * (100 - dc) * (100 + tc)) AS DOUBLE) / 1000000.0
             AS sum_charge,
           round(CAST(sum(q) AS DOUBLE) / count(*), 6) AS avg_qty,
           round((CAST(sum(pc) AS DOUBLE) / 100.0) / count(*), 6)
             AS avg_price,
           round((CAST(sum(dc) AS DOUBLE) / 100.0) / count(*), 6)
             AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM c GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    "TPC-H Q1: the pricing-summary scan-heavy aggregate — one pass, "
    "partial+final hash agg over a 6-value grouping key, filter pushed "
    "to the parquet scan. All money flows as INTEGER CENTS (2-dp "
    "columns ×100, rounded, long): exact, shuffle-order-independent, "
    "and ~2.5× faster than the r8 DECIMAL(18,2) sums — Spark's "
    "decimal aggregate buffers (decimal(38) + overflow tracking) were "
    "the measured wall at sf1 while DuckDB's native decimal "
    "vectorizes; disc_price/charge keep 4/6 implied decimals via "
    "(100−dc)/(100+tc) integer factors. Per-row charge ≤ 1.4e11 → the "
    "long SUM overflows only past ~7e7 rows per group (SF ≈ 10); the "
    "documented at-scale swap is casting the same integer product to "
    "DECIMAL(38,0) for the sum, keeping per-row math integral. "
    "Averages derive from the exact sums with identical double "
    "divisions on both engines (never avg() over doubles, whose "
    "accumulation order differs per engine).",
)
def q1_pricing_summary_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp")
    )
    # round() yields an integral double, so the long cast is exact
    q = F.round(F.col("l_quantity")).cast("long")
    pc = F.round(F.col("l_extendedprice") * 100).cast("long")
    dc = F.round(F.col("l_discount") * 100).cast("long")
    tc = F.round(F.col("l_tax") * 100).cast("long")
    n = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(q).alias("__sq"),
            F.sum(pc).alias("__sb"),
            F.sum(pc * (F.lit(100) - dc)).alias("__sd"),
            F.sum(pc * (F.lit(100) - dc) * (F.lit(100) + tc)).alias("__sc"),
            F.sum(dc).alias("__sdisc"),
            n.cast("bigint").alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("__sq").cast("bigint").alias("sum_qty"),
            (F.col("__sb").cast("double") / F.lit(100.0))
            .alias("sum_base_price"),
            (F.col("__sd").cast("double") / F.lit(10000.0))
            .alias("sum_disc_price"),
            (F.col("__sc").cast("double") / F.lit(1000000.0))
            .alias("sum_charge"),
            F.round(
                F.col("__sq").cast("double") / F.col("count_order"), 6
            ).alias("avg_qty"),
            F.round(
                (F.col("__sb").cast("double") / F.lit(100.0))
                / F.col("count_order"),
                6,
            ).alias("avg_price"),
            F.round(
                (F.col("__sdisc").cast("double") / F.lit(100.0))
                / F.col("count_order"),
                6,
            ).alias("avg_disc"),
            "count_order",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
    "TPC-H Q3: top-10 unshipped orders by pending revenue for one "
    "market segment. The segment filter prunes customer BEFORE its "
    "join (AQE broadcasts the ~1/5 survivor set against orders); the "
    "date filters push into both parquet scans; the final ranking is "
    "TakeOrderedAndProject (top-k, no global sort). Revenue sums in "
    "DECIMAL; orderdate renders as a string (oracle rule #5).",
)
def q3_shipping_priority_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-03-15").cast("timestamp")
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < cutoff
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > cutoff
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    """
    SELECT n_name,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                AS DOUBLE) / 10000.0 AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
                 AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name ASC
    """,
    "TPC-H Q5: revenue by nation where customer and supplier share the "
    "nation, restricted to one region-year. r13 plan (the r12 verdict's "
    "#2: 16 jobs / 458 MB shuffle write at sf4): the nation-region dim "
    "chain is resolved DRIVER-SIDE into literal expressions — nation "
    "and region are spec-bounded constants (25/5 rows at ANY scale "
    "factor, TPC-H 4.2.3), so one metadata-scale collect (≤25 rows, "
    "same class as the audited bucket-offset collects) replaces the "
    "broadcast-exchange prep jobs AND turns the region-year predicate "
    "into isin() filters that push down to the supplier/customer "
    "parquet scans (5 of 25 nations survive → both shrink 80% BEFORE "
    "any join). Join order is re-rooted at the fact table: lineitem ⋈ "
    "ASIA-supplier first (supplier is the smallest SF-scaled table; "
    "AQE broadcasts it at bench scale so the 80% lineitem kill costs "
    "ZERO shuffle, and at cluster scale it degrades to a shuffle of "
    "the SMALLEST side), then ⋈ year-filtered orders on orderkey "
    "(shuffles 20% of lineitem instead of 100%), then ⋈ ASIA-customer "
    "on custkey + the c_nationkey = s_nationkey locality conjunct "
    "(shuffles ~3% of lineitem). n_name maps in-row from the literal "
    "map; no join ever touches the dim chain. Revenue sums as integer "
    "1e-4 units (q1's integer-cents treatment, r10: exact, order-"
    "independent, no decimal(38) aggregate buffers; per-row ≤ 1e9 → "
    "long overflow only past ~10^9 surviving rows per nation, decimal "
    "swap documented at q1). The dim resolution is a DRIVER-SIDE "
    "pyarrow footer read (tables.read_dim_driver_side — zero Spark "
    "jobs, Spark-collect fallback for non-local paths), so unlike "
    "ivf_probe_pinned's eager guard (ADVICE r12 #3) plan-only "
    "consumers pay no cluster work at all.",
)
def q5_local_supplier_volume_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Metadata-scale eager step: nation/region are fixed 25/5-row
    # tables at every SF (TPC-H spec) — resolving the pruned dim
    # driver-side (zero Spark jobs, pyarrow footer read) removes the
    # broadcast-prep job chain and unlocks scan-level nationkey
    # pushdown on BOTH SF-scaled join sides.
    nations = read_dim_driver_side(
        spark, sf_dir, "nation", ["n_nationkey", "n_name", "n_regionkey"]
    )
    asia_rk = {
        row["r_regionkey"]
        for row in read_dim_driver_side(
            spark, sf_dir, "region", ["r_regionkey", "r_name"]
        )
        if row["r_name"] == "ASIA"
    }
    dim_rows = [row for row in nations if row["n_regionkey"] in asia_rk]
    asia_keys = sorted(row["n_nationkey"] for row in dim_rows)
    if dim_rows:
        name_expr = F.create_map(
            *[
                F.lit(x)
                for row in sorted(dim_rows, key=lambda t: t["n_nationkey"])
                for x in (row["n_nationkey"], row["n_name"])
            ]
        )[F.col("s_nationkey")]
    else:
        # no ASIA region in this dataset: the isin([]) filters already
        # make the result empty; the name column must still be a plain
        # typed literal (indexing a non-map literal fails analysis)
        name_expr = F.lit(None).cast("string")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    ).filter(F.col("c_nationkey").isin(asia_keys))
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    ).filter(F.col("s_nationkey").isin(asia_keys))
    rev_e4 = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    )
    joined = (
        li.join(s, F.col("l_suppkey") == s["s_suppkey"])
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            c,
            (F.col("o_custkey") == c["c_custkey"])
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
    )
    return (
        joined
        .groupBy("s_nationkey")
        .agg(
            (F.sum(rev_e4).cast("double") / F.lit(10000.0)).alias("revenue")
        )
        .select(
            name_expr.alias("n_name"), "revenue"
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@register(
    "q7_volume_shipping",
    """
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           strftime(l_shipdate, '%Y') AS ship_year,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE ((cn.n_name = 'NATION_1' AND sn.n_name = 'NATION_2')
        OR (cn.n_name = 'NATION_2' AND sn.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY cn.n_name, sn.n_name, strftime(l_shipdate, '%Y')
    ORDER BY cust_nation, supp_nation, ship_year
    """,
    "TPC-H Q7: bilateral trade volume between two nations by ship "
    "year. The nation dim joins TWICE under different roles (customer "
    "side / supplier side) — both broadcast; the disjunctive "
    "nation-pair predicate applies after both lookups (Catalyst "
    "cannot split an OR across two join inputs, but each broadcast "
    "join stays an equi-join and the OR is a cheap in-row residual).",
)
def q7_volume_shipping_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_suppkey", "l_shipdate",
             "l_extendedprice", "l_discount")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    cn = F.broadcast(
        nat.select(
            F.col("n_nationkey").alias("__cnk"),
            F.col("n_name").alias("cust_nation"),
        )
    )
    sn = F.broadcast(
        nat.select(
            F.col("n_nationkey").alias("__snk"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    pair_ok = (
        (F.col("cust_nation") == "NATION_1")
        & (F.col("supp_nation") == "NATION_2")
    ) | (
        (F.col("cust_nation") == "NATION_2")
        & (F.col("supp_nation") == "NATION_1")
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == s["s_suppkey"])
        .join(cn, F.col("c_nationkey") == F.col("__cnk"))
        .join(sn, F.col("s_nationkey") == F.col("__snk"))
        .filter(pair_ok)
        .groupBy(
            "cust_nation",
            "supp_nation",
            F.date_format("l_shipdate", "yyyy").alias("ship_year"),
        )
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
        .orderBy("cust_nation", "supp_nation", "ship_year")
    )


@register(
    "q8_market_share",
    """
    WITH v AS (
      SELECT strftime(o_orderdate, '%Y') AS order_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume,
             sn.n_name AS supp_nation
      FROM customer
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region ON cn.n_regionkey = r_regionkey
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE r_name = 'AMERICA')
    SELECT order_year,
           CAST(floor(1000000.0
                      * CAST(coalesce(sum(CASE WHEN supp_nation = 'NATION_3'
                                               THEN volume END), 0)
                             AS DOUBLE)
                      / CAST(sum(volume) AS DOUBLE) + 0.5) AS BIGINT)
             AS share_ppm
    FROM v GROUP BY order_year ORDER BY order_year
    """,
    "TPC-H Q8: NATION_3 suppliers' share of the AMERICA customer "
    "market by order year — conditional-vs-total in ONE agg pass over "
    "a six-way join (nation joins twice: once filtering the customer "
    "region, once labeling the supplier side; both broadcast). "
    "Volumes sum in DECIMAL and only the final share drops to double, "
    "quantized to integer PPM.",
)
def q8_market_share_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "AMERICA"
    )
    cdim = F.broadcast(
        nat.join(r, nat["n_regionkey"] == r["r_regionkey"]).select(
            F.col("n_nationkey").alias("__cnk")
        )
    )
    sdim = F.broadcast(
        nat.select(
            F.col("n_nationkey").alias("__snk"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    v = (
        c.join(cdim, F.col("c_nationkey") == F.col("__cnk"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(sdim, F.col("s_nationkey") == F.col("__snk"))
        .select(
            F.date_format("o_orderdate", "yyyy").alias("order_year"),
            _disc_price().alias("volume"),
            "supp_nation",
        )
    )
    nat3 = F.when(F.col("supp_nation") == "NATION_3", F.col("volume"))
    return (
        v.groupBy("order_year")
        .agg(
            F.sum(nat3).alias("__nat"),
            F.sum("volume").alias("__tot"),
        )
        .select(
            "order_year",
            F.floor(
                1_000_000.0
                * F.coalesce(F.col("__nat"), F.lit(0)).cast("double")
                / F.col("__tot").cast("double")
                + 0.5
            )
            .cast("bigint")
            .alias("share_ppm"),
        )
        .orderBy("order_year")
    )


@register(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name, n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS revenue,
           round(c_acctbal, 2) AS acctbal
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-10-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name, round(c_acctbal, 2)
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
    "TPC-H Q10: top-20 customers by revenue lost to returns in one "
    "quarter. The returnflag + quarter predicates push into both "
    "parquet scans (the 'R' third of lineitem is all that shuffles); "
    "nation broadcasts; the ranking is TakeOrderedAndProject. "
    "c_acctbal is grouped pre-rounded so the grouping key is "
    "cross-engine identical.",
)
def q10_returned_items_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    n = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name"
        )
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "c_custkey",
            "c_name",
            "n_name",
            F.round("c_acctbal", 2).alias("acctbal"),
        )
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "n_name", "revenue", "acctbal")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q13_customer_distribution",
    """
    WITH co AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                      AND o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c_custkey)
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(count(*) AS BIGINT) AS custdist
    FROM co GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    "TPC-H Q13: distribution of orders-per-customer including "
    "zero-order customers — LEFT OUTER join with the priority "
    "predicate INSIDE the join condition (pushing it below the join "
    "would turn excluded orders into matches lost vs kept; Spark "
    "side filters the right input before the join, which is the "
    "equivalent rewrite for a right-side-only predicate), then the "
    "two-level aggregation: per-customer count → count-of-counts. "
    "count(o_orderkey) counts non-null matches only, so customers "
    "with no surviving order land in the c_count=0 bucket.",
)
def q13_customer_distribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    ).select("o_orderkey", "o_custkey")
    co = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        co.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))
        .select(F.col("c_count").cast("bigint").alias("c_count"), "custdist")
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q16_parts_supplier_cnt",
    """
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    LIMIT 30
    """,
    "TPC-H Q16: supplier counts per part attribute triple, excluding "
    "a supplier blocklist. The part-supplier relation is the DISTINCT "
    "(l_partkey, l_suppkey) projection of lineitem (the schema has no "
    "partsupp); the blocklist is a LEFT ANTI join (NOT IN with "
    "non-nullable keys ≡ anti-join — s_suppkey is a key, so the "
    "NULL-semantics trap of NOT IN does not bite); the part filter "
    "broadcasts. count(DISTINCT) runs per narrow group (bounded by "
    "suppliers-per-part-triple), not globally.",
)
def q16_parts_supplier_cnt_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        ps.join(bad, ps["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(
            F.countDistinct("l_suppkey").cast("bigint").alias(
                "supplier_cnt"
            )
        )
        .orderBy(
            F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"
        )
        .limit(30)
    )


@register(
    "q19_disjunctive_revenue",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
    "TPC-H Q19: revenue under an OR of three conjunct brackets that "
    "mix columns from BOTH sides. Catalyst still extracts the "
    "p_partkey = l_partkey equi-key (the plan is a hash join, never "
    "BNLJ) and applies the disjunction as an in-row residual; the "
    "single-side implications (brand IN ..., size <= 15, quantity "
    "<= 30) are derivable pushdowns, and the part side broadcasts. "
    "Quantity bounds are integer-valued doubles, so BETWEEN cuts "
    "identically cross-engine.",
)
def q19_disjunctive_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    q = F.col("l_quantity")
    sz = F.col("p_size")
    pred = (
        ((F.col("p_brand") == "Brand#1") & sz.between(1, 5)
         & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & sz.between(1, 10)
           & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & sz.between(1, 15)
           & q.between(20, 30))
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(pred)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum(_disc_price()).cast("double").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Round-6 batch 2: the last classic shapes — with these the engine
# covers all 22 TPC-H query patterns (Q2/Q4/Q6/Q9/Q15/Q20/Q21 here;
# see the file docstring for the round-2..6 mapping of the rest).
# ---------------------------------------------------------------------------


@register(
    "q2_min_cost_supplier",
    """
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS cost
      FROM lineitem GROUP BY 1, 2),
    eu AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'),
    pc AS (
      SELECT ps.l_partkey, ps.cost, eu.s_name, eu.s_acctbal, eu.n_name
      FROM ps JOIN eu ON ps.l_suppkey = eu.s_suppkey),
    m AS (SELECT l_partkey, min(cost) AS min_cost FROM pc GROUP BY 1)
    SELECT p_partkey, s_name, n_name,
           round(s_acctbal, 2) AS acctbal,
           round(min_cost, 6) AS unit_cost
    FROM pc
    JOIN m ON pc.l_partkey = m.l_partkey AND pc.cost = m.min_cost
    JOIN part ON p_partkey = pc.l_partkey
    WHERE p_size = 15
    ORDER BY acctbal DESC, p_partkey, s_name
    LIMIT 20
    """,
    "TPC-H Q2 shape: cheapest EUROPE supplier per size-15 part. The "
    "part-supplier cost relation derives from lineitem (min observed "
    "unit price per (part, supplier) — the schema has no partsupp); "
    "the min-cost-per-part aggregate joins BACK on cost equality — "
    "safe on doubles because min() SELECTS a value (no accumulation), "
    "so both engines compare the identical IEEE division result. "
    "Region chain broadcasts; final ranking is TakeOrderedAndProject.",
)
def q2_min_cost_supplier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(
                F.col("l_extendedprice") / F.col("l_quantity")
            ).alias("cost")
        )
    )
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    eu = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .join(
            n.join(r, n["n_regionkey"] == r["r_regionkey"]).select(
                "n_nationkey", "n_name"
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    pc = ps.join(eu, ps["l_suppkey"] == eu["s_suppkey"]).select(
        "l_partkey", "cost", "s_name", "s_acctbal", "n_name"
    )
    m = pc.groupBy(F.col("l_partkey").alias("__pk")).agg(
        F.min("cost").alias("min_cost")
    )
    p = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") == 15)
        .select("p_partkey")
    )
    return (
        pc.join(
            m,
            (pc["l_partkey"] == m["__pk"])
            & (pc["cost"] == m["min_cost"]),
        )
        .join(p, F.col("l_partkey") == p["p_partkey"])
        .select(
            "p_partkey",
            "s_name",
            "n_name",
            F.round("s_acctbal", 2).alias("acctbal"),
            F.round("min_cost", 6).alias("unit_cost"),
        )
        .orderBy(F.desc("acctbal"), "p_partkey", "s_name")
        .limit(20)
    )


@register(
    "q4_order_priority",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "TPC-H Q4: orders in one quarter with at least one lineitem "
    "shipped more than 90 days after order placement (the late-"
    "delivery EXISTS; the schema has no commitdate, so lateness is "
    "ship-vs-order lag). Spark states it as a LEFT SEMI join whose "
    "condition references BOTH sides (orderkey equality + the date "
    "comparison) — the equi-key still extracts, so the semi-join "
    "shuffles on orderkey with the lag predicate as residual; "
    "EXISTS-dedup comes free from semi-join semantics.",
)
def q4_order_priority_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q6_forecast_revenue",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    "TPC-H Q6: the pure filter-aggregate forecast — revenue change "
    "if mid-range discounts were eliminated. Zero joins; every "
    "predicate (date range, discount band, quantity cap) pushes into "
    "the parquet scan, and the whole query is one partial+final agg "
    "over the surviving rows. The discount BETWEEN compares stored "
    "doubles against exact literals — identical cross-engine.",
)
def q6_forecast_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(_dec("l_extendedprice") * _dec("l_discount"))
        .cast("double")
        .alias("revenue"),
    )


@register(
    "q9_product_margin",
    """
    SELECT n_name, strftime(o_orderdate, '%Y') AS order_year,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))
                    - CAST(round(l_quantity) AS BIGINT)
                      * CAST(round(p_retailprice * 100) AS BIGINT) * 100)
                AS DOUBLE) / 10000.0 AS margin
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN part ON l_partkey = p_partkey
    WHERE p_type = 'ECONOMY'
    GROUP BY n_name, strftime(o_orderdate, '%Y')
    ORDER BY n_name, order_year
    """,
    "TPC-H Q9 shape: margin vs list price of ECONOMY products by "
    "supplier nation and order year (the schema has no "
    "ps_supplycost, so cost = quantity × p_retailprice). The part "
    "filter broadcasts and prunes lineitem FIRST (ECONOMY ≈ 1/6 of "
    "parts); orders joins on orderkey only for the year; the margin "
    "sums as integer 1e-4 units — price-cents × (100−disc-cents) "
    "minus qty × retail-cents × 100 — q1's integer-cents treatment "
    "(r10): exact, order-independent, no decimal(38) aggregate "
    "buffers; per-row ≤ ~1e9 → long overflow only past ~10^9 rows "
    "per (nation, year), decimal swap documented at q1.",
)
def q9_product_margin_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_partkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    # nation is spec-bounded; ECONOMY part is ~1/6 of an SF-scaled dim
    n = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    p = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey", "p_retailprice")
    )
    margin_e4 = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
        - F.round(F.col("l_quantity")).cast("long")
        * F.round(F.col("p_retailprice") * 100).cast("long")
        * F.lit(100)
    )
    # r13: the margin expression is computed IMMEDIATELY after the
    # (broadcast) part join, so the big orderkey exchange carries one
    # long instead of the four numeric inputs (24 B vs 48 B rows,
    # measured -7.5% at sf24); the orders side likewise ships the
    # 4-byte year int instead of the 8-byte timestamp. Both are pure
    # width cuts on the dominant shuffle — strictly better at any SF.
    fact = li.join(p, F.col("l_partkey") == F.col("p_partkey")).select(
        "l_orderkey", "l_suppkey", margin_e4.alias("__margin_e4")
    )
    o_year = o.select(
        "o_orderkey", F.year("o_orderdate").alias("__yr")
    )
    return (
        fact.join(o_year, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "n_name",
            F.col("__yr").cast("string").alias("order_year"),
        )
        .agg(
            (F.sum("__margin_e4").cast("double") / F.lit(10000.0)).alias(
                "margin"
            )
        )
        .orderBy("n_name", "order_year")
    )


@register(
    "q15_top_supplier",
    """
    WITH sr AS (
      SELECT l_suppkey,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2))))
               AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY 1)
    SELECT s_suppkey, s_name,
           CAST(total_rev AS DOUBLE) AS total_rev
    FROM supplier JOIN sr ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT max(total_rev) FROM sr)
    ORDER BY s_suppkey
    """,
    "TPC-H Q15: the top supplier(s) by quarterly revenue — the "
    "create-view + scalar-max shape. The revenue aggregate computes "
    "ONCE and feeds both the max (a 1-row broadcast scalar onto the "
    "same frame — localCheckpoint'd so the lineitem scan does not "
    "re-execute per branch) and the equality cut; revenue stays "
    "DECIMAL through the comparison, so 'equals the max' is exact, "
    "and ties return every maximal supplier as the spec demands.",
)
def q15_top_supplier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    sr = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate")
             >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate")
               < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_disc_price()).alias("total_rev"))
        .localCheckpoint(eager=False)
    )
    mx = sr.agg(F.max("total_rev").alias("__mx"))
    s = F.broadcast(
        load_table(spark, sf_dir, "supplier").select(
            "s_suppkey", "s_name"
        )
    )
    return (
        sr.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("__mx"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev").cast("double").alias("total_rev"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "q20_excess_shipments",
    """
    WITH pq AS (
      SELECT l_suppkey
      FROM lineitem
      JOIN part ON p_partkey = l_partkey AND p_brand = 'Brand#2'
      GROUP BY l_suppkey, l_partkey
      HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 60)
    SELECT s_suppkey, s_name, round(s_acctbal, 2) AS acctbal
    FROM supplier
    WHERE s_suppkey IN (SELECT l_suppkey FROM pq)
      AND s_nationkey < 10
    ORDER BY s_suppkey
    """,
    "TPC-H Q20 shape: suppliers who moved more than 60 units of "
    "some Brand#2 part (the schema has no ps_availqty, so the "
    "excess-stock threshold becomes a shipped-quantity threshold). "
    "The nested-IN chain — part filter → (supplier, part) quantity "
    "agg with HAVING → supplier semi-join — keeps each stage "
    "aggregated before the next join; the IN is a LEFT SEMI join on "
    "the DISTINCT surviving suppkeys. Quantities sum in DECIMAL so "
    "the threshold cut is exact.",
)
def q20_excess_shipments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#2")
        .select("p_partkey")
    )
    pq = (
        load_table(spark, sf_dir, "lineitem")
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(_dec("l_quantity")).alias("__qty"))
        .filter(F.col("__qty") > 60)
        .select("l_suppkey")
    )
    return (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") < 10)
        .join(
            pq, F.col("s_suppkey") == pq["l_suppkey"], "left_semi"
        )
        .select(
            "s_suppkey",
            "s_name",
            F.round("s_acctbal", 2).alias("acctbal"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "q21_waiting_suppliers",
    """
    WITH l AS (
      SELECT l_orderkey, l_suppkey,
             max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                      THEN 1 ELSE 0 END) AS late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2),
    solo AS (
      SELECT l_orderkey FROM l
      GROUP BY 1 HAVING count(*) > 1 AND sum(late) = 1)
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM l
    JOIN solo ON l.l_orderkey = solo.l_orderkey
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE late = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    "TPC-H Q21 shape: suppliers who were the SOLE late supplier on a "
    "multi-supplier order (lateness = shipped >90 days after order "
    "placement; no receiptdate in the schema). The classic "
    "EXISTS + NOT-EXISTS pair collapses into ONE (order, supplier) "
    "aggregate: per-order supplier count >1 encodes the EXISTS "
    "(another supplier), per-order late-sum =1 encodes the "
    "NOT-EXISTS (no OTHER late supplier, given this one is late). "
    "r9 single-pass plan: the orderkey equi-join already hash-"
    "partitions by orderkey, and HashPartitioning(ok) satisfies the "
    "clustering of BOTH downstream aggs — groupBy(ok, sk) and the "
    "per-order rollup — so the (order,supplier) frame flows through "
    "zero additional exchanges and is consumed ONCE: the sole late "
    "supplier is max(when(late=1, sk)) in the same per-order agg "
    "(exact because late-sum = 1), and the r8 lazy checkpoint + "
    "second consumer + order-list join disappear; the only remaining "
    "exchanges are the two join shuffles and the 25-row name agg "
    "(at tiers where orders broadcasts instead, the aggs pay the one "
    "ok-keyed exchange themselves — AQE picks per actual size).",
)
def q21_waiting_suppliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    late = F.when(
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
        1,
    ).otherwise(0)
    per_order = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("late"))
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("late").alias("__nlate"),
            # the sole late supplier, extracted in-row: suppliers per
            # order are bounded (≤7 in this schema), so the list is
            # metadata-sized per row
            F.max(
                F.when(F.col("late") == 1, F.col("l_suppkey"))
            ).alias("__late_sk"),
        )
        .filter((F.col("__n") > 1) & (F.col("__nlate") == 1))
    )
    s = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    )
    return (
        per_order.join(s, F.col("__late_sk") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )
