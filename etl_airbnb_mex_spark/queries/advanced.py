"""Round-4 extension queries (SURVEY.md §2.11): decision-support
subquery patterns (correlated scalar / HAVING-join / NOT EXISTS),
blocked similarity joins (2-D spatial grid, edit-distance bands),
corpus monitoring (KL drift, inverted index, grouped quality gates,
BPE tokenizer training, mixture resampling), time rollups (grouping
sets, mergeable HLL sketches, rolling median, interval union),
mergeable aggregation state, sampling (weighted top-k, k-per-group),
embedding quantization, temporal point-in-time lookup, behavior
transitions, and graph queries (k-core, recursive-CTE reachability,
image near-dedup on the driver surface).

The reference implements none of these (its engine has zero joins or
subqueries); they are engine capabilities mandated by the north star.
Each oracle is the plain ANSI-SQL statement of the same semantics;
where Catalyst's decorrelation/grouping-sets machinery is the point,
the Spark side is deliberately written in the declarative form that
exercises it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.corpus import corpus_kl_divergence, inverted_index
from ..operators.dedup import levenshtein_pairs
from ..operators.joins import anti_join, grid_distance_join
from ..operators.timeseries import hll_distinct_rollup, multigrain_rollup
from ..tables import load_table, parallelize_scan
from . import register


# --------------------------------------------------------------------------
# Decision-support subquery patterns (TPC-H Q17 / Q18 / Q22 shapes)
# --------------------------------------------------------------------------


@register(
    "subquery_correlated_qty",
    """
    SELECT count(*) AS n_small,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#4'
      AND l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)
    """,
    "TPC-H Q17 shape: revenue from small-quantity lineitems of one "
    "brand, threshold = half the per-part average — a CORRELATED "
    "scalar subquery, written as such on the Spark side so Catalyst's "
    "decorrelation rewrites it to the per-part aggregate + equi-join "
    "(one lineitem scan per side, no per-row re-execution; verified "
    "via explain: the plan is Aggregate+Join, no nested loop). "
    "Determinism: l_quantity is integer-valued, so sum/avg are exact "
    "in double on both engines and the strict < cut is identical; "
    "revenue sums through DECIMAL.",
)
def subquery_correlated_qty_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "adv_lineitem"
    )
    load_table(spark, sf_dir, "part").createOrReplaceTempView("adv_part")
    return spark.sql(
        """
        SELECT count(*) AS n_small,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue
        FROM adv_lineitem l JOIN adv_part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#4'
          AND l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                              FROM adv_lineitem l2
                              WHERE l2.l_partkey = l.l_partkey)
        """
    )


@register(
    "having_join_bigorders",
    """
    WITH big AS (
      SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
    SELECT c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           big.total_qty
    FROM big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY total_qty DESC, o_orderkey ASC LIMIT 20
    """,
    "TPC-H Q18 shape (large-volume orders): HAVING filter on the "
    "order-level quantity aggregate, then join back to orders + "
    "customer. Plan: ONE lineitem hash agg (map-side partials) FIRST — "
    "the >300 cut drops ~99.5 % of orders before any join — then two "
    "equi-joins on the tiny survivor set (AQE broadcasts it) and a "
    "TakeOrderedAndProject. The orderkey tiebreak makes the LIMIT a "
    "total order, so both engines pick identical rows. Quantities are "
    "integer-valued doubles: the sum is exact, the BIGINT cast lossless.",
)
def having_join_bigorders_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").cast("long").alias("total_qty"))
        .where(F.col("total_qty") > 300)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name", "o_orderkey", "o_orderdate", "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(20)
    )


@register(
    "antijoin_wealthy_inactive",
    """
    WITH thr AS (SELECT round(avg(c_acctbal), 2) AS a
                 FROM customer WHERE c_acctbal > 0)
    SELECT n.n_name AS nation,
           count(*) AS n_cust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             AS total_bal
    FROM customer c, thr, nation n
    WHERE c.c_acctbal > thr.a
      AND n.n_nationkey = c.c_nationkey
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY 1 ORDER BY 1
    """,
    "TPC-H Q22 shape (promising inactive accounts): customers above "
    "the average positive balance with NO urgent-priority order, per "
    "nation. Plan: scalar threshold as a broadcast 1-row aggregate "
    "(the audited BNLJ-crossJoin pattern), NOT EXISTS as a LEFT ANTI "
    "equi-join on custkey (never a per-row probe), nation name via "
    "broadcast dim join, one final hash agg. The threshold is ROUNDED "
    "to 2 dp on both engines before the cut so the float avg's "
    "order-dependent ULP cannot flip membership; balances sum through "
    "DECIMAL.",
)
def antijoin_wealthy_inactive_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    thr = (
        cust.where(F.col("c_acctbal") > 0)
        .agg(F.round(F.avg("c_acctbal"), 2).alias("a"))
    )
    urgent = orders.where(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    wealthy = cust.crossJoin(F.broadcast(thr)).where(
        F.col("c_acctbal") > F.col("a")
    )
    inactive = anti_join(wealthy, urgent, "c_custkey", "o_custkey")
    return (
        inactive.join(
            F.broadcast(nation),
            inactive.c_nationkey == nation.n_nationkey,
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_bal"),
        )
        .orderBy("nation")
    )


# --------------------------------------------------------------------------
# Blocked similarity joins (2-D spatial grid, edit-distance band)
# --------------------------------------------------------------------------


@register(
    "join_spatial_grid",
    """
    WITH pts AS (
      SELECT c_custkey AS id, CAST(c_acctbal AS DOUBLE) AS x,
             CAST(c_custkey % 1000 AS DOUBLE) AS y
      FROM customer)
    SELECT a.id AS id_a, b.id AS id_b,
           round(sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)), 4)
             AS dist
    FROM pts a JOIN pts b
      ON a.id < b.id
     AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 2500.0
    ORDER BY id_a, id_b
    """,
    "2-D distance self-join (points within radius 50) via grid-cell "
    "blocking: explode side A to its 3x3 cell neighborhood, EQUI-join "
    "on the cell key, exact residual — candidates are density-bounded, "
    "never n² (operators/joins.py:grid_distance_join). The oracle "
    "states the O(n²) theta-join semantics directly; the engine plan "
    "must produce the identical pair set from the blocked form. "
    "Deterministic: same IEEE subtract/multiply/sqrt operands on both "
    "engines, 4-dp round.",
)
def join_spatial_grid_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_acctbal").cast("double").alias("x"),
        (F.col("c_custkey") % 1000).cast("double").alias("y"),
    )
    return grid_distance_join(pts, "id", "x", "y", 50.0).orderBy(
        "id_a", "id_b"
    )


@register(
    "fuzzy_vocab_pairs",
    """
    WITH v AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS w
               FROM documents)
    SELECT a.w AS word_a, b.w AS word_b,
           CAST(levenshtein(a.w, b.w) AS BIGINT) AS dist
    FROM v a JOIN v b
      ON a.w < b.w
     AND abs(length(a.w) - length(b.w)) <= 2
     AND levenshtein(a.w, b.w) <= 2
    ORDER BY word_a, word_b
    """,
    "Fuzzy vocabulary pairs (edit distance <= 2) — spell-variant / "
    "near-key discovery — via LENGTH-BAND blocking: |len(a)-len(b)| "
    "<= d is necessary for lev <= d, so side A explodes to 2d+1 "
    "length keys and EQUI-joins side B on its length; the exact "
    "levenshtein residual runs only on banded candidates "
    "(operators/dedup.py:levenshtein_pairs). The vocabulary frame is "
    "metadata-scale (distinct tokens), the blocking keeps the join "
    "off the v² cliff as the vocabulary grows.",
)
def fuzzy_vocab_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    vocab = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .distinct()
    )
    return levenshtein_pairs(vocab, "w", max_dist=2).orderBy(
        "word_a", "word_b"
    )


# --------------------------------------------------------------------------
# Corpus statistics (distribution shift, inverted index)
# --------------------------------------------------------------------------


@register(
    "corpus_divergence",
    """
    WITH tok AS (
      SELECT (lang = 'en') AS is_p, unnest(string_split(text, ' ')) AS w
      FROM documents),
    c AS (
      SELECT w,
             sum(CASE WHEN is_p THEN 1 ELSE 0 END) AS cp,
             sum(CASE WHEN NOT is_p THEN 1 ELSE 0 END) AS cq
      FROM tok GROUP BY w),
    t AS (SELECT CAST(sum(cp) AS DOUBLE) AS np,
                 CAST(sum(cq) AS DOUBLE) AS nq,
                 count(*) AS v FROM c)
    SELECT CAST(t.v AS BIGINT) AS n_vocab,
           round(sum(((cp+1.0)/(np+v))
                 * ln(((cp+1.0)/(np+v)) / ((cq+1.0)/(nq+v)))), 6) AS kl_pq,
           round(sum(((cq+1.0)/(nq+v))
                 * ln(((cq+1.0)/(nq+v)) / ((cp+1.0)/(np+v)))), 6) AS kl_qp
    FROM c, t
    GROUP BY t.v
    """,
    "Corpus distribution shift: smoothed unigram KL(P||Q) and KL(Q||P) "
    "between the English slice and the rest — the drift statistic a "
    "training-data pipeline computes when a new source lands. One "
    "explode + ONE token hash agg carrying both sides' counts as "
    "conditional sums, totals as a broadcast 1-row scalar, final "
    "scalar agg (operators/corpus.py:corpus_kl_divergence). Per-term "
    "math is over exact integer counts; the 6-dp round swallows the "
    "final sum's order slack.",
)
def corpus_divergence_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return corpus_kl_divergence(docs, "text", F.col("lang") == "en")


@register(
    "inverted_index",
    """
    WITH d AS (
      SELECT DISTINCT w AS token, doc_id
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents))
    SELECT token, count(*) AS df_docs,
           array_to_string(list_sort(list(doc_id))[1:20], ',') AS postings
    FROM d GROUP BY token ORDER BY token
    """,
    "Token -> posting-list inverted index: document frequency + the "
    "first 20 sorted doc ids per token (operators/corpus.py:"
    "inverted_index). The cap is the load-bearing scale choice — an "
    "uncapped stopword posting list IS the corpus; production shards "
    "full lists into fixed-size (token, bucket) segments. Postings "
    "emit as a joined string (driver cannot hash array cells).",
)
def inverted_index_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return inverted_index(docs, "doc_id", "text", max_postings=20).orderBy(
        "token"
    )


# --------------------------------------------------------------------------
# Time rollups (multi-grain grouping sets, mergeable HLL sketches)
# --------------------------------------------------------------------------


@register(
    "time_rollup_multigrain",
    """
    WITH e AS (SELECT ts, CAST(value AS DECIMAL(18,2)) AS v FROM events)
    SELECT 'day' AS grain,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket,
           count(*) AS n_events, CAST(sum(v) AS DOUBLE) AS total_value
    FROM e GROUP BY 2
    UNION ALL
    SELECT 'week', strftime(date_trunc('week', ts), '%Y-%m-%d'),
           count(*), CAST(sum(v) AS DOUBLE)
    FROM e GROUP BY 2
    UNION ALL
    SELECT 'month', strftime(date_trunc('month', ts), '%Y-%m-%d'),
           count(*), CAST(sum(v) AS DOUBLE)
    FROM e GROUP BY 2
    ORDER BY grain, bucket
    """,
    "Hypertable-style multi-grain rollup: day/week/month aggregates of "
    "the same measure in ONE scan via GROUPING SETS (operators/"
    "timeseries.py:multigrain_rollup). The oracle states the semantics "
    "as three grouped scans UNION ALL'd; the engine reads and shuffles "
    "the fact table once — at 100 TB the scan is the cost. DECIMAL "
    "sums; both engines truncate weeks to Monday.",
)
def time_rollup_multigrain_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return multigrain_rollup(ev, "ts", "value").orderBy("grain", "bucket")


@register(
    "hll_distinct_rollup",
    """
    SELECT strftime(date_trunc('month', ts), '%Y-%m-%d') AS month,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
           TRUE AS within_10pct
    FROM events
    GROUP BY 1 ORDER BY 1
    """,
    "Mergeable-sketch distinct rollup: daily HyperLogLog sketches of "
    "user_id unioned into monthly estimates without rescanning the "
    "fact table (operators/timeseries.py:hll_distinct_rollup) — the "
    "DataSketches pattern that makes distinct-count rollups "
    "incremental at 100 TB. Bounded-assertion form: "
    "the plan runs the sketch rollup AND the exact monthly distinct, "
    "emitting (month, exact, |approx−exact| ≤ 10%·exact). HLL union "
    "is a commutative per-register max, so the estimate — and hence "
    "the boolean (10% ≈ 6σ at lgK=12) — is deterministic and the "
    "driver can hash-assert every month. The pytest twin still bounds "
    "the raw estimates.",
)
def hll_distinct_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sketch = hll_distinct_rollup(ev, "ts", "user_id")
    exact = (
        ev.groupBy(
            F.date_format(F.date_trunc("month", "ts"), "yyyy-MM-dd")
            .alias("month")
        )
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    # months are calendar-bounded on both sides → broadcast equi-join
    return (
        exact.join(F.broadcast(sketch), "month")
        .select(
            "month",
            "exact_distinct",
            (
                F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
                <= 0.10 * F.col("exact_distinct")
            ).alias("within_10pct"),
        )
        .orderBy("month")
    )


# --------------------------------------------------------------------------
# Interval algebra, mergeable aggregation state, audience overlap,
# weighted reservoir
# --------------------------------------------------------------------------


@register(
    "intervals_merge",
    """
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s,
             epoch_us(ts) + CAST(floor(value * 60000000.0) AS BIGINT) AS e
      FROM events),
    f AS (
      SELECT user_id, s, e,
             CASE WHEN max(e) OVER w1 IS NULL OR s > max(e) OVER w1
                  THEN 1 ELSE 0 END AS opens
      FROM iv
      WINDOW w1 AS (PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    g AS (
      SELECT user_id, s, e,
             sum(opens) OVER (PARTITION BY user_id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span
      FROM f)
    SELECT user_id, min(s) AS span_start, max(e) AS span_end
    FROM g GROUP BY user_id, span
    ORDER BY user_id, span_start
    """,
    "Interval union per user: each event opens a [ts, ts + value "
    "minutes) span; overlapping spans merge into maximal disjoint "
    "intervals (operators/timeseries.py:merge_intervals) — the "
    "uptime/coverage operator, distinct from gap sessionization. "
    "Sweep plan: one user_id shuffle, two windows sharing it (running "
    "max of end -> open flags -> running span id), one (user,span) "
    "hash agg. Linear, never the O(n²) overlap self-join. Times stay "
    "in integer microseconds (floor'd explicitly: DuckDB CASTs "
    "double->BIGINT by rounding, Spark by truncation).",
)
def intervals_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import _event_us, merge_intervals

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        _event_us("ts").alias("s"),
        (
            _event_us("ts")
            + F.floor(F.col("value") * 60000000.0).cast("long")
        ).alias("e"),
    )
    return merge_intervals(ev, "user_id", "s", "e").orderBy(
        "user_id", "span_start"
    )


@register(
    "agg_incremental_merge",
    """
    SELECT user_id, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
           min(value) AS vmin, max(value) AS vmax
    FROM events GROUP BY user_id ORDER BY user_id
    """,
    "Incremental aggregate maintenance: per-user count/sum/min/max "
    "kept as MERGEABLE partial state — the base slice (80 % of "
    "events) aggregates once, the delta slice aggregates separately, "
    "and the merge is an agg over the UNION of the two partial frames "
    "(counts add, sums add, min/max fold). The oracle recomputes from "
    "scratch; equality proves the merge law, which is what lets a "
    "100 TB metrics store absorb a new day WITHOUT rescanning history "
    "(same property the HLL rollup gives approx distinct). DECIMAL "
    "sums make the add exact and order-free.",
)
def agg_incremental_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("value").alias("v"),
        F.col("value").cast("decimal(18,2)").alias("vd"),
    )

    def partial(sl: DataFrame) -> DataFrame:
        return sl.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("vd").alias("total"),
            F.min("v").alias("vmin"),
            F.max("v").alias("vmax"),
        )

    base = partial(ev.where(F.col("event_id") % 5 != 0))
    delta = partial(ev.where(F.col("event_id") % 5 == 0))
    return (
        base.unionByName(delta)
        .groupBy("user_id")
        .agg(
            F.sum("n").alias("n"),
            F.sum("total").cast("double").alias("total"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
        )
        .orderBy("user_id")
    )


@register(
    "segment_overlap",
    """
    WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
    sz AS (SELECT event_type, count(*) AS n FROM tu GROUP BY 1)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           count(*) AS n_both,
           round(count(*) / (sa.n + sb.n - count(*)), 4) AS jaccard
    FROM tu a
    JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type
    JOIN sz sa ON sa.event_type = a.event_type
    JOIN sz sb ON sb.event_type = b.event_type
    GROUP BY 1, 2, sa.n, sb.n
    ORDER BY 1, 2
    """,
    "Audience segment overlap: for every pair of event types, how many "
    "users do both, plus the Jaccard overlap — the set-intersection "
    "matrix behind audience analytics, WITHOUT materializing per-type "
    "user sets. Plan: distinct (type,user) pre-agg (map-side combine), "
    "self-join ON user_id (co-partitioned equi-join; fan-out bounded "
    "by types-per-user², never users²), broadcast of the tiny per-type "
    "size frame, one pair hash agg. Segment sizes are exact integers "
    "on both engines; the 4-dp round covers the final division.",
)
def segment_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    tu = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
    )
    sz = tu.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = tu.select(
        F.col("event_type").alias("type_a"), "user_id"
    )
    b = tu.select(
        F.col("event_type").alias("type_b"), "user_id"
    )
    pairs = a.join(b, "user_id").where(F.col("type_a") < F.col("type_b"))
    sa = F.broadcast(sz.select(F.col("event_type").alias("type_a"),
                               F.col("n").alias("na")))
    sb = F.broadcast(sz.select(F.col("event_type").alias("type_b"),
                               F.col("n").alias("nb")))
    return (
        pairs.groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .join(sa, "type_a")
        .join(sb, "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(
                F.col("n_both")
                / (F.col("na") + F.col("nb") - F.col("n_both")),
                4,
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "sample_weighted_topk",
    """
    WITH k AS (
      SELECT doc_id, n_chars,
             ((doc_id % 4294967296) + 4294967296) % 4294967296 AS kk
      FROM documents),
    b AS (
      SELECT doc_id, n_chars,
             ((kk // 65536 * 2654435761) % 4294967296 * 65536
              + (kk % 65536) * 2654435761) % 4294967296 % 1000000 AS bucket
      FROM k),
    e AS (
      SELECT doc_id, n_chars,
             round(ln((bucket + 0.5) / 1000000.0) / n_chars, 9) AS es_key
      FROM b)
    SELECT doc_id, n_chars, es_key
    FROM e ORDER BY es_key DESC, doc_id ASC LIMIT 50
    """,
    "Weighted sampling WITHOUT replacement, top-k form (Efraimidis–"
    "Spirakis A-ES): each row draws u from the deterministic "
    "multiplicative hash (engine-portable, run-stable) and ranks by "
    "ln(u)/w — the top k by that key are a weighted k-sample without "
    "replacement, which Bernoulli sampling (sample_weighted) cannot "
    "give (it can't hit an exact k). Plan: pure per-row projection + "
    "TakeOrderedAndProject — no shuffle of data rows, O(k) driver "
    "memory. The doc_id tiebreak makes the LIMIT a total order.",
)
def sample_weighted_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.setops import hash_bucket

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    u = (hash_bucket("doc_id", 1_000_000) + F.lit(0.5)) / F.lit(1_000_000.0)
    return (
        docs.select(
            "doc_id",
            "n_chars",
            F.round(F.log(u) / F.col("n_chars"), 9).alias("es_key"),
        )
        .orderBy(F.desc("es_key"), F.asc("doc_id"))
        .limit(50)
    )


# --------------------------------------------------------------------------
# Embedding quantization, per-group deterministic sampling
# --------------------------------------------------------------------------


@register(
    "embedding_quantize",
    """
    WITH e AS (
      SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             unnest(range(1, array_length(embedding) + 1)) AS pos
      FROM embeddings),
    s AS (
      SELECT pos, min(v) AS mn, (max(v) - min(v)) / 255.0 AS sc
      FROM e GROUP BY pos),
    q AS (
      SELECT e.vec_id, e.pos, e.v, s.mn, s.sc,
             CASE WHEN s.sc = 0 THEN 0.0
                  ELSE least(255.0, greatest(0.0,
                       floor((e.v - s.mn) / s.sc + 0.5)))
             END AS qv
      FROM e JOIN s USING (pos))
    SELECT vec_id,
           array_to_string(list(CAST(qv AS INTEGER) ORDER BY pos), ',')
             AS qvec,
           round(sum(((v - mn) - qv * sc) * ((v - mn) - qv * sc))
                 / count(*), 6) AS recon_mse
    FROM q GROUP BY vec_id ORDER BY vec_id
    """,
    "Scalar int8 quantization of the embedding column with per-vector "
    "reconstruction MSE (operators/similarity.py:"
    "quantize_embeddings_int8) — the 4x memory cut ANN serving "
    "applies before indexing. One dimension-keyed hash agg for "
    "min/max (d keys, metadata scale) broadcast back as a 1-row "
    "(min[], scale[]) frame; quantization is a pure in-row zip_with "
    "projection — the corpus is scanned once and never reshuffled. "
    "floor(x+0.5) everywhere, never round(): engines disagree on "
    "round's halfway rule, floor is exactly specified.",
)
def embedding_quantize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import quantize_embeddings_int8

    emb = load_table(spark, sf_dir, "embeddings")
    return quantize_embeddings_int8(emb, "embedding", "vec_id").orderBy(
        "vec_id"
    )


@register(
    "sample_k_per_group",
    """
    WITH k AS (
      SELECT lang, doc_id,
             ((doc_id % 4294967296) + 4294967296) % 4294967296 AS kk
      FROM documents),
    b AS (
      SELECT lang, doc_id,
             ((kk // 65536 * 2654435761) % 4294967296 * 65536
              + (kk % 65536) * 2654435761) % 4294967296 % 1048576 AS bucket
      FROM k),
    r AS (
      SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang
                                ORDER BY bucket, doc_id) AS rn
      FROM b)
    SELECT lang, doc_id FROM r WHERE rn <= 20 ORDER BY lang, doc_id
    """,
    "Deterministic k-per-group sample (20 docs per language): rank "
    "rows inside each group by the engine-portable multiplicative "
    "hash and keep the first k — a uniform within-group sample whose "
    "membership is stable across runs/engines/partitioning (what "
    "sampleBy cannot promise), the stratified eval-slice builder. "
    "Plan: ONE group-keyed shuffle for the rank window; the hash is "
    "in-row. The doc_id tiebreak makes the rank a total order.",
)
def sample_k_per_group_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.setops import hash_bucket

    docs = load_table(spark, sf_dir, "documents").select("lang", "doc_id")
    w = Window.partitionBy("lang").orderBy(
        hash_bucket("doc_id", 1_048_576), F.asc("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    )


@register(
    "rolling_median",
    """
    WITH d AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2),
    n AS (
      SELECT event_type, day, v,
             datediff('day', DATE '2024-01-01', day) AS dn
      FROM d)
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           round(median(v) OVER (PARTITION BY event_type ORDER BY dn
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 6)
             AS med7
    FROM n ORDER BY event_type, day
    """,
    "7-day rolling median of daily totals per event type — the "
    "robust-smoothing twin of window_moving_avg (median shrugs off "
    "the spike days a mean chases). Plan: ONE (type, day) hash agg "
    "first — the rolling window then runs over the AGGREGATED day "
    "axis (365 rows/type/year, metadata scale), never over raw "
    "events; RANGE frame on the day number handles gaps correctly "
    "(6 calendar days back, not 6 rows). Spark refuses median() over "
    "a framed window, so the frame's ≤7 values collect in-row and an "
    "array_sort + interpolation computes the identical statistic — "
    "bounded by the frame width, not the data. Daily sums go through "
    "DECIMAL so both engines interpolate the same exact operands.",
)
def rolling_median_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.date_trunc("day", "ts").cast("date").alias("day"),
        )
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("v")
        )
        .withColumn("dn", F.datediff("day", F.lit("2024-01-01")))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("dn")
        .rangeBetween(-6, 0)
    )
    win = F.array_sort(F.collect_list("v").over(w))
    n = F.size(win)
    lo = F.element_at(win, ((n + 1) / 2).cast("int"))
    hi = F.element_at(win, (n / 2 + 1).cast("int"))
    return (
        daily.select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round((lo + hi) / 2.0, 6).alias("med7"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "quality_gate_by_group",
    """
    WITH thr AS (
      SELECT lang, round(quantile_cont(n_chars, 0.10), 6) AS p10
      FROM documents GROUP BY lang)
    SELECT d.lang, thr.p10,
           count(*) AS n_total,
           CAST(sum(CASE WHEN d.n_chars >= thr.p10 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept
    FROM documents d JOIN thr USING (lang)
    GROUP BY d.lang, thr.p10 ORDER BY d.lang
    """,
    "Per-group adaptive quality gate: keep documents above their OWN "
    "language's 10th-percentile length — the grouped-threshold filter "
    "real corpus pipelines use instead of one global cutoff (a global "
    "floor tuned on English silently deletes whole low-resource "
    "languages). Plan: one per-lang percentile agg (group cardinality "
    "= #languages, metadata scale) joined back BROADCAST onto the "
    "corpus scan; the gate itself is a pure in-row comparison. The "
    "threshold rounds to 6 dp on both engines before the cut.",
)
def quality_gate_by_group_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("lang", "n_chars")
    thr = docs.groupBy("lang").agg(
        F.round(F.percentile("n_chars", 0.10), 6).alias("p10")
    )
    return (
        docs.join(F.broadcast(thr), "lang")
        .groupBy("lang", "p10")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(
                F.when(F.col("n_chars") >= F.col("p10"), 1).otherwise(0)
            ).alias("n_kept"),
        )
        .orderBy("lang")
    )


@register(
    "pit_lookup",
    """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events WHERE event_type <> 'purchase'
    ), changes AS (
      SELECT user_id, event_type, ts, event_id FROM ordered
      WHERE prev IS NULL OR prev <> event_type
    ), iv AS (
      SELECT user_id, event_type AS state, ts AS valid_from,
             lead(ts) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
      FROM changes
    ), p AS (
      SELECT user_id, event_id, ts FROM events
      WHERE event_type = 'purchase')
    SELECT iv.state, count(*) AS n_purchases
    FROM p JOIN iv ON iv.user_id = p.user_id
                  AND iv.valid_from <= p.ts
                  AND (iv.valid_to IS NULL OR p.ts < iv.valid_to)
    GROUP BY 1 ORDER BY 1
    """,
    "Point-in-time dimension lookup (feature-store PIT join): each "
    "purchase reads the user's state AS OF purchase time from the "
    "SCD2 validity intervals — the leakage-free temporal join ML "
    "feature pipelines must get right (training rows may only see "
    "dimension values that existed at event time). The oracle states "
    "interval-containment directly; the engine NEVER runs that range "
    "join — it reuses the as-of machinery (union + one (user, ts) "
    "shuffle + ordered carry-forward window, linear in input) and "
    "applies the valid_to residual in-row. Ties: an interval opening "
    "exactly at purchase ts matches, [valid_from, valid_to).",
)
def pit_lookup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import asof_join
    from ..operators.windows import scd2_intervals

    ev = load_table(spark, sf_dir, "events")
    iv = scd2_intervals(
        ev.where(F.col("event_type") != "purchase"),
        key="user_id", ts_col="ts", state_col="event_type",
        tiebreak="event_id",
    )
    facts = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    # Carry ONE struct column: the as-of machinery forwards each value
    # column independently with last(ignorenulls), which would replace
    # the open interval's legitimately-NULL valid_to with the previous
    # interval's bound; a NULL inside a non-null struct survives.
    # right_tiebreak="valid_to" (asc, NULLs last): when two state
    # changes share one (user_id, ts), the zero-length interval
    # [t, t) sorts before the live interval [t, NULL/later), and the
    # backward carry takes the LAST — so the live interval is carried
    # deterministically, matching the oracle's containment join, which
    # can never match a zero-length interval.
    looked = asof_join(
        facts,
        iv.select(
            "user_id",
            F.col("valid_from").alias("ts"),
            "valid_to",
            F.struct("state", "valid_to").alias("sv"),
        ),
        key="user_id", left_ts="ts", right_ts="ts",
        right_value_cols=["sv"],
        right_tiebreak="valid_to",
    )
    return (
        looked.where(
            F.col("asof_sv").isNotNull()
            & (
                F.col("asof_sv.valid_to").isNull()
                | (F.col("ts") < F.col("asof_sv.valid_to"))
            )
        )
        .groupBy(F.col("asof_sv.state").alias("state"))
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .orderBy("state")
    )


@register(
    "image_near_dup",
    """
    WITH docs AS (
      SELECT unnest(generate_series(0,
        CAST(least((SELECT count(*) FROM documents), 200) - 1 AS BIGINT)))
        AS doc),
    d AS (SELECT doc, CASE WHEN doc % 4 = 1 THEN doc - 1 ELSE doc END
                 AS base FROM docs),
    ij AS (SELECT d.doc, d.base, ii.i, jj.j
           FROM d, (SELECT unnest(generate_series(0,7)) AS i) ii,
                  (SELECT unnest(generate_series(0,8)) AS j) jj),
    px AS (
      SELECT doc, i, j,
        least(255, greatest(0,
          CAST('0x' || substr(md5('b:' || base || ':' || i || ':' ||
               (([0,3,7,10,14,17,21,24,28][j+1]) // 4)), 1, 15)
               AS BIGINT) % 256
          + CASE WHEN doc % 4 = 1 THEN
              CAST('0x' || substr(md5('n:' || doc || ':' || (3*i) || ':' ||
                   ([0,3,7,10,14,17,21,24,28][j+1])), 1, 15)
                   AS BIGINT) % 5 - 2
            ELSE 0 END)) AS px
      FROM ij),
    bits AS (
      SELECT doc, i, j,
             CASE WHEN lead(px) OVER (PARTITION BY doc, i ORDER BY j) > px
                  THEN 1 ELSE 0 END AS b
      FROM px QUALIFY j < 8),
    hs AS (
      SELECT doc,
             CAST(sum(CASE WHEN b = 1 THEN
                   CASE WHEN i*8 + j = 0 THEN -9223372036854775808
                        ELSE (CAST(1 AS BIGINT) << (63 - (i*8 + j))) END
                 ELSE 0 END) AS BIGINT) AS h
      FROM bits GROUP BY doc),
    pairs AS (
      SELECT CAST(bit_count(xor(a.h, b.h)) AS INTEGER) AS hamming
      FROM hs a JOIN hs b ON a.doc < b.doc)
    SELECT hamming, count(*) AS n_pairs
    FROM pairs WHERE hamming <= 6 GROUP BY hamming ORDER BY hamming
    """,
    "Multimodal image near-dedup, end to end on the driver surface: "
    "deterministic PNG images are rendered per document (8×8 block "
    "pattern from an md5-keyed PRNG upscaled ×(3,4); every doc_id % 4 "
    "== 1 row re-renders its predecessor's blocks with ±2 md5-keyed "
    "noise — block patterns, not gradients, because every monotone "
    "gradient dhashes to the same all-ones bits), then perceptual "
    "dhash (Arrow-batched REAL PNG decode) and the band-bucket hamming "
    "join find the planted near-duplicate pairs (multimodal/ops.py:"
    "image_dhash/image_near_dup_pairs — recall 1.0 for max_hamming < "
    "bands by pigeonhole; pixels never shuffle). Oracle-checked since "
    "r9 (was rows-only): PNG is lossless and nearest-resize indices "
    "are fixed integer arithmetic, so the oracle reconstructs every "
    "SAMPLED pixel algebraically from the md5 generator (never "
    "touching an image), packs the 64 gradient bits into the same "
    "signed BIGINT, and counts all-pairs hamming ≤ 6 — bit-exact "
    "parity with the decode→resize→dhash path, verified across the "
    "sign bit. Output: one row per hamming distance with the pair "
    "count.",
)
def image_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..multimodal.ops import (
        MEDIA_SCHEMA,
        image_dhash,
        image_near_dup_pairs,
    )

    n_docs = load_table(spark, sf_dir, "documents").count()
    n = min(int(n_docs), 200)

    def render(doc_id: int) -> "bytes":
        import hashlib

        import numpy as np

        from ..multimodal.codecs import png_encode

        def h15(s: str) -> int:
            # md5-keyed PRNG: the oracle SQL replays it as
            # CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        base_id = doc_id - 1 if doc_id % 4 == 1 else doc_id
        # Coarse 8x8 block pattern upscaled to 24x32: distinct per
        # base, and stable under the +-2 noise below — smooth
        # gradients would NOT work here, every monotone gradient
        # dhashes to the same all-ones bits.
        blocks = np.array(
            [
                [h15(f"b:{base_id}:{r}:{c}") % 256 for c in range(8)]
                for r in range(8)
            ],
            dtype="float64",
        )
        g = np.kron(blocks, np.ones((3, 4)))
        if doc_id % 4 == 1:  # planted near-duplicate of doc_id-1
            noise = np.array(
                [
                    [h15(f"n:{doc_id}:{r}:{c}") % 5 - 2 for c in range(32)]
                    for r in range(24)
                ],
                dtype="float64",
            )
            g = g + noise
        return png_encode(g.clip(0, 255).astype("uint8"))

    rows = [
        (i, "image", bytearray(render(i)), (32, 24, None, 1, "png"))
        for i in range(n)
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    pairs = image_near_dup_pairs(image_dhash(media), max_hamming=6)
    return (
        pairs.groupBy("hamming")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("hamming")
    )


@register(
    "video_frame_dedup",
    """
    WITH RECURSIVE vids AS (
      SELECT unnest(generate_series(0,
        CAST(least((SELECT count(*) FROM documents), 60) - 1 AS BIGINT)))
        AS vid),
    vf AS (
      SELECT vid, 2 + vid % 3 AS n_scenes, 1 + vid % 3 AS run_len
      FROM vids),
    fr AS (
      SELECT vid, run_len,
             unnest(generate_series(0, n_scenes * run_len - 1)) AS fn
      FROM vf),
    fs AS (SELECT vid, fn, fn // run_len AS scene, fn % run_len AS rep
           FROM fr),
    ij AS (
      SELECT fs.*, ii.i, jj.j
      FROM fs, (SELECT unnest(generate_series(0,7)) AS i) ii,
              (SELECT unnest(generate_series(0,8)) AS j) jj),
    px AS (
      SELECT vid, fn, i, j,
        CASE WHEN i = 0 AND j = 0 THEN
          xor(CAST('0x' || substr(
                md5('v:' || vid || ':' || scene || ':0:0'), 1, 15)
                AS BIGINT) % 256, rep & 1)
        ELSE
          CAST('0x' || substr(md5('v:' || vid || ':' || scene || ':'
               || i || ':' || (([0,1,3,5,7,8,10,12,14][j+1]) // 2)),
               1, 15) AS BIGINT) % 256
        END AS px
      FROM ij),
    bits AS (
      SELECT vid, fn, i, j,
             CASE WHEN lead(px) OVER (PARTITION BY vid, fn, i ORDER BY j)
                       > px THEN 1 ELSE 0 END AS b
      FROM px QUALIFY j < 8),
    hs AS (
      SELECT vid, fn,
             CAST(sum(CASE WHEN b = 1 THEN
                   CASE WHEN i*8 + j = 0 THEN -9223372036854775808
                        ELSE (CAST(1 AS BIGINT) << (63 - (i*8 + j))) END
                 ELSE 0 END) AS BIGINT) AS h
      FROM bits GROUP BY vid, fn),
    chain AS (
      SELECT vid, 0 AS fn, h AS prev_kept, 1 AS kept_cnt
      FROM hs WHERE fn = 0
      UNION ALL
      SELECT f.vid, c.fn + 1,
             CASE WHEN bit_count(xor(f.h, c.prev_kept)) > 4
                  THEN f.h ELSE c.prev_kept END,
             c.kept_cnt + CASE WHEN bit_count(xor(f.h, c.prev_kept)) > 4
                               THEN 1 ELSE 0 END
      FROM chain c JOIN hs f ON f.vid = c.vid AND f.fn = c.fn + 1)
    SELECT vid AS media_id,
           CAST(max(fn) + 1 AS BIGINT) AS n_sampled,
           CAST(max(kept_cnt) AS BIGINT) AS n_kept
    FROM chain GROUP BY vid ORDER BY media_id
    """,
    "Multimodal video frame-sample + temporal dedup on the driver "
    "surface: per document a deterministic PNGSEQ1 container is built "
    "from real PNG frames arranged as scene runs (scene pattern from "
    "an md5-keyed PRNG per (doc_id, scene); run lengths cycle 1..3 by "
    "doc_id; each repeat carries a 1-bit pixel nudge so dup frames are "
    "near- not byte-identical), then video_frame_dedup samples every "
    "frame, dhashes it (real PNG decode, Arrow-batched) and collapses "
    "each static run to its first frame (multimodal/ops.py:"
    "video_frame_dedup). The table is MIXED-KIND (an image row per "
    "video row) so the kind gate is exercised on the driver path too. "
    "Oracle-checked since r9 (was rows-only): PNG is lossless and the "
    "nearest-resize indices are integer arithmetic, so the oracle "
    "reconstructs every sampled pixel algebraically, packs the same "
    "signed 64-bit dhash per frame, and replays the sequential "
    "previous-kept-frame chain with a WITH RECURSIVE step per frame — "
    "bit-exact sampled/kept counts per video.",
)
def video_frame_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..multimodal.ops import (
        MEDIA_SCHEMA,
        pack_video_pngseq,
        video_frame_dedup,
    )

    n_docs = load_table(spark, sf_dir, "documents").count()
    n = min(int(n_docs), 60)

    def render_video(doc_id: int) -> "bytes":
        import hashlib

        import numpy as np

        def h15(s: str) -> int:
            # md5-keyed PRNG the oracle SQL replays
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        n_scenes = 2 + doc_id % 3
        run_len = 1 + doc_id % 3
        frames = []
        for scene in range(n_scenes):
            blocks = np.array(
                [
                    [
                        h15(f"v:{doc_id}:{scene}:{r}:{c}") % 256
                        for c in range(8)
                    ]
                    for r in range(8)
                ],
                dtype="uint8",
            )
            frame = np.kron(blocks, np.ones((2, 2))).astype("uint8")
            # Static run: repeat the scene frame with a 1-bit pixel
            # nudge so dup frames are near- (not byte-) identical.
            for rep in range(run_len):
                f = frame.copy()
                f[0, 0] ^= rep & 1
                frames.append(f)
        return pack_video_pngseq(frames)

    def render_image(doc_id: int) -> "bytes":
        import numpy as np

        from ..multimodal.codecs import png_encode

        blocks = np.random.RandomState(doc_id).randint(0, 256, (8, 8))
        return png_encode(
            np.kron(blocks, np.ones((2, 2))).astype("uint8")
        )

    rows = []
    for i in range(n):
        n_scenes = 2 + i % 3
        run_len = 1 + i % 3
        rows.append(
            (
                i,
                "video",
                bytearray(render_video(i)),
                (16, 16, None, n_scenes * run_len, "pngseq"),
            )
        )
        # Mixed-kind poison row: without the kind=='video' gate the
        # PNGSEQ1 iterator would raise on this plain PNG payload.
        rows.append(
            (10_000 + i, "image", bytearray(render_image(i)),
             (16, 16, None, 1, "png"))
        )
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    frames = video_frame_dedup(media, every_n=1, max_hamming=4)
    return (
        frames.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
        )
        .orderBy("media_id")
    )


@register(
    "event_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events),
    c AS (
      SELECT prev, event_type AS next, count(*) AS n
      FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
    t AS (SELECT prev, sum(n) AS tot FROM c GROUP BY 1)
    SELECT c.prev, c.next, c.n,
           round(c.n / t.tot, 6) AS p
    FROM c JOIN t USING (prev)
    ORDER BY prev, next
    """,
    "First-order event-transition matrix (Markov counts + conditional "
    "probabilities): what users do NEXT after each event type — the "
    "path-mining statistic behind funnel design and anomaly detection "
    "(a bot's transition row looks nothing like a human's). Plan: ONE "
    "user_id shuffle for the lag window, one (prev, next) hash agg "
    "(map-side combine), row totals joined back BROADCAST (the "
    "transition matrix is #types², metadata scale). Counts are exact "
    "integers; only the final division rounds.",
)
def event_transitions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    ).where(F.col("prev").isNotNull())
    c = (
        seq.groupBy("prev", F.col("event_type").alias("next"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = c.groupBy("prev").agg(F.sum("n").alias("tot"))
    return (
        c.join(F.broadcast(t), "prev")
        .select(
            "prev",
            "next",
            "n",
            F.round(F.col("n") / F.col("tot"), 6).alias("p"),
        )
        .orderBy("prev", "next")
    )


#: Fixed round budget for BOTH engines: the
#: oracle re-lists the surviving edge set once per round, so any
#: budget ≥ the actual rounds-to-fixpoint reproduces the (unique)
#: k-core exactly — and the Spark peel now runs with
#: ``max_iter=_KCORE_ROUNDS`` so a peel needing MORE rounds raises
#: loudly on the Spark side instead of silently diverging from a
#: partially-peeled oracle (kcore_decompose's default budget was 50,
#: leaving rounds 31-50 a quiet-mismatch window). 30 covers the
#: observed ≤6-round convergence on every test SF with a 5× margin.
_KCORE_ROUNDS = 30

_KCORE_SQL = f"""
    WITH RECURSIVE
    op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (
      SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
      FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    und AS (SELECT s AS u, d AS v FROM e0 UNION ALL SELECT d, s FROM e0),
    degs AS (
      SELECT u, count(*) AS dg FROM und GROUP BY u),
    kk AS (
      SELECT CAST(floor(round(quantile_cont(dg, 0.05), 6)) AS BIGINT)
        AS k FROM degs),
    lv(i, u, v) AS (
      SELECT 0, u, v FROM und
      UNION ALL
      SELECT i + 1, u, v FROM (
        SELECT i, u, v,
               count(*) OVER (PARTITION BY i, u) AS du,
               count(*) OVER (PARTITION BY i, v) AS dv
        FROM lv WHERE i < {_KCORE_ROUNDS})
      WHERE du >= (SELECT k FROM kk) AND dv >= (SELECT k FROM kk))
    SELECT u AS node, count(*) AS core_degree
    FROM lv WHERE i = {_KCORE_ROUNDS}
    GROUP BY u ORDER BY node
    """


@register(
    "kcore_parts",
    _KCORE_SQL,
    "k-core of the part co-purchase graph (edges = parts appearing in "
    "the same order; k = the 5th-percentile degree, just under the "
    "random-graph core-collapse threshold, so the peel drops a real "
    "tail WITHOUT cascading to empty at any scale factor): the "
    "densely-bought-together "
    "core that basket analysis mines, with the long tail peeled away "
    "(operators/graph.py:kcore_decompose — iterative peel, one degree "
    "agg + two semi-joins per round on a monotonically SHRINKING edge "
    "frame, localCheckpoint lineage truncation; pytest-verified "
    "against the sequential peel). Edge build reuses the bounded "
    "copurchase pattern: distinct (order, part) pre-agg, order-keyed "
    "self-join with a<b, fan-out bounded by items-per-order². "
    "Oracle-checked since r10 (was rows-only 'iterative fixpoint'): "
    "the k-core is a UNIQUE fixpoint, so a WITH RECURSIVE that "
    "re-lists the surviving edges for a fixed round budget ≥ the "
    "rounds-to-convergence replays it exactly (the pagerank_parts "
    "fixed-iteration move applied to a fixpoint); k itself is "
    "computed in-SQL as floor(round(quantile_cont, 6)) — the same "
    "6-dp-rounded interpolated percentile the Spark side lifts, so "
    "the peel threshold can never diverge between engines.",
)
def kcore_parts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import kcore_decompose

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # edge build reused by degree probe + peel
    )
    deg = (
        edges.selectExpr("src AS n")
        .unionByName(edges.selectExpr("dst AS n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # one scalar collect — metadata, same discipline as the percentile
    # bracket endpoints; makes k track the data so every sf peels.
    # floor(round(·, 6)) in ENGINE arithmetic (F.round is HALF_UP like
    # DuckDB's round; Python round() is half-even) so the oracle's
    # in-SQL k is bit-identical — a k off by one would peel a
    # different core entirely.
    k = int(
        deg.agg(
            F.floor(F.round(F.expr("percentile(d, 0.05)"), 6)).alias("k")
        ).collect()[0]["k"]
    )
    # max_iter tied to the oracle's round budget: convergence past
    # _KCORE_ROUNDS raises here rather than mismatching a
    # partially-peeled oracle
    return kcore_decompose(edges, k=k, max_iter=_KCORE_ROUNDS)


@register(
    "graph_reachability",
    """
    WITH RECURSIVE
    op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (SELECT a.l_partkey s, b.l_partkey d FROM op a JOIN op b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
    e AS (SELECT s, d FROM e0 UNION ALL SELECT d, s FROM e0),
    seeds AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#4'),
    r AS (
      SELECT p_partkey AS node, 0 AS hop FROM seeds
      UNION
      SELECT e.d, r.hop + 1 FROM r JOIN e ON e.s = r.node
      WHERE r.hop < 3
    )
    SELECT hop, count(*) AS n_nodes
    FROM (SELECT node, min(hop) AS hop FROM r GROUP BY node) g
    GROUP BY hop ORDER BY hop
    """,
    "Multi-hop reachability (recursive-CTE semantics, engine-side "
    "BFS): nodes within 3 hops of the Brand#4 seed parts over the "
    "repeat-co-purchase graph (edges co-bought in >= 2 orders), "
    "counted by minimum hop — the related-items / blast-radius query. "
    "The oracle is literally WITH RECURSIVE; the engine runs level-"
    "synchronous BFS (operators/graph.py:bfs_min_hops — frontier "
    "equi-join + distinct + anti-join visited, each node expanded "
    "once, O(E) total work, localCheckpoint per level) — one of the "
    "few iterative ops with an exact SQL twin.",
)
def graph_reachability_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import bfs_min_hops

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    e0 = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("s"),
            F.col("b.l_partkey").alias("d"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
        .select("s", "d")
    )
    edges = e0.unionByName(
        e0.select(F.col("d").alias("s"), F.col("s").alias("d"))
    ).localCheckpoint(eager=False)
    seeds = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#4")
        .select(F.col("p_partkey").alias("node"))
    )
    reach = bfs_min_hops(edges, seeds, max_hops=3, src="s", dst="d")
    return (
        reach.groupBy("hop")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("hop")
    )


def _bpe_oracle_sql(n_merges: int = 10, end_marker: str = "</w>") -> str:
    """Unrolled BPE trainer as ONE DuckDB query — the
    oracle twin of operators/corpus.py:bpe_train, built by template so
    the driver can hash-assert the full merge table. Each round k is
    three chained CTEs: p{k} adjacent-pair counts over the vocab frame
    (weighted by word count), t{k} the deterministic top-1 (count desc,
    then lexicographic — identical tie-break to the engine), v{k+1} the
    merge applied to every symbol list via list_reduce (pop-and-push:
    the just-merged tail l||r can never itself equal l, so the reduce
    is exactly the left-to-right overlap-skipping scan). Early stop
    (top pair count < 2) mirrors the engine: an empty t{k} empties
    every later CTE and drops its UNION row."""
    parts = [f"""
    WITH words AS (
      SELECT w, count(*) AS wc
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY w
    ),
    v0 AS (
      SELECT wc,
             list_append(list_transform(generate_series(1, length(w)),
                                        i -> w[i]), '{end_marker}') AS syms
      FROM words
    )"""]
    for k in range(n_merges):
        parts.append(f""",
    p{k} AS (
      SELECT syms[i] AS l, syms[i + 1] AS r, CAST(sum(wc) AS BIGINT) AS n
      FROM v{k}, UNNEST(generate_series(1, len(syms) - 1)) AS u(i)
      GROUP BY 1, 2
    ),
    t{k} AS (
      SELECT l, r, n FROM p{k} WHERE n >= 2
      ORDER BY n DESC, l ASC, r ASC LIMIT 1
    )""")
        if k < n_merges - 1:
            parts.append(f""",
    v{k + 1} AS (
      SELECT v.wc,
             list_reduce(
               list_transform(v.syms, s -> [s]),
               (acc, x) -> CASE WHEN acc[-1] = t.l AND x[1] = t.r
                           THEN acc[1:length(acc) - 1] || [t.l || t.r]
                           ELSE acc || x END
             ) AS syms
      FROM v{k} v CROSS JOIN t{k} t
    )""")
    union = "\n    UNION ALL ".join(
        f'SELECT {k} AS rank, l AS "left", r AS "right", n AS pair_count '
        f"FROM t{k}"
        for k in range(n_merges)
    )
    parts.append(f"\n    {union}\n    ORDER BY rank")
    return "".join(parts)


@register(
    "bpe_merges",
    _bpe_oracle_sql(),
    "BPE tokenizer training on the documents corpus (operators/"
    "corpus.py:bpe_train): the corpus-sized work is ONE word-frequency "
    "hash agg; each of the 10 merge rounds then runs on the bounded "
    "word-frequency table (adjacent-pair agg -> deterministic top-1 "
    "-> Arrow-batched merge application), exactly how reference BPE "
    "scales. Returns the learned merge table (rank, left, right, "
    "pair_count). Oracle: the full trainer "
    "unrolled as one DuckDB query (_bpe_oracle_sql) — the driver now "
    "hash-asserts the exact merge sequence, tie-breaks included; the "
    "pytest vs a single-process Python BPE stays as the third leg.",
)
def bpe_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, "text", n_merges=10)
    return spark.createDataFrame(
        [(i, l, r, n) for i, (l, r, n) in enumerate(merges)],
        "rank int, left string, right string, pair_count bigint",
    )


@register(
    "mixture_resample",
    """
    WITH tot AS (SELECT count(*) AS n FROM documents),
    src AS (SELECT lang, count(*) AS sn FROM documents GROUP BY lang),
    tgt AS (
      SELECT * FROM (VALUES ('en', 0.4), ('de', 0.15), ('es', 0.15),
                            ('fr', 0.15), ('zh', 0.15)) t(lang, share)),
    rate AS (
      SELECT src.lang,
             least(1.0, tgt.share * tot.n / src.sn) AS keep_p
      FROM src JOIN tgt USING (lang), tot),
    k AS (
      SELECT d.doc_id, d.lang, rate.keep_p,
             ((doc_id % 4294967296) + 4294967296) % 4294967296 AS kk
      FROM documents d JOIN rate USING (lang)),
    b AS (
      SELECT doc_id, lang, keep_p,
             ((kk // 65536 * 2654435761) % 4294967296 * 65536
              + (kk % 65536) * 2654435761) % 4294967296 % 1000000
               AS bucket
      FROM k)
    SELECT lang, count(*) AS n_kept
    FROM b WHERE bucket < floor(keep_p * 1000000)
    GROUP BY lang ORDER BY lang
    """,
    "Training-mixture resampling: down-sample each language slice "
    "toward target corpus shares (en 40 %, others 15 %) — the data-"
    "mixing step of LLM pre-training (DoReMi-style static weights). "
    "Per-slice keep probability = target_share x total / slice_size "
    "(capped at 1), decided per row by the engine-portable "
    "multiplicative hash so membership is stable across runs/engines/"
    "partitioning. Plan: slice sizes from one hash agg, rates as a "
    "broadcast join (#languages rows), the sample itself a pure "
    "filter — no data shuffle.",
)
def mixture_resample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.setops import hash_bucket

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    tot = docs.count()
    targets = {"en": 0.4, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15}
    tgt = docs.sparkSession.createDataFrame(
        list(targets.items()), "lang string, share double"
    )
    rate = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("sn"))
        .join(tgt, "lang")
        .select(
            "lang",
            F.least(
                F.lit(1.0), F.col("share") * F.lit(tot) / F.col("sn")
            ).alias("keep_p"),
        )
    )
    return (
        docs.join(F.broadcast(rate), "lang")
        .where(
            hash_bucket("doc_id", 1_000_000)
            < F.floor(F.col("keep_p") * 1_000_000)
        )
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .orderBy("lang")
    )


@register(
    "unicode_normalize",
    """
    SELECT doc_id,
           nfc_normalize(substr(text, 1, 20)
             || ' cafe' || chr(769) || ' nin' || chr(771) || 'o – ﬁn')
             AS normalized
    FROM documents ORDER BY doc_id
    """,
    "Unicode NFC normalization — the canonicalization step every "
    "multilingual corpus pipeline runs before hashing/dedup (the same "
    "text in composed vs decomposed form must collide). Inputs are "
    "constructed deterministically (combining acute + tilde appended "
    "to each doc) so both engines see identical code points; Spark "
    "has no NFC builtin, so this is one of the few LEGITIMATE "
    "Pandas-UDF ops — Arrow-batched unicodedata.normalize, "
    "stdlib-only, vs DuckDB's native nfc_normalize. NFC leaves the "
    "en-dash and the fi-ligature alone (that is NFKC's job) — both "
    "engines agree on that too.",
)
def unicode_normalize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    def _nfc(series):
        import unicodedata

        return series.map(lambda x: unicodedata.normalize("NFC", x))

    # lambda-style registration: the module-wide `from __future__ import
    # annotations` stringifies type hints, which pandas_udf cannot
    # resolve — passing returnType explicitly sidesteps inference.
    nfc = pandas_udf(_nfc, "string")

    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.substring("text", 1, 20),
        F.lit(" café niño – ﬁn"),
    )
    return docs.select("doc_id", nfc(raw).alias("normalized")).orderBy(
        "doc_id"
    )


def _word_5grams(toks: DataFrame) -> DataFrame:
    """(doc_id, t: array<string>) → one row per word 5-gram (doc_id, g).

    Guards short documents: for size(t) < 5, sequence(1, size-4) would
    auto-step DOWNWARD ([1, 0, -1, ...]) and slice() throws on the
    non-positive starts (pyspark 4.1 SparkRuntimeException). The
    oracle's range(1, len-3) is empty there, so emit no grams — the
    doc drops from the output on both sides.
    """
    gram_positions = F.when(
        F.size("t") >= 5, F.sequence(F.lit(1), F.size("t") - 4)
    ).otherwise(F.array().cast("array<int>"))
    return toks.select(
        "doc_id",
        F.explode(
            F.transform(
                gram_positions,
                lambda i: F.array_join(F.slice("t", i, 5), " "),
            )
        ).alias("g"),
    )


@register(
    "boilerplate_ngram_frac",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT doc_id,
             array_to_string(t[i:i+4], ' ') AS g
      FROM toks, unnest(range(1, len(t) - 3)) AS u(i)),
    df AS (
      SELECT g, count(DISTINCT doc_id) AS nd FROM grams GROUP BY g),
    marked AS (
      SELECT grams.doc_id,
             CASE WHEN df.nd >= 2 THEN 1 ELSE 0 END AS hot
      FROM grams JOIN df USING (g))
    SELECT doc_id, count(*) AS n_grams,
           CAST(sum(hot) AS BIGINT) AS n_boiler,
           round(sum(hot) / count(*), 6) AS frac
    FROM marked GROUP BY doc_id ORDER BY doc_id
    """,
    "Cross-document boilerplate fraction: per document, the share of "
    "its word 5-grams that also appear in ANOTHER document — the "
    "template/boilerplate signal (headers, footers, mirrored pages) "
    "that near-dedup pipelines gate on; duplicated documents score "
    "~1.0, unique prose ~0. Plan: position explode → gram hash agg "
    "for document frequency (the only corpus-wide state, gram-keyed "
    "and distributed) → gram-keyed join back → one doc hash agg. At "
    "100 TB the gram key should be xxhash64(g) (same swap documented "
    "on decontaminate); counts here stay exact for the oracle.",
)
def boilerplate_ngram_frac_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scan-width cap sweep: width 8 measured
    # min 1.74→1.08 s / median 1.97→1.19 s (interleaved, 5 passes) —
    # the 5-gram position explode was serialized on the 1-split scan.
    docs = parallelize_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark, cap=8,
    )
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    grams = _word_5grams(toks)
    df_counts = grams.groupBy("g").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    return (
        grams.join(df_counts, "g")
        .select(
            "doc_id",
            F.when(F.col("nd") >= 2, 1).otherwise(0).alias("hot"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("hot").cast("long").alias("n_boiler"),
            F.round(F.sum("hot") / F.count(F.lit(1)), 6).alias("frac"),
        )
        .orderBy("doc_id")
    )


@register(
    "sliding_distinct_users",
    """
    WITH du AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events),
    days AS (SELECT DISTINCT d FROM du),
    contrib AS (
      SELECT DISTINCT du.user_id, days.d AS window_end
      FROM du JOIN days
        ON days.d BETWEEN du.d AND du.d + INTERVAL 6 DAY)
    SELECT strftime(window_end, '%Y-%m-%d') AS window_end,
           count(*) AS n_users_7d
    FROM contrib GROUP BY 1 ORDER BY 1
    """,
    "Trailing-7-day distinct users per day — the windowed DISTINCT "
    "that plain window frames cannot express (distinct does not "
    "decompose over a sliding frame). Scale shape: distinct "
    "(user, day) pre-agg first (the corpus-sized cut), then each "
    "active day EXPLODES to the <=7 window-ends it serves (bounded "
    "fan-out, the inverse of re-scanning 7 days per window), distinct "
    "again, one day hash agg. Never a collect_set over a window — a "
    "hot day's user set would be a single aggregation buffer.",
)
def sliding_distinct_users_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
    ).distinct()
    days = du.select("d").distinct().select(F.col("d").alias("window_end"))
    contrib = (
        du.select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("d"), F.date_add(F.col("d"), 6)
                )
            ).alias("window_end"),
        )
        .join(F.broadcast(days), "window_end")
        .distinct()
    )
    return (
        contrib.groupBy(
            F.date_format("window_end", "yyyy-MM-dd").alias("window_end")
        )
        .agg(F.count(F.lit(1)).alias("n_users_7d"))
        .orderBy("window_end")
    )


# --------------------------------------------------------------------------
# Round-4 batch 5: attribution, rolling anomaly, session paths.
# --------------------------------------------------------------------------


@register(
    "attribution_last_touch",
    """
    WITH w AS (
      SELECT event_id, ts, event_type,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN struct_pack(t := epoch_us(ts),
                                              y := event_type) END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch
      FROM events)
    SELECT coalesce(CASE WHEN touch.t >= epoch_us(ts) - 86400000000
                         THEN touch.y END, 'direct') AS touch_type,
           CAST(count(*) AS BIGINT) AS n_purchases
    FROM w WHERE event_type = 'purchase'
    GROUP BY 1 ORDER BY 1
    """,
    "Marketing last-touch attribution: each purchase credits the most "
    "recent click/view by the same user within a 24 h lookback, else "
    "'direct'. ONE window pass carries the last touchpoint as a "
    "(epoch_us, type) struct with an UNBOUNDED..1 PRECEDING frame "
    "(last+ignorenulls — the struct packaging keeps ts/type atomic, "
    "the asof-join NULL-carry lesson); ONE corpus-sized shuffle (the "
    "user_id window) — the closing hash agg and output sort exchange "
    "only 3-row partials. Lookback compares exact integer "
    "microseconds on both engines — no interval semantics in play.",
)
def attribution_last_touch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.behavior import _ts_us

    ev = load_table(spark, sf_dir, "events")
    wo = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(
            F.col("event_type").isin("click", "view"),
            F.struct(
                _ts_us("ts").alias("t"), F.col("event_type").alias("y")
            ),
        ),
        ignorenulls=True,
    ).over(wo)
    return (
        ev.select(
            "event_id",
            "event_type",
            _ts_us("ts").alias("__us"),
            touch.alias("touch"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            F.coalesce(
                F.when(
                    F.col("touch.t") >= F.col("__us") - 86_400_000_000,
                    F.col("touch.y"),
                ),
                F.lit("direct"),
            ).alias("touch_type")
        )
        .groupBy("touch_type")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .orderBy("touch_type")
    )


@register(
    "rolling_zscore",
    """
    WITH f AS (
      SELECT event_id, user_id, value,
             sum(CAST(value AS DECIMAL(18,2))) OVER w AS s1,
             sum(CAST(value AS DECIMAL(18,2))
                 * CAST(value AS DECIMAL(18,2))) OVER w AS s2,
             count(value) OVER w AS n
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
    z AS (
      SELECT event_id, user_id,
             (CAST(s2 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
               / (n - 1) AS var,
             value - CAST(s1 AS DOUBLE) / n AS dev
      FROM f WHERE n >= 5)
    SELECT event_id, user_id, round(dev / sqrt(var), 4) AS z
    FROM z WHERE var > 0 AND abs(dev / sqrt(var)) >= 2.0
    ORDER BY event_id
    """,
    "Per-user rolling anomaly flag: trailing-7-event mean/std, emit "
    "events with |z| >= 2. Cross-engine determinism is the point: the "
    "frame sums run in DECIMAL (exact, order-independent) and mean/"
    "variance derive from those exact sums in double via x*x (never "
    "POWER) — so the z cut and the 4 dp rounding are bit-identical on "
    "both engines. One corpus-sized shuffle (the user_id window); "
    "frames are 7-row, memory O(1) per row; the output sort exchanges "
    "only the surviving anomaly rows. The smoothing query over the "
    "same per-user event order is ewma_smooth.",
)
def rolling_zscore_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    vdec = F.col("value").cast("decimal(18,2)")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, 0)
    )
    f = ev.select(
        "event_id",
        "user_id",
        "value",
        F.sum(vdec).over(w).alias("s1"),
        F.sum(vdec * vdec).over(w).alias("s2"),
        F.count("value").over(w).alias("n"),
    ).filter(F.col("n") >= 5)
    z = f.select(
        "event_id",
        "user_id",
        (
            (
                F.col("s2").cast("double")
                - F.col("s1").cast("double")
                * F.col("s1").cast("double")
                / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("var"),
        (F.col("value") - F.col("s1").cast("double") / F.col("n")).alias(
            "dev"
        ),
    )
    return (
        z.filter(
            (F.col("var") > 0)
            & (F.abs(F.col("dev") / F.sqrt("var")) >= 2.0)
        )
        .select(
            "event_id",
            "user_id",
            F.round(F.col("dev") / F.sqrt("var"), 4).alias("z"),
        )
        .orderBy("event_id")
    )


@register(
    "session_path_topn",
    """
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER wo IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER wo)
                       > 1800000000
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW wo AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sess
          FROM o),
    r AS (SELECT *, row_number() OVER (PARTITION BY user_id, sess
                                       ORDER BY ts, event_id) AS rn
          FROM s),
    p AS (SELECT user_id, sess,
                 string_agg(event_type, '>' ORDER BY ts, event_id)
                   AS path
          FROM r WHERE rn <= 5 GROUP BY 1, 2)
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM p GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 10
    """,
    "Top-10 session journey prefixes: 30-min-gap sessionization "
    "(same integer-microsecond arithmetic as sessionize_ids), path = "
    "first 5 event types joined '>', count sessions per path. The "
    "5-event CAP is the scale guard — an uncapped path string grows "
    "with the hottest session and would make the path agg key "
    "unbounded. Spark side: one user_id window pass (lag + running "
    "sum share the shuffle), per-session array_sort(collect_list) on "
    "<=capped structs, then a path hash agg + TakeOrdered 10. Ties "
    "break by path so the LIMIT cut is deterministic.",
)
def session_path_topn_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.behavior import _ts_us

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        _ts_us("ts").alias("__us"),
    )
    wo = Window.partitionBy("user_id").orderBy("__us", "event_id")
    lagged = ev.withColumn("__prev", F.lag("__us").over(wo))
    brk = (
        F.col("__prev").isNull()
        | ((F.col("__us") - F.col("__prev")) > 1_800_000_000)
    ).cast("long")
    sess = lagged.withColumn(
        "sess",
        F.sum(brk).over(wo.rowsBetween(Window.unboundedPreceding, 0)),
    )
    paths = (
        sess.groupBy("user_id", "sess")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("__us", "event_id", "event_type")
                )
            ).alias("evs")
        )
        .select(
            F.array_join(
                F.transform(
                    F.slice("evs", 1, 5), lambda x: x["event_type"]
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Round-4 batch 6: corpus length-band filter, inter-arrival percentiles,
# dataset-card source mix.
# --------------------------------------------------------------------------


@register(
    "doc_length_band_filter",
    """
    WITH r AS (
      SELECT doc_id, lang, n_chars,
             percent_rank() OVER (PARTITION BY lang
                                  ORDER BY n_chars, doc_id) AS pr
      FROM documents)
    SELECT doc_id, lang, n_chars FROM r
    WHERE pr >= 0.05 AND pr <= 0.95 ORDER BY doc_id
    """,
    "Corpus length filtering, the Gopher/C4 outlier trim done "
    "distribution-relative PER LANGUAGE: keep documents inside the "
    "[p05, p95] length band of their language. percent_rank is exact "
    "integer arithmetic ((rank-1)/(n-1)) with ties broken by doc_id, "
    "so the band cut is deterministic cross-engine — no quantile "
    "interpolation convention in play. One lang-partitioned window "
    "(sort amortized across the rank), pure filter after; at corpus "
    "scale the per-lang sort is the cost and languages partition "
    "naturally.",
)
def doc_length_band_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    pr = F.percent_rank().over(
        Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    )
    return (
        d.select("doc_id", "lang", "n_chars", pr.alias("pr"))
        .filter((F.col("pr") >= 0.05) & (F.col("pr") <= 0.95))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


@register(
    "interarrival_stats",
    """
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id, event_type
                     ORDER BY ts, event_id) AS gap_us
      FROM events),
    v AS (SELECT event_type, gap_us FROM g WHERE gap_us IS NOT NULL),
    r AS (SELECT event_type, gap_us,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY gap_us) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n
          FROM v)
    SELECT event_type,
           max(CASE WHEN rn = CAST(floor((n-1)*0.5) AS BIGINT) + 1
                    THEN gap_us END) AS p50_us,
           max(CASE WHEN rn = CAST(floor((n-1)*0.9) AS BIGINT) + 1
                    THEN gap_us END) AS p90_us
    FROM r GROUP BY 1 ORDER BY 1
    """,
    "Inter-arrival latency percentiles per event type: per-(user, "
    "type) consecutive gaps via lag over integer microseconds, then "
    "EXACT discrete p50/p90 by sort-rank indexing (row_number + "
    "floor((n-1)*q) — the same convention as the percentiles "
    "family; equal gaps make the tie order irrelevant because every "
    "tied row carries the same value). Output stays integer "
    "microseconds — zero float rounding anywhere. Two data shuffles "
    "— the (user, type) lag window and the per-type rank (gap rows, "
    "never event payloads, enter the second) — plus a 5-row output "
    "sort exchange.",
)
def interarrival_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.behavior import _ts_us

    ev = load_table(spark, sf_dir, "events")
    wl = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    g = ev.select(
        "event_type",
        (_ts_us("ts") - F.lag(_ts_us("ts")).over(wl)).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    wr = Window.partitionBy("event_type").orderBy("gap_us")
    wn = Window.partitionBy("event_type")
    r = g.select(
        "event_type",
        "gap_us",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def _pick(q: float):
        idx = F.floor((F.col("n") - 1) * q).cast("bigint") + 1
        return F.max(
            F.when(F.col("rn") == idx, F.col("gap_us"))
        )

    return (
        r.groupBy("event_type")
        .agg(
            _pick(0.5).alias("p50_us"),
            _pick(0.9).alias("p90_us"),
        )
        .orderBy("event_type")
    )


@register(
    "source_mix_report",
    r"""
    WITH t AS (
      SELECT source, lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(length(regexp_split_to_array(trim(text), '\s+')))
                  AS BIGINT) AS n_tokens
      FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
      GROUP BY 1, 2)
    SELECT source, lang, n_docs, n_tokens,
           CAST(floor(1000000.0 * n_tokens
                      / (SELECT sum(n_tokens) FROM t) + 0.5) AS BIGINT)
             AS token_share_ppm
    FROM t ORDER BY source, lang
    """,
    "Dataset-card composition report: per (source, language) document "
    "and whitespace-token counts plus each slice's share of corpus "
    "tokens in integer PPM — the measurement side of "
    "mixture_resample's knob (you report the mix before you reweigh "
    "it). One hash agg over the (source, lang) key; the corpus total "
    "comes back as a broadcast 1-row scalar; the share quantizes via "
    "floor(x+0.5) so both engines agree at halfway points. Token "
    "counting matches token_count's split convention.",
)
def source_mix_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(
            F.col("text").isNotNull() & (F.trim("text") != "")
        )
    )
    t = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.size(F.split(F.trim("text"), r"\s+"))
        ).cast("bigint").alias("n_tokens"),
    )
    # r16 (optimization round, guide §2.4): the grand total as an
    # unpartitioned window over the (source, lang) cell frame —
    # bounded by |sources|·|langs| at any input scale — instead of a
    # separate aggregate + scalar broadcast crossJoin (two fewer
    # sequential stages).
    from pyspark.sql import Window

    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        t.withColumn(
            "__total", F.sum("n_tokens").over(wall).cast("double")
        )
        .select(
            "source",
            "lang",
            "n_docs",
            "n_tokens",
            F.floor(
                1_000_000.0 * F.col("n_tokens") / F.col("__total") + 0.5
            )
            .cast("bigint")
            .alias("token_share_ppm"),
        )
        .orderBy("source", "lang")
    )


# --------------------------------------------------------------------------
# Round-4 batch 7: decision-support conditional-agg shapes (TPC-H Q12 /
# Q14 / Q11 flavors over the available columns).
# --------------------------------------------------------------------------


@register(
    "ship_delay_priority",
    """
    SELECT CASE WHEN d BETWEEN 0 AND 30 THEN '00-30'
                WHEN d BETWEEN 31 AND 60 THEN '31-60'
                ELSE '61+' END AS delay_bucket,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS low_line_count
    FROM (SELECT o_orderpriority,
                 datediff('day', o_orderdate, l_shipdate) AS d
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
    GROUP BY 1 ORDER BY 1
    """,
    "TPC-H Q12 shape over the available columns: order-to-ship delay "
    "buckets x priority class, the two-level conditional agg (CASE "
    "inside sum) that Q12 exercises. One orderkey equi-join (AQE "
    "sizes it; at 100 TB both sides shuffle on the FK, the natural "
    "co-partitioning) into a 3-row hash agg; day deltas are integer "
    "calendar-day arithmetic on both engines.",
)
def ship_delay_priority_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    d = F.datediff("l_shipdate", "o_orderdate")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.when(d.between(0, 30), "00-30")
            .when(d.between(31, 60), "31-60")
            .otherwise("61+")
            .alias("delay_bucket"),
            hi.alias("hi"),
        )
        .groupBy("delay_bucket")
        .agg(
            F.sum(F.when(F.col("hi"), 1).otherwise(0))
            .cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(~F.col("hi"), 1).otherwise(0))
            .cast("bigint")
            .alias("low_line_count"),
        )
        .orderBy("delay_bucket")
    )


@register(
    "promo_revenue_share",
    """
    WITH m AS (
      SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
             sum(CASE WHEN p_type = 'PROMO'
                      THEN CAST(l_extendedprice AS DECIMAL(18,2))
                           * (1 - CAST(l_discount AS DECIMAL(18,2)))
                 END) AS promo_rev,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2))))
               AS total_rev
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1)
    SELECT ship_month,
           CAST(floor(1000000.0 * CAST(coalesce(promo_rev, 0) AS DOUBLE)
                      / CAST(total_rev AS DOUBLE) + 0.5) AS BIGINT)
             AS promo_share_ppm
    FROM m ORDER BY ship_month
    """,
    "TPC-H Q14 shape: monthly share of discounted revenue from PROMO "
    "parts. The part side BROADCASTS (dim-sized); revenue sums run in "
    "DECIMAL (exact, shuffle-order-independent) and only the final "
    "ratio drops to double, quantized to integer PPM via floor(x+0.5) "
    "so halfway points agree cross-engine. Conditional-vs-total in "
    "ONE agg pass — never two scans.",
)
def promo_revenue_share_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    m = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .select(
            F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
            rev.alias("rev"),
            (F.col("p_type") == "PROMO").alias("is_promo"),
        )
        .groupBy("ship_month")
        .agg(
            F.sum(F.when(F.col("is_promo"), F.col("rev"))).alias(
                "promo_rev"
            ),
            F.sum("rev").alias("total_rev"),
        )
    )
    return m.select(
        "ship_month",
        F.floor(
            1_000_000.0
            * F.coalesce(F.col("promo_rev"), F.lit(0)).cast("double")
            / F.col("total_rev").cast("double")
            + 0.5
        )
        .cast("bigint")
        .alias("promo_share_ppm"),
    ).orderBy("ship_month")


@register(
    "supplier_revenue_concentration",
    """
    WITH r AS (
      SELECT s_nationkey, s_suppkey,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY 1, 2),
    t AS (SELECT *, sum(rev) OVER (PARTITION BY s_nationkey)
                      AS nation_total
          FROM r)
    SELECT s_nationkey, s_suppkey, CAST(rev AS DOUBLE) AS revenue
    FROM t WHERE rev * 4 > nation_total
    ORDER BY s_nationkey, s_suppkey
    """,
    "TPC-H Q11 shape: suppliers holding > 25 % of their nation's "
    "discounted revenue — concentration screening. Supplier dim "
    "BROADCASTS onto the lineitem scan, revenue aggregates once per "
    "(nation, supplier) in DECIMAL, the national total is a window "
    "sum over the ALREADY-AGGREGATED frame (supplier-cardinality "
    "rows, not lineitems), and the share cut compares decimal*4 > "
    "decimal — exact, no float ratio anywhere. Q11's global-scalar "
    "HAVING becomes a partitioned window, which is the form that "
    "scales past one nation.",
)
def supplier_revenue_concentration_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    r = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_nationkey", "s_suppkey")
        .agg(F.sum(rev).alias("rev"))
    )
    t = r.withColumn(
        "nation_total",
        F.sum("rev").over(Window.partitionBy("s_nationkey")),
    )
    return (
        t.filter(F.col("rev") * 4 > F.col("nation_total"))
        .select(
            "s_nationkey",
            "s_suppkey",
            F.col("rev").cast("double").alias("revenue"),
        )
        .orderBy("s_nationkey", "s_suppkey")
    )


# --------------------------------------------------------------------------
# Round-4 batch 8: revenue-concentration (Pareto/ABC) and repeat-purchase
# behavioral KPIs.
# --------------------------------------------------------------------------


@register(
    "pareto_revenue_share",
    """
    WITH c AS (
      SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1),
    t AS (
      SELECT o_custkey, rev,
             sum(rev) OVER (ORDER BY rev DESC, o_custkey
                            ROWS UNBOUNDED PRECEDING) AS cum_rev,
             sum(rev) OVER () AS total_rev,
             count(*) OVER () AS n_total
      FROM c)
    SELECT CAST(count(*) AS BIGINT) AS n_top_customers,
           CAST(max(n_total) AS BIGINT) AS n_customers,
           CAST(floor(1000000.0 * count(*) / max(n_total) + 0.5)
                AS BIGINT) AS customer_share_ppm
    FROM t WHERE (cum_rev - rev) * 5 < total_rev * 4
    """,
    "Pareto/ABC analysis: how many customers drive the first 80 % of "
    "revenue. A customer is in the top set while the revenue "
    "accumulated BEFORE it stays under 80 % — the cut compares "
    "decimal*5 < decimal*4, exact, no float ratio. The oracle states "
    "it with a global running sum; the Spark side computes the same "
    "prefix DISTRIBUTED, reusing sequence_pack's shape: revenue-band "
    "buckets (floor(rev/band) — disjoint value ranges, so "
    "descending-bucket prefix order equals the global rev-DESC order, "
    "ties resolved by custkey inside one bucket) → parallel "
    "partitioned cumsum → global window over the TINY bucket-totals "
    "frame only → broadcast join back. Never a single-partition "
    "window over the customer frame.",
)
def pareto_revenue_share_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    band = 100_000
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    c = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    c = c.withColumn(
        "__b", F.floor(F.col("rev") / band).cast("long")
    )
    w_local = (
        Window.partitionBy("__b")
        .orderBy(F.desc("rev"), "o_custkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = c.withColumn("__cum_local", F.sum("rev").over(w_local))
    totals = local.groupBy("__b").agg(
        F.max("__cum_local").alias("__tot"),
        F.count(F.lit(1)).alias("__n"),
    )
    w_prefix = Window.orderBy(F.desc("__b")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    # r16 (optimization round, guide §2.4): grand totals ride the SAME
    # single-partition window frame as the exclusive bucket prefix
    # (unbounded-following frame, identical order spec → one
    # WindowExec over the tiny bucket-totals frame), replacing a
    # separate aggregate branch + scalar broadcast crossJoin — two
    # fewer sequential stages (9 → 7 jobs at sf0.1).
    w_all = Window.orderBy(F.desc("__b")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    prefix = totals.select(
        "__b",
        F.coalesce(F.sum("__tot").over(w_prefix), F.lit(0)).alias(
            "__pre"
        ),
        F.sum("__tot").over(w_all).alias("__total_rev"),
        F.sum("__n").over(w_all).cast("long").alias("__n_total"),
    )
    t = (
        local.join(F.broadcast(prefix), "__b")
        .withColumn("cum_rev", F.col("__pre") + F.col("__cum_local"))
    )
    top = t.filter(
        (F.col("cum_rev") - F.col("rev")) * 5
        < F.col("__total_rev") * 4
    )
    return top.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_top_customers"),
        F.max("__n_total").cast("bigint").alias("n_customers"),
        F.floor(
            1_000_000.0 * F.count(F.lit(1)) / F.max("__n_total") + 0.5
        )
        .cast("bigint")
        .alias("customer_share_ppm"),
    )


@register(
    "repeat_purchase_rate",
    """
    WITH oc AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1)
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_buyers,
           CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_repeat,
           CAST(floor(1000000.0
                      * sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)
                      / count(*) + 0.5) AS BIGINT) AS repeat_ppm
    FROM customer JOIN oc ON c_custkey = o_custkey
    GROUP BY 1 ORDER BY 1
    """,
    "Repeat-purchase rate by market segment — the loyalty KPI next to "
    "funnel_conversion/cohort_retention. Per-customer order counts "
    "aggregate FIRST (the corpus-sized cut: orders collapse to "
    "customer cardinality before any dimension join), then the "
    "segment dim joins (AQE picks broadcast at dim scale) into a "
    "5-row conditional agg; the rate quantizes to integer PPM via "
    "floor(x+0.5).",
)
def repeat_purchase_rate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    oc = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )
    rep = F.when(F.col("n_orders") >= 2, 1).otherwise(0)
    return (
        cust.join(oc, cust["c_custkey"] == oc["o_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buyers"),
            F.sum(rep).cast("bigint").alias("n_repeat"),
            F.floor(
                1_000_000.0 * F.sum(rep) / F.count(F.lit(1)) + 0.5
            )
            .cast("bigint")
            .alias("repeat_ppm"),
        )
        .orderBy("c_mktsegment")
    )
