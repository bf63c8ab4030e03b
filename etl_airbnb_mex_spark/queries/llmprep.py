"""Round-6 LLM-training-data-pipeline extensions (BASELINE.json:6
mandate: dedup / similarity / text analysis as first-class engine
components): heuristic language identification, RAG-style document
chunking, SemDeDup-style within-cluster semantic dedup, plus the
analytics staples next to them (basket lift, Gini concentration, RFM
segmentation, two-sample KS drift).

Shared determinism rules as queries/__init__ docstring; cosines follow
knn_cosine's convention (double math, round 6dp before any cut).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load_table, parallelize_scan
from . import register

# ---------------------------------------------------------------------------
# Language ID — stopword-hit scoring (the n-gram-free heuristic tier).
# ---------------------------------------------------------------------------

#: Small function-word lists per language. Real corpora would use
#: char-n-gram profiles (fastText-style); the engine-relevant part is
#: identical either way: a pure in-row scoring expression, no shuffle,
#: no UDF. Lists are sorted so both engines build identical literals.
_STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("das", "der", "die", "ist", "mit", "nicht", "und", "von"),
    "en": ("a", "and", "is", "of", "the", "to", "was", "with"),
    "es": ("de", "el", "en", "la", "los", "por", "que", "una"),
    "fr": ("dans", "des", "est", "et", "le", "les", "que", "une"),
}


@register(
    "lang_id_confusion",
    """
    WITH scored AS (
      SELECT lang,
             len(list_filter(string_split_regex(lower(text), '\\s+'),
                 t -> list_contains(['das','der','die','ist','mit','nicht','und','von'], t))) AS s_de,
             len(list_filter(string_split_regex(lower(text), '\\s+'),
                 t -> list_contains(['a','and','is','of','the','to','was','with'], t))) AS s_en,
             len(list_filter(string_split_regex(lower(text), '\\s+'),
                 t -> list_contains(['de','el','en','la','los','por','que','una'], t))) AS s_es,
             len(list_filter(string_split_regex(lower(text), '\\s+'),
                 t -> list_contains(['dans','des','est','et','le','les','que','une'], t))) AS s_fr
      FROM documents),
    pred AS (
      SELECT lang,
             CASE WHEN s_de = 0 AND s_en = 0 AND s_es = 0 AND s_fr = 0
                  THEN 'und'
                  WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr
                  THEN 'de'
                  WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                  WHEN s_es >= s_fr THEN 'es'
                  ELSE 'fr' END AS predicted
      FROM scored)
    SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n
    FROM pred GROUP BY lang, predicted ORDER BY lang, predicted
    """,
    "§2.11 text analysis — heuristic language ID: per-language "
    "function-word hit counts as a pure in-row array expression "
    "(split → filter → size; no explode, no UDF), argmax with a "
    "deterministic first-wins tiebreak in fixed language order "
    "(de,en,es,fr — ties are common on short texts, so the tiebreak "
    "IS the semantics), zero hits → 'und'. Output is the "
    "(actual, predicted) confusion matrix — the honest shape for the "
    "synthetic corpus, whose text is English-ish for every lang "
    "label. One hash agg over ≤ |langs|·5 keys.",
)
def lang_id_confusion_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r16 (guide §2.5): width-capped scan widening — the 1-split text
    # scan serialized the in-row stopword scoring on one core;
    # interleaved A/B med 1.27 s direct → 0.56 s at width 8 (the
    # biggest winner of the batch; full 32-way width loses to the
    # round-robin agg-map duplication, parallelize_scan docstring).
    d = parallelize_scan(
        load_table(spark, sf_dir, "documents").select("lang", "text"),
        spark, cap=8,
    )
    scores = {
        lang: F.expr(
            "size(filter(split(lower(text), '\\\\s+'), "
            f"t -> array_contains(array({lits}), t)))"
        )
        for lang, words in _STOPWORDS.items()
        if (lits := ", ".join(f"'{w}'" for w in words))
    }
    pred = (
        F.when(
            (scores["de"] == 0) & (scores["en"] == 0)
            & (scores["es"] == 0) & (scores["fr"] == 0),
            F.lit("und"),
        )
        .when(
            (scores["de"] >= scores["en"])
            & (scores["de"] >= scores["es"])
            & (scores["de"] >= scores["fr"]),
            F.lit("de"),
        )
        .when(
            (scores["en"] >= scores["es"])
            & (scores["en"] >= scores["fr"]),
            F.lit("en"),
        )
        .when(scores["es"] >= scores["fr"], F.lit("es"))
        .otherwise(F.lit("fr"))
    )
    return (
        d.select("lang", pred.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("lang", "predicted")
    )


# ---------------------------------------------------------------------------
# RAG-style chunking: fixed token windows with overlap.
# ---------------------------------------------------------------------------

_CHUNK_W = 64  # tokens per chunk
_CHUNK_S = 48  # stride (W - S = 16 tokens of overlap)


@register(
    "doc_chunk_overlap",
    f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS toks,
             len(string_split_regex(text, '\\s+')) AS n
      FROM documents),
    c AS (
      SELECT doc_id, n, CAST(i AS BIGINT) AS chunk_idx,
             list_slice(toks, i * {_CHUNK_S} + 1,
                        i * {_CHUNK_S} + {_CHUNK_W}) AS chunk
      FROM t, unnest(range(0,
             1 + CAST(ceil(greatest(n - {_CHUNK_W}, 0)
                           / {_CHUNK_S}.0) AS BIGINT))) AS u(i))
    SELECT doc_id, chunk_idx,
           CAST(len(chunk) AS BIGINT) AS n_tokens,
           md5(array_to_string(chunk, ' ')) AS chunk_md5
    FROM c ORDER BY doc_id, chunk_idx
    """,
    "§2.11 — RAG/pretraining document chunking: fixed 64-token "
    "windows at stride 48 (16-token overlap), last chunk ragged, "
    "every token covered (starts run to ceil((n-W)/S)). Pure in-row "
    "fan-out: posexplode of a sequence() of chunk starts + slice() — "
    "the explode factor is ~n/S per document, bounded by document "
    "length, never corpus-shaped. Chunk text compares as md5 (same "
    "digest builtin both engines) so the oracle hashes content "
    "without shipping it.",
)
def doc_chunk_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import chunk_documents

    return chunk_documents(
        load_table(spark, sf_dir, "documents"),
        "doc_id", "text", window=_CHUNK_W, stride=_CHUNK_S,
    ).orderBy("doc_id", "chunk_idx")


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup: within-cluster cosine pairs.
# ---------------------------------------------------------------------------


@register(
    "semantic_dedup_clusters",
    """
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings),
    pairs AS (
      SELECT a.label, a.vec_id AS ka, b.vec_id AS kb
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4),
    removed AS (SELECT DISTINCT label, kb FROM pairs)
    SELECT e.label,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(coalesce(max(p.n_pairs), 0) AS BIGINT) AS n_dup_pairs,
           CAST(coalesce(max(r.n_removed), 0) AS BIGINT) AS n_removed
    FROM e
    LEFT JOIN (SELECT label, count(*) AS n_pairs
               FROM pairs GROUP BY label) p ON e.label = p.label
    LEFT JOIN (SELECT label, count(*) AS n_removed
               FROM removed GROUP BY label) r ON e.label = r.label
    GROUP BY e.label ORDER BY e.label
    """,
    "§2.11 similarity — SemDeDup-shaped semantic dedup: embeddings "
    "arrive pre-clustered (the label column = the k-means coarse "
    "assignment, exactly what centroid_assign/ivf_build produce), "
    "candidate pairs form ONLY within a cluster (label equi-join with "
    "vec_id < vec_id tie-order — fan-out bounded by cluster size², "
    "never corpus²), a pair is duplicate at rounded cosine ≥ 0.4, and "
    "the keep-lowest-id rule removes the higher id of each pair. "
    "Output: per-cluster member/pair/removed counts. Cosines in "
    "double, rounded 6dp before the cut (knn_cosine convention).",
)
def semantic_dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cluster_pair_cosines

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    # Pair stage = one BLAS gram matrix per cluster (grouped
    # applyInPandas): each vector shuffles ONCE to its cluster's task
    # instead of fanning out as cluster-size² pair rows with two
    # payload vectors each — 3-4× over the r6 join+einsum form at
    # sf0.1, more at higher cluster counts. The engine-side
    # F.round(..., 6) >= 0.4 cut keeps Spark's HALF_UP rounding, so
    # oracle parity with list_cosine_similarity is unchanged
    # (operators/similarity.py:cluster_pair_cosines).
    #
    # ONE grouped Arrow pass.
    # emit_group_size adds a per-cluster sentinel row carrying
    # n_members (full cluster row count — so labels with zero pairs
    # stay represented), and the final frame is a single narrow agg
    # over the UDF output: count(ka) counts pair rows only (NULL on
    # the sentinel), countDistinct(kb) is the removed set (the old
    # distinct-(label,kb) branch), max(n_members) reads the sentinel.
    # This replaces the r16 shape's SECOND embeddings aggregate + its
    # broadcast join: the embeddings table is scanned and shuffled
    # once, and the 10→7-job r16 chain drops to 4 (one
    # FlatMapGroupsInPandas in the plan — pinned by
    # tests/test_registry.py's single-Arrow-pass check).
    out = cluster_pair_cosines(e, threshold=0.4, emit_group_size=True)
    return (
        out.filter(
            F.col("ka").isNull() | (F.round(F.col("cos_raw"), 6) >= 0.4)
        )
        .groupBy("label")
        .agg(
            F.max("n_members").cast("bigint").alias("n_members"),
            F.count("ka").cast("bigint").alias("n_dup_pairs"),
            F.countDistinct("kb").cast("bigint").alias("n_removed"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Market-basket lift (extends copurchase_pairs with the association
# strength normalization).
# ---------------------------------------------------------------------------


@register(
    "basket_lift",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM op),
    item AS (SELECT l_partkey, count(*) AS n_item FROM op GROUP BY 1),
    pair AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*) AS n_pair
      FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2)
    SELECT part_a, part_b, CAST(n_pair AS BIGINT) AS n_pair,
           CAST(floor(1000000.0 * n_pair * n_orders
                      / (ia.n_item * ib.n_item) + 0.5) AS BIGINT)
             AS lift_ppm
    FROM pair
    JOIN item ia ON ia.l_partkey = part_a
    JOIN item ib ON ib.l_partkey = part_b
    CROSS JOIN n
    ORDER BY n_pair DESC, part_a, part_b LIMIT 15
    """,
    "Market-basket association lift: P(A,B)/(P(A)·P(B)) over distinct "
    "(order, part) baskets — the normalization that separates 'bought "
    "together because both are popular' from real affinity. The oracle "
    "states the distinct self-join; the engine shares copurchase_pairs' "
    "r9 build (extensions._order_baskets + _basket_pair_counts): ONE "
    "groupBy(order) + in-row pair expansion, pairs as encoded 8-byte "
    "longs — the form the r8 triangle rewrite measured 3× faster at "
    "sf2 than the order-keyed self-join used here through r8. Item "
    "frequencies and the order count come from the SAME lazily-"
    "checkpointed basket frame (order-axis-sized, never raw-lineitem-"
    "sized) and join back BROADCAST (item axis ≪ pair axis). All "
    "counts integer-exact; lift quantizes to PPM (products stay "
    "< 2^53, so the double math is exact).",
)
def basket_lift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions import _basket_pair_counts, _decode_pair, _order_baskets

    # three consumers (order count, item freqs, pair expansion) would
    # each re-run the scan + groupBy without truncation
    baskets = _order_baskets(spark, sf_dir).localCheckpoint(eager=False)
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    item = (
        baskets.select(F.explode("__ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_item"))
    )
    pair = _basket_pair_counts(baskets).select(
        *_decode_pair("part_a", "part_b"),
        F.col("n_orders").alias("n_pair"),
    )
    ia = item.select(
        F.col("l_partkey").alias("__pa"), F.col("n_item").alias("__na")
    )
    ib = item.select(
        F.col("l_partkey").alias("__pb"), F.col("n_item").alias("__nb")
    )
    return (
        pair.join(F.broadcast(ia), F.col("part_a") == F.col("__pa"))
        .join(F.broadcast(ib), F.col("part_b") == F.col("__pb"))
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            F.col("n_pair").cast("bigint").alias("n_pair"),
            F.floor(
                1_000_000.0
                * F.col("n_pair")
                * F.col("n_orders")
                / (F.col("__na") * F.col("__nb"))
                + 0.5
            )
            .cast("bigint")
            .alias("lift_ppm"),
        )
        .orderBy(F.desc("n_pair"), "part_a", "part_b")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Gini concentration — distributed global rank (sort-rank pattern).
# ---------------------------------------------------------------------------


@register(
    "gini_concentration",
    """
    WITH c AS (
      SELECT o_custkey,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1),
    r AS (
      SELECT rev,
             row_number() OVER (ORDER BY rev, o_custkey) AS rk,
             count(*) OVER () AS n,
             sum(rev) OVER () AS total
      FROM c)
    SELECT CAST(max(n) AS BIGINT) AS n_customers,
           CAST(max(total) AS DOUBLE) AS total_rev,
           round(CAST(sum((2 * rk - max_n - 1) * rev) AS DOUBLE)
                 / (max_n * CAST(max(total) AS DOUBLE)), 6) AS gini
    FROM (SELECT rev, rk, n, total, max(n) OVER () AS max_n FROM r)
    GROUP BY max_n
    """,
    "Gini coefficient of customer revenue concentration — the "
    "inequality KPI next to pareto_revenue_share. Needs a GLOBAL "
    "dense rank; the oracle states it with row_number() over the full "
    "sort, the engine computes it DISTRIBUTED and LAZY with the "
    "bucketed two-level prefix rank (operators/stats.py:"
    "global_order_prefix): 4096 equal-width revenue buckets from a "
    "1-row broadcast min/max, bucket counts prefixed on ≤4096 rows, "
    "offsets broadcast back, per-bucket row_number windows in "
    "parallel, then ONE exact-decimal aggregate of (2r − n − 1)·rev "
    "then n is folded out ALGEBRAICALLY — Σ(2r−n−1)·rev = 2·Σ(r·rev) "
    "− (n+1)·Σrev with n = max(rk) — so the whole statistic is ONE "
    "final aggregate over the ranked frame: a single Spark action, no "
    "eager checkpoint, no driver offset round-trips, no second pass "
    "for n (one LAZY localCheckpoint of the customer-axis frame inside "
    "global_order_prefix keeps its three branches from re-running the "
    "groupBy; the r7 sf2 probe billed 10× DuckDB to the removed fixed "
    "job latency). Never a single-partition window over the customer "
    "axis; ranks tie-break on custkey so both engines order "
    "identically; the r·rev moment sums in exact DECIMAL before the "
    "one double division.",
)
def gini_concentration_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import global_order_prefix

    c = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
        )
    )
    ranked = global_order_prefix(
        c, "rev", tie_cols=("o_custkey",), rank=True
    ).select("rev", "rk")
    a = ranked.agg(
        F.max("rk").cast("bigint").alias("__n"),
        F.sum("rev").alias("__s0"),
        F.sum(F.col("rk") * F.col("rev")).alias("__s1"),
    )
    return a.select(
        F.col("__n").alias("n_customers"),
        F.col("__s0").cast("double").alias("total_rev"),
        F.round(
            (
                F.lit(2) * F.col("__s1")
                - (F.col("__n") + F.lit(1)) * F.col("__s0")
            ).cast("double")
            / (F.col("__n") * F.col("__s0").cast("double")),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# RFM segmentation — quartile boundaries broadcast, in-row scoring.
# ---------------------------------------------------------------------------


@register(
    "rfm_segments",
    """
    WITH rfm AS (
      SELECT o_custkey,
             date_diff('day', max(o_orderdate),
                       TIMESTAMP '2001-09-01') AS recency_days,
             count(*) AS frequency,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY 1),
    q AS (
      SELECT quantile_cont(recency_days, 0.5) AS r_med,
             quantile_cont(frequency, 0.5) AS f_med,
             quantile_cont(monetary, 0.5) AS m_med
      FROM rfm)
    SELECT CASE WHEN recency_days <= r_med THEN 1 ELSE 0 END AS r_hi,
           CASE WHEN frequency > f_med THEN 1 ELSE 0 END AS f_hi,
           CASE WHEN monetary > m_med THEN 1 ELSE 0 END AS m_hi,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(floor(CAST(sum(CAST(monetary AS DECIMAL(18,2)))
                           AS DOUBLE) * 100 + 0.5) AS BIGINT)
             AS monetary_cents
    FROM rfm, q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
    "RFM customer segmentation: recency / frequency / monetary per "
    "customer (one orders hash agg), median split per dimension into "
    "8 cells. The three medians come from ONE 1-row percentile "
    "aggregate broadcast back as a scalar crossJoin; scoring is then "
    "a pure in-row comparison — no window, no second shuffle, no "
    "per-customer rank. Cuts compare against interpolated medians "
    "computed identically (quantile_cont ≡ percentile) on integer-"
    "valued inputs and exact decimal monetary sums; monetary renders "
    "in integer cents.",
)
def rfm_segments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("2001-09-01").cast("timestamp"), F.max("o_orderdate")
        ).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("monetary"),
    )
    q = rfm.agg(
        F.expr("percentile(recency_days, 0.5)").alias("r_med"),
        F.expr("percentile(frequency, 0.5)").alias("f_med"),
        F.expr("percentile(monetary, 0.5)").alias("m_med"),
    )
    return (
        rfm.crossJoin(F.broadcast(q))
        .select(
            F.when(F.col("recency_days") <= F.col("r_med"), 1)
            .otherwise(0)
            .alias("r_hi"),
            F.when(F.col("frequency") > F.col("f_med"), 1)
            .otherwise(0)
            .alias("f_hi"),
            F.when(F.col("monetary") > F.col("m_med"), 1)
            .otherwise(0)
            .alias("m_hi"),
            "monetary",
        )
        .groupBy("r_hi", "f_hi", "m_hi")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.floor(F.sum(F.col("monetary").cast("decimal(18,2)"))
                    .cast("double") * 100 + 0.5)
            .cast("bigint")
            .alias("monetary_cents"),
        )
        .orderBy("r_hi", "f_hi", "m_hi")
    )


# ---------------------------------------------------------------------------
# Two-sample KS drift over binned distributions.
# ---------------------------------------------------------------------------

_KS_BINS = 200


@register(
    "ks_drift_binned",
    f"""
    WITH lim AS (
      SELECT min(value) AS lo, max(value) AS hi FROM events
      WHERE event_type IN ('click', 'error') AND value IS NOT NULL),
    binned AS (
      SELECT CASE WHEN hi = lo THEN 0
                  ELSE least(CAST(floor((value - lo)
                                        / ((hi - lo) / {_KS_BINS}))
                                  AS BIGINT), {_KS_BINS - 1}) END AS bin,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS c1,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS c2
      FROM events, lim
      WHERE event_type IN ('click', 'error') AND value IS NOT NULL),
    agg AS (
      SELECT bin, sum(c1) AS n1, sum(c2) AS n2
      FROM binned GROUP BY bin),
    cum AS (
      SELECT sum(n1) OVER (ORDER BY bin) AS cum1,
             sum(n2) OVER (ORDER BY bin) AS cum2,
             sum(n1) OVER () AS t1, sum(n2) OVER () AS t2
      FROM agg)
    SELECT CAST(max(t1) AS BIGINT) AS n_click,
           CAST(max(t2) AS BIGINT) AS n_error,
           CAST(floor(1000000.0 * CAST(max(abs(cum1 * t2 - cum2 * t1))
                                       AS DOUBLE)
                      / (CAST(max(t1) AS DOUBLE) * max(t2)) + 0.5)
                AS BIGINT) AS ks_ppm
    FROM cum
    """,
    "Two-sample Kolmogorov-Smirnov drift statistic between the "
    "click-value and error-value distributions — the distribution-"
    "shift monitor next to corpus_divergence (which compares token "
    "mixes; this compares numeric marginals). Values bin to a fixed "
    "200-bin grid from the global 1-row min/max (broadcast scalar), "
    "one (bin, side) hash agg, then the CDF race runs over the "
    "AGGREGATED ≤200-row bin axis (audited metadata-scale window). "
    "The sup|F1-F2| comparison uses the INTEGER cross-product "
    "|cum1·n2 - cum2·n1| so the max is exact rational — no float "
    "CDFs — and only the final ratio quantizes to PPM.",
)
def ks_drift_binned_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "error")
        & F.col("value").isNotNull()
    ).select("event_type", "value")
    lim = ev.agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / _KS_BINS
    binned = ev.crossJoin(F.broadcast(lim)).select(
        # Degenerate guard: when every surviving value is equal the bin
        # width is 0 and x/0.0 is NaN/Inf (Spark floors it to NULL,
        # DuckDB errors) — collapse to bin 0 for a graceful 0-drift
        # result on both engines.
        F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("long"))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("value") - F.col("lo")) / width
                ).cast("long"),
                F.lit(_KS_BINS - 1),
            )
        ).alias("bin"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("c1"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("c2"),
    )
    agg = binned.groupBy("bin").agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    w_cum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # r16 (optimization round, guide §2.4): totals ride the SAME
    # single-partition window over the fixed _KS_BINS-row frame as the
    # cumulative sums (unbounded-following frame, identical order spec
    # → one WindowExec), replacing a separate aggregate + scalar
    # broadcast crossJoin — two fewer sequential stages.
    w_all = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = agg.select(
        F.sum("n1").over(w_cum).alias("cum1"),
        F.sum("n2").over(w_cum).alias("cum2"),
        F.sum("n1").over(w_all).alias("t1"),
        F.sum("n2").over(w_all).alias("t2"),
    )
    return (
        cum
        .agg(
            F.max("t1").cast("bigint").alias("n_click"),
            F.max("t2").cast("bigint").alias("n_error"),
            F.floor(
                1_000_000.0
                * F.max(
                    F.abs(
                        F.col("cum1") * F.col("t2")
                        - F.col("cum2") * F.col("t1")
                    )
                ).cast("double")
                / (
                    F.max("t1").cast("double")
                    * F.max("t2").cast("double")
                )
                + 0.5
            )
            .cast("bigint")
            .alias("ks_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Round-6 batch C: contrastive mining, bigram LM scoring, split-leakage
# audit.
# ---------------------------------------------------------------------------


@register(
    "hard_negative_mining",
    """
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings),
    q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv
          FROM e WHERE vec_id < 5),
    s AS (
      SELECT qid, e.vec_id,
             round(list_cosine_similarity(e.v, qv), 6) AS sim
      FROM e, q WHERE e.label <> qlabel),
    r AS (
      SELECT qid, vec_id, sim,
             row_number() OVER (PARTITION BY qid
                                ORDER BY sim DESC, vec_id) AS rn
      FROM s)
    SELECT qid, CAST(rn AS BIGINT) AS neg_rank, vec_id, sim
    FROM r WHERE rn <= 3 ORDER BY qid, neg_rank
    """,
    "§2.11 similarity — contrastive hard-negative mining: for each "
    "anchor (the 5 lowest-id vectors), the 3 most-similar vectors "
    "with a DIFFERENT label — the embedding-training prep that turns "
    "an ANN index into (anchor, hard-negative) pairs. The anchor set "
    "broadcasts (5 rows; the BNLJ is the audited scalar-broadcast "
    "kind), similarity is in-row, and the per-anchor top-3 is a "
    "5-partition window — anchors-per-batch bounds the fan-out, so "
    "at 100 TB the anchor set shards and each shard reruns the same "
    "plan. Cosines rounded 6dp (knn_cosine convention).",
)
def hard_negative_mining_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("qlabel"))
        .select(
            "qid",
            "vec_id",
            F.round(cosine(F.col("v"), F.col("qv")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= 3)
        .select(
            "qid",
            F.col("neg_rank").cast("bigint").alias("neg_rank"),
            "vec_id",
            "sim",
        )
        .orderBy("qid", "neg_rank")
    )


@register(
    "bigram_surprisal",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents),
    bg AS (
      SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg, toks[i] AS w1
      FROM t, unnest(range(1, len(toks))) AS u(i)
      WHERE len(toks) >= 2),
    tf2 AS (SELECT doc_id, bg, count(*) AS k FROM bg GROUP BY 1, 2),
    f2 AS (SELECT bg, min(w1) AS w1, count(*) AS c2
           FROM bg GROUP BY bg),
    f1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
    v AS (
      SELECT count(DISTINCT tok) AS vocab FROM (
        SELECT unnest(toks) AS tok FROM t))
    SELECT doc_id,
           CAST(sum(k) AS BIGINT) AS n_bigrams,
           round(sum(k * ln(CAST(c2 + 1 AS DOUBLE)
                            / CAST(c1 + vocab AS DOUBLE)))
                 / sum(k), 6) AS logprob
    FROM tf2
    JOIN f2 USING (bg)
    JOIN f1 ON f1.w1 = f2.w1
    CROSS JOIN v
    GROUP BY doc_id ORDER BY doc_id
    """,
    "§2.11 text analysis — bigram-LM document scoring: mean per-"
    "bigram log-probability under the corpus's own add-1-smoothed "
    "bigram model, p(w2|w1) = (c(w1 w2)+1)/(c(w1 ·)+V) — one step up "
    "from unigram_logprob's perplexity proxy, sensitive to scrambled "
    "word ORDER, not just vocabulary. Bigrams form in-row (zip_with "
    "of two slices, no index explode on the Spark side); only "
    "(doc, bigram, k) triples shuffle; left-token counts derive from "
    "the bigram frequency table (no second corpus pass); vocab size "
    "is a 1-row broadcast. Same ln idiom as unigram_logprob "
    "(driver-green r5).",
)
def bigram_surprisal_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import tokenize

    # r16 (guide §2.5 + §2.3): width-capped widening of the 1-split
    # text scan, (doc_id, text) projected before the exchange.
    # Interleaved A/B: min 1.79 → 1.53 s at width 8; full 32-way width
    # REGRESSED (1.73 → 3.0+ s — every task builds a near-full-
    # vocabulary agg map, parallelize_scan docstring), as did a
    # single-scan restructure deriving f2 from tf2 and the vocabulary
    # from bigram types (1.78 → 2.46 s, shuffle 4.6 → 8.6 MB: it
    # traded cheap map-side-combined branch shuffles for a second
    # full pass of the raw token stream through an exchange).
    # The AQE-final plan shows that exchange reuse across the widened
    # branches is PARTIAL at runtime — the doc-keyed branch pushes a
    # different projection below its exchange, so the AQE final plan
    # holds 3 text scans + 3 widening exchanges with 1 ReusedExchange,
    # not a single materialized scan. Acceptable by measurement: the
    # scan is O(compressed bytes), trivial next to the explode+agg work
    # in each branch, and the restructure that would force one scan is
    # exactly the rejected A/B above.
    d = parallelize_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark, cap=8,
    )
    toks = tokenize(F.col("text"))
    n = F.size(toks)
    bgs = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )
    tb = (
        d.filter(n >= 2)
        .select("doc_id", F.explode(bgs).alias("bg"))
    )
    tf2 = tb.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("k"))
    f2 = tb.groupBy("bg").agg(
        F.count(F.lit(1)).alias("c2")
    ).withColumn("w1", F.split(F.col("bg"), " ")[0])
    f1 = f2.groupBy(F.col("w1").alias("__w1")).agg(
        F.sum("c2").alias("c1")
    )
    vocab = (
        d.select(F.explode(toks).alias("tok"))
        .agg(F.countDistinct("tok").alias("vocab"))
    )
    return (
        tf2.join(f2, "bg")
        .join(f1, F.col("w1") == F.col("__w1"))
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum(
                    F.col("k")
                    * F.log(
                        (F.col("c2") + F.lit(1)).cast("double")
                        / (F.col("c1") + F.col("vocab")).cast("double")
                    )
                )
                / F.sum("k"),
                6,
            ).alias("logprob"),
        )
        .orderBy("doc_id")
    )


@register(
    "split_leakage_audit",
    """
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             ((vec_id % 4294967296) + 4294967296) % 4294967296 AS kk
      FROM embeddings),
    s AS (
      SELECT vec_id, label, v,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT vec_id, label, v,
                   ((kk // 65536 * 2654435761) % 4294967296 * 65536
                    + (kk % 65536) * 2654435761) % 4294967296 % 100
                     AS bucket
            FROM e)),
    pairs AS (
      SELECT a.split AS split_a, b.split AS split_b
      FROM s a JOIN s b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4)
    SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "§2.11 dedup — train/test leakage audit: after the deterministic "
    "80/10/10 hash split (dataset_split's engine-portable "
    "multiplicative hash on vec_id), count near-duplicate embedding "
    "pairs (within-cluster rounded cosine ≥ 0.4, "
    "semantic_dedup_clusters' candidate machinery: norms hoisted, "
    "Arrow einsum pair-dot) that CROSS split boundaries — the "
    "contamination a random split leaves behind and the number an "
    "eval-integrity report must publish. Off-diagonal rows "
    "(train->test, train->val) are the leaks; the dedup-then-split "
    "order fixes them.",
)
def split_leakage_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.setops import split_by_hash
    from ..operators.similarity import cluster_pair_cosines

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    s = split_by_hash(
        e, "vec_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    # Same per-cluster gram-matrix pair stage as
    # semantic_dedup_clusters; the split column rides through as a
    # carry, so no join-back is needed to label each pair's endpoints
    # (ka < kb inside the task == the oracle's a.vec_id < b.vec_id).
    return (
        cluster_pair_cosines(s, threshold=0.4, carry_cols=("split",))
        .filter(F.round(F.col("cos_raw"), 6) >= 0.4)
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .orderBy("split_a", "split_b")
    )


@register(
    "heavy_hitters_sketch",
    """
    WITH tok AS (
      SELECT unnest(list_filter(
               string_split_regex(lower(trim(text)), '\\s+'),
               x -> x <> '')) AS token
      FROM documents),
    tot AS (SELECT count(*) AS n FROM tok),
    c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1)
    SELECT token, CAST(cnt AS BIGINT) AS cnt
    FROM c, tot WHERE cnt * 65 > n
    ORDER BY cnt DESC, token
    """,
    "§2.11 text analysis — exact heavy hitters via the Misra-Gries "
    "sketch-then-verify pattern (operators/corpus.py:heavy_hitters): "
    "per-partition 64-counter MG summaries (Arrow mapInPandas, "
    "vectorized value_counts per batch — the per-partition state "
    "machine builtins can't express), whose union provably contains "
    "every token with global count > n/65; candidates broadcast and "
    "only THEIR occurrences aggregate — the full-vocabulary shuffle "
    "token_topn pays never happens. The sketch only shapes the "
    "candidate superset; the exact integer cut cnt·65 > n makes the "
    "result deterministic, hence this plain-GROUP-BY oracle.",
)
def heavy_hitters_sketch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import heavy_hitters

    return heavy_hitters(
        load_table(spark, sf_dir, "documents"), "text", k=64
    )


@register(
    "activity_streaks",
    """
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS day_num
      FROM events),
    grp AS (
      SELECT user_id, day_num,
             day_num - row_number() OVER (PARTITION BY user_id
                                          ORDER BY day_num) AS island
      FROM days),
    streaks AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS streak_days,
             strftime(DATE '1970-01-01'
                      + CAST(min(day_num) AS INTEGER), '%Y-%m-%d')
               AS streak_start,
             strftime(DATE '1970-01-01'
                      + CAST(max(day_num) AS INTEGER), '%Y-%m-%d')
               AS streak_end
      FROM grp GROUP BY user_id, island),
    best AS (
      SELECT user_id, streak_days, streak_start, streak_end,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY streak_days DESC,
                                         streak_start) AS rn
      FROM streaks)
    SELECT user_id, streak_days, streak_start, streak_end
    FROM best WHERE rn = 1 ORDER BY user_id
    """,
    "Gaps-and-islands: each user's LONGEST consecutive-active-day "
    "streak — the classic island id = day_num - row_number() trick; "
    "the engagement-streak KPI. One distinct (user, day) pre-agg "
    "(events collapse to the day axis FIRST), then two windows and "
    "one agg all sharing the user_id partitioning — a single "
    "shuffle end to end. Days as integer epoch-days internally "
    "(exact); boundary days render as strings.",
)
def activity_streaks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    epoch = F.lit("1970-01-01").cast("date")
    days = ev.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), epoch)
        .cast("bigint")
        .alias("day_num"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day_num")
    grp = days.withColumn(
        "island", F.col("day_num") - F.row_number().over(w)
    )
    streaks = grp.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).cast("bigint").alias("streak_days"),
        F.date_format(
            F.date_add(epoch, F.min("day_num").cast("int")), "yyyy-MM-dd"
        ).alias("streak_start"),
        F.date_format(
            F.date_add(epoch, F.max("day_num").cast("int")), "yyyy-MM-dd"
        ).alias("streak_end"),
    )
    wb = Window.partitionBy("user_id").orderBy(
        F.desc("streak_days"), "streak_start"
    )
    return (
        streaks.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select("user_id", "streak_days", "streak_start", "streak_end")
        .orderBy("user_id")
    )


@register(
    "golden_record_merge",
    """
    WITH ranked AS (
      SELECT user_id, event_type, value, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events),
    latest AS (
      SELECT user_id, event_type AS last_event_type,
             round(coalesce(value, 0.0), 4) AS last_value
      FROM ranked WHERE rn = 1),
    agg AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_seen,
             strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_seen
      FROM events GROUP BY user_id)
    SELECT agg.user_id, last_event_type, last_value, n_events,
           first_seen, last_seen
    FROM agg JOIN latest ON agg.user_id = latest.user_id
    ORDER BY agg.user_id
    """,
    "MDM-style survivorship / golden-record merge: one consolidated "
    "row per entity — most-recent attribute values (deterministic "
    "(ts, event_id) DESC tiebreak, the keep-LAST twin of D1's "
    "keep-first dedup) plus lifetime aggregates. The rank window and "
    "the aggregate share the user_id partitioning: one shuffle "
    "serves both, then a co-partitioned self-join stitches the "
    "record. Timestamps render as strings; value rounds 4dp.",
)
def golden_record_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    latest = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("user_id").alias("__uid"),
            F.col("event_type").alias("last_event_type"),
            F.round(F.coalesce("value", F.lit(0.0)), 4).alias(
                "last_value"
            ),
        )
    )
    agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "first_seen"
        ),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "last_seen"
        ),
    )
    return (
        agg.join(latest, F.col("user_id") == F.col("__uid"))
        .select(
            "user_id", "last_event_type", "last_value", "n_events",
            "first_seen", "last_seen",
        )
        .orderBy("user_id")
    )


@register(
    "lang_id_ngram",
    """
    WITH tg AS (
      SELECT doc_id, lang, substr(lower(text), i, 3) AS tri
      FROM documents,
           unnest(range(1, greatest(len(lower(text)) - 1, 1))) AS u(i)
      WHERE len(text) >= 3),
    prof AS (
      SELECT lang AS plang, tri,
             row_number() OVER (PARTITION BY lang
                                ORDER BY count(*) DESC, tri) AS rn
      FROM tg GROUP BY lang, tri),
    top AS (SELECT plang, tri FROM prof WHERE rn <= 20),
    dt AS (SELECT DISTINCT doc_id, lang, tri FROM tg),
    sc AS (
      SELECT doc_id, min(lang) AS lang,
             count(CASE WHEN plang = 'de' THEN 1 END) AS s_de,
             count(CASE WHEN plang = 'en' THEN 1 END) AS s_en,
             count(CASE WHEN plang = 'es' THEN 1 END) AS s_es,
             count(CASE WHEN plang = 'fr' THEN 1 END) AS s_fr
      FROM dt LEFT JOIN top USING (tri)
      GROUP BY doc_id),
    pred AS (
      SELECT lang,
             CASE WHEN s_de = 0 AND s_en = 0 AND s_es = 0 AND s_fr = 0
                  THEN 'und'
                  WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr
                  THEN 'de'
                  WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                  WHEN s_es >= s_fr THEN 'es'
                  ELSE 'fr' END AS predicted
      FROM sc)
    SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n
    FROM pred GROUP BY lang, predicted ORDER BY lang, predicted
    """,
    "§2.11 text analysis — character-n-gram language ID (the fastText/"
    "CLD-style heuristic, self-trained): per-language char-TRIGRAM "
    "profiles learned from the corpus itself (top-20 trigrams per "
    "lang label, count-desc tiebreak-trigram — deterministic), each "
    "document scored by how many of its DISTINCT trigrams hit each "
    "profile, argmax with the fixed de/en/es/fr tie order, zero hits "
    "→ 'und'. Two-pass plan: the profile agg is keyed (lang, tri) so "
    "its map-side combine collapses each task to its local trigram "
    "VOCABULARY (alphabet-bounded) — the only shuffle is "
    "metadata-scale regardless of corpus size; the learned 80-row "
    "profile collects to the driver (the sort-rank offsets pattern) "
    "and scoring runs entirely IN-ROW as contains() folds — a doc's "
    "distinct-trigram hit count against a profile ≡ how many profile "
    "trigrams its text contains. No corpus-scale (doc, tri) shuffle, "
    "no join, no second pass over exploded rows. "
    "Output is the (actual, predicted) confusion matrix, comparable "
    "against lang_id_confusion's stopword tier.",
)
def lang_id_ngram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(
        F.length("text") >= 3
    )
    # lower(text) hoists to a column BEFORE the per-element lambda —
    # inside transform() an enclosing expression re-evaluates per
    # element (the shingling lesson, README), turning O(n) lowering
    # into O(n·len).
    # parallelize_scan: a compressed single-file documents table scans
    # as 1-2 splits — the trigram explode would serialize on one core
    # (tables.py:parallelize_scan).
    # doc_id is pruned from the widened checkpointed frame — neither
    # pass uses it (the learn pass keys on
    # (lang, tri); the scoring pass groups straight to the
    # (lang, predicted) matrix), so it was dead weight in the exchange
    # and the checkpoint.
    low = parallelize_scan(
        d.select("lang", F.lower(F.col("text")).alias("lt")),
        spark,
    ).localCheckpoint(eager=False)
    tris = F.expr(
        "transform(sequence(1, greatest(length(lt) - 2, 1)),"
        " i -> substring(lt, i, 3))"
    )
    # Pass 1 — learn the profiles. The explode is the irreducible
    # corpus scan, but keying the agg by (lang, tri) means partial
    # aggregation reduces each task's output to its local trigram
    # vocabulary before anything shuffles. 80 result rows (20 per
    # language) come back to the driver — metadata-scale, like the
    # 32-row partition-offset collects in the sort-rank family.
    top = (
        low.select("lang", F.explode(tris).alias("tri"))
        .groupBy("lang", "tri")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("tri"))
        ))
        .filter(F.col("rn") <= 20)
        .select("lang", "tri")
        .collect()
    )
    profiles: dict[str, list[str]] = {}
    for r in top:
        profiles.setdefault(r["lang"], []).append(r["tri"])

    # Pass 2 — score in-row. "Number of DISTINCT doc trigrams hitting
    # the profile" ≡ "number of profile trigrams the text contains":
    # a shared trigram between two languages' profiles scores for
    # both, exactly like the reference LEFT JOIN fan-out. 20
    # contains() per language stay inside whole-stage codegen.
    def hits(plang: str):
        ts = profiles.get(plang, [])
        if not ts:
            return F.lit(0)
        total = F.col("lt").contains(F.lit(ts[0])).cast("int")
        for t in ts[1:]:
            total = total + F.col("lt").contains(F.lit(t)).cast("int")
        return total

    sc = low.select(
        "lang",
        hits("de").alias("s_de"),
        hits("en").alias("s_en"),
        hits("es").alias("s_es"),
        hits("fr").alias("s_fr"),
    )
    z = (
        (F.col("s_de") == 0) & (F.col("s_en") == 0)
        & (F.col("s_es") == 0) & (F.col("s_fr") == 0)
    )
    pred = (
        F.when(z, F.lit("und"))
        .when(
            (F.col("s_de") >= F.col("s_en"))
            & (F.col("s_de") >= F.col("s_es"))
            & (F.col("s_de") >= F.col("s_fr")),
            F.lit("de"),
        )
        .when(
            (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") >= F.col("s_fr")),
            F.lit("en"),
        )
        .when(F.col("s_es") >= F.col("s_fr"), F.lit("es"))
        .otherwise(F.lit("fr"))
    )
    return (
        sc.select("lang", pred.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("lang", "predicted")
    )
