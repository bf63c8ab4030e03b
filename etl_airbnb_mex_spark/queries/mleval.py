"""Round-7 model-evaluation / feature-preparation batch: the metrics a
training-data pipeline computes AFTER the corpus ops — distributed
ROC-AUC (rank-based Mann-Whitney), PSI population drift, WOE/IV
categorical encoding, probability calibration bins, the hashing trick,
and categorical mutual information.

None exist in the reference (its analysis stops at descriptive stats,
``nb:cell5-14``) — they extend §2's analytics family the same way the
LLM-prep batch extends §2.11. Shared determinism rules as the
queries/__init__ docstring: identical aliases both engines, integer
math until the final division wherever a statistic allows it, round 6dp
on emitted doubles.

Scale posture (the 100 TB designs):
  * roc_auc — never sorts rows globally: quantize scores to a fixed
    grid (bounds the distinct axis by the score RANGE, not the row
    count — the production scale axis; r9), aggregate by distinct
    quantized score, then rank the aggregated axis with the bucketed
    two-level prefix sum (``operators/stats.py:global_order_prefix``
    — one action, in-plan offsets, one lazy localCheckpoint of the
    grouped frame, zero driver round-trips), so ties get exact average
    ranks from integer prefix sums and no single task ever sees the
    data. ``roc_auc_exact`` keeps the unquantized form (documented
    input-sized-axis hazard for continuous scores).
  * psi_drift / calibration_bins — fixed-grid binning from a 1-row
    min/max broadcast (``ks_drift_binned``'s shape): one hash agg keyed
    by bin, everything after runs on ≤B rows.
  * woe_iv / mutual_info — one hash agg keyed by the category axis
    (map-side combine collapses each task to the category cardinality),
    margins re-aggregated from the joint frame, 1-row totals broadcast.
  * feature_hashing — explode is in-row fan-out; the agg is keyed
    (bucket, token) so the shuffle is vocabulary-bounded, then 64-row
    bucket rollup. The hash is md5-hex → int, portable across engines
    (same buckets everywhere — the train/serve skew killer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table
from . import register
from .extensions import _TOKS_SQL


# ---------------------------------------------------------------------------
# ROC-AUC — distributed rank-based Mann-Whitney with exact tie handling.
# ---------------------------------------------------------------------------


def _auc_from_grouped(g: DataFrame, bounded_axis: bool = False) -> DataFrame:
    """Rank-formulation AUC over a (score, n, np)-grouped frame: exact
    average ranks for tie groups from an exclusive prefix sum of n in
    score order, then one final aggregate. All integer via the ×2
    trick until the single float division.

    ``bounded_axis=True`` (the quantized ``roc_auc``): the grouped
    frame is bounded by the FIXED quantization grid — score range /
    grid step, ~10k rows at ANY input scale, 100 TB included — so the
    prefix runs as one plain unpartitioned window over the aggregated
    axis. That is the same metadata-scale single-partition argument as
    global_order_prefix's 4096-row bucket-total window, minus the
    machinery the general operator needs for UNBOUNDED axes: no
    localCheckpoint job, no min/max limits job, no bucket-total
    stages. Through that machinery the quantized plan's job chain was
    the q-suite's widest floor — 10 jobs / 0.71 s gap inside a 1.05 s
    wall at sf0.1 for 0.21 s of executor compute — and the chain was
    global_order_prefix's, not the data's.

    ``bounded_axis=False`` (``roc_auc_exact``): continuous scores make
    the grouped axis input-sized, so the prefix MUST stay distributed
    — the bucketed two-level prefix sum
    (operators/stats.py:global_order_prefix — one action, in-plan
    offsets, one lazy localCheckpoint of the grouped frame).
    """
    from ..operators.stats import global_order_prefix

    if bounded_axis:
        from pyspark.sql import Window

        w = (
            Window.orderBy("score")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        cum = g.withColumn(
            "cum",
            F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long"),
        )
    else:
        cum = global_order_prefix(g, "score", weight_col="n")
    t = cum.agg(
        F.sum(
            F.col("np") * (F.lit(2) * F.col("cum") + F.col("n") + F.lit(1))
        ).alias("pr2"),
        F.sum("np").alias("npos"),
        (F.sum("n") - F.sum("np")).alias("nneg"),
    )
    return t.select(
        F.col("npos").cast("bigint").alias("n_pos"),
        F.col("nneg").cast("bigint").alias("n_neg"),
        F.round(
            (F.col("pr2") - F.col("npos") * (F.col("npos") + 1))
            .cast("double")
            / (F.lit(2.0) * F.col("npos") * F.col("nneg")),
            6,
        ).alias("auc"),
    )


def _auc_grouped_frame(
    spark: SparkSession, sf_dir: str, score_expr,
) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .select(
            score_expr.alias("score"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        )
        .groupBy("score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("np"),
        )
    )


_AUC_SQL = """
    WITH s AS (
      SELECT {score} AS score,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem),
    g AS (
      SELECT score, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS np
      FROM s GROUP BY score),
    c AS (
      SELECT n, np,
             CAST(coalesce(sum(n) OVER (ORDER BY score
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS cum
      FROM g),
    t AS (
      SELECT CAST(sum(np * (2 * cum + n + 1)) AS BIGINT) AS pr2,
             CAST(sum(np) AS BIGINT) AS npos,
             CAST(sum(n) - sum(np) AS BIGINT) AS nneg
      FROM c)
    SELECT npos AS n_pos, nneg AS n_neg,
           round(CAST(pr2 - npos * (npos + 1) AS DOUBLE)
                 / (2.0 * npos * nneg), 6) AS auc
    FROM t
"""


@register(
    "roc_auc",
    _AUC_SQL.format(score="floor(l_extendedprice / 10.0)"),
    "Distributed ROC-AUC of a score column against a binary label "
    "(does l_extendedprice separate returned lineitems?) via the rank "
    "formulation AUC = (Σ_pos avgrank − n⁺(n⁺+1)/2)/(n⁺n⁻) — THE "
    "PRODUCTION, SCALE-SAFE FORM: scores are first QUANTIZED to a "
    "fixed grid (floor(score/10) on a ~1e5-scale price — identical "
    "expression both engines, so the statistic matches exactly), which "
    "bounds the distinct-score axis by the score RANGE instead of the "
    "row count. Without quantization, continuous model scores make "
    "distinct ≈ n and the ranked frame is input-sized — the r7 sf2 "
    "probe measured 11.2 s / 8.76× DuckDB on exactly that "
    "cardinality term; the quantized plan measured FLAT (1.5→2.2 s "
    "across 20× data). Within a grid cell pairs count as ties (0.5), "
    "so AUC error is bounded by the within-cell pair fraction "
    "(< 1e-4 here); tie-group average ranks at the quantized "
    "resolution stay EXACT — integer prefix sums over the grid-"
    "bounded aggregated axis via ONE plain window (the axis is ~10k "
    "rows BY CONSTRUCTION at any input scale, so "
    "the general bucketed prefix machinery was pure job-chain floor — "
    "10 jobs → 4, audited in _GLOBAL_WINDOW_OK). The bit-exact "
    "full-resolution form is registered as roc_auc_exact and keeps "
    "the distributed two-level prefix.",
)
def roc_auc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _auc_from_grouped(
        _auc_grouped_frame(
            spark, sf_dir, F.floor(F.col("l_extendedprice") / F.lit(10.0))
        ),
        bounded_axis=True,
    )


@register(
    "roc_auc_exact",
    _AUC_SQL.format(score="l_extendedprice"),
    "Bit-exact ROC-AUC at full score resolution — same rank "
    "formulation and bucketed two-level prefix sum as roc_auc, no "
    "quantization. DOCUMENTED SCALE HAZARD kept by design: with "
    "continuous scores the distinct-score axis ≈ n, so the grouped "
    "frame the prefix rank runs over is input-sized (r7 sf2 probe: "
    "11.2 s / 8.76× DuckDB). Correct at every scale, wall grows with "
    "score cardinality — use roc_auc (fixed-grid quantized, measured "
    "flat) as the production plan; this form is the exactness "
    "reference and the right choice when the score axis is already "
    "bounded (integer scores, probabilities rounded upstream).",
)
def roc_auc_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _auc_from_grouped(
        _auc_grouped_frame(spark, sf_dir, F.col("l_extendedprice"))
    )


# ---------------------------------------------------------------------------
# PSI population drift — fixed-grid bins, Laplace-smoothed.
# ---------------------------------------------------------------------------

_PSI_BINS = 20


@register(
    "psi_drift",
    f"""
    WITH ev AS (
      SELECT event_type, value FROM events
      WHERE event_type IN ('click', 'error') AND value IS NOT NULL),
    lim AS (SELECT min(value) AS lo, max(value) AS hi FROM ev),
    agg AS (
      SELECT CASE WHEN hi = lo THEN 0
                  ELSE least(CAST(floor((value - lo)
                                        / ((hi - lo) / {_PSI_BINS}))
                                  AS BIGINT), {_PSI_BINS - 1}) END AS bin,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n1,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n2
      FROM ev, lim GROUP BY 1),
    grid AS (
      SELECT CAST(unnest(range(0, {_PSI_BINS})) AS BIGINT) AS bin),
    full_g AS (
      SELECT grid.bin, coalesce(n1, 0) AS n1, coalesce(n2, 0) AS n2
      FROM grid LEFT JOIN agg ON grid.bin = agg.bin),
    tot AS (SELECT sum(n1) AS t1, sum(n2) AS t2 FROM full_g),
    terms AS (
      SELECT (n1 + 0.5) / (t1 + 0.5 * {_PSI_BINS}) AS p,
             (n2 + 0.5) / (t2 + 0.5 * {_PSI_BINS}) AS q,
             t1, t2
      FROM full_g, tot)
    SELECT CAST(max(t1) AS BIGINT) AS n_ref,
           CAST(max(t2) AS BIGINT) AS n_cur,
           round(sum((p - q) * ln(p / q)), 6) AS psi
    FROM terms
    """,
    "Population Stability Index between the click-value (reference) "
    "and error-value (current) distributions — the model-monitoring "
    "companion to ks_drift_binned (KS gives the sup-distance, PSI the "
    "expected log-odds shift). Values bin to a fixed 20-bin grid from "
    "the global 1-row min/max broadcast (degenerate hi=lo collapses to "
    "bin 0), ONE (bin)-keyed hash agg, then the full grid is "
    "enumerated via sequence-explode + left join so empty bins "
    "contribute their Laplace-smoothed (+0.5) terms identically on "
    "both engines. Everything after the agg runs on 20 rows.",
)
def psi_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isin("click", "error")
            & F.col("value").isNotNull()
        )
        .select("event_type", "value")
    )
    lim = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / _PSI_BINS
    binned = ev.crossJoin(F.broadcast(lim)).select(
        F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("long"))
        .otherwise(
            F.least(
                F.floor((F.col("value") - F.col("lo")) / width).cast("long"),
                F.lit(_PSI_BINS - 1),
            )
        )
        .alias("bin"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("c1"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("c2"),
    )
    agg = binned.groupBy("bin").agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    grid = lim.select(
        F.explode(F.sequence(F.lit(0), F.lit(_PSI_BINS - 1))).alias("b")
    ).select(F.col("b").cast("long").alias("bin"))
    full_g = (
        grid.join(agg, "bin", "left")
        .select(
            "bin",
            F.coalesce("n1", F.lit(0)).alias("n1"),
            F.coalesce("n2", F.lit(0)).alias("n2"),
        )
    )
    # r16 (optimization round, guide §2.4): totals as an unpartitioned
    # window over the fixed _PSI_BINS-row frame instead of a separate
    # aggregate + scalar broadcast crossJoin — two fewer stages; the
    # frame is grid-bounded at any input scale.
    from pyspark.sql import Window

    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    p = (F.col("n1") + 0.5) / (F.col("t1") + 0.5 * _PSI_BINS)
    q = (F.col("n2") + 0.5) / (F.col("t2") + 0.5 * _PSI_BINS)
    return (
        full_g.select(
            "n1", "n2",
            F.sum("n1").over(wall).alias("t1"),
            F.sum("n2").over(wall).alias("t2"),
        )
        .select(p.alias("p"), q.alias("q"), "t1", "t2")
        .agg(
            F.max("t1").cast("bigint").alias("n_ref"),
            F.max("t2").cast("bigint").alias("n_cur"),
            F.round(
                F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))),
                6,
            ).alias("psi"),
        )
    )


# ---------------------------------------------------------------------------
# WOE / IV categorical encoding.
# ---------------------------------------------------------------------------


@register(
    "woe_iv",
    """
    WITH s AS (
      SELECT o_orderpriority AS category,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders),
    g AS (
      SELECT category, CAST(sum(y) AS BIGINT) AS np,
             CAST(count(*) - sum(y) AS BIGINT) AS nn
      FROM s GROUP BY category),
    tot AS (
      SELECT CAST(sum(np) AS BIGINT) AS tp, CAST(sum(nn) AS BIGINT) AS tn,
             CAST(count(*) AS BIGINT) AS k
      FROM g),
    w AS (
      SELECT category, np, nn,
             (np + 0.5) / (tp + 0.5 * k) AS pd,
             (nn + 0.5) / (tn + 0.5 * k) AS qd
      FROM g, tot)
    SELECT category, np AS n_pos, nn AS n_neg,
           round(ln(pd / qd), 6) AS woe,
           round(sum((pd - qd) * ln(pd / qd)) OVER (), 6) AS iv
    FROM w ORDER BY category
    """,
    "Weight-of-evidence / information-value encoding of a categorical "
    "feature against a binary label (order priority vs order-finished) "
    "— the credit-scoring-style supervised encoder next to "
    "target_encode's mean encoder. One (category)-keyed hash agg "
    "(map-side combine collapses each task to the category "
    "cardinality); WOE and the summed IV are "
    "Laplace-smoothed (+0.5) so empty cells stay finite on both "
    "engines. r16 (optimization round, guide §2.4): totals and the "
    "summed IV come from unpartitioned windows OVER the k-row "
    "category frame — exactly the oracle's OVER () shape — instead of "
    "two scalar aggregate+broadcast branches; the category axis is "
    "bounded (|priorities| = 5) so the single-partition window is the "
    "same metadata-scale argument as the 4096-row bucket windows. "
    "8 → 4 jobs; the checkpoint is gone too (one consumer now).",
)
def woe_iv_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    g = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderpriority").alias("category"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        )
        .groupBy("category")
        .agg(
            F.sum("y").cast("long").alias("np"),
            (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("nn"),
        )
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pd_ = (F.col("np") + 0.5) / (F.col("tp") + 0.5 * F.col("k"))
    qd = (F.col("nn") + 0.5) / (F.col("tn") + 0.5 * F.col("k"))
    w = g.select(
        "category", "np", "nn",
        F.sum("np").over(wall).alias("tp"),
        F.sum("nn").over(wall).alias("tn"),
        F.count(F.lit(1)).over(wall).alias("k"),
    ).select(
        "category", "np", "nn",
        pd_.alias("pd"), qd.alias("qd"),
    )
    iv_raw = F.sum(
        (F.col("pd") - F.col("qd")) * F.log(F.col("pd") / F.col("qd"))
    ).over(wall)
    return (
        w.select(
            "category",
            F.col("np").cast("bigint").alias("n_pos"),
            F.col("nn").cast("bigint").alias("n_neg"),
            F.round(F.log(F.col("pd") / F.col("qd")), 6).alias("woe"),
            F.round(iv_raw, 6).alias("iv"),
        )
        .orderBy("category")
    )


# ---------------------------------------------------------------------------
# Probability calibration bins.
# ---------------------------------------------------------------------------


@register(
    "calibration_bins",
    """
    WITH s AS (
      SELECT least(CAST(floor(l_discount / 0.1 * 10) AS BIGINT), 9) AS bin,
             CAST(l_discount AS DECIMAL(18,2)) AS d,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem)
    SELECT bin, CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(d) AS DOUBLE) / count(*) / 0.1, 6) AS mean_score,
           round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS frac_pos
    FROM s GROUP BY bin ORDER BY bin
    """,
    "Reliability-diagram calibration bins: a [0,1] score (discount "
    "rescaled by its 0.1 domain max) vs the returned-flag label, 10 "
    "equal-width bins, per-bin mean predicted score and observed "
    "positive rate — the calibration audit every scored dataset ships "
    "with. Pure single hash agg keyed by the 10-bin axis; in-row "
    "binning, no totals, no window.",
)
def calibration_bins_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = F.col("l_discount") / 0.1
    s = load_table(spark, sf_dir, "lineitem").select(
        F.least(F.floor(p * 10).cast("long"), F.lit(9)).alias("bin"),
        # the mean goes through DECIMAL (registry rule #2: double sums
        # are partition-order-dependent; discounts are exact 2dp)
        F.col("l_discount").cast("decimal(18,2)").alias("d"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    return (
        s.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.sum("d").cast("double") / F.count(F.lit(1)) / 0.1, 6
            ).alias("mean_score"),
            F.round(
                F.sum("y").cast("double") / F.count(F.lit(1)), 6
            ).alias("frac_pos"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Feature hashing (the hashing trick) — portable md5-hex buckets.
# ---------------------------------------------------------------------------

_FH_BUCKETS = 64


@register(
    "feature_hashing",
    f"""
    WITH tok AS (
      SELECT unnest({_TOKS_SQL}) AS t FROM documents),
    tk AS (
      SELECT t, ('0x' || substr(md5(t), 1, 8))::BIGINT % {_FH_BUCKETS}
               AS bucket
      FROM tok),
    g AS (SELECT bucket, t, count(*) AS k FROM tk GROUP BY 1, 2)
    SELECT bucket, CAST(sum(k) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct
    FROM g GROUP BY bucket ORDER BY bucket
    """,
    "The hashing trick: whitespace tokens hashed into a fixed "
    f"{_FH_BUCKETS}-bucket feature space — the unbounded-vocabulary "
    "featurizer (no dictionary to build, ship, or version). The hash "
    "is md5-hex-prefix → int, PORTABLE across engines (Spark conv() ≡ "
    "DuckDB hex cast), so train-side and serve-side buckets agree — "
    "the same property the dataset_split / sampling family gets from "
    "the multiplicative hash. Explode is in-row fan-out; the first agg "
    "is keyed (bucket, token) so the shuffle is vocabulary-bounded "
    "(never corpus-scale), then a 64-row bucket rollup reports load "
    "and collision pressure per bucket.",
)
def feature_hashing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokenize

    d = load_table(spark, sf_dir, "documents")
    tk = d.select(F.explode(tokenize("text")).alias("t")).select(
        "t",
        F.pmod(
            F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long"),
            F.lit(_FH_BUCKETS),
        ).alias("bucket"),
    )
    g = tk.groupBy("bucket", "t").agg(F.count(F.lit(1)).alias("k"))
    return (
        g.groupBy("bucket")
        .agg(
            F.sum("k").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Mutual information between two categorical columns.
# ---------------------------------------------------------------------------


@register(
    "mutual_info",
    """
    WITH j AS (
      SELECT c_mktsegment AS x, c_nationkey AS yk,
             CAST(count(*) AS BIGINT) AS nxy
      FROM customer GROUP BY 1, 2),
    mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM j GROUP BY x),
    my AS (SELECT yk, CAST(sum(nxy) AS BIGINT) AS ny FROM j GROUP BY yk),
    tot AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM j)
    SELECT CAST(max(n) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_cells,
           round(sum((CAST(nxy AS DOUBLE) / n)
                     * ln((CAST(nxy AS DOUBLE) * n)
                          / (CAST(nx AS DOUBLE) * ny))), 6) AS mi_nats
    FROM j JOIN mx USING (x) JOIN my USING (yk), tot
    """,
    "Mutual information (nats) between two categorical columns — "
    "market segment × nation: the dependence screen next to "
    "chi_square_assoc (χ² tests significance, MI measures shared "
    "information; both read off the same contingency table). ONE "
    "(x, y)-keyed hash agg builds the joint table (map-side combine "
    "collapses each task to the cell cardinality); margins and the "
    "total come from windows OVER the joint frame (never re-scan the "
    "fact table). r16 (optimization round, guide §2.4): the margins "
    "were three separate aggregate branches broadcast-joined back "
    "(which also forced a localCheckpoint to stop the fork from "
    "re-aggregating) — as windows on the ≤|segments|·|nations|-row "
    "cell axis they are three narrow metadata-scale exchanges in one "
    "linear chain: 9 → 5 jobs, checkpoint gone. The log argument is "
    "composed identically on both engines ((nxy·n)/(nx·ny) in double) "
    "so the rounded sums agree bitwise.",
)
def mutual_info_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    j = (
        load_table(spark, sf_dir, "customer")
        .groupBy(
            F.col("c_mktsegment").alias("x"),
            F.col("c_nationkey").alias("yk"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("nxy"))
    )
    whole = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cells = j.select(
        "nxy",
        F.sum("nxy").over(Window.partitionBy("x").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )).alias("nx"),
        F.sum("nxy").over(Window.partitionBy("yk").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )).alias("ny"),
        F.sum("nxy").over(whole).alias("n"),
    )
    mi_term = (F.col("nxy").cast("double") / F.col("n")) * F.log(
        (F.col("nxy").cast("double") * F.col("n"))
        / (F.col("nx").cast("double") * F.col("ny"))
    )
    return cells.agg(
        F.max("n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.round(F.sum(mi_term), 6).alias("mi_nats"),
    )
