"""Statistics operators (SURVEY.md §2.5 A5–A7, A9–A10, A13–A16).

Every statistic is a single hash-aggregate pass (partial + final for
free); *exact* percentiles/median are used so the DuckDB oracle
(``quantile_cont``) and pandas (linear interpolation) match. The
``percentile_approx`` sketch is used only where a query asks for it
(``percentiles_approx``).

Exact quantiles have one entry point, :func:`exact_quantiles`. It
reads Spark's optimizer estimate of the projected value column and
runs :func:`exact_percentiles_native` (one ``percentile`` aggregate,
fused with the caller's moments) when the estimate is at most
``NATIVE_QUANTILE_MAX_BYTES``, else
:func:`exact_percentiles_bucket_select` (shuffle-bounded memory at any
size). Both return the same row: NaN and NULL are missing (pandas
skipna, the reference's semantics) and values between two ranks are
interpolated linearly as by ``quantile_cont`` (bucket-select evaluates
its exact ``(1 − d)·lo + d·hi``; Spark's ``percentile`` can differ in
the last bit, far below the 6-dp rounding).

Operators that need a global sort order — bucket-select,
:func:`global_order_prefix` (and the equi-depth histogram on it) and
:func:`skyline_2d` — share one bucketed order, :func:`_bucketed`:
equal-width buckets between the finite limits of a 1-row aggregate,
per-bucket totals with their exclusive offsets on a ≤4096-row frame,
and exact order only inside a bucket. No global sort, no driver
round-trip.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

ROUND_DP = 6

#: Largest optimizer estimate (``optimizedPlan().stats().sizeInBytes``
#: of the projected double column, the figure Spark compares with
#: ``autoBroadcastJoinThreshold``) that takes the native ``percentile``
#: aggregate. Its value map holds every distinct value, so on a
#: high-distinct column bucket-select's two scans win from some size.
#: Measured with six cut points on local[4] (4 vCPUs, warm JVM, median
#: of 3; sf1 one run): wall s native / bucket-select, estimate in bytes.
#: The 150k/300k rows are the first rows of sf0.1 lineitem; sf1 is
#: sf0.1 tiled ten times (scripts/make_scaledata.py).
#:
#:   input               rows   estimate  l_extendedprice  l_quantity
#:   lineitem sf0.01      60k    143,788      0.33 / 1.42  0.13 / 1.26
#:   lineitem rows       150k    428,540      0.72 / 1.32
#:   lineitem rows       300k    762,760      1.32 / 1.21
#:   lineitem sf0.1      600k  1,492,266      3.17 / 1.27  0.21 / 1.30
#:   lineitem sf1          6M 15,177,952      6.98 / 2.84  0.45 / 2.55
#:
#:   input               rows   estimate     o_totalprice
#:   orders sf0.01        15k     56,279      0.17 / 1.28
#:   orders sf0.1        150k    544,753      0.59 / 1.15
#:   orders sf1          1.5M  4,585,374      0.99 / 1.72
#:
#: Native loses only when the column is high-distinct (l_extendedprice
#: from ~300k rows); the estimate cannot see distinct counts, so the cut
#: guards that case: 640 KiB lies between 544,753 B (native 2× faster)
#: and 762,760 B (break-even on l_extendedprice).
NATIVE_QUANTILE_MAX_BYTES = 640 * 1024


def _r(c: Column, dp: int = ROUND_DP) -> Column:
    """Round a float aggregate — both engine and oracle round to the same
    dp before hashing (SURVEY.md §7.4.12)."""
    return F.round(c, dp)


def _pname(p: float) -> str:
    return f"p{int(p * 100)}"


def _no_nan(col: str) -> Column:
    """``col`` as double with NaN turned into NULL (aggregates skip it)."""
    v = F.col(col).cast("double")
    return F.when(~F.isnan(v), v)


def _interpolate(lo: Column, hi: Column, k: Column) -> Column:
    """``quantile_cont``'s ``(1 − d)·lo + d·hi`` at fractional rank k.
    An integral k returns lo itself: ``0·±Inf`` is NaN, so the formula
    would turn an exact hit on an infinite value into NaN."""
    d = k - F.floor(k)
    return F.when(F.floor(k) == F.ceil(k), lo).otherwise(
        (1 - d) * lo + d * hi
    )


def exact_percentiles_native(
    df: DataFrame,
    col: str,
    ps: tuple[float, ...],
    dp: int | None = ROUND_DP,
    keep_n: bool = False,
    moments: dict[str, Column] | None = None,
) -> DataFrame:
    """Exact percentiles as ONE ``percentile(v, array(ps))`` aggregate
    over the NaN-masked column, with ``moments`` (aggregate Columns
    over ``df``'s own columns, e.g. ``{"cnt": F.count(col)}``) in the
    same aggregate: one scan, two jobs. The value map it builds holds
    every distinct value, which is why :func:`exact_quantiles` only
    sends small plans here.

    Returns one row: ``p25 …`` (``dp``-rounded, raw when ``dp`` is
    None), then ``n`` (the non-NULL, non-NaN count) when ``keep_n``,
    then the moment columns. Empty input gives NULL quantiles.
    """
    moments = moments or {}
    masked = _no_nan(col)
    # one array-valued aggregate for all cut points: k separate
    # percentile calls would each buffer the whole column
    arr = F.array(*[F.lit(p) for p in ps])
    aggs = [F.percentile(masked, arr).alias("__q")]
    if keep_n:
        aggs.append(F.count(masked).alias("n"))
    aggs += [c.alias(name) for name, c in moments.items()]
    out = []
    for i, p in enumerate(ps):
        q = F.element_at("__q", i + 1)
        out.append((q if dp is None else F.round(q, dp)).alias(_pname(p)))
    return df.agg(*aggs).select(
        *out, *(["n"] if keep_n else []), *moments
    )


def _estimated_bytes(df: DataFrame, col: str) -> int:
    """Spark's optimizer size estimate of ``col`` projected as double."""
    plan = df.select(F.col(col).cast("double"))._jdf.queryExecution()
    return int(plan.optimizedPlan().stats().sizeInBytes())


def _quantile_path(df: DataFrame, col: str):
    """The exact-quantile branch for this input: native when Spark's
    estimate is at most ``NATIVE_QUANTILE_MAX_BYTES``, else
    bucket-select."""
    if _estimated_bytes(df, col) <= NATIVE_QUANTILE_MAX_BYTES:
        return exact_percentiles_native
    return exact_percentiles_bucket_select


def exact_quantiles(
    df: DataFrame,
    col: str,
    ps: tuple[float, ...],
    dp: int | None = ROUND_DP,
    keep_n: bool = False,
    moments: dict[str, Column] | None = None,
) -> DataFrame:
    """The engine's one exact-quantile entry point: the branch
    :func:`_quantile_path` picks, called with the same arguments. Both
    branches give the same one-row frame (see
    :func:`exact_percentiles_native`); the choice changes cost, never
    the rounded answer."""
    return _quantile_path(df, col)(
        df, col, ps, dp=dp, keep_n=keep_n, moments=moments
    )


def describe_stats(df: DataFrame, col: str) -> DataFrame:
    """A5 — df.describe(): count/mean/std/min/p25/p50/p75/max, one row.

    Reference: nb:cell7:30-35. std is sample stddev (pandas ddof=1).
    Mean = plain double avg: a decimal-cast sum would silently round
    values with >4 fractional digits and NULL-overflow values ≥ 1e16 —
    this operator serves arbitrary columns, so correctness beats the
    last-bit partition-order determinism (rounding to 6 dp absorbs the
    ~1e-12 relative summation variance, same policy as stddev/corr).

    The moments keep Spark aggregate semantics (count includes NaN
    rows, mean/std/max turn NaN); the quartiles skip NaN. Exact
    quartiles come from :func:`exact_quantiles` with the moments fused
    into the same pass (the native aggregate on small plans,
    bucket-select's limits aggregate on large ones).
    """
    c = F.col(col)
    moments = {
        "cnt": F.count(c),
        "mean": _r(F.avg(c)),
        "std": _r(F.stddev_samp(c)),
        "min": _r(F.min(c)),
        "max": _r(F.max(c)),
    }
    q = exact_quantiles(df, col, (0.25, 0.50, 0.75), moments=moments)
    return q.select("cnt", "mean", "std", "min", "p25", "p50", "p75", "max")


def percentiles(
    df: DataFrame, col: str, ps: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.95, 0.99),
) -> DataFrame:
    """A7 — exact percentiles at the reference's cut points
    (nb:cell9:37-41), one row ``p25 … p99`` rounded to 6 dp (F.round:
    HALF_UP, as the oracle), through :func:`exact_quantiles`. NaN is
    missing (pandas ``quantile`` skips it; Spark's raw aggregates would
    count it and sort it greatest)."""
    return exact_quantiles(df, col, ps)


def mad_robust(df: DataFrame, col: str) -> DataFrame:
    """Robust location/scale: median and MAD (median absolute deviation)
    — the outlier-resistant alternative to mean/stddev for skewed
    distributions (A15's IQR cousin). One row: (median, mad).

    Both medians are exact and unrounded until the end. The branch is
    chosen once, on ``df``: the deviation frame's estimate is inflated
    by its scalar crossJoin and says nothing new about the size. The
    first median broadcasts back as a 1-row scalar; the deviation
    column is a pure projection the second median consumes lazily.
    """
    median = _quantile_path(df, col)
    med = median(df, col, (0.5,), dp=None)
    dev = (
        df.filter(F.col(col).isNotNull())
        .crossJoin(F.broadcast(med.select(F.col("p50").alias("__med"))))
        .select(
            F.col("__med"),
            F.abs(F.col(col) - F.col("__med")).alias("__ad"),
        )
    )
    madq = median(dev, "__ad", (0.5,), dp=None)
    return (
        med.select(_r(F.col("p50")).alias("median"))
        .crossJoin(
            F.broadcast(madq.select(_r(F.col("p50")).alias("mad")))
        )
    )


def feature_scale(
    df: DataFrame, cols: tuple[str, ...], keep: tuple[str, ...] = (),
) -> DataFrame:
    """ML-prep feature scaling: per column, min-max to [0,1] and
    z-score (sample stddev), appended as ``<col>_minmax`` /
    ``<col>_z``. Constant columns yield NULL (0/0 guard via nullif)
    rather than NaN so sinks and oracles agree.

    Plan: ONE aggregate pass computes all 4·len(cols) statistics
    (partial + final hash agg), joined back as a broadcast 1-row scalar;
    the scaling itself is a pure projection — no shuffle of data rows.
    Float policy: round to 6 dp (same as describe_stats — absorbs the
    ~1e-12 summation-order variance of avg/stddev across engines).
    """
    aggs = []
    for c in cols:
        aggs += [
            F.min(c).alias(f"__mn_{c}"),
            F.max(c).alias(f"__mx_{c}"),
            F.avg(c).alias(f"__mu_{c}"),
            F.stddev_samp(c).alias(f"__sd_{c}"),
        ]
    stats_row = df.agg(*aggs)
    scaled = []
    for c in cols:
        rng = F.nullif(F.col(f"__mx_{c}") - F.col(f"__mn_{c}"), F.lit(0.0))
        sd = F.nullif(F.col(f"__sd_{c}"), F.lit(0.0))
        scaled += [
            _r((F.col(c) - F.col(f"__mn_{c}")) / rng).alias(f"{c}_minmax"),
            _r((F.col(c) - F.col(f"__mu_{c}")) / sd).alias(f"{c}_z"),
        ]
    return df.crossJoin(F.broadcast(stats_row)).select(
        *keep, *cols, *scaled
    )


def anomaly_zscore(
    df: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...],
    id_cols: tuple[str, ...],
    threshold: float = 3.0,
) -> DataFrame:
    """Grouped z-score anomaly screen: rows whose value deviates more
    than ``threshold`` sample standard deviations from their group mean.
    The grouped generalization of A15's IQR outlier gate.

    Plan: group stats are ONE hash agg over (group_cols) — a frame with
    one row per group, joined back onto the stream with NO forced
    broadcast hint: the stats side's size is the group cardinality,
    which can be billions of rows at 100 TB, so the strategy is left to
    AQE — it broadcasts when the agg output is actually small and falls
    back to a shuffle join when it isn't (a forced ``F.broadcast``
    would OOM the driver on high-cardinality groups). Filter +
    projection only after the join: no second shuffle. The threshold
    compares the ROUNDED z (6 dp) so both engines gate on the identical
    value.
    """
    stats_df = df.groupBy(*group_cols).agg(
        F.avg(value_col).alias("__mu"),
        F.stddev_samp(value_col).alias("__sd"),
    )
    z = _r((F.col(value_col) - F.col("__mu"))
           / F.nullif(F.col("__sd"), F.lit(0.0)))
    return (
        df.join(stats_df, list(group_cols))
        .select(*id_cols, *group_cols, F.col(value_col), z.alias("z"))
        .filter(F.abs(F.col("z")) > threshold)
    )


#: Equal-width buckets of the bucketed global order: the per-bucket
#: frame is at most this many rows at any input size.
_BUCKETS = 4096


def _limits(
    df: DataFrame, v: Column, aggs: dict[str, Column] | None = None
) -> DataFrame:
    """The 1-row limits frame of the bucketed order: min and max of the
    FINITE values of ``v`` (a NaN or infinite limit would poison every
    bucket through the width) and the caller's ``aggs``, all in ONE
    aggregate over ``df``."""
    inf = float("inf")
    # Spark orders NaN above +Inf, so this also masks NaN
    finite = F.when((v > -inf) & (v < inf), v)
    return df.agg(
        F.min(finite).alias("__lo"),
        F.max(finite).alias("__hi"),
        *[c.alias(name) for name, c in (aggs or {}).items()],
    )


def _bucketed(
    df: DataFrame,
    v: Column,
    lim: DataFrame,
    weight: Column,
    agg=F.sum,
) -> tuple[DataFrame, DataFrame]:
    """The bucketed global order behind bucket-select,
    :func:`global_order_prefix` and :func:`skyline_2d`.

    ``binned`` is ``df`` with the broadcast ``lim`` columns and
    ``__bkt``: an equal-width bucket of the double ``v`` between
    ``__lo`` and ``__hi`` — ``floor`` of a monotone transform, so
    bucket order is ``v``'s order. Bucket order equals Spark's
    ascending sort end to end (NULL < −Inf < finite < +Inf < NaN):
    NULL takes bucket −1, −Inf bucket 0, +Inf and NaN the top bucket,
    where the caller's within-bucket ``orderBy`` places them exactly.
    A column with ``hi == lo`` collapses to bucket 0, and with no
    finite value the limits are NULL and only the pinned branches run.

    ``buckets`` has one row per occupied bucket: ``__bn`` =
    ``agg(weight)``, ``__boff`` = ``agg`` over every earlier bucket (0
    for an empty sum, NULL for an empty max) and ``__gtot`` = ``agg``
    over all of them. Both windows share one spec and run on the
    ≤``_BUCKETS``-row bucket frame, never on the data.
    """
    lo, hi = F.col("__lo"), F.col("__hi")
    top = F.lit(_BUCKETS - 1).cast("long")
    bkt = (
        F.when(v.isNull(), F.lit(-1).cast("long"))
        .when(F.isnan(v) | (v == float("inf")), top)
        .when((v == float("-inf")) | (hi == lo), F.lit(0).cast("long"))
        .otherwise(
            F.least(
                F.floor((v - lo) / ((hi - lo) / _BUCKETS)).cast("long"), top
            )
        )
    )
    binned = df.crossJoin(F.broadcast(lim)).withColumn("__bkt", bkt)
    order = Window.orderBy("__bkt")
    off = agg("__bn").over(order.rowsBetween(Window.unboundedPreceding, -1))
    if agg is F.sum:
        off = F.coalesce(off, F.lit(0))
    buckets = binned.groupBy("__bkt").agg(agg(weight).alias("__bn")).select(
        "__bkt",
        "__bn",
        off.alias("__boff"),
        agg("__bn").over(
            order.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__gtot"),
    )
    return binned, buckets


def exact_percentiles_bucket_select(
    df: DataFrame,
    col: str,
    ps: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.95, 0.99),
    dp: int | None = ROUND_DP,
    keep_n: bool = False,
    moments: dict[str, Column] | None = None,
) -> DataFrame:
    """Exact percentiles as ONE lazy plan that never ranks the full
    column and never holds it in memory — the large-plan branch of
    :func:`exact_quantiles`. Selecting quantiles only needs exact ranks
    INSIDE the buckets that contain the target ranks:

    1. Pass 1 — the 1-row limits aggregate over ``df`` (finite
       min/max, with the caller's ``moments`` in the same frame), then
       the :func:`_bucketed` histogram:
       ONE hash agg keyed on bucket (map-side combine collapses each
       task to ≤4096 longs) with exclusive offsets and the total n.
    2. In-plan target selection: a bucket is a TARGET iff
       [offset, offset+count) contains ⌊k_p⌋ or ⌈k_p⌉ for some cut
       point k_p = (n−1)·p — ≤ 2·|ps| buckets, broadcast.
    3. Pass 2 — candidates = rows in target buckets (broadcast hash
       join prunes ~99.7 % of rows before any shuffle); a per-bucket
       window sorts ONLY the candidates (offset + row_number − 1 =
       exact 0-based global rank); the pick / interpolate tail runs on
       ≤ 2·|ps| rows.

    Shuffle volume is 4096 bucket partials + n/4096·2·|ps| candidates.
    Degenerate cases degrade, never break: hi == lo (or a point-mass
    bucket holding a target rank) makes that bucket's whole mass the
    candidate set. NULL and NaN are filtered up front (pandas skipna);
    ±Inf pin to the edge buckets and sort correctly inside them.

    Returns the same row as :func:`exact_percentiles_native`: ``p25 …``
    (``dp``-rounded, raw when ``dp`` is None), ``n`` when ``keep_n``
    (0 on empty input), then the ``moments`` (aggregate Columns over
    ``df``'s own columns), read from the 1-row limits frame, so they
    keep their empty-input values (a count reads 0). Spark's column
    pruning gives that read its own copy of the limits aggregate,
    holding only the moments.
    """
    moments = moments or {}
    v = F.col(col).cast("double")
    lim = _limits(df, v, moments)
    vals = df.select(v.alias("v")).filter(
        F.col("v").isNotNull() & ~F.isnan("v")
    )
    binned, buckets = _bucketed(vals, F.col("v"), lim, F.lit(1))
    k = lambda p: (F.col("__gtot") - 1) * F.lit(p)  # noqa: E731
    in_bucket = F.lit(False)
    for p in ps:
        for edge in (F.floor(k(p)), F.ceil(k(p))):
            in_bucket = in_bucket | (
                (edge >= F.col("__boff"))
                & (edge < F.col("__boff") + F.col("__bn"))
            )
    targets = buckets.filter(in_bucket).select("__bkt", "__boff", "__gtot")
    cand = binned.join(F.broadcast(targets), "__bkt")
    ww = Window.partitionBy("__bkt").orderBy("v")
    ranked = cand.withColumn(
        "__r0", F.col("__boff") + F.row_number().over(ww) - 1
    )
    pick = F.lit(False)
    for p in ps:
        pick = pick | (F.col("__r0") == F.floor(k(p))) | (
            F.col("__r0") == F.ceil(k(p))
        )
    aggs = [F.max("__gtot").alias("__gtot")]
    out_cols = []
    for i, p in enumerate(ps):
        aggs += [
            F.max(F.when(F.col("__r0") == F.floor(k(p)), F.col("v")))
            .alias(f"__lo_{i}"),
            F.max(F.when(F.col("__r0") == F.ceil(k(p)), F.col("v")))
            .alias(f"__hi_{i}"),
        ]
        q = _interpolate(F.col(f"__lo_{i}"), F.col(f"__hi_{i}"), k(p))
        out_cols.append((q if dp is None else F.round(q, dp)).alias(_pname(p)))
    if keep_n:
        out_cols.append(F.coalesce(F.col("__gtot"), F.lit(0)).alias("n"))
    q = ranked.filter(pick).groupBy().agg(*aggs).select(*out_cols)
    if not moments:
        return q
    # both sides are 1-row frames: the crossJoin is a scalar broadcast
    return lim.crossJoin(F.broadcast(q)).select(*q.columns, *moments)


def global_order_prefix(
    df: DataFrame,
    order_col: str,
    tie_cols: tuple[str, ...] = (),
    weight_col: str | None = None,
    rank: bool = False,
) -> DataFrame:
    """Exact EXCLUSIVE prefix sum (and optional 1-based global rank)
    over the global ``order_col`` order — LAZY, one Spark action, no
    driver round-trips. Returns ``df`` plus ``cum`` (sum of
    ``weight_col`` over all strictly-earlier rows; weight 1 when
    ``weight_col`` is None), ``__gtot`` (the grand total of the weight)
    and, with ``rank=True``, ``rk`` (global ``row_number`` ordered by
    ``(order_col, *tie_cols)``). The consumers are ``roc_auc_exact``,
    ``gini_concentration`` and :func:`equidepth_histogram_prefix`.

    The offsets stay in-plan on the :func:`_bucketed` order: bucket
    totals get their exclusive prefix on the ≤4096-row bucket
    frame, broadcast back, and a per-bucket window (parallelism =
    occupied buckets, ~n/4096 rows each) adds the within-bucket prefix.
    Ranks equal a true global sort's, NULL, NaN and ±Inf included.

    ``df`` feeds three branches (limits, bucket totals, the main
    join). ReuseExchange dedups an upstream shuffle, but each branch
    would still re-run the post-shuffle operators — for a
    high-cardinality caller groupBy that is ~3× the final-aggregate
    cost. The input is therefore lazily ``localCheckpoint``-ed: the
    grouped frame computes once and the three branches read its
    blocks — still ONE action, zero driver round-trips. Skew bound:
    equal-width bins assume the order column is not pathologically
    point-massed; the worst case degrades to the one-window plan, never
    breaks.
    """
    if rank and weight_col is not None:
        raise ValueError("rank=True requires unit weights (weight_col=None)")
    df = df.localCheckpoint(eager=False)
    v = F.col(order_col).cast("double")
    w = F.col(weight_col) if weight_col else F.lit(1).cast("long")
    binned, buckets = _bucketed(df, v, _limits(df, v), w)
    ww = Window.partitionBy("__bkt").orderBy(order_col, *tie_cols)
    before = F.sum(w).over(ww.rowsBetween(Window.unboundedPreceding, -1))
    out = binned.join(F.broadcast(buckets.drop("__bn")), "__bkt").withColumn(
        "cum", (F.col("__boff") + F.coalesce(before, F.lit(0))).cast("long")
    )
    if rank:
        out = out.withColumn(
            "rk", (F.col("__boff") + F.row_number().over(ww)).cast("long")
        )
    return out.drop("__bkt", "__lo", "__hi", "__boff")


def equidepth_histogram_prefix(
    df: DataFrame, col: str, k: int, tiebreak: str, dp: int = 2,
) -> DataFrame:
    """Equi-DEPTH histogram (k bins of ~equal row count) as ONE lazy
    plan, the registered form. A sort-rank shape that collects
    per-partition counts and re-plans with offsets costs two driver
    round-trips of fixed latency (11.5× the oracle at sf2) for the same
    shuffle volume as this plan.

    Plan: :func:`global_order_prefix` (rank=True) assigns every row
    its exact global ``(col, tiebreak)`` sort rank with no driver
    round-trip, and its grand total ``__gtot`` is the row count n (NULL
    bucket included) from the same bucket-total window; bin =
    ``(rank−1)·k div n + 1`` with INTEGER floor-division on longs —
    structurally the oracle SQL's ``(rn - 1) * k // n + 1`` (a double
    division would agree only via IEEE correct rounding below 2^53) —
    then one k-row hash agg per bin. Memory stays shuffle-bounded (the
    widest state is the 4096-long bucket prefix); no collect, no
    re-plan, one action.

    Bins are deterministic given a unique ``tiebreak``; counts differ
    by ≤1 across bins. Rows with a
    null ``col`` rank first (Spark ascending order), matching a true
    global sort.
    """
    d = df.select(F.col(col).alias("__v"), F.col(tiebreak).alias("__t"))
    ranked = global_order_prefix(d, "__v", tie_cols=("__t",), rank=True)
    return (
        ranked.withColumn(
            "bin",
            (F.expr(f"(rk - 1) * {int(k)} div __gtot") + 1).cast("long"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.min("__v"), dp).alias("lo"),
            F.round(F.max("__v"), dp).alias("hi"),
        )
        .orderBy("bin")
    )


def null_profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """A9+A10 — per-column null count and completeness %, one aggregation
    pass over all columns, unpivoted to (column_name, null_count,
    completeness_pct) rows sorted by null_count desc then name.

    Reference: generar_reporte_calidad (src/transformacion.py:424-436),
    nb:cell6:13-21.
    """
    cols = cols or df.columns
    aggs = [F.count(F.lit(1)).alias("__total")]
    # Positional aliases (__n_0…) plus a pure-Column unpivot (explode of
    # lit-name structs) so arbitrary source column names — non-ASCII
    # ('año'), quotes, backslashes — never enter generated SQL text.
    for i, c in enumerate(cols):
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__n_{i}"))
    wide = df.agg(*aggs)
    unpivoted = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"__n_{i}").alias("null_count"),
            )
            for i, c in enumerate(cols)
        ]
    )
    return (
        wide.select(F.explode(unpivoted).alias("__p"), F.col("__total"))
        .select(
            F.col("__p.column_name").alias("column_name"),
            F.col("__p.null_count").alias("null_count"),
            F.round((F.col("__total") - F.col("__p.null_count"))
                    / F.col("__total") * 100, 2).alias("completeness_pct"),
        )
        .orderBy(F.desc("null_count"), "column_name")
    )


def corr_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """A13 — pairwise Pearson correlation, all pairs in ONE aggregate pass
    (n²/2 corr expressions → single shuffle), unpivoted to
    (col_a, col_b, corr) rows.

    Reference: df[cols].corr() (nb:cell13:23-29).
    """
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    wide = df.agg(
        *[_r(F.corr(a, b)).alias(f"{a}__{b}") for a, b in pairs]
    )
    stack_args = ", ".join(f"'{a}', '{b}', {a}__{b}" for a, b in pairs)
    return wide.select(
        F.expr(f"stack({len(pairs)}, {stack_args}) as (col_a, col_b, corr)")
    ).orderBy("col_a", "col_b")


def iqr_outliers(df: DataFrame, col: str) -> DataFrame:
    """A15 — IQR outlier summary: Q1/Q3 → bounds ±1.5·IQR → count, %,
    outlier min/max. One row.

    Reference: nb:cell11-12. Quantile pass then a scalar-broadcast
    filter+agg — no per-row Python.

    Exact Q1/Q3 and the pct denominator come from one
    :func:`exact_quantiles` call (``keep_n``), unrounded, so the
    ±1.5·IQR fences are computed from the same doubles as the oracle's
    quantile_cont-derived bounds. NaN is missing throughout: it is
    neither in the quartiles, nor in the denominator, nor counted as an
    outlier (Spark orders NaN above every double, so ``c > hi`` alone
    would count it).
    """
    c = F.col(col)
    is_float = df.schema[col].dataType.typeName() in ("float", "double")
    not_nan = (~F.isnan(c)) if is_float else F.lit(True)
    qq = exact_quantiles(
        df, col, (0.25, 0.75), dp=None, keep_n=True
    ).select(
        F.col("p25").alias("q1"),
        F.col("p75").alias("q3"),
        F.col("n").alias("total"),
    )
    q = qq.select(
        "q1", "q3", "total",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    # q is a 1-row frame: the crossJoin is a broadcast of scalars.
    return (
        df.crossJoin(F.broadcast(q))
        .filter(((c < F.col("lo")) | (c > F.col("hi"))) & not_nan)
        .agg(
            F.count(F.lit(1)).alias("outlier_count"),
            _r(F.first("q1")).alias("q1"),
            _r(F.first("q3")).alias("q3"),
            _r(F.first("lo")).alias("lower_bound"),
            _r(F.first("hi")).alias("upper_bound"),
            _r(F.count(F.lit(1)) / F.first("total") * 100, 4).alias("outlier_pct"),
            _r(F.min(c)).alias("outlier_min"),
            _r(F.max(c)).alias("outlier_max"),
        )
    )


def histogram(df: DataFrame, col: str, lo: float, width: float) -> DataFrame:
    """A16 — fixed-width histogram: bin = floor((x-lo)/width), count per
    bin (nb:cell7:49). DataFrame-native (single hash agg), no RDD."""
    bin_col = F.floor((F.col(col) - F.lit(lo)) / F.lit(width)).cast("long")
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(bin_col.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("bin")
    )


def group_entropy(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Shannon entropy (nats) of the ``value_col`` distribution within
    each group — the standard data-profiling signal for label/category
    columns (near-0 = degenerate column, ln(k) = uniform over k values).

    Plan: two chained hash aggs — (group, value) counts, then per-group
    ``ln n − Σ c·ln c / n`` (the algebraic form that needs only the
    counts, no per-row probabilities) — both shuffles key on the group,
    partial aggregation applies, and the second agg's input is one row
    per distinct (group, value), already corpus-independent. Entropy
    and n are exact; entropy rounds to 6 dp for cross-engine hashing.
    """
    c = F.count(F.lit(1))
    counts = df.groupBy(group_col, value_col).agg(c.alias("__c"))
    return (
        counts.groupBy(group_col)
        .agg(
            F.sum("__c").alias("n"),
            F.sum(F.col("__c") * F.log(F.col("__c"))).alias("__clogc"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
        .select(
            group_col,
            "n",
            "n_distinct",
            _r(F.log(F.col("n")) - F.col("__clogc") / F.col("n"))
            .alias("entropy_nats"),
        )
        .orderBy(group_col)
    )


def winsorize_summary(
    df: DataFrame,
    value_col: str,
    group_col: str,
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Winsorized-mean summary per group: exact [lo, hi] percentile
    bounds, then the mean of the value CLIPPED to those bounds next to
    the raw mean — the outlier-robust alternative to plain avg (ML
    feature prep; the clip twin of anomaly_zscore's screen).

    Plan: ONE ``percentile(col, array(lo, hi))`` buffer per group (the
    percentile_by_group discipline — never two separate sort buffers),
    joined back group-to-group (AQE picks broadcast when the group
    domain is small), then a second group agg over the clipped value.
    Shuffles: two, both keyed on the group. At 100 TB the documented
    swap is approx_percentile with identical call shape.
    """
    bounds = df.groupBy(group_col).agg(
        F.percentile(value_col, F.array(F.lit(lo), F.lit(hi))).alias("__b")
    ).select(
        group_col,
        F.col("__b")[0].alias("__lo"),
        F.col("__b")[1].alias("__hi"),
    )
    v = F.col(value_col)
    clipped = F.least(F.greatest(v, F.col("__lo")), F.col("__hi"))
    return (
        df.join(bounds, group_col)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            _r(F.avg(v)).alias("mean_raw"),
            _r(F.avg(clipped)).alias("mean_winsorized"),
            _r(F.first("__lo")).alias("p_lo"),
            _r(F.first("__hi")).alias("p_hi"),
        )
        .orderBy(group_col)
    )


def target_encode(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    smoothing: float = 10.0,
) -> DataFrame:
    """Smoothed target encoding: each category maps to
    ``(Σ target + m · global_mean) / (n + m)`` — the standard
    high-cardinality categorical encoder (rare categories shrink toward
    the global mean instead of memorizing noise).

    Plan: one hash agg per category + one SCALAR global agg broadcast
    onto it (1-row crossJoin — the audited scalar-BNLJ shape, metadata
    not data). No per-row join: the encoder table is the OUTPUT, sized
    by category cardinality; applying it to a stream is one AQE-sized
    equi-join downstream. Exact sums via DECIMAL would be overkill
    here: 6-dp rounding on the final ratio absorbs double summation
    order (SURVEY.md §7.4.12 applies to raw sums, not shrunk means).

    r16 (optimization round, guide §2.3): the global mean derives FROM
    the per-category frame (Σ__s / Σn ≡ avg(target): every row lands
    in exactly one category group, nulls included) instead of a second
    full scan of the input — one whole input pass removed at any
    scale; the category frame is lazily checkpointed so its two
    consumers don't re-run the big aggregation. Deliberately an
    aggregate + broadcast, NOT a window: the encoder serves
    high-cardinality categoricals, so a single-partition window over
    the category axis would be the documented scale hazard.
    """
    t = F.col(target_col)
    per_cat = df.groupBy(cat_col).agg(
        F.count(t).alias("n"),
        F.sum(t).alias("__s"),
    ).localCheckpoint(eager=False)
    g = per_cat.agg(
        (F.sum("__s") / F.sum("n")).alias("__g")
    )
    return (
        per_cat.crossJoin(F.broadcast(g))
        .select(
            cat_col,
            "n",
            _r(
                (F.col("__s") + F.lit(smoothing) * F.col("__g"))
                / (F.col("n") + F.lit(smoothing))
            ).alias("encoded"),
            _r(F.col("__g")).alias("global_mean"),
        )
        .orderBy(cat_col)
    )


def histogram2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    x_width: float,
    y_cents_per_bin: int,
) -> DataFrame:
    """2-D equi-width histogram over (x, y) — the heatmap twin of A16.
    The y axis bins on INTEGER CENTS (``floor(round(y·100) / bin)``) so
    bin edges are exact for money-like doubles: ``0.04 / 0.02`` in
    binary floating point can land on 1.999…, and a raw floor would put
    the row in the wrong bin on one engine but not the other.

    Single hash agg on the two bin keys — one shuffle, partial
    aggregation applies, output is bounded by bin-grid size.
    """
    bx = F.floor(F.col(x_col) / F.lit(x_width)).cast("long")
    by = F.floor(
        F.round(F.col(y_col) * 100, 0) / F.lit(y_cents_per_bin)
    ).cast("long")
    return (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(bx.alias("bin_x"), by.alias("bin_y"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("bin_x", "bin_y")
    )


def weighted_median_by_group(
    df: DataFrame, value_col: str, weight_col: str, group_col: str
) -> DataFrame:
    """Weighted median per group: the smallest value v whose cumulative
    weight over rows with value ≤ v reaches half the group's total
    weight — the mass-based location estimate (exact median when all
    weights are 1; survey/importance-weighted data otherwise).

    Plan: ONE group-key shuffle serves everything — the cumulative sum
    uses the DEFAULT window frame (``ORDER BY value`` ⇒ RANGE UNBOUNDED
    PRECEDING..CURRENT ROW), which includes ALL ties of the current
    value, so the cutoff row is a deterministic function of the value
    alone, never of the arbitrary intra-tie row order; the group-total
    window on the same partitioning adds no exchange. Final min() per
    group is a hash agg on the (tiny) crossing rows. Memory is
    shuffle-partition-bounded — no percentile buffer materializes the
    column per group.
    """
    v, w = F.col(value_col), F.col(weight_col)
    cum = Window.partitionBy(group_col).orderBy(value_col)
    whole = Window.partitionBy(group_col)
    return (
        df.filter(v.isNotNull() & w.isNotNull())
        .select(
            group_col,
            v.alias("__v"),
            F.sum(w).over(cum).alias("__cw"),
            F.sum(w).over(whole).alias("__tw"),
        )
        .filter(F.col("__cw") * 2 >= F.col("__tw"))
        .groupBy(group_col)
        .agg(_r(F.min("__v")).alias("weighted_median"))
        .orderBy(group_col)
    )


def two_proportion_ztest(
    df: DataFrame,
    unit_col: str,
    variant: Column,
    success: Column,
) -> DataFrame:
    """A/B-test readout: conversion per variant and the pooled
    two-proportion z statistic  z = (p_a − p_b) / √(p̂(1−p̂)(1/n_a+1/n_b)).

    Experiment-unit first: rows collapse to one row per ``unit_col``
    (max of the success flag — "did this user ever convert"), so
    event-frequency per user cannot bias the rate. Two hash aggs total
    (unit, then variant) and a 1-row final reduce emitted as a single
    scalar row — conditional aggregation keeps both variants in one
    pass, no self-join. Scales as two keyed shuffles regardless of
    event volume.
    """
    per_unit = (
        df.select(
            F.col(unit_col).alias("__u"),
            variant.alias("__variant"),
            success.cast("int").alias("__s"),
        )
        .groupBy("__u", "__variant")
        .agg(F.max("__s").alias("__conv"))
    )
    a_is = F.col("__variant") == F.lit("A")
    agg = per_unit.agg(
        F.sum(a_is.cast("long")).alias("n_a"),
        F.sum((~a_is).cast("long")).alias("n_b"),
        F.sum(F.when(a_is, F.col("__conv")).otherwise(0)).alias("conv_a"),
        F.sum(F.when(~a_is, F.col("__conv")).otherwise(0)).alias("conv_b"),
    )
    p_a = F.col("conv_a") / F.col("n_a")
    p_b = F.col("conv_b") / F.col("n_b")
    pooled = (F.col("conv_a") + F.col("conv_b")) / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        pooled * (1 - pooled) * (1 / F.col("n_a") + 1 / F.col("n_b"))
    )
    return agg.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        _r(p_a).alias("rate_a"),
        _r(p_b).alias("rate_b"),
        _r((p_a - p_b) / se).alias("z_score"),
    )


def skyline_2d(df: DataFrame, min_col: str, max_col: str) -> DataFrame:
    """2-D Pareto skyline: the distinct points not dominated by any
    other — q dominates p when q.min_col ≤ p.min_col AND
    q.max_col ≥ p.max_col with at least one strict (e.g. cheaper AND
    bigger parts).

    Sort-based O(n log n) plan, never the naive O(n²) dominance
    self-join, and never a single-partition window over the data:

    1. Hash-agg to one row per distinct ``min_col`` keeping
       ``max(max_col)`` — within an equal min_col only the largest
       max_col can survive, so this both dedups and shrinks the input
       to distinct-key cardinality in one shuffle. The result is
       lazily ``localCheckpoint``-ed: it feeds the limits, the bucket
       maxima and the main join.
    2. A point is then on the skyline iff the running max of
       ``max_col`` over strictly-smaller ``min_col`` is below its own.
       That is an exclusive prefix MAX over the :func:`_bucketed`
       order of ``min_col``: the bucket maxima get their exclusive
       prefix on the ≤4096-row bucket frame, and a per-bucket window
       adds the max of the earlier rows in the same bucket. One lazy
       plan; no driver round-trip.
    """
    reduced = (
        df.filter(F.col(min_col).isNotNull() & F.col(max_col).isNotNull())
        .groupBy(min_col)
        .agg(F.max(max_col).alias("__m"))
        .localCheckpoint(eager=False)
    )
    v = F.col(min_col).cast("double")
    binned, buckets = _bucketed(
        reduced, v, _limits(reduced, v), F.col("__m"), F.max
    )
    before = Window.partitionBy("__bkt").orderBy(min_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    bound = F.greatest(F.max("__m").over(before), F.col("__boff"))
    return (
        binned.join(F.broadcast(buckets.select("__bkt", "__boff")), "__bkt")
        .withColumn("__bound", bound)
        .filter(
            F.col("__bound").isNull() | (F.col("__bound") < F.col("__m"))
        )
        .select(F.col(min_col), F.col("__m").alias(max_col))
        .orderBy(min_col)
    )
