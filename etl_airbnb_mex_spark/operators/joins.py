"""Join operators (SURVEY.md §2.4 — engine extensions; the reference
implements zero joins, its latent FK reviews.listing_id → listings.id is
never exercised).

Strategy notes for 100 TB (SURVEY.md §4.3): dimension tables broadcast
explicitly; fact-fact joins shuffle on the key and rely on AQE for skew
splitting; the as-of join deliberately avoids the naive range-join
(which explodes to broadcast-nested-loop) in favor of union + ordered
window — one shuffle on (key, time), linear in input size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def broadcast_dim_join(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str,
    how: str = "inner",
) -> DataFrame:
    """Explicit broadcast for known-small dimensions (region/nation):
    no shuffle of the fact side at all."""
    return fact.join(F.broadcast(dim), fact[fact_key] == dim[dim_key], how)


def semi_join(left: DataFrame, right: DataFrame, left_key: str, right_key: str) -> DataFrame:
    """left rows with ≥1 match (EXISTS). Only the key column of the right
    side ships — Catalyst prunes the rest."""
    return left.join(right, left[left_key] == right[right_key], "left_semi")


def anti_join(left: DataFrame, right: DataFrame, left_key: str, right_key: str) -> DataFrame:
    """left rows with no match (NOT EXISTS)."""
    return left.join(right, left[left_key] == right[right_key], "left_anti")


def salted_join(
    fact: DataFrame,
    skewed_dim: DataFrame,
    fact_key: str,
    dim_key: str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigated equi join for when one key dominates (the
    reference's data has a 45.9 % hot neighbourhood — SURVEY.md §4.3)
    and the other side is too big to broadcast: fact rows take one of
    ``salt`` pseudo-random salts, the other side replicates ``salt``×,
    and the join key becomes (key, salt) — the hot key's rows spread
    over ``salt`` reducers instead of one straggler.

    The salt value never affects the result (each fact row joins its
    replica of the matching dim row), so the per-row salt only needs
    spread, not determinism; ``monotonically_increasing_id() % salt``
    gives uniform spread with no RNG. AQE's skew-join handles most cases
    without this; explicit salting is for aggregation-after-join
    pipelines and engines/configs where AQE can't split (e.g. a
    partitioning that must be preserved downstream).

    Only fact-preserving join types are valid: the replicated side's
    unmatched rows would otherwise appear once PER SALT REPLICA
    (right/full outer would silently inflate).
    """
    if how.replace("_", "").lower() not in ("inner", "left", "leftouter"):
        raise ValueError(
            "salted_join supports inner/left joins only: the replicated "
            f"dim side breaks '{how}' semantics (unmatched dim rows would "
            "emit once per salt replica)"
        )
    fact_salted = fact.withColumn(
        "__salt", (F.monotonically_increasing_id() % salt).cast("int")
    )
    dim_salted = skewed_dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    joined = fact_salted.join(
        dim_salted,
        (fact_salted[fact_key] == dim_salted[dim_key])
        & (fact_salted["__salt"] == dim_salted["__salt"]),
        how,
    )
    return joined.drop("__salt")


def range_bin_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bin_width: float,
) -> DataFrame:
    """Point-in-interval join WITHOUT an equi key, rewritten as an
    equi join on bins (the classic "binned range join" Spark's planner
    does not do on its own — it falls back to BroadcastNestedLoopJoin,
    O(|points|·|intervals|), a guaranteed 100 TB scale-killer).

    Each point lands in bin ``floor(point/width)``; each interval
    explodes to the bins it overlaps (``sequence(floor(lo/w),
    floor(hi/w))``); the join is then a plain shuffled equi join on the
    bin id with the exact ``lo <= point <= hi`` predicate as residual.
    Every matching (point, interval) pair meets in exactly ONE bin (the
    point's own), so no post-join dedup is needed.

    Cost: |intervals| inflates by ``avg_span/width + 1`` and the
    shuffle is O(n) on bin keys — pick ``bin_width`` near the typical
    interval span so inflation stays ~2×. Dense value regions make hot
    bins; at scale combine with AQE skew-join or a finer width.

    Returns the inner-joined frame with all columns from both inputs.
    """
    if bin_width <= 0:
        raise ValueError(f"bin_width must be > 0, got {bin_width}")
    p = points.withColumn(
        "__bin", F.floor(F.col(point_col) / F.lit(bin_width))
    )
    iv = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / F.lit(bin_width)),
                F.floor(F.col(hi_col) / F.lit(bin_width)),
            )
        ),
    )
    joined = p.join(
        iv,
        (p["__bin"] == iv["__bin"])
        & (p[point_col] >= iv[lo_col])
        & (p[point_col] <= iv[hi_col]),
    )
    return joined.drop("__bin")


def bloom_prefilter_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    how: str = "inner",
    m_bits: int = 1 << 20,
) -> DataFrame:
    """Runtime-filter join: hash the build side's distinct keys into an
    m-bit bloom bitmap (k=1 hash), prefilter the probe side against the
    bitmap, THEN run the exact join — the result is byte-identical to
    ``probe.join(build, key, how)`` (bloom false positives only let
    extra rows through to the exact join; nothing true is lost).

    The 100 TB case: a selective dim filter leaves build-side keys that
    are few but too many to broadcast as a hash-join build; shipping a
    fixed-size bitmap (m/8 bytes regardless of key count) lets the
    probe side drop non-matching rows BEFORE its shuffle — the same
    idea as Spark's own runtime bloom pushdown
    (spark.sql.optimizer.runtime.bloomFilter), expressed as a plan.

    Plan: distinct build keys → (word, bit) hash agg into m/64 bitmap
    words; the probe joins the bitmap on word via broadcast hash join
    (the bitmap is m/64 rows — 16 K rows at the default 1 Mbit — far
    under any broadcast threshold), keeps rows whose bit is set, then
    exact-joins. Supported ``how``: inner / left_semi (the prefilter
    would break outer semantics on the probe side, so others raise).
    """
    if how not in ("inner", "left_semi"):
        raise ValueError(
            f"bloom_prefilter_join supports inner/left_semi, got {how!r} "
            "(the prefilter drops probe rows, which breaks outer joins)"
        )
    pos = F.pmod(F.xxhash64(F.col(key)), F.lit(m_bits))
    word = F.floor(pos / 64).cast("long").alias("__word")
    # shiftleft with a column amount needs the SQL form (the pyspark
    # wrapper only takes a literal int amount).
    mask = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__bit AS INT))")
    bitmap = (
        build.select(F.col(key)).distinct()
        .select(word, F.pmod(pos, F.lit(64)).cast("int").alias("__bit"))
        .groupBy("__word")
        .agg(F.bit_or(mask).alias("__bits"))
    )
    probed = (
        probe.withColumn("__word", F.floor(pos / 64).cast("long"))
        .withColumn("__bit", F.pmod(pos, F.lit(64)).cast("int"))
        .join(F.broadcast(bitmap), "__word")
        .filter(F.col("__bits").bitwiseAND(mask) != 0)
        .drop("__word", "__bit", "__bits")
    )
    return probed.join(build, key, how)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_value_cols: list[str],
    direction: str = "backward",
    right_tiebreak: str | None = None,
) -> DataFrame:
    """As-of join: for each left row, the nearest-earlier right row per
    key (direction='backward'; 'forward' = nearest-later).

    Scalable implementation (SURVEY.md §2.4): union both sides tagged,
    sort within key by time, and carry the latest right values forward
    with last(ignoreNulls) over an ordered window — ONE shuffle on
    (key, ts), no range-join blow-up. Right rows are then dropped.
    Ties (equal timestamps) resolve right-row-first, i.e. a right row at
    exactly left_ts matches.

    NULL hazard: each value column is carried INDEPENDENTLY with
    last/first(ignorenulls), so a right column that is legitimately
    NULL in the matched row gets replaced by an older row's value. To
    carry nullable columns, pack them in one struct
    (``F.struct(...)``) — NULLs inside a non-null struct survive the
    carry (see the ``pit_lookup`` registration).

    Determinism: when several RIGHT rows share the same (key, ts), the
    window ordering (__ts, __side) alone does not decide which one is
    carried. Pass ``right_tiebreak`` (a right-side column, e.g. an
    event id or interval end) to order those ties ascending with NULLs
    LAST. For direction='backward' (``last`` over the frame) the
    carried row is then the tiebreak-maximum, **with a NULL tiebreak
    winning over all non-NULL values** (NULLs sort last, and ``last``
    takes the frame's final row — ``pit_lookup`` depends on exactly
    this: an open interval, valid_to NULL, beats every closed one).
    For 'forward' (``first``) it is the tiebreak-minimum, with a NULL
    tiebreak losing to every non-NULL value. Without a tiebreak,
    equal-ts right duplicates carry an engine-dependent row
    (ADVICE.md r4 #3).
    """
    lcols = left.columns
    # Left rows are tagged __side=1. Right rows sort BEFORE left at equal
    # ts for backward (0) and AFTER for forward (2), so an exactly-equal
    # timestamp is always a match in either direction.
    sentinel_side = 0 if direction == "backward" else 2
    tb_type = (
        right.schema[right_tiebreak].dataType if right_tiebreak else None
    )
    l_tagged = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *([F.lit(None).cast(tb_type).alias("__tb")] if right_tiebreak else []),
        F.struct(*lcols).alias("__l"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}")
          for c in right_value_cols],
    )
    r_tagged = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(sentinel_side).alias("__side"),
        *([F.col(right_tiebreak).alias("__tb")] if right_tiebreak else []),
        F.lit(None).cast(
            l_tagged.schema["__l"].dataType
        ).alias("__l"),
        *[F.col(c).alias(f"__r_{c}") for c in right_value_cols],
    )
    unioned = l_tagged.unionByName(r_tagged)
    # __side orders left vs right at equal ts; __tb (when given) orders
    # equal-(key, ts) RIGHT rows among themselves so the carried row is
    # deterministic. Left rows' NULL __tb is irrelevant — __side already
    # separates them.
    order = [F.asc("__ts"), F.asc("__side")]
    if right_tiebreak:
        order.append(F.asc_nulls_last("__tb"))
    if direction == "backward":
        w = (
            Window.partitionBy("__k")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    else:
        w = (
            Window.partitionBy("__k")
            .orderBy(*order)
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
    carried = unioned.select(
        "__side",
        "__l",
        *[
            (F.last(f"__r_{c}", ignorenulls=True).over(w)
             if direction == "backward"
             else F.first(f"__r_{c}", ignorenulls=True).over(w)
             ).alias(f"__r_{c}")
            for c in right_value_cols
        ],
    )
    return carried.filter(F.col("__side") == 1).select(
        *[F.col(f"__l.{c}").alias(c) for c in lcols],
        *[F.col(f"__r_{c}").alias(f"asof_{c}") for c in right_value_cols],
    )


def grid_distance_join(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    radius: float,
) -> DataFrame:
    """All point pairs within Euclidean ``radius`` — the 2-D spatial
    self-join — WITHOUT the O(n²) cross join, via grid-cell blocking
    (the same bin-equi-join idea as :func:`range_bin_join`, lifted to
    two dimensions; geohash joins are this with curve-encoded cells).

    Each point lands in cell ``(floor(x/r), floor(y/r))``. Any pair
    within ``r`` of each other lies in the same or an adjacent cell, so
    the candidate set is an **equi-join** of side A exploded to its 3×3
    cell neighborhood against side B on the cell key, followed by the
    exact distance residual. Each qualifying ``(a, b)`` pair survives
    exactly once: b's cell is fixed, and exactly one of a's nine
    offsets equals it; ``id_a < id_b`` halves the pairs.

    Scale: the shuffle keys on the cell id — O(n) cells, candidate
    volume is density-bounded (9 × points-per-cell per probe), never
    n². A pathologically hot cell (everything in one place) bounds a
    task; the mitigations are a finer grid (smaller r at the blocking
    stage only, with a >1-ring neighborhood) or salting the cell key —
    standard skew medicine, not needed for dispersed data. Candidate
    pair count ~ n · π r² · density, so choose r at the query's
    semantic scale, not larger.

    Output: (id_a, id_b, dist) with dist rounded to 4 dp, which both
    engines compute identically (same IEEE sqrt over same operands).
    """
    r = float(radius)
    pts = points.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
        F.floor(F.col(x_col).cast("double") / F.lit(r)).alias("cx"),
        F.floor(F.col(y_col).cast("double") / F.lit(r)).alias("cy"),
    )
    neighborhood = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    a = (
        pts.select(
            F.col("id").alias("id_a"),
            F.col("x").alias("xa"),
            F.col("y").alias("ya"),
            "cx",
            "cy",
            F.explode(neighborhood).alias("o"),
        )
        .select(
            "id_a",
            "xa",
            "ya",
            (F.col("cx") + F.col("o.dx")).alias("kx"),
            (F.col("cy") + F.col("o.dy")).alias("ky"),
        )
    )
    b = pts.select(
        F.col("id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.col("cx").alias("kx"),
        F.col("cy").alias("ky"),
    )
    # dx*dx, not POWER(dx, 2): libm pow is not guaranteed bit-identical
    # to plain multiplication across engines; the product is.
    dx = F.col("xa") - F.col("xb")
    dy = F.col("ya") - F.col("yb")
    d2 = dx * dx + dy * dy
    return (
        a.join(b, ["kx", "ky"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(d2 <= F.lit(r * r))
        .select(
            "id_a",
            "id_b",
            F.round(F.sqrt(d2), 4).alias("dist"),
        )
    )
