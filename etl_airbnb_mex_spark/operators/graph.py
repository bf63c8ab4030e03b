"""Iterative graph algorithms (SURVEY.md §2.11 — the "iterative
algorithms" class the driver contract records as rows-only: no SQL
oracle can express a fixpoint loop).

Connected components (min-label propagation) lives in
``operators.dedup`` next to its near-dup consumer; this module holds
the general-purpose iterative ops. Both follow the same discipline:
per-iteration work is plain DataFrame joins/aggs (Catalyst-planned,
AQE-sized), and lineage is truncated with ``localCheckpoint`` every
few rounds so the plan does not grow unboundedly — the standard Spark
iterative-algorithm pattern.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Rounding-boundary guard band for cross-engine-deterministic
#: per-round rounding, in GRID units (fractions of one 10^-dp step).
#: This is the FLOOR of a magnitude-aware band: drift
#: between engines is a few ulps OF THE VALUE, and one ulp of the
#: scaled value grows with its magnitude — ~2e-7 grid units for ranks
#: ~1e-3 on a 1e-12 grid, but ~2e-6 at rank 0.01 and ~2.4e-4 at rank
#: ~1, where a fixed 1e-6 band would let a genuine two-ulp boundary
#: straddle pass silently. The effective guard is
#: max(this floor, _GUARD_ULPS * ulp(scaled)), so small ranks keep
#: the tight constant band (false-trip probability 2e-6 per
#: (node, round)) while large ranks widen it to the resolution drift
#: can actually reach there (false-trip ~2·k·ulp, still ≤ ~1e-3 even
#: at rank 1 — and rank ~1 only occurs on near-single-node graphs
#: with few (node, round) trials). Either way a hit means "the
#: canonical-rounding argument does not hold on this data" and the
#: query must be re-registered rows-only.
_ROUND_GUARD_GRID = 1e-6
#: Ulp multiplier for the magnitude-aware part of the band: covers
#: the observed few-ulp cross-engine drift (a two-ulp straddle is the
#: worst case seen) with 2x margin.
_GUARD_ULPS = 4.0


def _boundary_guarded_round(value: Column, dp: int, guard: float) -> Column:
    """Round ``value`` to ``dp`` decimals, asserting IN-PLAN that it
    sits at least ``guard`` grid units away from the half-way rounding
    boundary. The per-round rounding makes a fixed-iteration PageRank
    cross-engine deterministic ONLY IF both engines agree on which
    side of the .5 boundary every value falls; a value within float
    drift of the boundary voids that argument, so it must fail LOUDLY
    (job abort with this message -> re-register the query rows-only)
    instead of silently emitting an engine-dependent rank.

    The assertion is folded into the returned expression through
    ``F.when(assert_true(...).isNull(), ...)`` so column pruning can
    never drop it, and it adds no action — the whole loop stays lazy.

    The band is magnitude-aware: ``guard`` grid units
    is only a meaningful resolution while one ulp of the scaled value
    is smaller than it — true for ranks ~1e-3 at dp=12 (scaled ~1e9,
    ulp ~2e-7 grid units) but not at rank 0.01 (ulp ~2e-6) or rank ~1
    (ulp ~2.4e-4), where drift moves the value by whole ulps and a
    fixed band below one ulp cannot see the straddle it exists to
    catch. The effective band is therefore
    ``greatest(guard, _GUARD_ULPS * |scaled| * 2^-52)`` — the
    constant floor where it is resolvable, a few ulps of the actual
    magnitude where it is not.
    """
    scaled = value * F.lit(float(10.0 ** dp))
    dist = F.abs(F.pmod(scaled, F.lit(1.0)) - F.lit(0.5))
    # One ulp of the scaled double, expressed in grid units (the same
    # units as dist): |scaled| * 2^-52. greatest() keeps the constant
    # floor for small ranks and widens to k ulps where the grid-unit
    # band drops below what double resolution can represent.
    ulp_grid = F.abs(scaled) * F.lit(2.0 ** -52)
    # Clamp to 0.25: dist ranges over [0, 0.5], so an
    # unbounded ulp band would exceed the maximum attainable distance
    # once |scaled| > ~1.1e15/_GUARD_ULPS and the assert would fire
    # unconditionally. Past |scaled| = 2^52 pmod(scaled, 1) is
    # identically 0 (dist = 0.5 >= 0.25 — always passes), which is the
    # right answer there: a double that large has no fractional part,
    # so rounding is the identity and no boundary straddle exists.
    guard_eff = F.least(
        F.greatest(F.lit(float(guard)), F.lit(_GUARD_ULPS) * ulp_grid),
        F.lit(0.25),
    )
    ok = F.assert_true(
        dist >= guard_eff,
        F.concat(
            F.lit(
                "pagerank round_ranks boundary hit: a "
                "pre-rounding rank is within the guard band of the "
                f".5e-{dp} rounding boundary — per-round rounding is "
                "not cross-engine safe on this data; re-register the "
                "query rows-only. value="
            ),
            value.cast("string"),
        ),
    )
    return F.when(ok.isNull(), F.round(value, dp))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iter: int = 10,
    checkpoint_every: int = 4,
    round_ranks: int | None = None,
) -> DataFrame:
    """PageRank over a directed edge list. Returns (node, rank) for
    every node appearing as src or dst; ranks sum to 1 (dangling-node
    mass is redistributed uniformly each round, the standard fix).

    Per iteration: contributions = edges ⋈ ranks on src (each node
    splits rank/out_degree to its successors) → hash agg by dst → new
    rank = (1−d)/N + d·(contrib + dangling/N). Two shuffles per round,
    both keyed on node ids — never wider than (node, double). The
    edges frame re-joins every round, so cache/persist it at scale;
    ``localCheckpoint`` every ``checkpoint_every`` rounds truncates the
    growing lineage (same guard as connected_components, which raises
    on non-convergence; PageRank instead runs a fixed ``max_iter`` —
    the standard practice since convergence is geometric).

    ``round_ranks``: round every iteration's rank vector to this many
    decimal places. With it set, a fixed-iteration run is CROSS-ENGINE
    DETERMINISTIC: each round's float sums (contribs, dangling mass)
    differ between engines only in the last ulp, and the per-round
    rounding snaps both back to the identical canonical double before
    the next round compounds the drift — this is what lets the
    registered ``pagerank_parts`` carry an exact unrolled-SQL oracle
    instead of a rows-only check. 12 dp perturbs rank values (~1/N
    scale) by < 5e-13 — far below the 6 dp the final output rounds to.
    The canonical-rounding argument needs every value to sit clear of
    the .5 boundary, so each round's rounding goes through
    :func:`_boundary_guarded_round`: an in-plan assert_true aborts
    loudly if any pre-rounding rank falls within the guard band of a
    boundary (probabilistically ~never; if it ever fires, the query
    must be re-registered rows-only).
    """
    # The edge frame re-joins EVERY round; materialize it once so its
    # upstream plan (scan/distinct/joins) does not re-execute per
    # iteration — measured 4x on the supplier->part graph (11.2 s -> 2.5 s
    # at sf0.01). At cluster scale this is the persist() every iterative
    # Spark algorithm does on its invariant input.
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    # Degree joins onto ranks every round: key it once.
    ranked_nodes = nodes.join(out_deg, nodes["node"] == out_deg["src"], "left").select(
        "node", F.coalesce("__deg", F.lit(0)).alias("__deg")
    ).localCheckpoint()

    ranks = ranked_nodes.select(
        "node", "__deg", F.lit(1.0 / n_nodes).alias("rank")
    )
    base = (1.0 - damping) / n_nodes
    for i in range(max_iter):
        # Mass of dangling nodes (no out-edges) spreads uniformly. A
        # broadcast 1-row aggregate keeps the whole iteration LAZY —
        # nothing executes until a checkpoint or the final action (an
        # eager per-round collect here benched 2.5x slower: it forces
        # every iteration into its own blocking job chain).
        dangling = ranks.filter(F.col("__deg") == 0).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dangling")
        )
        contribs = (
            e.join(ranks, e["src"] == ranks["node"])
            .select("dst", (F.col("rank") / F.col("__deg")).alias("__c"))
            .groupBy("dst")
            .agg(F.sum("__c").alias("__contrib"))
        )
        new_rank = (
            F.lit(base)
            + F.lit(damping)
            * (
                F.coalesce("__contrib", F.lit(0.0))
                + F.col("__dangling") / F.lit(float(n_nodes))
            )
        )
        if round_ranks is not None:
            new_rank = _boundary_guarded_round(
                new_rank, round_ranks, _ROUND_GUARD_GRID
            )
        ranks = (
            ranked_nodes.join(
                contribs, ranked_nodes["node"] == contribs["dst"], "left"
            )
            .crossJoin(F.broadcast(dangling))
            .select("node", "__deg", new_rank.alias("rank"))
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < max_iter:
            ranks = ranks.localCheckpoint()
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact global triangle count over an undirected graph — the
    clustering/cohesion scalar (spam link-farms and bot rings show
    anomalous triangle density).

    Algorithm: DEGREE ORIENTATION — the classic distributed-triangle
    trick (Suri & Vassilvitskii, WWW'11 "Counting Triangles and the
    Curse of the Last Reducer"). Canonicalize edges undirected, then
    orient every edge from its lower-(degree, id) endpoint to the
    higher one: the oriented graph is acyclic with out-degree
    O(√m), so each triangle is touched EXACTLY once and total work
    is bounded by Σ outdeg² = O(m^1.5) — never the Σ deg² blowup a
    hub vertex causes in the naive plan.

    The O(m^1.5) term is evaluated IN-ROW, not in a shuffle (r8
    rewrite): per-node sorted out-neighbor arrays (bounded O(√m)
    each by the orientation) join onto both endpoints of every
    oriented edge, and the triangle count per edge is
    ``size(array_intersect(N+(a), N+(b)))`` — the edge-iterator
    formulation. The r7 wedge-join form materialized + shuffled the
    O(m^1.5) wedge set to close it against edges; here the only
    shuffles are the adjacency groupBy and two node-keyed equi-joins
    of the EDGE frame (O(m) rows each carrying two O(√m) arrays),
    and the intersection runs inside whole-stage codegen (measured
    18.2 s → sub-6 s on the sf2 co-purchase graph).

    Every join is an equi-join on a node key (shuffle-partitioned,
    AQE-sized); nothing driver-side. Returns one row (n_triangles).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        # e feeds BOTH the degree agg and the edge-degree join; without
        # truncation the (possibly expensive) upstream edge construction
        # — e.g. the co-purchase self-join — re-executes once per
        # consumer. Same invariant-frame discipline as pagerank's edge
        # checkpoint (measured 4.0 s -> 3.3 s at sf0.1 together with the
        # oriented checkpoint below).
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(
        F.col("node").alias("u"), F.col("deg").alias("__du")
    )
    dv = deg.select(
        F.col("node").alias("v"), F.col("deg").alias("__dv")
    )
    with_deg = e.join(du, "u").join(dv, "v")
    lower_first = (F.col("__du") < F.col("__dv")) | (
        (F.col("__du") == F.col("__dv")) & (F.col("u") < F.col("v"))
    )
    oriented = with_deg.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        # consumed three times (adjacency build + both endpoint joins)
        # — truncate lineage so orientation computes once.
    ).localCheckpoint(eager=False)
    adj = (
        oriented.groupBy("a")
        .agg(F.sort_array(F.collect_list("b")).alias("nbrs"))
        # joined onto both edge endpoints — compute the arrays once
        .localCheckpoint(eager=False)
    )
    adj_a = adj.select(F.col("a"), F.col("nbrs").alias("__na"))
    adj_b = adj.select(F.col("a").alias("b"), F.col("nbrs").alias("__nb"))
    # inner joins: an endpoint with no out-edges closes no triangle
    return (
        oriented.join(adj_a, "a")
        .join(adj_b, "b")
        .agg(
            F.coalesce(
                F.sum(F.size(F.array_intersect("__na", "__nb"))), F.lit(0)
            )
            .cast("long")
            .alias("n_triangles")
        )
    )


def kcore_decompose(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    checkpoint_every: int = 4,
) -> DataFrame:
    """k-core of an undirected graph: the maximal subgraph where every
    node keeps degree ≥ k — the standard cohesion filter (spam rings,
    loyal-user cores, protein complexes). Returns the surviving
    (node, degree-in-core) rows.

    Iterative peel: drop nodes with degree < k, recompute degrees on
    the induced subgraph, repeat to fixpoint. Each round is ONE degree
    hash agg + TWO semi-joins restricting the edge list — all keyed on
    node ids, AQE-sized; the edge frame SHRINKS monotonically, so
    unlike PageRank the per-round cost decreases. Lineage truncates
    with localCheckpoint every ``checkpoint_every`` rounds; terminates
    when no node was dropped (guaranteed ≤ |V| rounds; ``max_iter``
    bounds a pathological chain — raise it for deep peels).
    """
    # canonical undirected edge list, no self-loops, deduped
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    und = e.selectExpr("a AS u", "b AS v").unionByName(
        e.selectExpr("b AS u", "a AS v")
    )
    und = und.localCheckpoint(eager=False)
    for i in range(max_iter):
        deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.where(F.col("deg") >= k).select("u")
        n_before = und.count()
        und = (
            und.join(keep, "u", "left_semi")
            .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
        )
        if (i + 1) % checkpoint_every == 0:
            und = und.localCheckpoint(eager=False)
        n_after = und.count()
        if n_after == n_before:
            break
    else:
        raise RuntimeError(
            f"k-core peel did not converge in {max_iter} rounds"
        )
    return (
        und.groupBy(F.col("u").alias("node"))
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .orderBy("node")
    )


def bfs_min_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Minimum-hop BFS from a seed set over a DIRECTED edge list (pass
    both directions for undirected graphs): returns (node, hop) for
    every node reachable within ``max_hops`` — the engine form of a
    recursive CTE (reachability / blast-radius / related-items
    queries), which the oracle states as WITH RECURSIVE.

    Per level: frontier ⋈ edges on the source key (node-keyed
    equi-join, AQE-sized) → distinct successors → anti-join the
    visited set — so each node is expanded ONCE ever, the frontier
    carries only (node) ids, and total work is O(E) across all levels,
    not O(E·levels). The visited set localCheckpoints each level
    (node-id scale) to keep lineage flat. Early-exits when a level
    adds nothing.
    """
    visited = seeds.select(
        F.col(node_col).alias("node"), F.lit(0).alias("hop")
    ).distinct().localCheckpoint(eager=False)
    frontier = visited.select("node")
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(
                edges.select(
                    F.col(src).alias("node"), F.col(dst).alias("__d")
                ),
                "node",
            )
            .select(F.col("__d").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(h))
        )
        nxt = nxt.localCheckpoint(eager=False)
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt.select("node")
    return visited
