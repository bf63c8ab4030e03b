"""Registry-surface invariants the driver contract depends on.

The driver verifies only the FIRST 50 entries of ``queries()`` in
iteration order, so ordering is part of the contract: the window
(queries/__init__.py:_PRIORITY) holds the entries with the weakest
driver provenance, and every oracle-bearing entry outside it has a
driver row in some ``CORRECTNESS_r*.json``.
"""

from __future__ import annotations

import json
import pathlib

from etl_airbnb_mex_spark.queries import (
    REGISTRY,
    _PRIORITY,
    all_oracle_sql,
    all_queries,
)

_REPO = pathlib.Path(__file__).resolve().parent.parent


def test_readme_registry_counts_match():
    """README quotes the registry size as evidence; hard-coded counts
    drift when queries are added (VERDICT.md r4 "What's wrong" #3).
    Fails until README matches len(REGISTRY) / the oracle count."""
    import re

    text = (_REPO / "README.md").read_text()
    m = re.search(
        r"registry: (\d+) entries.*?\((\d+) carry oracles\)",
        text,
        re.DOTALL,
    )
    assert m, "README registry-count sentence not found"
    n_total = len(all_queries())  # forces _load()
    n_oracle = sum(1 for s in REGISTRY.values() if s.oracle is not None)
    assert int(m.group(1)) == n_total, (
        f"README says {m.group(1)} entries, registry has {n_total}"
    )
    assert int(m.group(2)) == n_oracle, (
        f"README says {m.group(2)} oracles, registry has {n_oracle}"
    )


def test_priority_ops_fill_driver_window_exactly():
    names = list(all_queries())
    assert len(_PRIORITY) <= 50
    assert names[: len(_PRIORITY)] == list(_PRIORITY)


#: Oracle-bearing entries registered AFTER this round's rotation was
#: sized — they queue for the NEXT rotation (only when the 50-slot
#: window is already full; round-4 additions go straight into
#: _PRIORITY while slots remain). Keep in sync when adding queries;
#: the test below fails if anything OLDER is left unverified and
#: outside the window.
_QUEUED_FOR_NEXT_ROTATION: set[str] = {
    # (empty: the round-6 window absorbed all round-6 additions —
    # the 7 late ones displaced an equal number of stale-refresh
    # slots, listed for round 7 in queries/__init__.py.)
}


def test_window_covers_all_unverified_oracle_entries():
    """Every oracle-bearing entry must either have a driver CORRECTNESS
    row from a past round, sit inside this round's 50-slot window, or be
    explicitly queued as a post-rotation addition — the r2 verdict's top
    gap, kept closed as the registry grows."""
    checked: set[str] = set()
    for f in _REPO.glob("CORRECTNESS_r*.json"):
        checked |= set(json.loads(f.read_text()))
    window = set(list(all_queries())[:50])
    unverified = [
        n for n, s in REGISTRY.items()
        if s.oracle is not None and n not in checked and n not in window
        and n not in _QUEUED_FOR_NEXT_ROTATION
    ]
    assert not unverified, f"oracle entries never driver-checked and outside window: {unverified}"


def test_every_query_survives_analysis(spark, sf_dir):
    """Analysis-time smoke over the WHOLE registry (no execution): build
    each query's DataFrame and force analysis via ``.schema``. This is
    the cheap guard that would have caught both pyspark-4.1 TIMESTAMP_NTZ
    breakages (unix_micros rejection, withWatermark rejection) without
    running a single job (VERDICT.md r2, "Next round" #5)."""
    failures = []
    for name, fn in all_queries().items():
        try:
            df = fn(spark, sf_dir)
            _ = df.schema
        except Exception as e:  # noqa: BLE001 — collecting all failures
            failures.append(f"{name}: {type(e).__name__}: {e}")
    assert not failures, "analysis-time failures:\n" + "\n".join(failures)


def test_ordering_is_complete_and_stable():
    names = list(all_queries())
    assert len(names) == len(set(names))
    assert set(names) == set(REGISTRY)
    # oracle map iterates in the same order, filtered
    oracle_names = list(all_oracle_sql())
    filtered = [n for n in names if REGISTRY[n].oracle is not None]
    assert oracle_names == filtered


#: Queries whose physical plan legitimately contains a
#: BroadcastNestedLoopJoin: every one is a ``crossJoin(F.broadcast(x))``
#: where ``x`` is a 1-row (or k-row, metadata-scale) aggregate/centroid
#: frame — a scalar broadcast, not a data-scale nested loop. Audited in
#: VERDICT.md r3 ("every crossJoin is a broadcast 1-row scalar").
#: ``ngram_jaccard`` is the gated O(n²) pytest-oracle demo, demoted to
#: the registry tail by design.
_SCALAR_BNLJ_OK: set[str] = {
    "funnel_conversion", "feature_scale", "sample_weighted", "mad_robust",
    "key_skew_profile", "chi_square_assoc", "outliers_iqr",
    "pagerank_parts", "knn_cosine_ivf", "target_encode", "filter_quantile",
    "dup_fullrow_count", "knn_cosine", "tfidf_topk", "subquery_above_avg",
    "ngram_jaccard",
    # r4 batch 2: corpus-total 1-row broadcast onto the tf-join output
    "unigram_logprob",
    # r4 batch 3: 1-row scalar broadcasts (token totals / avg threshold)
    "corpus_divergence",
    "antijoin_wealthy_inactive",
    # r4 batch 5: 1-row (min[], scale[]) broadcast onto the corpus scan
    "embedding_quantize",
    # r4 batch 6: 1-row corpus-token-total broadcast onto the mix agg
    "source_mix_report",
    # r4 batch 10: 1-row (total_rev, n_total) broadcast onto the
    # banded prefix-sum frame
    "pareto_revenue_share",
    # r6: 1-row scalar broadcasts — order count (basket_lift), median
    # triple (rfm_segments), min/max limits + side totals
    # (ks_drift_binned)
    "basket_lift",
    "rfm_segments",
    "ks_drift_binned",
    # r6 batch 2: 1-row max-revenue scalar broadcast (Q15's view-max)
    "q15_top_supplier",
    # r6 batch C: 5-row anchor broadcast (hard negatives), 1-row
    # vocab-size broadcast (bigram LM), 1-row corpus-total broadcast
    # (heavy hitters verify pass)
    "hard_negative_mining",
    "bigram_surprisal",
    "heavy_hitters_sketch",
    # r7 ML-eval batch: 1-row scalar broadcasts — bin limits + side
    # totals (psi_drift), class totals + the k-row IV scalar (woe_iv),
    # joint-table total (mutual_info)
    "psi_drift",
    "woe_iv",
    "mutual_info",
    # The bucketed global order (operators/stats.py:_bucketed) bins
    # every row against the 1-row limits aggregate (finite min/max and
    # any fused caller aggregates), broadcast: global_order_prefix
    # (roc_auc_exact, gini_concentration, histogram_equidepth),
    # bucket-select (percentiles_approx, whose final 1-row × 1-row
    # crossJoin reads the moments from that same limits frame) and
    # skyline_2d (skyline_pareto). roc_auc is the quantized twin of
    # roc_auc_exact.
    "roc_auc",
    "roc_auc_exact",
    "gini_concentration",
    "histogram_equidepth",
    "percentiles_approx",
    "skyline_pareto",
    # Above NATIVE_QUANTILE_MAX_BYTES the exact-quantile queries plan
    # bucket-select: the same limits broadcast plus the 1-row moments ×
    # 1-row quantiles crossJoin (the native branch has no join).
    "percentiles",
    "describe_stats",
    "scalar_stats",
}


def test_physical_plans_have_no_scale_killers(spark, sf_dir):
    """Explain-plan regression guard (VERDICT.md r3, "Next round" #3/#7):

    * NO query's plan may contain ``CartesianProduct`` (an un-broadcast
      cross join shuffles n×m rows — always wrong here).
    * ``BroadcastNestedLoopJoin`` is allowed only for the audited
      scalar-broadcast crossJoins in ``_SCALAR_BNLJ_OK`` — in
      particular ``cosine_near_dup`` (rewritten r4 to the LSH-bucket
      equi-join) must stay BNLJ-free.
    * The broadcast hint on the dim joins must survive optimization:
      ``join_broadcast_dim`` plans a ``BroadcastHashJoin``.
    """
    from pyspark.sql import DataFrame

    def plan_of(df: DataFrame) -> str:
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "extended"
            )
        )

    failures = []
    plans: dict[str, str] = {}
    for name, fn in all_queries().items():
        plan = plans[name] = plan_of(fn(spark, sf_dir))
        if "CartesianProduct" in plan:
            failures.append(f"{name}: CartesianProduct in physical plan")
        if "BroadcastNestedLoopJoin" in plan and name not in _SCALAR_BNLJ_OK:
            failures.append(
                f"{name}: unaudited BroadcastNestedLoopJoin "
                "(add to _SCALAR_BNLJ_OK only if the build side is a "
                "metadata-scale broadcast)"
            )
    assert not failures, "scale-killer plans:\n" + "\n".join(failures)
    assert "BroadcastNestedLoopJoin" not in plans["cosine_near_dup"]
    assert "BroadcastHashJoin" in plans["join_broadcast_dim"]


#: Queries whose optimized plan legitimately contains an UNPARTITIONED
#: Window (Exchange SinglePartition → one task). Allowed ONLY when the
#: window's input frame is already aggregated to metadata scale — each
#: entry audited (VERDICT.md r4 stretch #7):
#:   flagship_topn_pct / pct_of_total — pct-of-total over a grouped agg
#:     (≤ dozens of rows: return flags / order priorities).
#:   window_lag_delta / monthly_cumulative / mom_growth — lag & cumsum
#:     over the MONTH axis (one row per month, bounded by calendar).
#:   sequence_pack / pareto_revenue_share — two-level prefix sum: the
#:     global window runs over BUCKET TOTALS (n/1000 rows or revenue
#:     bands), never the row-level frame.
#:   interval_occupancy — sweep-line running sum over DISTINCT boundary
#:     days (aggregated day axis, not raw intervals).
#:   key_skew_profile — top-k key frame (k rows).
#:   zipf_slope — rank over the top_k-bounded vocabulary slice.
_GLOBAL_WINDOW_OK: set[str] = {
    "ks_drift_binned",  # CDF race over the AGGREGATED ≤200-row bin axis
    # percentiles_approx's exact bracket calls bucket-select directly —
    # its offsets window runs over the ≤4096-row bucket-total frame.
    # The other exact-quantile queries (percentiles, describe_stats,
    # scalar_stats, outliers_iqr, mad_robust, filter_quantile) plan the
    # native percentile aggregate on these small tables; their
    # bucket-select plan is guarded on a large input by
    # test_large_input_quantiles_keep_bounded_bucket_window.
    "percentiles_approx",
    "flagship_topn_pct",
    "pct_of_total",
    "window_lag_delta",
    "sequence_pack",
    "interval_occupancy",
    "monthly_cumulative",
    "key_skew_profile",
    "mom_growth",
    "zipf_slope",
    "pareto_revenue_share",
    # r16 (optimization round): scalar-total aggregate branches folded
    # into unpartitioned windows OVER already-aggregated metadata-scale
    # frames (each fold removed ~2 sequential AQE stage jobs and its
    # broadcast crossJoin; all oracle-verified at sf0.001/0.01/0.1/1):
    #   woe_iv — totals/IV over the category frame (|o_orderpriority|
    #     = 5 rows; compiles to two chained unpartitioned Windows, so
    #     the bounded-axis form below cannot express it).
    #   mutual_info / chi_square_assoc — margins + total over the
    #     contingency-cell frame (≤ |segments|·|nations| resp.
    #     |langs|·|sources| rows; the unpartitioned window's child is
    #     the preceding partitioned-margin Window over the same cell
    #     frame, so the bounded-axis form below can't express it).
    #   psi_drift — totals over the fixed _PSI_BINS-row grid (the
    #     window sits on the grid⋈agg join, both sides bin-bounded).
    #   source_mix_report — grand token total over the (source, lang)
    #     cell frame (stronger per-window check below).
    "woe_iv",
    "mutual_info",
    "chi_square_assoc",
    "psi_drift",
    "source_mix_report",
    # The bucketed global order's offset window runs over the
    # ≤4096-row BUCKET-TOTAL frame (operators/stats.py:_bucketed),
    # never the order axis: global_order_prefix (roc_auc_exact,
    # gini_concentration, histogram_equidepth) and skyline_2d
    # (skyline_pareto). These entries get a STRONGER per-window check
    # below (_BOUNDED_AXIS_WINDOW_OK): a per-query allowlist alone would
    # also excuse a future regression reintroducing a data-axis global
    # window inside the same query. roc_auc's quantized score axis is
    # grid-bounded (~10k rows at any scale), so its prefix is one plain
    # window over the aggregated axis (same stronger check).
    "roc_auc",
    "roc_auc_exact",
    "gini_concentration",
    "histogram_equidepth",
    "skyline_pareto",
}

#: Queries whose ONLY legitimate unpartitioned window is a prefix
#: over a provably-BOUNDED aggregated axis, mapped to the grouping
#: column that bounds it: every flagged window must sit directly on an
#: Aggregate GROUPED BY that column (checked against the Aggregate's
#: grouping list, not a bare substring — review r12). The __bkt
#: entries are global_order_prefix's bucket-offset prefix (≤4096 rows
#: by construction); roc_auc's axis is its FIXED quantization grid
#: (score range / grid step — metadata-scale at any input size; moved
#: off the bucket prefix in r12, VERDICT r11 #5). Any other
#: unpartitioned window in these queries fails even though the query
#: is allowlisted.
_BOUNDED_AXIS_WINDOW_OK: dict[str, str] = {
    "roc_auc_exact": "__bkt",
    "gini_concentration": "__bkt",
    "histogram_equidepth": "__bkt",
    "skyline_pareto": "__bkt",
    "roc_auc": "score",
    # r16: total-fold window that sits DIRECTLY on its bounded grouped
    # aggregate ((source, lang) cell axis). woe_iv's fold compiles to
    # two CHAINED unpartitioned Windows (the IV sum reads the totals
    # window's output), so only the per-query allowlist can express it.
    "source_mix_report": "source",
}


def _unpartitioned_windows(df) -> list:
    """Window nodes with an empty partitionSpec in ``df``'s optimized
    logical plan."""
    hits = []
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "Window":
            if node.partitionSpec().isEmpty():
                hits.append(node)
        ch = node.children()
        stack.extend(ch.apply(i) for i in range(ch.length()))
    return hits


def _assert_bounded_axis(name: str, windows: list, axis: str) -> None:
    """Each unpartitioned window must sit DIRECTLY on an Aggregate whose
    GROUPING LIST contains the bounding column (matched as a column
    reference in the grouping clause — 'token#' — not a bare substring
    an aggregate EXPRESSION could satisfy)."""
    for node in windows:
        child = node.child()
        # column-pruning Projects between Window and Aggregate are
        # plan noise, not a different input frame
        while child.getClass().getSimpleName() in (
            "Project", "SubqueryAlias",
        ):
            child = child.child()
        kind = child.getClass().getSimpleName()
        desc = child.toString()
        # Aggregate [score#12L], [score#12L, sum(...)]: grouping
        # list = the first [...] group
        first_line = desc.split("\n")[0]
        grouping = first_line.split("]")[0] if "[" in first_line else ""
        assert kind == "Aggregate" and f"{axis}#" in grouping, (
            f"{name}: unpartitioned Window over {kind} — only the "
            f"bounded-axis prefix (Aggregate grouped by {axis}) is "
            f"audited for this query; got: {desc[:200]}"
        )


def test_no_unaudited_single_partition_windows(spark, sf_dir):
    """A Window with an empty partitionSpec funnels its whole input
    through ONE task — the scale-killer class the CartesianProduct/BNLJ
    guard cannot see (VERDICT.md r4 stretch #7). Walk every registered
    query's optimized logical plan and flag unpartitioned Window nodes;
    each must be on the audited metadata-scale allowlist (and, for the
    bucket-prefix queries, each window must be the bucket-total prefix
    itself). Asserting set-equality keeps the allowlist honest in both
    directions."""
    flagged: dict[str, list] = {}
    for name, fn in all_queries().items():
        hits = _unpartitioned_windows(fn(spark, sf_dir))
        if hits:
            flagged[name] = hits
    new = set(flagged) - _GLOBAL_WINDOW_OK
    stale = _GLOBAL_WINDOW_OK - set(flagged)
    assert not new, (
        f"unaudited single-partition Window in: {sorted(new)} — "
        "repartition the window or, if its input is provably "
        "metadata-scale, audit it into _GLOBAL_WINDOW_OK"
    )
    assert not stale, (
        f"allowlisted but no longer flagged (remove): {sorted(stale)}"
    )
    # Per-WINDOW check for the bounded-axis queries: the allowlist is
    # per-query, so without this a regression reintroducing a data-axis
    # global window inside roc_auc/gini would still pass.
    for name, axis in _BOUNDED_AXIS_WINDOW_OK.items():
        _assert_bounded_axis(name, flagged.get(name, []), axis)


def test_large_input_quantiles_keep_bounded_bucket_window(spark):
    """Above ``NATIVE_QUANTILE_MAX_BYTES`` the exact-quantile operators
    plan bucket-select, whose only unpartitioned window is the bucket
    offsets prefix over the ≤4096-row bucket-total frame. The registry
    tables are too small to reach that branch, so a planned-only large
    input guards it here."""
    from pyspark.sql import functions as F

    from etl_airbnb_mex_spark.operators import stats

    big = spark.range(2_000_000).select(
        (F.col("id") % 9973).cast("double").alias("v")
    )
    assert stats._estimated_bytes(big, "v") > stats.NATIVE_QUANTILE_MAX_BYTES
    plans = {
        "percentiles": stats.percentiles(big, "v"),
        "describe_stats": stats.describe_stats(big, "v"),
        "outliers_iqr": stats.iqr_outliers(big, "v"),
        "mad_robust": stats.mad_robust(big, "v"),
    }
    for name, df in plans.items():
        hits = _unpartitioned_windows(df)
        assert hits, f"{name}: large input did not plan bucket-select"
        _assert_bounded_axis(name, hits, "__bkt")


#: Queries whose physical plan legitimately evaluates Python — every
#: entry is Arrow-batched (pandas_udf → ArrowEvalPython, mapInPandas →
#: MapInPandas), never row-at-a-time. Audited (VERDICT.md r6 "What's
#: wrong" #2: the two pandas_udfs measured 8×/2.4× over the interpreted
#: higher-order-function forms they replaced):
#:   knn_cosine_lsh — LSH sign-sketch pandas_udf
#:     (operators/similarity.py:_lsh_bucket_udf).
#:   cosine_near_dup / split_leakage_audit — per-group BLAS gram matrix
#:     via grouped applyInPandas
#:     (operators/similarity.py:cluster_pair_cosines; r7 rewrite:
#:     residual/pair stages compute as one dgemm per bucket/cluster —
#:     16.1s→0.7s at sf1 for the leakage audit).
#:     semantic_dedup_clusters uses the SAME grouped operator but its
#:     pair frame was localCheckpoint'd through r15 (plan truncated,
#:     node invisible); the r16 count/countDistinct fold removed the
#:     checkpoint, so the node is visible and audited here too.
#:   unicode_normalize — NFC needs unicodedata (no builtin equivalent).
#:   heavy_hitters_sketch — per-partition Misra-Gries summaries
#:     (vectorized mapInPandas; operators/corpus.py).
#:   image_near_dup / video_frame_dedup — real PNG/PNGSEQ1 codec work
#:     over binary columns (multimodal/ops.py).
_PYTHON_EVAL_OK: dict[str, set[str]] = {
    "cosine_near_dup": {"FlatMapGroupsInPandas"},
    "knn_cosine_lsh": {"ArrowEvalPython"},
    "split_leakage_audit": {"FlatMapGroupsInPandas"},
    "semantic_dedup_clusters": {"FlatMapGroupsInPandas"},
    "unicode_normalize": {"ArrowEvalPython"},
    "heavy_hitters_sketch": {"MapInPandas"},
    "image_near_dup": {"MapInPandas"},
    "video_frame_dedup": {"MapInPandas"},
}

_PYTHON_EVAL_NODES = (
    "BatchEvalPython",       # row-at-a-time UDF — NEVER allowed
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "MapInArrow",
    "FlatMapGroupsInArrow",
    "ApplyInPandasWithState",
)


def test_no_row_at_a_time_python_in_any_plan(spark, sf_dir):
    """Python-eval plan guard (VERDICT.md r6, "Next round" #3): the
    CartesianProduct/BNLJ/global-Window guards cannot see an
    accidentally-interpreted row-at-a-time UDF. Walk every registered
    query's physical plan: ``BatchEvalPython`` (per-row Python, ~10-100×
    slower than Arrow) is banned outright; the Arrow-batched node types
    are allowed only for the audited entries in ``_PYTHON_EVAL_OK``.
    Set-equality both directions keeps the allowlist honest."""
    import re

    def python_nodes(df) -> set[str]:
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "extended"
            )
        )
        return {
            pat for pat in _PYTHON_EVAL_NODES
            if re.search(r"\b" + pat, plan)
        }

    flagged: dict[str, set[str]] = {}
    for name, fn in all_queries().items():
        nodes = python_nodes(fn(spark, sf_dir))
        if nodes:
            flagged[name] = nodes

    row_wise = {n for n, v in flagged.items() if "BatchEvalPython" in v}
    assert not row_wise, (
        f"row-at-a-time Python UDF (BatchEvalPython) in: {sorted(row_wise)}"
        " — rewrite as a pandas_udf / builtin expression"
    )
    new = {
        n: sorted(v) for n, v in flagged.items()
        if v - _PYTHON_EVAL_OK.get(n, set())
    }
    assert not new, (
        f"unaudited Python evaluation in plans: {new} — builtin "
        "expressions first; audit into _PYTHON_EVAL_OK only with an "
        "Arrow-batched justification"
    )
    stale = {
        n for n in _PYTHON_EVAL_OK
        if n not in flagged or not (_PYTHON_EVAL_OK[n] & flagged.get(n, set()))
    }
    assert not stale, (
        f"allowlisted but no longer flagged (remove): {sorted(stale)}"
    )


def test_semantic_dedup_single_arrow_pass(spark, sf_dir):
    """r17 (VERDICT r16 #2): semantic_dedup_clusters derives member
    counts from the SAME grouped Arrow pass that computes the pair
    cosines (emit_group_size sentinel rows) — the plan must hold
    exactly ONE FlatMapGroupsInPandas and NO join (the r16 shape
    aggregated the embeddings a second time and broadcast-joined the
    counts back, shuffling/scanning the embeddings payload twice)."""
    import re

    df = all_queries()["semantic_dedup_clusters"](spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "extended"
        )
    )
    physical = plan.split("== Physical Plan ==")[-1]
    assert len(re.findall(r"\bFlatMapGroupsInPandas", physical)) == 1, (
        "semantic_dedup_clusters must shuffle the embeddings payload "
        "exactly once (one grouped Arrow pass)"
    )
    assert not re.search(r"\bJoin\b|\bBroadcastHashJoin|\bSortMergeJoin",
                         physical), (
        "semantic_dedup_clusters must not join member counts back — "
        "they ride the pair stage's sentinel rows"
    )


def test_no_container_columns_in_oracle_surface():
    """The driver's pandas canonicalizer cannot hash list/dict cells
    (round-1 parse_array err). Static check: no registered oracle SQL
    should *look* like it returns a raw list (the execution-level check
    lives in oracle.compare_query)."""
    for name, spec in REGISTRY.items():
        if spec.oracle is None:
            continue
        # DuckDB renders lists with list_sort(...)/string_split(...) AS col
        # — ensure any such call is wrapped in to_json/array_to_string/len.
        sql = spec.oracle.lower()
        for marker in ("string_split(", "list_sort(", "list("):
            idx = 0
            while (idx := sql.find(marker, idx)) != -1:
                prefix = sql[max(0, idx - 30):idx]
                assert (
                    "to_json(" in prefix
                    or "array_to_string(" in prefix
                    or "len(" in prefix
                    or "array_to_string" in sql[idx:idx + 120]
                    or "unnest" in prefix
                ), f"{name}: raw list-valued column in oracle near {marker!r}"
                idx += len(marker)


def test_cited_python_files_exist():
    """Every ``*.py`` path and bare ``*.py`` file name cited in
    the engine, the tests, README.md, SURVEY.md or .claude/ names a
    file in the repo, so deleting a module or a tool cannot leave a
    dangling citation.

    A path whose first directory is ``scripts``, ``tests``,
    ``perfbench`` or the package resolves from the repo root; one whose
    first directory is an engine subpackage resolves under the package
    (a deleted subpackage stays listed, so citing it still fails).
    ``{a,b}`` brace lists expand. Other paths, such as the reference
    repo's ``src/*.py``, are out of scope."""
    import re

    pkg = "etl_airbnb_mex_spark"
    roots = dict.fromkeys(("scripts", "tests", "perfbench", pkg), _REPO)
    roots.update(dict.fromkeys(
        ("functions", "multimodal", "operators", "plans", "queries",
         "sources", "streaming"),
        _REPO / pkg,
    ))
    path = re.compile(r"(?<![\w/-])((?:\w+/)+)(\{[\w,]+\}|\w+)\.py\b")
    bare = re.compile(r"(?<![\w/.{,-])(\w+\.py)\b")
    sources = [_REPO / "README.md", _REPO / "SURVEY.md"] + [
        p for d in ("etl_airbnb_mex_spark", "tests", ".claude")
        for p in sorted((_REPO / d).rglob("*")) if p.suffix in (".py", ".md")
    ]
    names = {p.name for p in _REPO.glob("*.py")} | {
        p.name for d in ("etl_airbnb_mex_spark", "tests", "scripts", "perfbench")
        for p in (_REPO / d).rglob("*.py")
    }
    missing = []
    for src in sources:
        text = src.read_text()
        where = src.relative_to(_REPO)
        for m in path.finditer(text):
            head = m.group(1)
            root = roots.get(head.split("/", 1)[0])
            if root is None:
                continue
            for stem in m.group(2).strip("{}").split(","):
                if not (root / head / f"{stem}.py").is_file():
                    missing.append(f"{where}: {head}{stem}.py")
        missing += [
            f"{where}: {m.group(1)}" for m in bare.finditer(text)
            if m.group(1) not in names
        ]
    assert not missing, "citations of missing files:\n" + "\n".join(missing)


def test_all_oracle_sql_parses_in_duckdb(sf_dir):
    """Fast static guard: every registered oracle must EXPLAIN cleanly
    in DuckDB — catches SQL syntax drift across all 150+ oracles in a
    few seconds without executing any of them."""
    from etl_airbnb_mex_spark.oracle import duckdb_connection
    from etl_airbnb_mex_spark.queries import _load

    _load()
    con = duckdb_connection(sf_dir)
    bad = []
    try:
        for name, spec in REGISTRY.items():
            if spec.oracle is None:
                continue
            try:
                con.execute("EXPLAIN " + spec.oracle)
            except Exception as e:  # noqa: BLE001 — collecting failures
                bad.append(f"{name}: {type(e).__name__}: {str(e)[:120]}")
    finally:
        con.close()
    assert not bad, "unparseable oracle SQL:\n" + "\n".join(bad)
