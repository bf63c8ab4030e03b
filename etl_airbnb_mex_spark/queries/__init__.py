"""Oracle-checked query registry — the driver contract surface.

Every implemented operator from SURVEY.md §2 registers here as a
:class:`QuerySpec`: a Spark callable ``(spark, sf_dir) -> DataFrame``
plus (when SQL-expressible) the equivalent DuckDB oracle SQL. The driver
runs both at sf=0.01 and compares row-count + schema + order-insensitive
value-hash — so every computed column is aliased identically on both
sides, float aggregates are rounded to the same dp on both sides, and
sums over doubles go through DECIMAL so they are exact and
partition-order-independent (SURVEY.md §7.4.12).

Oracle design rules (each learned from a driver failure class):
  1. Alias every computed column identically on both sides.
  2. Round float aggregates to the same dp on both sides; sum doubles
     through DECIMAL for partition-order independence.
  3. CAST integer sums to BIGINT in the oracle SQL: DuckDB types
     ``sum(BIGINT)`` as HUGEINT, which the driver's pandas conversion
     renders float64 (``555.0``) while Spark emits bigint ``555`` —
     hash mismatch with identical values (CORRECTNESS_r04:
     entropy_by_group, rare_label_collapse). The local replica
     (oracle.py) now fetches via pandas and compares type-strictly,
     so a bare-HUGEINT column fails in pytest before it can reach
     the driver.
  4. No array/map/struct output columns — render to_json/array_join.
  5. No DateType output columns: DuckDB DATE pandas-converts to a
     midnight Timestamp ('2020-01-03 00:00:00') while Spark DateType
     stays datetime.date ('2020-01-03') — identical values, driver
     hash mismatch. Render dates as date_format/strftime strings or
     cast BOTH sides to timestamp (the local gate rejects DateType
     up front, oracle.py).
"""

from __future__ import annotations

from dataclasses import dataclass
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver records rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    """Decorator: register a (spark, sf_dir) -> DataFrame callable."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(name=name, spark=fn, oracle=oracle, doc=doc)
        return fn

    return deco


#: Driver-surface ordering. The driver verifies only the FIRST 50
#: registry entries in iteration order, so at most 50 names lead it:
#: first every entry whose code changed since its last driver row
#: (changed code gets a fresh row in the same run), then the
#: oracle-bearing entries with the oldest driver provenance. Every
#: oracle-bearing entry outside this window has a driver row in some
#: ``CORRECTNESS_r*.json`` (tests/test_registry.py checks both).
_PRIORITY: tuple[str, ...] = (
    # -- code changed in r16 (lockstep rule) --
    "approx_distinct",     # r16: converted to bounded-assertion form
    #                      with an oracle — (exact, within_10pct) —
    #                      VERDICT r15 #1; first driver hash ever
    "percentiles_approx",  # r16: same conversion (exact quartiles +
    #                      sketch-in-bracket boolean)
    "hll_distinct_rollup",  # r16: same conversion (per-month exact +
    #                      within_10pct)
    "bpe_merges",          # r16: gained the unrolled 10-round DuckDB
    #                      trainer oracle — the driver now asserts the
    #                      exact merge sequence
    "q5_local_supplier_volume",  # VERDICT r15 wrong-#1: its plan
    #                      code was touched in r15 without a fresh
    #                      CORRECTNESS_r* row — lockstep applied one
    #                      round late
    # -- new entry this round (never driver-checked before):
    #    the IVF build→probe lifecycle, VERDICT r15 #5 --
    "ivf_build_probe",
    # -- r16 lockstep, second batch (VERDICT r15 #3): q9's plan code
    #    was touched in r16 — it gets a fresh CORRECTNESS_r* row the
    #    same round --
    "q9_product_margin",
    # -- the r11-provenance cohort (VERDICT r15 #2): oldest
    #    oracle-bearing entries, none code-touched since r11 --
    "doc_length_band_filter",
    "embedding_quantize",
    "entropy_by_group",
    "event_transitions",
    "ewma_smooth",
    "fuzzy_vocab_pairs",
    "graph_reachability",
    "grouped_split",
    "having_join_bigorders",
    "interarrival_stats",
    "intervals_merge",
    "inverted_index",
    "join_spatial_grid",
    "kcore_parts",
    "knn_cosine",
    "mixture_resample",
    "pareto_revenue_share",
    "pit_lookup",
    "promo_revenue_share",
    "quality_gate_by_group",
    "rare_label_collapse",
    "repeat_purchase_rate",
    "rolling_median",
    "rolling_zscore",
    "sample_k_per_group",
    "sample_weighted_topk",
    "segment_overlap",
    "session_path_topn",
    "ship_delay_priority",
    "skyline_pareto",
    "sliding_distinct_users",
    "snapshot_diff",
    "source_mix_report",
    "subquery_correlated_qty",
    "supplier_revenue_concentration",
    "tfidf_topk",
    "time_rollup_multigrain",
    "unicode_normalize",
    "unigram_logprob",
    "weighted_median",
    # -- spare slots filled with the head of the r12 cohort (the
    #    next-oldest provenance, alphabetical — an early start on the
    #    r17 rotation queue) --
    "activity_streaks",
    "basket_lift",
)


def _ordered() -> list[QuerySpec]:
    _load()
    prio = [REGISTRY[n] for n in _PRIORITY if n in REGISTRY]
    rest = [s for s in REGISTRY.values() if s.name not in _PRIORITY]
    return prio + rest


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {spec.name: spec.spark for spec in _ordered()}


def all_oracle_sql() -> dict[str, str]:
    return {
        spec.name: spec.oracle
        for spec in _ordered()
        if spec.oracle is not None
    }


_loaded = False


def _load() -> None:
    global _loaded
    if not _loaded:
        from . import core  # noqa: F401
        from . import extensions  # noqa: F401
        from . import advanced  # noqa: F401
        from . import decision  # noqa: F401
        from . import llmprep  # noqa: F401
        from . import mleval  # noqa: F401
        _loaded = True
