#!/usr/bin/env python
"""Generate PLANS.md: the formatted physical plan of every headline
query at sf0.1 — optimizer evidence (PushedFilters / ReadSchema pruning
/ join strategies / TakeOrderedAndProject) in one reviewable file."""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
KEEP = re.compile(
    r"PushedFilters|ReadSchema|Scan parquet|Join|Exchange|HashAggregate|"
    r"TakeOrderedAndProject|Window|Generate|ArrowEvalPython|Sort \(|Expand"
)

#: The registry queries PLANS.md covers, in file order.
HEADLINE = (
    "flagship_topn_pct", "groupby_multi_agg", "percentiles",
    "percentiles_approx", "outliers_iqr", "corr_matrix",
    "topn_by_count", "monthly_counts", "join_inner_fk",
    "join_broadcast_dim", "join_salted_skew", "join_asof",
    "window_rank_topn", "window_moving_avg", "window_tumbling_agg",
    "window_session_agg", "dedup_by_key", "dedup_text_exact",
    "dedup_minhash", "near_dedup_corpus", "decontaminate", "token_topn",
    "token_count_bpe", "tfidf_topk", "bigram_topn", "pii_scrub",
    "quality_filter", "sentiment_dist", "knn_cosine", "knn_cosine_lsh",
    "merge_upsert_snapshot", "linreg_by_group", "percentile_by_group",
    "sequence_pack", "join_range_binned", "interval_occupancy",
    "funnel_conversion", "sessionize_ids", "vocab_prune",
    "sample_weighted", "corpus_pipeline", "cosine_near_dup",
    "triangle_count", "gopher_quality_signals", "zipf_slope",
    "join_spatial_grid", "subquery_correlated_qty",
    "time_rollup_multigrain", "corpus_divergence", "intervals_merge",
    "segment_overlap", "embedding_quantize", "attribution_last_touch",
    "rolling_zscore", "session_path_topn", "doc_length_band_filter",
    "interarrival_stats", "source_mix_report", "promo_revenue_share",
    "supplier_revenue_concentration", "pareto_revenue_share",
    "repeat_purchase_rate", "q1_pricing_summary",
    "q5_local_supplier_volume", "q13_customer_distribution",
    "q19_disjunctive_revenue", "lang_id_confusion", "doc_chunk_overlap",
    "semantic_dedup_clusters", "basket_lift", "gini_concentration",
    "q4_order_priority", "q9_product_margin", "q21_waiting_suppliers",
    "bigram_surprisal", "split_leakage_audit", "hard_negative_mining",
    "heavy_hitters_sketch", "activity_streaks", "golden_record_merge",
    "lang_id_ngram", "roc_auc", "psi_drift", "woe_iv",
    "calibration_bins", "feature_hashing", "mutual_info",
    "histogram_equidepth",
)


def main() -> None:
    from etl_airbnb_mex_spark.queries import REGISTRY, _load
    from etl_airbnb_mex_spark.session import get_spark

    _load()
    spark = get_spark(app_name="dump-plans")
    out = [
        "# PLANS — headline-query physical plans (sf0.1)\n",
        "Generated by `scripts/dump_plans.py`. Filtered to the lines that",
        "show optimizer decisions: scan pushdown/pruning, join strategy,",
        "shuffle boundaries, aggregation and top-k operators.\n",
    ]
    for name in HEADLINE:
        df = REGISTRY[name].spark(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        lines = [
            ln.strip()[:200]
            for ln in plan.splitlines()
            if KEEP.search(ln)
        ]
        out.append(f"## {name}\n")
        out.append("```")
        if lines:
            out.extend(lines)
        else:
            out.append(
                "(no plan captured — the result was composed on the "
                "driver from eagerly run passes; see the operator's "
                "docstring for them)"
            )
        out.append("```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote PLANS.md ({len(HEADLINE)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
