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


def main() -> None:
    from bench import HEADLINE

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
                "(driver-composed result — a multi-pass algorithm ran "
                "eagerly; see the operator's docstring for its passes, "
                "e.g. operators/stats.skyline_2d)"
            )
        out.append("```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote PLANS.md ({len(HEADLINE)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
