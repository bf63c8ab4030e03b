"""sf1 error-bound checks for the sketch operators.

The registered approx_distinct / percentiles_approx /
hll_distinct_rollup entries are bounded-assertion forms the driver
hash-asserts at sf0.01 (exact values + an
estimate-within-published-error boolean). These tests stay as the
LARGE-scale leg: they bound the RAW estimates at sf1 (~6M lineitem
rows, built by scripts/make_scaledata.py 1.0), where a sketch cannot
look fine by accident — the same invariant the registered booleans
assert, two orders of magnitude up.

Skips cleanly when the sf1 tier is not built — the tier is derived
data (gitignored), not a repo artifact.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_airbnb_mex_spark.tables import load_table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1_DIR = os.path.join(REPO, ".scaledata", "sf1")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF1_DIR),
    reason="sf1 tier not built (python scripts/make_scaledata.py 1.0)",
)


def test_approx_distinct_bound_sf1(spark):
    """HLL++ at the default rsd=0.05: the estimate must land within
    ±3 standard errors (15%) of exact — and we assert the tighter
    ±10% the approx_distinct registry docstring promises, which holds
    with wide margin in practice (rsd is a 1σ figure)."""
    o = load_table(spark, SF1_DIR, "orders")
    row = o.agg(
        F.approx_count_distinct("o_custkey").alias("approx"),
        F.countDistinct("o_custkey").alias("exact"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) <= 0.10 * row["exact"]


def test_percentile_approx_rank_bound_sf1(spark):
    """percentile_approx (Greenwald-Khanna, accuracy=10000) publishes a
    RANK guarantee: the returned value's rank is within n/accuracy =
    1e-4·n of the target rank. Assert value-wise against the engine's
    exact quantiles at p ± 1e-3 (10× the published rank error, so the
    interval is conservative but still tight: [q(p-.001), q(p+.001)])."""
    li = load_table(spark, SF1_DIR, "lineitem")
    for p in (0.25, 0.5, 0.95):
        row = li.agg(
            F.percentile_approx(
                "l_extendedprice", F.lit(p), F.lit(10000)
            ).alias("approx"),
            F.percentile("l_extendedprice", F.lit(p - 1e-3)).alias("lo"),
            F.percentile("l_extendedprice", F.lit(p + 1e-3)).alias("hi"),
        ).collect()[0]
        assert row["lo"] <= row["approx"] <= row["hi"], (
            f"p={p}: {row['approx']} outside "
            f"[{row['lo']}, {row['hi']}]"
        )


def test_hll_rollup_bound_sf1(spark):
    """Per-month HLL++ rollup: every month's estimate within ±10% of
    the exact per-month countDistinct (3σ of the default rsd=0.05,
    asserted at the docstring's tighter promise)."""
    from etl_airbnb_mex_spark.operators.timeseries import (
        hll_distinct_rollup,
    )

    ev = spark.read.parquet(os.path.join(SF1_DIR, "events.parquet"))
    est = {
        r.month: r.approx_distinct
        for r in hll_distinct_rollup(ev, "ts", "user_id").collect()
    }
    exact = {
        r.month: r.n
        for r in ev.groupBy(
            F.date_format(F.date_trunc("month", "ts"), "yyyy-MM-dd")
            .alias("month")
        )
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for m in exact:
        assert abs(est[m] - exact[m]) <= 0.10 * exact[m]


def test_bounded_assertion_entries_hold_sf1(spark):
    """The registered bounded-assertion forms assert their booleans
    at the driver's sf0.01; this is the sf1
    scale leg — the SAME registered plans, 100× the data, every
    estimate-within-published-error boolean still TRUE. A mis-set
    tolerance that squeaks by at sf0.01 fails here."""
    from etl_airbnb_mex_spark.queries import REGISTRY, _load

    _load()
    row = REGISTRY["approx_distinct"].spark(spark, SF1_DIR).collect()[0]
    assert row["within_10pct"] is True
    assert row["exact_custkeys"] > 0
    row = REGISTRY["percentiles_approx"].spark(spark, SF1_DIR).collect()[0]
    assert row["approx_in_bracket"] is True
    assert row["cnt"] > 0
    months = REGISTRY["hll_distinct_rollup"].spark(spark, SF1_DIR).collect()
    assert months
    for r in months:
        assert r["within_10pct"] is True, r
