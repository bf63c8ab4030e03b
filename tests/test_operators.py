"""Operator-quality tests beyond oracle parity (SURVEY.md §5.3.5):
approximation error bounds, LSH recall vs exact ground truth, plan-shape
assertions (pushdown/pruning), and hypothesis property checks on the
scalar expression builders."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from etl_airbnb_mex_spark.tables import load_table


# ---------------------------------------------------------------------------
# Approximation error bounds
# ---------------------------------------------------------------------------

def test_approx_distinct_error_bound(spark, sf_dir):
    """approx_count_distinct (HLL++, default rsd 5%) must land within
    ±10% of the exact count — the bound promised in the approx_distinct
    registry docstring."""
    o = load_table(spark, sf_dir, "orders")
    row = o.agg(
        F.approx_count_distinct("o_custkey").alias("approx"),
        F.countDistinct("o_custkey").alias("exact"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) <= 0.1 * row["exact"]


def test_approx_percentile_close_to_exact(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    row = li.agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("exact"),
        F.percentile_approx("l_extendedprice", F.lit(0.5)).alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05


# ---------------------------------------------------------------------------
# LSH quality vs exact ground truth
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    d.persist()
    yield d
    d.unpersist()


def test_minhash_estimates_jaccard(spark, docs):
    """For every candidate pair, the signature-agreement estimate must be
    close to the true shingle Jaccard (MinHash unbiasedness; 32 hashes →
    s.e. ≈ sqrt(j(1-j)/32) ≤ 0.09)."""
    from etl_airbnb_mex_spark.operators.dedup import (
        minhash_near_dup_pairs,
        shingles,
    )

    pairs = minhash_near_dup_pairs(docs).collect()
    assert pairs, "expected near-dup candidates in the documents table"
    sh = docs.select("doc_id", shingles("text").alias("sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    truth = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in a.join(
            b, F.col("a.doc_id") < F.col("b.doc_id")
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            (
                F.size(F.array_intersect("a.sh", "b.sh"))
                / F.size(F.array_union("a.sh", "b.sh"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") > 0.1)
        .collect()
    }
    for r in pairs:
        true_j = truth.get((r["id_a"], r["id_b"]), 0.0)
        assert abs(r["est_jaccard"] - true_j) < 0.35, (r, true_j)


def test_minhash_recall_of_strong_dups(spark, docs):
    """Pairs with true Jaccard >= 0.5 must be found by the 8-band LSH
    (P[miss] = (1-j^4)^8 ≤ 0.6% at j=0.5)."""
    from etl_airbnb_mex_spark.operators.dedup import (
        minhash_near_dup_pairs,
        shingles,
    )

    found = {
        (r["id_a"], r["id_b"]) for r in minhash_near_dup_pairs(docs).collect()
    }
    sh = docs.select("doc_id", shingles("text").alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    strong = [
        (r["id_a"], r["id_b"])
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            (
                F.size(F.array_intersect("a.sh", "b.sh"))
                / F.size(F.array_union("a.sh", "b.sh"))
            ).alias("j"),
        )
        .filter(F.col("j") >= 0.5)
        .collect()
    ]
    assert strong, "expected strong near-dups in the documents table"
    missed = [p for p in strong if p not in found]
    assert len(missed) <= max(1, 0.05 * len(strong)), missed


def test_lsh_finds_planted_near_dups(spark, sf_dir):
    """Multi-table LSH must recover planted high-cosine neighbors — the
    near-dup regime LSH exists for. Corpus = driver embeddings + 5
    perturbed copies of vector 0 (cosine ≈ 0.98); with 8 tables × 4 bits
    and per-bit agreement p ≈ 0.94, P[miss one] ≈ (1-p^4)^8 < 0.01."""
    from etl_airbnb_mex_spark.operators.similarity import knn_cosine_lsh
    from etl_airbnb_mex_spark.queries.extensions import _fixed_planes

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    base = e.filter(F.col("vec_id") == 0)
    planted = [
        base.select(
            F.lit(100_000 + j).alias("vec_id"),
            F.transform(
                "embedding", lambda x, i: x + 0.02 * ((i + j) % 3 - 1)
            ).alias("embedding"),
        )
        for j in range(5)
    ]
    corpus = e
    for p in planted:
        corpus = corpus.unionByName(p)
    got = knn_cosine_lsh(
        corpus, base, planes=_fixed_planes(), bits_per_table=4, k=5
    ).collect()
    found = {r["vec_id"] for r in got}
    assert found == {100_000 + j for j in range(5)}, got
    assert all(r["cosine_sim"] > 0.9 for r in got)


def test_lsh_results_are_true_cosines(spark, sf_dir):
    """Whatever the LSH probe returns must carry EXACT cosine values
    (approximation affects candidate recall, never reported scores)."""
    from etl_airbnb_mex_spark.operators.similarity import (
        knn_cosine,
        knn_cosine_lsh,
    )
    from etl_airbnb_mex_spark.queries.extensions import _fixed_planes

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    exact = {r["vec_id"]: r["cosine_sim"] for r in knn_cosine(e, q, k=500).collect()}
    approx = knn_cosine_lsh(e, q, planes=_fixed_planes(), k=10).collect()
    assert approx
    for r in approx:
        assert r["cosine_sim"] == pytest.approx(exact[r["vec_id"]], abs=1e-6)


# ---------------------------------------------------------------------------
# Plan-shape assertions: the optimizations SURVEY.md §4.3 promises
# ---------------------------------------------------------------------------

def _formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_filter_and_prune_reach_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    plan = _formatted_plan(
        li.filter(F.col("l_shipdate") <= "1995-01-01").select(
            "l_orderkey", "l_quantity"
        )
    )
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    read_schema = next(
        line for line in plan.splitlines() if "ReadSchema" in line
    )
    assert "l_extendedprice" not in read_schema  # pruned
    assert "l_orderkey" in read_schema


def test_topn_plans_as_take_ordered(spark, sf_dir):
    from etl_airbnb_mex_spark.operators.topn import topn_by_count

    plan = _formatted_plan(
        topn_by_count(load_table(spark, sf_dir, "documents"), "lang", 3)
    )
    assert "TakeOrderedAndProject" in plan  # true top-k, no global sort


def test_dim_join_broadcasts(spark, sf_dir):
    from etl_airbnb_mex_spark.operators.joins import broadcast_dim_join

    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    plan = _formatted_plan(
        broadcast_dim_join(c, n, "c_nationkey", "n_nationkey")
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cosine_near_dup_bucketed_subset_of_exact(spark, sf_dir):
    """Every pair the bucketed form reports must exist in the exact
    O(n²) oracle with the IDENTICAL similarity (LSH affects recall,
    never reported pairs or scores), and on this corpus it must find a
    non-trivial share of them."""
    from etl_airbnb_mex_spark.operators.similarity import (
        cosine_near_dup_bucketed,
        cosine_near_dup_pairs,
    )
    from etl_airbnb_mex_spark.queries.extensions import _fixed_planes

    e = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in cosine_near_dup_pairs(e, threshold=0.3).collect()
    }
    got = cosine_near_dup_bucketed(
        e, planes=_fixed_planes(n=8), bits_per_table=4, threshold=0.3
    ).collect()
    assert got, "bucketed form found nothing"
    for r in got:
        key = (r["id_a"], r["id_b"])
        assert key in exact, f"pair {key} not in exact result"
        assert r["cosine_sim"] == exact[key]
    assert len(got) >= 0.05 * len(exact)  # 2 tables × 4 bits @ θ≈72°


#: Registered queries whose physical plan legitimately contains a
#: BroadcastNestedLoopJoin (crossJoin against a broadcast 1-row
#: scalar frame). SINGLE SOURCE OF TRUTH: tests/test_registry.py's
#: audited allowlist — a second literal copy here drifted when the
#: round-6 window rotated new scalar-broadcast queries in.
from tests.test_registry import _SCALAR_BNLJ_OK


def test_driver_window_plans_have_no_unbounded_products(spark, sf_dir):
    """Explain-plan regression guard over the whole 50-slot driver
    window (VERDICT.md r3 stretch #7): no CartesianProduct anywhere,
    and BroadcastNestedLoopJoin only for the audited scalar-broadcast
    allowlist — in particular the rewritten cosine_near_dup must plan
    as a pure (table, bucket) equi-join."""
    from etl_airbnb_mex_spark.queries import all_queries

    offenders = []
    for name, fn in list(all_queries().items())[:50]:
        plan = _formatted_plan(fn(spark, sf_dir))
        if "CartesianProduct" in plan:
            offenders.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in _SCALAR_BNLJ_OK:
            offenders.append(f"{name}: BroadcastNestedLoopJoin")
    assert not offenders, "unbounded join plans:\n" + "\n".join(offenders)


# ---------------------------------------------------------------------------
# Hypothesis property checks on scalar builders (SURVEY.md §5.3.5)
# ---------------------------------------------------------------------------

HSETTINGS = settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 3),
            st.sampled_from([None, "a", "b"]),
            st.integers(-5, 5),
        ),
        max_size=25,
    )
)
@HSETTINGS
def test_dedup_keep_first_matches_pandas(spark, rows):
    """D1 equals pandas ``drop_duplicates(subset=keys, keep="first")``
    with the file order as the tie-break: NULL keys form one group, as
    in pandas, and the kept row is the first one in file order."""
    import pandas as pd

    from etl_airbnb_mex_spark.operators.dedup import dedup_keep_first

    data = [(pos, k1, k2, v) for pos, (k1, k2, v) in enumerate(rows)]
    schema = "pos long, k1 int, k2 string, v int"
    got = sorted(
        tuple(r) for r in dedup_keep_first(
            spark.createDataFrame(data, schema), ["k1", "k2"], ["pos"]
        ).collect()
    )
    pdf = pd.DataFrame(data, columns=["pos", "k1", "k2", "v"])
    want = sorted(
        tuple(r) for r in pdf.drop_duplicates(
            subset=["k1", "k2"], keep="first"
        ).itertuples(index=False)
    )
    assert got == want


@given(
    raw=st.one_of(
        st.none(),
        st.text(max_size=12),
        st.from_regex(r"\$?[0-9]{1,7}(,[0-9]{3})?(\.[0-9]{2})?", fullmatch=True),
    )
)
@HSETTINGS
def test_clean_price_idempotent_and_total(spark, raw):
    """F1 is total (never NULL, never error) and idempotent: cleaning an
    already-clean price string returns the same value."""
    from etl_airbnb_mex_spark.functions.cleaning import clean_price

    df = spark.createDataFrame([(raw,)], "p string")
    once = df.select(clean_price("p").alias("v")).collect()[0]["v"]
    assert once is not None and not math.isnan(once)
    twice = (
        df.select(F.lit(str(once)).alias("p2"))
        .select(clean_price("p2").alias("v"))
        .collect()[0]["v"]
    )
    assert twice == pytest.approx(once)


@given(
    p1=st.floats(min_value=0, max_value=10_000, allow_nan=False),
    p2=st.floats(min_value=0, max_value=10_000, allow_nan=False),
)
@HSETTINGS
def test_price_bucket_monotone(spark, p1, p2):
    """F9 monotonicity: a higher price never lands in a lower bucket."""
    from etl_airbnb_mex_spark.functions.cleaning import price_bucket

    order = ["Económico", "Medio", "Medio-Alto", "Alto", "Premium"]
    lo, hi = sorted([p1, p2])
    df = spark.createDataFrame([Row(a=lo, b=hi)])
    row = df.select(
        price_bucket("a").alias("ba"), price_bucket("b").alias("bb")
    ).collect()[0]
    assert order.index(row["ba"]) <= order.index(row["bb"])


@given(
    d=st.dates(min_value=__import__("datetime").date(1980, 1, 1),
               max_value=__import__("datetime").date(2030, 12, 31))
)
@HSETTINGS
def test_date_parts_consistent(spark, d):
    """F16 internal consistency: weekday matches Python's Monday=0
    convention; quarter matches month; normalize round-trips."""
    from etl_airbnb_mex_spark.functions.dates import (
        date_normalize,
        weekday_mon0,
    )

    df = spark.createDataFrame([Row(s=d.isoformat())])
    row = df.select(
        weekday_mon0(F.to_timestamp("s")).alias("wd"),
        F.quarter(F.to_timestamp("s")).alias("q"),
        date_normalize("s").alias("norm"),
    ).collect()[0]
    assert row["wd"] == d.weekday()
    assert row["q"] == (d.month - 1) // 3 + 1
    assert row["norm"] == d.isoformat()


@given(raw=st.one_of(st.none(), st.text(max_size=20)))
@HSETTINGS
def test_bool_encode_total_binary(spark, raw):
    """F11 is total and binary: every input maps to exactly 0 or 1, and
    membership in the truthy set decides which."""
    from etl_airbnb_mex_spark.functions.cleaning import TRUTHY, bool_encode

    df = spark.createDataFrame([(raw,)], "b string")
    got = df.select(bool_encode("b").alias("v")).collect()[0]["v"]
    expected = 1 if raw is not None and raw.strip().lower() in TRUTHY else 0
    assert got == expected


# ---------------------------------------------------------------------------
# Skew posture (SURVEY.md §4.3)
# ---------------------------------------------------------------------------

def test_salted_join_matches_plain_join(spark, sf_dir):
    from etl_airbnb_mex_spark.operators.joins import salted_join

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    plain = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment").count()
    )
    salted = (
        salted_join(o, c, "o_custkey", "c_custkey", salt=8)
        .groupBy("c_mktsegment").count()
    )
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_asof_join_is_single_shuffle(spark, sf_dir):
    """The as-of operator itself shuffles exactly once (on the key for
    the ordered window) — the union+last(ignoreNulls) design; a naive
    range join would be a broadcast-nested-loop blow-up."""
    from etl_airbnb_mex_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    out = asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="ts",
        right_value_cols=["ts", "value"],
    )
    plan = _formatted_plan(out)
    n_exchanges = sum(
        1 for line in plan.splitlines()
        if line.strip().startswith("(") and "Exchange" in line
    )
    assert n_exchanges == 1, plan


def test_near_dedup_corpus_policy(spark, docs):
    """Survivors = corpus minus docs near-dup (est >= 0.5) of a LOWER id;
    verify the greedy policy against the candidate pairs themselves and
    that at least one true duplicate was removed from the driver data."""
    from etl_airbnb_mex_spark.operators.dedup import (
        minhash_near_dup_pairs,
        near_dedup_corpus,
    )

    survivors = {
        r["doc_id"] for r in near_dedup_corpus(docs).select("doc_id").collect()
    }
    pairs = [
        (r["id_a"], r["id_b"])
        for r in minhash_near_dup_pairs(docs).collect()
        if r["est_jaccard"] >= 0.5
    ]
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    expected_victims = {b for _, b in pairs}
    assert survivors == all_ids - expected_victims
    assert expected_victims, "driver documents table should contain near-dups"
    # no surviving pair is still a >=0.5 near-dup with both sides kept
    for a, b in pairs:
        assert not (a in survivors and b in survivors)


def test_ivf_knn_recall_vs_exact(spark, sf_dir):
    """IVF probing 8 of 16 lists recovers most of the exact top-10 even
    on the driver's weakly-similar embeddings (top cosine ≈ 0.3 — the
    hard regime for any ANN; deterministic with the fixed KMeans seed),
    and reported scores are exact cosines."""
    from etl_airbnb_mex_spark.operators.similarity import (
        knn_cosine,
        knn_cosine_ivf,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    exact = {r["vec_id"]: r["cosine_sim"] for r in knn_cosine(e, q, k=100).collect()}
    got = knn_cosine_ivf(e, q, k=10, n_centroids=16, n_probe=8).collect()
    assert len(got) == 10
    top10 = sorted(exact, key=lambda i: -exact[i])[:10]
    overlap = len(set(top10) & {r["vec_id"] for r in got})
    assert overlap >= 5, (top10, got)
    for r in got:
        assert r["cosine_sim"] == pytest.approx(exact[r["vec_id"]], abs=1e-6)


def test_ivf_finds_planted_near_dups(spark, sf_dir):
    """The near-dup regime IVF exists for: planted high-cosine copies of
    the query land in the query's own probed list and are all found."""
    from etl_airbnb_mex_spark.operators.similarity import knn_cosine_ivf

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    base = e.filter(F.col("vec_id") == 0)
    corpus = e
    for j in range(5):
        corpus = corpus.unionByName(
            base.select(
                F.lit(100_000 + j).alias("vec_id"),
                F.transform(
                    "embedding", lambda x, i: x + 0.02 * ((i + j) % 3 - 1)
                ).alias("embedding"),
            )
        )
    got = knn_cosine_ivf(corpus, base, k=5, n_centroids=16, n_probe=4).collect()
    assert {r["vec_id"] for r in got} == {100_000 + j for j in range(5)}, got


def test_ivf_probe_pinned_matches_semantics(spark, sf_dir):
    """The r10 pinned-quantizer probe (the oracle-checked registered
    form): reported scores are exact cosines, the candidate set is the
    union of the probed lists only, and probing ALL lists reproduces the
    exact brute-force top-k — the recall loss is purely list pruning,
    never a scoring defect. Empty query frame yields an empty result."""
    from etl_airbnb_mex_spark.operators.similarity import (
        ivf_probe_pinned,
        knn_cosine,
    )
    from etl_airbnb_mex_spark.queries._ivf_centroids import (
        IVF_PINNED_CENTROIDS,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    exact = {
        r["vec_id"]: r["cosine_sim"]
        for r in knn_cosine(e, q, k=500).collect()
    }
    # probing every list == brute force (scores AND ranking identical)
    all_lists = ivf_probe_pinned(
        e, IVF_PINNED_CENTROIDS, q, k=10,
        n_probe=len(IVF_PINNED_CENTROIDS),
    ).collect()
    top10 = sorted(exact, key=lambda i: (-exact[i], i))[:10]
    assert [r["vec_id"] for r in all_lists] == top10
    # the registered 4-of-16 probe: exact scores; recall on these
    # weakly-similar embeddings (top cosine ~0.3, the hard ANN regime)
    # is bounded loosely — the 8-list probe carries the >=5 bar, same
    # as test_ivf_knn_recall_vs_exact
    got = ivf_probe_pinned(e, IVF_PINNED_CENTROIDS, q, k=10, n_probe=4)
    rows = got.collect()
    assert len(rows) == 10
    for r in rows:
        assert r["cosine_sim"] == pytest.approx(exact[r["vec_id"]], abs=1e-6)
    assert len(set(top10) & {r["vec_id"] for r in rows}) >= 2
    eight = ivf_probe_pinned(
        e, IVF_PINNED_CENTROIDS, q, k=10, n_probe=8
    ).collect()
    assert len(set(top10) & {r["vec_id"] for r in eight}) >= 5
    # empty query frame -> empty result, no error
    empty = ivf_probe_pinned(
        e, IVF_PINNED_CENTROIDS, e.filter(F.col("vec_id") < 0), k=10,
    )
    assert empty.count() == 0


def test_ivf_probe_pinned_rejects_multirow_query(spark, sf_dir):
    """ADVICE r10 #2 (closed r12): the probe pick and top-k are GLOBAL,
    so a multi-row query frame used to silently mix centroid picks and
    neighbors across queries — it must raise instead. The empty-result
    schema stays identical to the non-empty path (name AND type)."""
    from etl_airbnb_mex_spark.operators.similarity import ivf_probe_pinned
    from etl_airbnb_mex_spark.queries._ivf_centroids import (
        IVF_PINNED_CENTROIDS,
    )

    e = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="single-row query_df"):
        ivf_probe_pinned(
            e, IVF_PINNED_CENTROIDS, e.filter(F.col("vec_id") < 2), k=5
        )
    empty = ivf_probe_pinned(
        e, IVF_PINNED_CENTROIDS, e.filter(F.col("vec_id") < 0), k=5
    )
    one = ivf_probe_pinned(
        e, IVF_PINNED_CENTROIDS, e.filter(F.col("vec_id") == 0), k=5
    )
    assert [(f.name, f.dataType) for f in empty.schema.fields] == [
        (f.name, f.dataType) for f in one.schema.fields
    ]


def test_ivf_lifecycle_partitioned_write(spark, sf_dir, tmp_path):
    """The 100 TB deployment shape behind the ivf_build_probe entry
    (VERDICT r15 #5): assignments are WRITTEN partitioned by list id,
    so a probe reads only the probed lists — the list filter must reach
    the scan as a PartitionFilter (pruning), and the probe over the
    written table must reproduce the in-memory probe's rows exactly."""
    from etl_airbnb_mex_spark.operators.similarity import (
        ivf_build,
        ivf_probe,
    )

    e = load_table(spark, sf_dir, "embeddings")
    assigned, centers = ivf_build(e, n_centroids=8)
    out = str(tmp_path / "ivf_lists")
    assigned.write.partitionBy("__centroid").parquet(out)
    back = spark.read.parquet(out)
    q = e.filter(F.col("vec_id") == 0)
    direct = ivf_probe(assigned, centers, q, k=10, n_probe=3).collect()
    probed = ivf_probe(back, centers, q, k=10, n_probe=3)
    assert probed.collect() == direct
    plan = probed._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PartitionFilters: [__centroid" in plan, plan


def test_pagerank_round_ranks_stability(spark):
    """round_ranks (the oracle-determinism knob) must not change WHAT
    pagerank computes: 12-dp per-round rounding perturbs final ranks by
    < 1e-9 vs the unrounded run, ranks still sum to 1, and the result
    is identical across repeated runs (partition-order independent
    after rounding)."""
    from etl_airbnb_mex_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i % 17, (i * 7) % 23) for i in range(200)], "src int, dst int"
    ).distinct()
    plain = {
        r["node"]: r["rank"] for r in pagerank(edges, max_iter=5).collect()
    }
    rounded = {
        r["node"]: r["rank"]
        for r in pagerank(edges, max_iter=5, round_ranks=12).collect()
    }
    assert set(plain) == set(rounded)
    for n in plain:
        assert abs(plain[n] - rounded[n]) < 1e-9, (n, plain[n], rounded[n])
    assert sum(rounded.values()) == pytest.approx(1.0, abs=1e-4)
    again = {
        r["node"]: r["rank"]
        for r in pagerank(edges, max_iter=5, round_ranks=12).collect()
    }
    assert rounded == again


def test_pagerank_rounding_boundary_guard(spark):
    """ADVICE r10 #3 (closed r12): per-round rounding is cross-engine
    safe only when every pre-rounding rank sits clear of the .5
    boundary. The guard expression must (a) pass values a full grid
    step away, (b) pass values just OUTSIDE the band, (c) abort loudly
    for values ON the boundary, and (d) stay silent on a real pagerank
    run (the probabilistically-never case)."""
    from pyspark.errors import SparkRuntimeException

    from etl_airbnb_mex_spark.operators.graph import (
        _ROUND_GUARD_GRID,
        _boundary_guarded_round,
        pagerank,
    )

    def run(vals: list[float]):
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        return df.select(
            _boundary_guarded_round(F.col("v"), 12, _ROUND_GUARD_GRID)
            .alias("r")
        ).collect()

    # clear of the boundary: rounds normally (0.9 grid units -> 1e-12)
    ok = run([1.0e-3, 2.34e-3, 0.9e-12])
    assert [r["r"] for r in ok] == [1.0e-3, 2.34e-3, 1e-12]
    # just outside the band (0.5 + 10*guard grid units): passes
    run([(0.5 + 10 * _ROUND_GUARD_GRID) * 1e-12])
    # ON the boundary: the in-plan assert fires with the loud message
    with pytest.raises(SparkRuntimeException, match="boundary hit"):
        run([1.5e-12])
    # magnitude-aware band (ADVICE r12 #1): at rank ~0.0086 the scaled
    # value sits near 2^33 where one ulp is ~1.9e-6 grid units — a
    # two-ulp straddle of the .5 boundary (dist 3.8e-6) passed the old
    # fixed 1e-6 band silently but is exactly the cross-engine-drift
    # case the guard exists for. greatest(guard, 4*ulp) must catch it.
    two_ulp_straddle = float.fromhex("0x1.1979981324ffap-7")
    with pytest.raises(SparkRuntimeException, match="boundary hit"):
        run([two_ulp_straddle])
    # ...while a same-magnitude value CLEAR of the boundary (dist 0.5
    # vs the widened ~8.9e-6 band) still rounds normally
    run([0.01])
    # clamp (ADVICE r13 #3): at |scaled| ~1e16 the 4-ulp band would
    # exceed the max attainable dist of 0.5 and fire unconditionally;
    # with the 0.25 clamp a large value clear of any .5 straddle
    # (1e4.25 at dp=12 -> scaled 2.5e15, frac representable, dist 0.25
    # ... use an exactly-representable integer: frac 0, dist 0.5)
    # rounds as the identity instead of aborting.
    big = run([12345.0, 2.0 ** 53])
    assert [r["r"] for r in big] == [12345.0, 2.0 ** 53]
    # a real run with the guard active completes (same graph as the
    # stability test): the probabilistically-never case stays silent
    edges = spark.createDataFrame(
        [(i % 17, (i * 7) % 23) for i in range(200)], "src int, dst int"
    ).distinct()
    assert len(pagerank(edges, max_iter=3, round_ranks=12).collect()) == 23


def test_sql_interface_runs_registry_equivalent(spark, sf_dir):
    """The engine's query language IS Spark SQL: registered views +
    spark.sql produce the same result as the DataFrame-built flagship
    (S6/§3 — a reference user can bring raw SQL instead of the API)."""
    from etl_airbnb_mex_spark.queries.core import flagship
    from etl_airbnb_mex_spark.tables import register_views

    register_views(spark, sf_dir)
    via_sql = spark.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty
        FROM lineitem
        WHERE l_shipdate <= '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """).collect()
    via_api = flagship(spark, sf_dir).select(
        "l_returnflag", "l_linestatus", "sum_qty"
    ).collect()
    assert [tuple(r) for r in via_sql] == [tuple(r) for r in via_api]


def test_ngram_jaccard_verified_matches_bruteforce(spark, docs):
    """The candidate-fed exact Jaccard must reproduce the brute-force
    result for every pair whose true Jaccard clears the threshold AND
    was recallable by LSH (strong pairs: recall-tested separately)."""
    from etl_airbnb_mex_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_verified_pairs,
    )

    brute = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, n=3, threshold=0.5, max_ids=10**12
        ).collect()
    }
    verified = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_verified_pairs(docs, threshold=0.5).collect()
    }
    assert brute, "expected >=1 strong near-dup pair in documents"
    # verified ⊆ brute with identical values; misses only from LSH recall
    for pair, j in verified.items():
        assert brute[pair] == pytest.approx(j, abs=1e-9)
    missed = set(brute) - set(verified)
    assert len(missed) <= max(1, 0.05 * len(brute)), missed


def test_pair_encoding_integer_exact_near_2_31(spark):
    """The encoded-pair decode must be integer-exact over the FULL
    2^31 encoding range: the r8 form decoded src with F.floor(pc/enc)
    whose DOUBLE division loses exactness past partkey ~4.2M
    (2^53/2^31, ADVICE r8 #1); the shiftright/% decode has no
    floating-point bound. Exercise ids right at the top of the range."""
    import itertools

    from etl_airbnb_mex_spark.queries.extensions import (
        _basket_pair_counts,
        _decode_pair,
    )

    ids = [2**31 - 1, 2**31 - 2, 4_200_000, 4_200_001, 123]
    baskets = spark.createDataFrame(
        [(1, ids), (2, ids[:3])], "l_orderkey long, __ps array<long>"
    )
    got = {
        (r["part_a"], r["part_b"]): r["n_orders"]
        for r in _basket_pair_counts(baskets)
        .select(*_decode_pair("part_a", "part_b"), "n_orders")
        .collect()
    }
    want: dict[tuple[int, int], int] = {}
    for basket in (ids, ids[:3]):
        for a, b in itertools.combinations(basket, 2):
            key = (min(a, b), max(a, b))
            want[key] = want.get(key, 0) + 1
    assert got == want


def test_global_order_prefix_null_nan_rank_order(spark):
    """Null and NaN order values must rank exactly as Spark's ascending
    sort places them (nulls FIRST, NaN LAST) — the r8 form dropped
    nulls into the last bucket while sorting them first inside it,
    producing ranks inconsistent with a true global sort (ADVICE r8 #3).
    """
    from pyspark.sql import Window

    from etl_airbnb_mex_spark.operators.stats import global_order_prefix

    df = spark.createDataFrame(
        [(None,), (float("nan"),), (1.0,), (5.0,), (None,),
         (3.0,), (float("nan"),), (2.0,)],
        "v double",
    )
    got = [
        (r["v"], r["rk"])
        for r in global_order_prefix(df, "v", rank=True)
        .orderBy("rk").collect()
    ]
    want = [
        (r["v"], r["rk"])
        for r in df.withColumn(
            "rk", F.row_number().over(Window.orderBy("v"))
        ).orderBy("rk").collect()
    ]

    def key(x):  # NaN != NaN; compare by repr class
        return [("nan" if v != v else v, rk) for v, rk in x if v is not None]

    assert key(got) == key(want)
    assert [rk for v, rk in got if v is None] == \
        [rk for v, rk in want if v is None]


def test_global_order_prefix_inf_rank_order(spark):
    """±Inf order values must rank exactly as Spark's ascending sort
    places them (null < −Inf < finite < +Inf < NaN). Before r10 they
    were a documented precondition violation (an infinite min/max made
    every bucket width NaN); now limits come from finite values only
    and the infinities pin to the edge buckets (VERDICT r9 #6)."""
    from pyspark.sql import Window

    from etl_airbnb_mex_spark.operators.stats import global_order_prefix

    inf = float("inf")
    df = spark.createDataFrame(
        [(inf,), (-inf,), (None,), (float("nan"),), (4.0,),
         (-inf,), (1.0,), (inf,), (2.0,), (None,), (3.0,)],
        "v double",
    )
    got = [
        (r["v"], r["rk"])
        for r in global_order_prefix(df, "v", rank=True)
        .orderBy("rk").collect()
    ]
    want = [
        (r["v"], r["rk"])
        for r in df.withColumn(
            "rk", F.row_number().over(Window.orderBy("v"))
        ).orderBy("rk").collect()
    ]

    def key(x):  # NaN != NaN; compare by repr class
        return [("nan" if v != v else v, rk) for v, rk in x if v is not None]

    assert key(got) == key(want)
    assert [rk for v, rk in got if v is None] == \
        [rk for v, rk in want if v is None]
    # degenerate frame with NO finite value still ranks correctly
    df2 = spark.createDataFrame(
        [(inf,), (-inf,), (float("nan"),), (None,)], "v double"
    )
    got2 = [
        (r["v"], r["rk"])
        for r in global_order_prefix(df2, "v", rank=True)
        .orderBy("rk").collect()
    ]
    assert [rk for _, rk in got2] == [1, 2, 3, 4]
    assert got2[0][0] is None and got2[1][0] == -inf
    assert got2[2][0] == inf and got2[3][0] != got2[3][0]  # NaN last


def test_winnowing_overlap_guarantee(spark):
    """Winnowing property: two docs sharing a long run of tokens share
    at least one fingerprint; disjoint docs share none; fingerprints are
    deterministic."""
    from etl_airbnb_mex_spark.operators.dedup import winnowing_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [
            (1, f"intro words {shared} tail one"),
            (2, f"different opening {shared} other ending"),
            (3, "completely unrelated words about nothing at all here"),
        ],
        "doc_id long, text string",
    )
    fp = winnowing_fingerprints(df, k=3, window=4)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert by_doc[1] & by_doc[2], "overlapping docs must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])
    again = {r["doc_id"]: r["fingerprint"] for r in fp.collect()}
    assert again  # deterministic re-run (no RNG anywhere)


def test_lsh_udf_matches_expression_signatures(spark, sf_dir):
    """The Arrow-batched bucket UDF and the expression-based
    lsh_table_signatures must produce IDENTICAL (table, bucket) pairs —
    the contract that makes a precomputed index probe-compatible."""
    from etl_airbnb_mex_spark.operators.similarity import (
        _lsh_bucket_udf,
        lsh_table_signatures,
    )
    from etl_airbnb_mex_spark.queries.extensions import _fixed_planes

    planes = _fixed_planes()
    e = load_table(spark, sf_dir, "embeddings").limit(50)
    v = F.col("embedding").cast("array<double>")
    via_udf = {
        (r["vec_id"], r["t"], r["b"])
        for r in e.select(
            "vec_id", F.posexplode(_lsh_bucket_udf(planes, 4)(v)).alias("t", "b")
        ).collect()
    }
    via_expr = {
        (r["vec_id"], r["s"]["table"], r["s"]["bucket"])
        for r in e.select(
            "vec_id", F.explode(lsh_table_signatures(v, planes, 4)).alias("s")
        ).collect()
    }
    assert via_udf == via_expr


def test_lsh_tolerates_null_and_short_embeddings(spark, sf_dir):
    """A NULL or wrong-dimension embedding must drop out of the index,
    not kill the query (regression: np.vstack on ragged input raised
    inside the Python worker)."""
    from etl_airbnb_mex_spark.operators.similarity import knn_cosine_lsh
    from etl_airbnb_mex_spark.queries.extensions import _fixed_planes

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    bad = spark.createDataFrame(
        [(90_001, None), (90_002, [1.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    corpus = e.unionByName(bad)
    got = knn_cosine_lsh(
        corpus, e.filter(F.col("vec_id") == 0), planes=_fixed_planes(), k=10
    ).collect()
    assert got  # query still runs
    assert all(r["vec_id"] not in (90_001, 90_002) for r in got)


def test_lsh_rejects_remainder_planes(spark, sf_dir):
    """Plane counts that don't divide into whole tables fail loudly in
    BOTH implementations (a silent remainder would drop probe tables)."""
    from etl_airbnb_mex_spark.operators.similarity import (
        _lsh_bucket_udf,
        lsh_table_signatures,
    )

    with pytest.raises(ValueError, match="multiple of"):
        _lsh_bucket_udf([[1.0] * 64] * 3, 2)
    with pytest.raises(ValueError, match="multiple of"):
        lsh_table_signatures(F.col("x"), [[1.0] * 64] * 3, 2)


@given(
    value=st.one_of(
        st.none(),
        st.sampled_from(["Entire home/apt", "Private room", "Hotel room",
                         "Entire rental unit", "Casa particular", ""]),
        st.text(max_size=15),
    )
)
@HSETTINGS
def test_map_with_default_total(spark, value):
    """F10 totality: NULL → sentinel, mapped keys translate, everything
    else passes through byte-identical."""
    from etl_airbnb_mex_spark.functions.cleaning import map_with_default

    mapping = {"Entire home/apt": "Casa completa", "Private room": "Privada"}
    df = spark.createDataFrame([(value,)], "v string")
    got = df.select(
        map_with_default("v", mapping).alias("m")
    ).collect()[0]["m"]
    if value is None:
        assert got == "No especificado"
    elif value in mapping:
        assert got == mapping[value]
    else:
        assert got == value


@given(n_pos=st.integers(0, 4), n_neg=st.integers(0, 4))
@HSETTINGS
def test_sentiment_counts_distinct_lexicon_hits(spark, n_pos, n_neg):
    """F13: score == (#positive lexicon words present) − (#negative
    present, with 'terrible'/'horrible' counting twice per the
    duplicated reference lexicon)."""
    from etl_airbnb_mex_spark.functions.text import (
        NEGATIVE_WORDS,
        POSITIVE_WORDS,
        sentiment_score,
    )

    pos = list(dict.fromkeys(POSITIVE_WORDS))[:n_pos]
    neg = list(dict.fromkeys(NEGATIVE_WORDS))[:n_neg]
    text = " ".join(pos + neg) or "neutral filler"
    df = spark.createDataFrame([(text,)], "t string")
    got = df.select(sentiment_score("t").alias("s")).collect()[0]["s"]
    expected = sum(1 for w in POSITIVE_WORDS if w in text.lower()) - sum(
        1 for w in NEGATIVE_WORDS if w in text.lower()
    )
    assert got == expected


@given(
    words=st.lists(
        st.text(alphabet="abcdefg", min_size=1, max_size=6),
        min_size=0, max_size=5,
    )
)
@HSETTINGS
def test_parse_array_roundtrips_clean_json(spark, words):
    """F19 round-trip: a well-formed JSON array string parses back to
    exactly its elements; an empty array parses to empty."""
    import json as _json

    from etl_airbnb_mex_spark.functions.arrays import parse_string_array

    raw = _json.dumps(words)
    df = spark.createDataFrame([(raw,)], "a string")
    got = df.select(parse_string_array("a").alias("arr")).collect()[0]["arr"]
    assert got == words


def test_split_by_hash_safe_for_huge_and_negative_keys(spark):
    """The split bucket must be overflow-free int64 arithmetic: keys
    above ~3.5e9 would wrap the naive key*salt form, and negative keys
    must normalize via pmod (ADVICE r1). Pin the exact buckets against a
    Python big-int reference of (k mod 2^32 * salt) mod 2^32 mod 100."""
    from etl_airbnb_mex_spark.operators.setops import split_by_hash

    keys = [0, 1, 7, 2**31 - 1, 2**31, 2**33 + 12345, 2**62, -1, -2**31]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    out = {
        r["k"]: r["split"]
        for r in split_by_hash(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1}).collect()
    }

    def ref_bucket(k: int) -> int:
        return ((k % 2**32) * 2654435761) % 2**32 % 100

    def ref_split(b: int) -> str:
        return "train" if b < 80 else ("val" if b < 90 else "test")

    assert out == {k: ref_split(ref_bucket(k)) for k in keys}


def test_pii_scrub_redacts_all_and_only_pii(spark):
    from etl_airbnb_mex_spark.functions.text import pii_scrub

    df = spark.createDataFrame(
        [
            ("write a.b+c@d-mail.org or x@y.io", "write <EMAIL> or <EMAIL>"),
            ("call 555-123-4567 x2", "call <PHONE> x2"),
            ("host 192.168.1.250 up", "host <IP> up"),
            ("v1.2 cost $3.50 at 5pm", "v1.2 cost $3.50 at 5pm"),  # no PII
            ("a@b.co from 10.0.0.1 dial 800-555-0100", "<EMAIL> from <IP> dial <PHONE>"),
        ],
        "s string, want string",
    )
    bad = df.select(pii_scrub("s").alias("got"), "want").filter(
        F.col("got") != F.col("want")
    )
    assert bad.count() == 0, bad.collect()


def test_bigram_topn_counts(spark):
    from etl_airbnb_mex_spark.operators.corpus import bigram_topn

    df = spark.createDataFrame(
        [("a b a b c",), ("b c",), ("x",), ("",), (None,)], "text string"
    )
    got = {r["bigram"]: r["cnt"] for r in bigram_topn(df, "text").collect()}
    assert got == {"a b": 2, "b a": 1, "b c": 2}


def test_tfidf_rare_term_outranks_ubiquitous(spark):
    from etl_airbnb_mex_spark.operators.corpus import tfidf_topk

    df = spark.createDataFrame(
        [(1, "common rareword common"), (2, "common common"),
         (3, "common filler"), (4, "common filler")],
        "doc_id long, text string",
    )
    top1 = {
        r["doc_id"]: r["token"]
        for r in tfidf_topk(df, "doc_id", "text", k=1).collect()
    }
    # 'common' appears in every doc → idf = ln(1) = 0; the rare word wins
    assert top1[1] == "rareword"
    assert top1[3] == "filler"


def test_stratified_sample_deterministic_and_consistent_with_split(spark):
    """Same hash arithmetic as split_by_hash → a 25% stratum keeps
    exactly the keys whose bucket < 25, independent of partitioning."""
    from etl_airbnb_mex_spark.operators.setops import (
        hash_bucket_100,
        stratified_sample_hash,
    )

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "fr") for i in range(1000)],
        "k long, lang string",
    )
    frac = {"en": 0.25, "fr": 1.0}
    a = {r["k"] for r in stratified_sample_hash(df, "k", "lang", frac).collect()}
    b = {
        r["k"]
        for r in stratified_sample_hash(
            df.repartition(13), "k", "lang", frac
        ).collect()
    }
    assert a == b  # partitioning-independent membership
    buckets = {
        r["k"]: r["b"]
        for r in df.select("k", hash_bucket_100("k").alias("b")).collect()
    }
    expect = {
        k for k, lang in ((i, "en" if i % 2 == 0 else "fr") for i in range(1000))
        if buckets[k] < (25 if lang == "en" else 100)
    }
    assert a == expect
    # default fraction drops unknown strata entirely
    c = stratified_sample_hash(
        df, "k", "lang", {"de": 1.0}
    ).count()
    assert c == 0


def test_decontaminate_flags_planted_overlap(spark):
    from etl_airbnb_mex_spark.operators.dedup import decontaminate_ngram_overlap

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated words appear in this document body"),
            (3, "prefix filler quick brown fox jumps over suffix filler"),
        ],
        "doc_id long, text string",
    )
    eval_set = spark.createDataFrame(
        [(100, "we ask about the quick brown fox jumps over everything")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["n_overlap"]
        for r in decontaminate_ngram_overlap(corpus, eval_set, n=5).collect()
    }
    # doc 1 shares 'the quick brown fox jumps' + 'quick brown fox jumps over';
    # doc 3 shares only the latter; doc 2 is clean.
    assert got == {1: 2, 3: 1}


def test_embedding_centroids_match_numpy(spark):
    import numpy as np

    from etl_airbnb_mex_spark.operators.similarity import embedding_centroids

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(30, 8)).astype("float32")
    labels = [i % 3 for i in range(30)]
    df = spark.createDataFrame(
        [(labels[i], vecs[i].tolist()) for i in range(30)],
        "label int, embedding array<float>",
    )
    got = {
        (r["label"], r["pos"]): (r["mean_v"], r["n_vecs"])
        for r in embedding_centroids(df).collect()
    }
    for lab in range(3):
        want = vecs[np.array(labels) == lab].astype("float64").mean(axis=0)
        for pos in range(8):
            mean_v, n_vecs = got[(lab, pos)]
            assert n_vecs == 10
            assert abs(mean_v - want[pos]) < 1e-5, (lab, pos)


def test_stratified_sample_rejects_sub_percent_fraction(spark):
    from etl_airbnb_mex_spark.operators.setops import stratified_sample_hash

    df = spark.createDataFrame([(1, "en")], "k long, lang string")
    with pytest.raises(ValueError, match="quantizes to 0%"):
        stratified_sample_hash(df, "k", "lang", {"en": 0.004})


def test_repetition_ratio_null_text_parity(spark):
    """NULL text must yield NULL n_tokens/rep_ratio (not size()'s -1),
    matching the DuckDB oracle's len(NULL)."""
    from etl_airbnb_mex_spark.functions.text import (
        tokenize,
        word_repetition_ratio,
    )

    df = spark.createDataFrame([(None,), ("",), ("a a b",)], "text string")
    rows = df.select(
        F.when(F.col("text").isNotNull(), F.size(tokenize("text")))
        .cast("long").alias("n"),
        word_repetition_ratio("text").alias("r"),
    ).collect()
    assert [(r["n"], r["r"]) for r in rows] == [
        (None, None), (0, None), (3, 0.333333),
    ]


def test_merge_upsert_update_row_wins_whole(spark):
    """Matched keys take the update row ENTIRE — including its NULLs
    (a per-column coalesce would leak base values through)."""
    from etl_airbnb_mex_spark.operators.setops import merge_upsert

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, v double",
    )
    updates = spark.createDataFrame(
        [(2, None, 99.0), (4, "d", 40.0)],
        "k long, name string, v double",
    )
    got = {r["k"]: (r["name"], r["v"]) for r in merge_upsert(base, updates, "k").collect()}
    assert got == {
        1: ("a", 10.0),
        2: (None, 99.0),   # update row wins whole, NULL included
        3: ("c", 30.0),
        4: ("d", 40.0),    # insert
    }

    with pytest.raises(ValueError, match="identical schemas"):
        merge_upsert(base, updates.drop("v"), "k")


def test_connected_components_planted(spark):
    from etl_airbnb_mex_spark.operators.dedup import connected_components

    # path 1-2-3-4 (diameter > 1 round), pair {10,11}, star 20-{15,17}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 15), (20, 17)],
        "src long, dst long",
    )
    got = {
        r["node"]: r["label"] for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   15: 15, 17: 15, 20: 15}

    # empty edge set → empty labeling, no crash
    empty = spark.createDataFrame([], "src long, dst long")
    assert connected_components(empty).count() == 0


def test_near_dedup_canonical_fixes_star_anomaly(spark):
    """Star 1~5~3 (via near-identical texts): greedy keeps {1,3} (each
    min of its own neighborhood); canonical keeps the component min 1."""
    from etl_airbnb_mex_spark.operators.dedup import (
        minhash_near_dup_pairs,
        near_dedup_canonical,
        near_dedup_corpus,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base + " one"),
            (3, base + " three"),
            (5, base),
            (40, "совершенно другой текст без общих слов вовсе никак"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_dup_pairs(docs, num_hashes=64, bands=16)
        .filter(F.col("est_jaccard") >= 0.5).collect()
    }
    # precondition: the planted similarities actually form the star
    assert (1, 5) in pairs and (3, 5) in pairs

    greedy = {
        r["doc_id"]
        for r in near_dedup_corpus(docs, threshold=0.5,
                                   num_hashes=64, bands=16).collect()
    }
    canonical = {
        r["doc_id"]
        for r in near_dedup_canonical(docs, threshold=0.5,
                                      num_hashes=64, bands=16).collect()
    }
    assert 40 in greedy and 40 in canonical  # unrelated doc untouched
    assert canonical == {1, 40}
    # greedy keeps 3 unless (1,3) also paired directly
    if (1, 3) not in pairs:
        assert greedy == {1, 3, 40}


def test_merge_upsert_null_key_inserts_and_lww(spark):
    from etl_airbnb_mex_spark.operators.setops import merge_upsert

    base = spark.createDataFrame([(1, "a", 1.0)], "k long, name string, v double")
    updates = spark.createDataFrame(
        [(None, "nullkey", 5.0), (1, "a2", 2.0), (1, "a3", 3.0)],
        "k long, name string, v double",
    )
    # NULL-key update row INSERTS (NOT MATCHED semantics), not dropped
    got = sorted(
        [
            (r["k"], r["name"], r["v"])
            for r in merge_upsert(
                base, updates, "k", updates_order_col="v"
            ).collect()
        ],
        key=repr,
    )
    # last-write-wins picked v=3.0 for k=1
    assert got == sorted(
        [(1, "a3", 3.0), (None, "nullkey", 5.0)], key=repr
    )


def test_merge_upsert_lww_keeps_every_null_key_insert(spark):
    from etl_airbnb_mex_spark.operators.setops import merge_upsert

    base = spark.createDataFrame([(1, "a", 1.0)], "k long, name string, v double")
    updates = spark.createDataFrame(
        [(None, "n1", 5.0), (None, "n2", 6.0), (1, "a2", 2.0)],
        "k long, name string, v double",
    )
    got = sorted(
        [
            (r["k"], r["name"], r["v"])
            for r in merge_upsert(
                base, updates, "k", updates_order_col="v"
            ).collect()
        ],
        key=repr,
    )
    # both NULL-key rows insert — the LWW dedup only collapses real keys
    assert got == sorted(
        [(1, "a2", 2.0), (None, "n1", 5.0), (None, "n2", 6.0)], key=repr
    )


def test_connected_components_raises_when_unconverged(spark):
    from etl_airbnb_mex_spark.operators.dedup import connected_components

    # path 1-2-3-4-5: min label needs 4 rounds to reach node 5
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 5)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2)
    with pytest.raises(ValueError, match="max_iter"):
        connected_components(edges, max_iter=0)


def test_sequence_pack_null_text_parity(spark, tmp_path):
    """A NULL-text document must stay engine-aligned: NULL n_tokens (not
    size()'s -1), NULL seq columns, and no shift of later docs' cum."""
    import duckdb

    from etl_airbnb_mex_spark.oracle import compare_query
    from etl_airbnb_mex_spark.queries import REGISTRY, _load

    _load()
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma", "en", "web", 16),
            (2, None, "en", "web", 0),
            (3, "delta epsilon", "en", "web", 13),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path)
    docs.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    result = compare_query(spark, d, "sequence_pack", con)
    assert result.ok, str(result)
    rows = {
        r["doc_id"]: r
        for r in REGISTRY["sequence_pack"].spark(spark, d).collect()
    }
    assert rows[2]["n_tokens"] is None and rows[2]["seq_id"] is None
    # doc 3 starts right after doc 1's 3 tokens — the NULL row adds 0
    assert rows[3]["seq_off"] == 3


def test_range_bin_join_matches_naive(spark):
    """Binned rewrite must return exactly the naive theta join's pairs,
    including intervals spanning many bins and points on bin edges."""
    from pyspark.sql import functions as F

    from etl_airbnb_mex_spark.operators.joins import range_bin_join

    points = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([-5.0, 0.0, 2.0, 10.0, 10.0001, 99.5])],
        "pid long, val double",
    )
    intervals = spark.createDataFrame(
        [
            (1, -10.0, -1.0),
            (2, 0.0, 0.0),        # degenerate single-point interval
            (3, 1.5, 95.0),       # spans ~10 bins of width 10
            (4, 10.0001, 10.0001),
            (5, 200.0, 300.0),    # matches nothing
        ],
        "iid long, lo double, hi double",
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in range_bin_join(
            points, intervals, "val", "lo", "hi", bin_width=10.0
        ).collect()
    )
    naive = sorted(
        (r["pid"], r["iid"])
        for r in points.join(
            intervals,
            (points["val"] >= intervals["lo"])
            & (points["val"] <= intervals["hi"]),
        ).collect()
    )
    assert got == naive
    assert (3, 3) in got and (1, 2) in got
    with pytest.raises(ValueError, match="bin_width"):
        range_bin_join(points, intervals, "val", "lo", "hi", bin_width=0)


def test_interval_occupancy_sweep(spark):
    import datetime

    from etl_airbnb_mex_spark.operators.timeseries import interval_occupancy

    d = datetime.date
    df = spark.createDataFrame(
        [
            (d(2020, 1, 1), d(2020, 1, 3)),
            (d(2020, 1, 2), d(2020, 1, 2)),
            (d(2020, 1, 10), d(2020, 1, 10)),
        ],
        "lo date, hi date",
    )
    rows = {
        r["day"]: (r["delta"], r["n_active"])
        for r in interval_occupancy(df, "lo", "hi").collect()
    }
    # boundaries: +1@1-1, +1@1-2, -1@1-3(=2's hi+1), -1@1-4, +1/-1@1-10/1-11
    assert rows[d(2020, 1, 1)] == (1, 1)
    assert rows[d(2020, 1, 2)] == (1, 2)
    assert rows[d(2020, 1, 3)] == (-1, 1)   # interval 2 closed, 1 still open
    assert rows[d(2020, 1, 4)] == (-1, 0)
    assert rows[d(2020, 1, 10)] == (1, 1)
    assert rows[d(2020, 1, 11)] == (-1, 0)


def test_scd2_intervals_state_changes(spark):
    import datetime

    from etl_airbnb_mex_spark.operators.windows import scd2_intervals

    t = datetime.datetime
    df = spark.createDataFrame(
        [
            (1, t(2020, 1, 1), "a", 10),
            (1, t(2020, 1, 2), "a", 11),   # same state — no new interval
            (1, t(2020, 1, 3), "b", 12),
            (1, t(2020, 1, 4), "a", 13),   # back to a — NEW interval
            (2, t(2020, 1, 1), "x", 14),
        ],
        "k long, ts timestamp, state string, eid long",
    )
    got = sorted(
        (r["k"], r["state"], r["valid_from"], r["valid_to"])
        for r in scd2_intervals(df, "k", "ts", "state", "eid").collect()
    )
    assert got == [
        (1, "a", t(2020, 1, 1), t(2020, 1, 3)),
        (1, "a", t(2020, 1, 4), None),
        (1, "b", t(2020, 1, 3), t(2020, 1, 4)),
        (2, "x", t(2020, 1, 1), None),
    ]


def _equidepth_reference(rows, k):
    """Pure-Python sort-rank equi-depth histogram: sort by (v, id) with
    NULLs first, bin = (rank-1)*k // n + 1, then per bin the row count
    and the min/max of the non-NULL values rounded HALF_UP to 2 dp (as
    Spark's ``round`` does)."""
    from decimal import ROUND_HALF_UP, Decimal

    def r2(x):
        if x is None:
            return None
        return float(Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_UP))

    ordered = sorted(rows, key=lambda r: (r[0] is not None, r[0] or 0.0, r[1]))
    n = len(ordered)
    bins: dict[int, list] = {}
    for rank, (v, _) in enumerate(ordered, start=1):
        bins.setdefault((rank - 1) * k // n + 1, []).append(v)
    out = []
    for b, vs in sorted(bins.items()):
        vals = [v for v in vs if v is not None]
        out.append((
            b, len(vs),
            r2(min(vals)) if vals else None,
            r2(max(vals)) if vals else None,
        ))
    return out


def _equidepth_rows(spark, rows, k):
    from etl_airbnb_mex_spark.operators.stats import (
        equidepth_histogram_prefix,
    )

    df = spark.createDataFrame(rows, "v double, id long")
    return [tuple(r) for r in
            equidepth_histogram_prefix(df, "v", k=k, tiebreak="id").collect()]


def test_equidepth_histogram_exact_ranks(spark):
    """The global rank must reproduce floor((rank-1)k/n) bins exactly —
    counts differ by at most 1 across bins and cover all rows."""
    n, k = 1007, 10
    data = [((i * 7919) % n / 3.0, i) for i in range(n)]
    rows = _equidepth_rows(spark, data, k)
    assert rows == _equidepth_reference(data, k)
    assert [r[0] for r in rows] == list(range(1, k + 1))
    counts = [r[1] for r in rows]
    assert sum(counts) == n
    assert max(counts) - min(counts) <= 1
    # bins are ordered, non-overlapping value ranges
    for a, b in zip(rows, rows[1:]):
        assert a[3] <= b[2]


def test_equidepth_prefix_matches_sortrank_form(spark):
    """The lazy prefix form (one action, zero driver round-trips) must
    reproduce a plain sort-rank's bins EXACTLY — same rank semantics,
    same floor((rank-1)k/n) expression, same rounding."""
    n, k = 1007, 10
    # heavy ties (41 distinct values across 1007 rows): the unique
    # tiebreak must keep the bins deterministic
    ties = [(float(i % 41), i) for i in range(n)]
    assert _equidepth_rows(spark, ties, k) == _equidepth_reference(ties, k)
    # nulls rank FIRST (Spark ascending sort order): a null-led first
    # bin. The registered oracle column (c_acctbal) is null-free, so
    # this contract is pytest-held, not driver-held.
    nulls = [(None if i % 5 == 0 else float(i), i) for i in range(n)]
    got = _equidepth_rows(spark, nulls, k)
    assert got == _equidepth_reference(nulls, k)
    assert got[0][1] >= 100 and got[0][2] is None  # null-led first bin


def test_percentiles_nan_is_missing_on_every_method(spark):
    """The engine contract is pandas skipna — NaN neither counts in n
    nor ranks last — on both exact branches and the dispatcher. Spark's
    raw percentile() aggregate violates this by itself (counts NaN,
    sorts it greatest → p99 = NaN), so every path masks NaN first."""
    from etl_airbnb_mex_spark.operators.stats import (
        exact_percentiles_bucket_select,
        exact_percentiles_native,
        percentiles,
    )

    nan = float("nan")
    df = spark.createDataFrame(
        [(float(i),) for i in range(1, 101)] + [(nan,)] * 10
        + [(None,)] * 3,
        "v double",
    )
    ps = (0.5, 0.99)
    # finite values 1..100: p50 = 50.5, p99 = 99.01 (quantile_cont)
    for label, frame in (
        ("native", exact_percentiles_native(df, "v", ps)),
        ("bucketselect", exact_percentiles_bucket_select(df, "v", ps)),
        ("dispatch", percentiles(df, "v", ps)),
    ):
        row = frame.collect()[0]
        assert row["p50"] == 50.5, (label, row)
        assert abs(row["p99"] - 99.01) < 1e-9, (label, row)


def test_iqr_outliers_nan_excluded_from_both_sides(spark):
    """ADVICE r13 #1: Spark orders NaN above every double, so NaN rows
    satisfied `c > hi` while the keep_n denominator excluded them —
    numerator and denominator described different populations. The
    contract (r11 NaN-as-missing, matching pandas skipna) is that NaN
    is invisible to the whole summary: 10 normals + 1 true outlier +
    3 NaN must report count=1, pct=1/11, and a finite outlier_max."""
    import math

    from etl_airbnb_mex_spark.operators.stats import iqr_outliers

    nan = float("nan")
    vals = [float(i) for i in range(1, 11)] + [1000.0] + [nan] * 3
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    row = iqr_outliers(df, "v").collect()[0]
    assert row["outlier_count"] == 1, row
    assert abs(row["outlier_pct"] - 100.0 / 11.0) < 0.01, row
    assert row["outlier_max"] == 1000.0 and not math.isnan(
        row["outlier_max"]
    ), row
    # non-float columns skip the isnan guard entirely (isnan is
    # undefined for ints) and still work
    dfi = spark.createDataFrame(
        [(i,) for i in range(1, 11)] + [(1000,)], "v int"
    )
    row = iqr_outliers(dfi, "v").collect()[0]
    assert row["outlier_count"] == 1


# ---------------------------------------------------------------------------
# Round-3 behavior / corpus / sampling operators
# ---------------------------------------------------------------------------

def test_funnel_monotone_and_ordering_enforced(spark):
    """Stage counts must be monotone non-increasing, and a user whose
    purchase PRECEDES their first view must not count as converted."""
    from etl_airbnb_mex_spark.operators.behavior import funnel_conversion

    rows = [
        # u1: full ordered funnel
        (1, "signup", "2024-01-01 10:00:00"),
        (1, "view", "2024-01-01 10:05:00"),
        (1, "purchase", "2024-01-01 10:10:00"),
        # u2: purchase BEFORE view -> reaches view stage only
        (2, "signup", "2024-01-01 09:00:00"),
        (2, "purchase", "2024-01-01 09:30:00"),
        (2, "view", "2024-01-01 10:00:00"),
        # u3: never signed up -> counted nowhere
        (3, "view", "2024-01-01 08:00:00"),
        (3, "purchase", "2024-01-01 08:30:00"),
    ]
    ev = spark.createDataFrame(
        [(u, t, ts) for u, t, ts in rows],
        "user_id long, event_type string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = funnel_conversion(ev).collect()[0]
    assert (got["n_signup"], got["n_view"], got["n_purchase"]) == (2, 2, 1)
    assert got["rate_signup_view"] == 1.0
    assert got["rate_view_purchase"] == 0.5


def test_sessionize_matches_session_window_count(spark, sf_dir):
    """The number of (user, session) labels must equal the number of
    session_window groups — same gap, same data, two formulations."""
    from etl_airbnb_mex_spark.operators.behavior import sessionize
    from etl_airbnb_mex_spark.operators.timeseries import session_window_agg

    ev = load_table(spark, sf_dir, "events")
    n_labeled = (
        sessionize(ev, gap_minutes=30)
        .select("user_id", "session_idx")
        .distinct()
        .count()
    )
    n_windows = session_window_agg(
        ev, ts_col="ts", key="user_id", gap="30 minutes"
    ).count()
    assert n_labeled == n_windows


def test_vocab_prune_no_hot_tokens_is_identity(spark):
    from etl_airbnb_mex_spark.operators.corpus import vocab_prune

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "epsilon zeta")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in vocab_prune(docs, "doc_id", "text").collect()}
    assert out[1]["pruned_text"] == "alpha beta"
    assert all(r["n_removed"] == 0 for r in out.values())


def test_vocab_prune_removes_only_hot_preserving_order(spark):
    from etl_airbnb_mex_spark.operators.corpus import vocab_prune

    docs = spark.createDataFrame(
        [(1, "the quick the fox"), (2, "the lazy dog"), (3, "the end")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           vocab_prune(docs, "doc_id", "text", df_frac=0.5).collect()}
    assert out[1]["pruned_text"] == "quick fox"
    assert out[1]["n_removed"] == 2
    assert out[3]["pruned_text"] == "end"


def test_weighted_sample_deterministic_and_monotone(spark, sf_dir):
    """Same input -> identical membership across calls; zero-weight rows
    never sampled; the max-weight row always sampled (p=1 and
    hash < granularity except measure-zero); inclusion is stable under
    repartitioning."""
    from etl_airbnb_mex_spark.operators.setops import weighted_sample_hash

    o = load_table(spark, sf_dir, "orders")
    a = {r["o_orderkey"] for r in
         weighted_sample_hash(o, "o_orderkey", "o_totalprice").collect()}
    b = {r["o_orderkey"] for r in
         weighted_sample_hash(o.repartition(17), "o_orderkey",
                              "o_totalprice").collect()}
    assert a == b and 0 < len(a) < o.count()
    # empirical size tracks sum(p_i) within sampling noise
    maxw = o.agg(F.max("o_totalprice")).collect()[0][0]
    expected = o.agg(
        F.sum(F.least(F.col("o_totalprice") / F.lit(maxw), F.lit(1.0)))
    ).collect()[0][0]
    assert abs(len(a) - expected) <= 4 * math.sqrt(expected)


def test_anomaly_zscore_flags_planted_outlier(spark):
    from etl_airbnb_mex_spark.operators.stats import anomaly_zscore

    rows = [(i, "a", 10.0 + (i % 7) * 0.1) for i in range(100)]
    rows.append((100, "a", 10_000.0))
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    got = anomaly_zscore(df, "value", ("event_type",), ("event_id",)).collect()
    assert [r["event_id"] for r in got] == [100]


def test_feature_scale_constant_column_yields_null(spark):
    from etl_airbnb_mex_spark.operators.stats import feature_scale

    df = spark.createDataFrame([(1, 5.0), (2, 5.0)], "k long, v double")
    got = feature_scale(df, cols=("v",), keep=("k",)).collect()
    assert all(r["v_minmax"] is None and r["v_z"] is None for r in got)


def test_bloom_prefilter_join_equals_plain_join(spark, sf_dir):
    """Bloom prefilter + exact join must be byte-identical to the plain
    join — even with a tiny bitmap (64 bits → heavy false positives,
    which only means less pruning, never wrong rows)."""
    from etl_airbnb_mex_spark.operators.joins import bloom_prefilter_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_linenumber"
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("okey"), "o_totalprice")
        if "okey" in load_table(spark, sf_dir, "orders").columns
        else load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("okey"), "o_totalprice")
    )
    expected = sorted(
        map(tuple, li.join(o, "okey").collect())
    )
    for m_bits in (1 << 20, 64):
        got = sorted(
            map(tuple, bloom_prefilter_join(li, o, "okey", m_bits=m_bits).collect())
        )
        assert got == expected, f"m_bits={m_bits}"
    # left_semi supported too
    semi_expected = sorted(map(tuple, li.join(o, "okey", "left_semi").collect()))
    semi_got = sorted(
        map(tuple, bloom_prefilter_join(li, o, "okey", how="left_semi").collect())
    )
    assert semi_got == semi_expected
    with pytest.raises(ValueError, match="inner/left_semi"):
        bloom_prefilter_join(li, o, "okey", how="left")


def test_dup_ngram_fraction_short_docs(spark):
    from etl_airbnb_mex_spark.operators.corpus import dup_ngram_fraction

    docs = spark.createDataFrame(
        [(1, "a b a b a"), (2, "one"), (3, "x y z"), (4, "t t t t")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           dup_ngram_fraction(docs, "doc_id", "text", n=2).collect()}
    # doc1 bigrams: [a b, b a, a b, b a] -> 2 distinct of 4 -> 0.5
    assert out[1]["n_ngrams"] == 4 and out[1]["dup_ngram_frac"] == 0.5
    # single-token doc: no bigrams, frac 0
    assert out[2]["n_ngrams"] == 0 and out[2]["dup_ngram_frac"] == 0.0
    assert out[3]["dup_ngram_frac"] == 0.0
    # doc4 bigrams: [t t] x3 -> 1 distinct of 3
    assert out[4]["dup_ngram_frac"] == pytest.approx(1 - 1 / 3, abs=1e-6)


def test_bloom_prefilter_bitmap_is_broadcast(spark, sf_dir):
    """Plan shape: the bitmap join must be a BroadcastHashJoin (the
    bitmap is m/64 rows — metadata-sized) and the final join a separate
    join on the key; the probe scan reads only the needed columns."""
    from etl_airbnb_mex_spark.operators.joins import bloom_prefilter_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_linenumber"
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey")
    )
    plan = _formatted_plan(bloom_prefilter_join(li, o, "okey"))
    assert "BroadcastHashJoin" in plan
    assert plan.count("Scan parquet") >= 2


def test_centroid_assign_planted_clusters(spark):
    """Vectors planted near two centroids must assign to the near one;
    an exactly-equidistant vector breaks ties to the lower label."""
    from etl_airbnb_mex_spark.operators.similarity import centroid_assign

    emb = spark.createDataFrame(
        [
            (1, 0, [0.1, 0.0]),
            (2, 0, [-0.1, 0.0]),
            (3, 5, [10.1, 0.0]),
            (4, 5, [9.9, 0.0]),
        ],
        "vec_id long, label int, embedding array<float>",
    )
    got = {r["vec_id"]: r["assigned_label"]
           for r in centroid_assign(emb).collect()}
    assert got == {1: 0, 2: 0, 3: 5, 4: 5}
    # explicit centroids + exact midpoint -> lower label wins
    mid = spark.createDataFrame(
        [(9, 0, [5.0, 0.0])], "vec_id long, label int, embedding array<float>"
    )
    r = centroid_assign(
        mid, centroids={0: [0.0, 0.0], 7: [10.0, 0.0]}
    ).collect()[0]
    assert r["assigned_label"] == 0 and r["dist_sq"] == 25.0


def test_key_skew_profile_flags_planted_hot_key(spark):
    from etl_airbnb_mex_spark.operators.topn import key_skew_profile

    df = spark.range(1000).select(
        F.when(F.col("id") < 459, 7).otherwise(F.col("id")).alias("k")
    )
    got = key_skew_profile(df, "k", k=3).collect()
    assert got[0]["k"] == 7 and got[0]["cnt"] == 459
    assert got[0]["pct"] == pytest.approx(45.9, abs=0.01)
    assert got[-1]["cum_pct"] >= got[0]["pct"]


@given(
    key=st.integers(min_value=-(2**62), max_value=2**62),
    m=st.sampled_from([2, 100, 1_000, 1_000_000]),
)
@HSETTINGS
def test_hash_bucket_range_and_python_parity(spark, key, m):
    """hash_bucket(key, m) stays in [0, m) for any int64 key and matches
    the pure-Python reference of the documented formula — the
    engine-portability contract every oracle SQL replica relies on."""
    from etl_airbnb_mex_spark.operators.setops import hash_bucket

    df = spark.createDataFrame([(key,)], "k long")
    got = df.select(hash_bucket("k", m).alias("b")).collect()[0]["b"]
    kk = key % 2**32
    expected = (
        ((kk // 65536) * 2654435761 % 2**32 * 65536 + (kk % 65536) * 2654435761)
        % 2**32 % m
    )
    assert got == expected and 0 <= got < m


def test_pagerank_known_graphs(spark):
    """Hand-checkable fixpoints: a 2-node cycle is uniform; in a star
    a->{b,c,d} the leaves tie and outrank nothing; ranks always sum
    to 1 (dangling mass conserved)."""
    from etl_airbnb_mex_spark.operators.graph import pagerank

    cycle = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(cycle, max_iter=20).collect()}
    assert got[1] == pytest.approx(0.5, abs=1e-4)
    assert got[2] == pytest.approx(0.5, abs=1e-4)

    star = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "src long, dst long"
    )
    ranks = {r["node"]: r["rank"] for r in pagerank(star, max_iter=20).collect()}
    assert ranks[2] == ranks[3] == ranks[4]
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-3)
    # leaves are dangling: their mass cycles back, so the hub holds less
    # than the leaves' combined share but more than base rank
    assert ranks[1] > (1 - 0.85) / 4


# ---------------------------------------------------------------------------
# Round-4 operators: known-answer unit tests (oracle parity is separate)
# ---------------------------------------------------------------------------


def test_triangle_count_known_graph(spark):
    """K4 (4 triangles) + pendant edge + duplicate/reversed edges —
    canonicalization must dedup, orientation must count each triangle
    exactly once."""
    from etl_airbnb_mex_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = k4 + [(3, 99), (1, 0), (2, 1)]  # pendant + reversed dups
    df = spark.createDataFrame(edges, "src long, dst long")
    (row,) = triangle_count(df).collect()
    assert row["n_triangles"] == 4


def test_triangle_count_triangle_free(spark):
    from etl_airbnb_mex_spark.operators.graph import triangle_count

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src long, dst long"
    )
    assert triangle_count(star).collect()[0]["n_triangles"] == 0


def test_group_entropy_uniform_and_degenerate(spark):
    import math

    from etl_airbnb_mex_spark.operators.stats import group_entropy

    rows = [("u", f"v{i % 4}") for i in range(40)] + [("d", "only")] * 7
    df = spark.createDataFrame(rows, "g string, v string")
    out = {r["g"]: r for r in group_entropy(df, "g", "v").collect()}
    assert out["u"]["entropy_nats"] == pytest.approx(math.log(4), abs=1e-6)
    assert out["u"]["n_distinct"] == 4
    assert out["d"]["entropy_nats"] == 0.0


def test_winsorize_bounds_and_means(spark):
    from etl_airbnb_mex_spark.operators.stats import winsorize_summary

    vals = [float(i) for i in range(1, 101)]  # 1..100 in one group
    df = spark.createDataFrame([("g", v) for v in vals], "grp string, v double")
    (row,) = winsorize_summary(df, "v", "grp", lo=0.10, hi=0.90).collect()
    # quantile_cont semantics: p10 of 1..100 = 10.9, p90 = 90.1
    assert row["p_lo"] == pytest.approx(10.9)
    assert row["p_hi"] == pytest.approx(90.1)
    assert row["mean_raw"] == pytest.approx(50.5)
    clipped = [min(max(v, 10.9), 90.1) for v in vals]
    assert row["mean_winsorized"] == pytest.approx(
        sum(clipped) / len(clipped), abs=1e-6
    )


def test_collapse_rare_labels_preserves_total(spark):
    from etl_airbnb_mex_spark.operators.topn import collapse_rare_labels

    rows = [("big",)] * 10 + [("mid",)] * 5 + [("r1",)] * 2 + [("r2",)] * 1
    df = spark.createDataFrame(rows, "lab string")
    out = {r["lab"]: r["n"] for r in
           collapse_rare_labels(df, "lab", min_count=5).collect()}
    assert out == {"big": 10, "mid": 5, "OTHER": 3}


def test_target_encode_shrinks_rare_toward_global(spark):
    from etl_airbnb_mex_spark.operators.stats import target_encode

    rows = [("common", 10.0)] * 100 + [("rare", 1000.0)]
    df = spark.createDataFrame(rows, "cat string, t double")
    out = {r["cat"]: r for r in
           target_encode(df, "cat", "t", smoothing=10.0).collect()}
    g = (100 * 10.0 + 1000.0) / 101
    assert out["rare"]["encoded"] == pytest.approx(
        (1000.0 + 10 * g) / 11, abs=1e-6
    )
    # rare category pulled from 1000 most of the way toward ~19.8
    assert out["rare"]["encoded"] < 120
    assert out["common"]["encoded"] == pytest.approx(
        (1000.0 + 10 * g) / 110, abs=1e-6
    )


def test_quality_signals_gates(spark):
    from etl_airbnb_mex_spark.operators.corpus import quality_signals

    docs = spark.createDataFrame(
        [
            (1, "the " + "word " * 30 + "end"),      # long enough, keeps
            (2, "too short a doc"),                   # < 20 words
            (3, " ".join("xyzzy" for _ in range(40))),  # no stopwords
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in quality_signals(docs).collect()}
    assert out[1]["keep"] is True
    assert out[2]["keep"] is False and out[2]["n_words"] == 4
    assert out[3]["keep"] is False and out[3]["stopword_frac"] == 0.0
    assert out[3]["unique_word_frac"] == pytest.approx(1 / 40, abs=1e-6)


def test_zipf_slope_exact_power_law(spark):
    """A corpus built so freq(rank) = 420/rank exactly (420 = lcm 1..7):
    the log-log points are exactly collinear with slope −1."""
    from etl_airbnb_mex_spark.operators.corpus import zipf_slope

    words = []
    for rank in range(1, 8):
        words += [f"w{rank:02d}"] * (420 // rank)
    docs = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    (row,) = zipf_slope(docs, top_k=100).collect()
    assert row["n_tokens_ranked"] == 7
    assert row["slope"] == pytest.approx(-1.0, abs=1e-6)


def test_histogram2d_cent_edges(spark):
    """0.04 discount must land in bin_y=2 (cents 4 // 2) even though
    0.04/0.02 floats to 1.999…."""
    from etl_airbnb_mex_spark.operators.stats import histogram2d

    df = spark.createDataFrame(
        [(5.0, 0.04), (5.0, 0.05), (25.0, 0.0), (None, 0.02), (1.0, None)],
        "q double, d double",
    )
    out = {(r["bin_x"], r["bin_y"]): r["cnt"]
           for r in histogram2d(df, "q", "d", 10.0, 2).collect()}
    assert out == {(0, 2): 2, (2, 0): 1}


# ---------------------------------------------------------------------------
# Round-4 batch 2: weighted median, z-test, skyline, LM scoring, EWMA,
# grouped split, snapshot diff
# ---------------------------------------------------------------------------

def test_weighted_median_unit_weights_is_median(spark):
    """With all weights 1 the weighted median must be the smallest value
    whose cumulative count reaches half of n — the classic lower
    weighted median."""
    from etl_airbnb_mex_spark.operators.stats import weighted_median_by_group

    rows = [Row(g="a", v=float(x), w=1.0) for x in [1, 2, 3, 4, 5]]
    rows += [Row(g="b", v=float(x), w=1.0) for x in [10, 20, 30, 40]]
    out = {
        r["g"]: r["weighted_median"]
        for r in weighted_median_by_group(
            spark.createDataFrame(rows), "v", "w", "g"
        ).collect()
    }
    assert out == {"a": 3.0, "b": 20.0}


def test_weighted_median_mass_dominates(spark):
    """A single heavy row (> half the total weight) IS the weighted
    median regardless of the other values."""
    from etl_airbnb_mex_spark.operators.stats import weighted_median_by_group

    rows = [
        Row(g="g", v=1.0, w=1.0),
        Row(g="g", v=2.0, w=10.0),
        Row(g="g", v=100.0, w=1.0),
    ]
    [r] = weighted_median_by_group(
        spark.createDataFrame(rows), "v", "w", "g"
    ).collect()
    assert r["weighted_median"] == 2.0


def test_skyline_matches_bruteforce(spark):
    """Sort-based distributed skyline == O(n²) dominance brute force on
    a deterministic pseudo-random point set (the same
    exact-form-as-test-oracle discipline as cosine_near_dup)."""
    from etl_airbnb_mex_spark.operators.stats import skyline_2d

    pts = [((i * 37) % 101 / 2.0, (i * 59) % 83) for i in range(200)]
    # Second set: negative sizes (an empty prefix max must stay NULL,
    # not 0) and one far price that packs every other point into bucket
    # 0, so the within-bucket window carries the whole answer.
    crowded = [(p, s - 100) for p, s in pts] + [(1e6, 50)]
    for points in (pts, crowded):
        distinct = set(points)
        brute = sorted(
            p for p in distinct
            if not any(
                q[0] <= p[0] and q[1] >= p[1] and q != p for q in distinct
            )
        )
        df = spark.createDataFrame(
            [Row(price=p, size=s) for p, s in points]
        )
        got = [
            (r["price"], r["size"])
            for r in skyline_2d(df, "price", "size").collect()
        ]
        assert got == brute


def test_two_proportion_ztest_known_value(spark):
    """Hand-checked z: 30/100 vs 20/100 → z = 1.6329932…; also the
    unit-level dedup (a user with many purchase events counts once)."""
    from etl_airbnb_mex_spark.operators.stats import two_proportion_ztest

    rows = []
    for u in range(100):
        conv = u < 30
        rows.append(Row(uid=u, grp="A", et="purchase" if conv else "view"))
        if conv:  # duplicate conversion events must not double-count
            rows.append(Row(uid=u, grp="A", et="purchase"))
    for u in range(100, 200):
        rows.append(Row(uid=u, grp="B", et="purchase" if u < 120 else "view"))
    [r] = two_proportion_ztest(
        spark.createDataFrame(rows),
        "uid",
        F.col("grp"),
        F.col("et") == "purchase",
    ).collect()
    assert (r["n_a"], r["n_b"], r["conv_a"], r["conv_b"]) == (100, 100, 30, 20)
    p = 50 / 200
    expect = (0.3 - 0.2) / math.sqrt(p * (1 - p) * (1 / 100 + 1 / 100))
    assert abs(r["z_score"] - round(expect, 6)) < 1e-9


def test_unigram_logprob_uniform_corpus(spark):
    """Every token equally frequent → every doc scores ln(1/V)."""
    from etl_airbnb_mex_spark.operators.corpus import unigram_logprob

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="aa bb"), Row(doc_id=2, text="cc dd")]
    )
    out = unigram_logprob(docs, "doc_id", "text").collect()
    for r in out:
        assert r["n_tokens"] == 2
        assert abs(r["logprob"] - round(math.log(0.25), 6)) < 1e-9


def test_unigram_logprob_rare_token_scores_lower(spark):
    from etl_airbnb_mex_spark.operators.corpus import unigram_logprob

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the the the the"),
            Row(doc_id=2, text="the the the zyzzyva"),
        ]
    )
    out = {
        r["doc_id"]: r["logprob"]
        for r in unigram_logprob(docs, "doc_id", "text").collect()
    }
    assert out[2] < out[1]


def test_ewma_bounded_matches_reference(spark):
    """Exact per-row check against a Python re-implementation of the
    truncated adjust=True EWMA (same weights, same renormalization)."""
    from etl_airbnb_mex_spark.operators.timeseries import ewma_bounded

    vals = [1.0, 5.0, 2.0, 8.0, 3.0, None, 4.0, 9.0, 0.5, 7.0]
    rows = [
        Row(k=1, ts=i, oid=i, value=v) for i, v in enumerate(vals)
    ]
    out = {
        r["oid"]: r["ewma"]
        for r in ewma_bounded(
            spark.createDataFrame(rows), "k", "ts", "value", "oid",
            alpha=0.3, horizon=8,
        ).collect()
    }
    for i in range(len(vals)):
        num = den = 0.0
        for k in range(8):
            j = i - k
            if j < 0 or vals[j] is None:
                continue
            w = 0.7 ** k
            num += vals[j] * w
            den += w
        expect = round(num / den, 6) if den else None
        assert out[i] == expect, f"row {i}: {out[i]} != {expect}"


def test_grouped_split_no_user_straddles_splits(spark, sf_dir):
    """Leakage property: the split is a pure function of user_id, so no
    user may appear in two splits."""
    from etl_airbnb_mex_spark.operators.setops import split_by_hash

    ev = load_table(spark, sf_dir, "events")
    n_multi = (
        split_by_hash(ev, "user_id", {"train": 0.8, "val": 0.1, "test": 0.1})
        .groupBy("user_id")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert n_multi == 0


def test_snapshot_diff_classifies_all_four(spark):
    from etl_airbnb_mex_spark.operators.setops import snapshot_diff

    old = spark.createDataFrame(
        [Row(k=1, v=10.0), Row(k=2, v=20.0), Row(k=3, v=None)]
    )
    new = spark.createDataFrame(
        [Row(k=2, v=21.0), Row(k=3, v=None), Row(k=4, v=40.0)]
    )
    out = {
        r["k"]: r["change"]
        for r in snapshot_diff(old, new, ["k"], ["v"]).collect()
    }
    # NULL == NULL must classify as unchanged (null-safe compare)
    assert out == {1: "removed", 2: "changed", 3: "unchanged", 4: "added"}


def test_aqe_splits_skewed_join_partition(spark, sf_dir):
    """Runtime evidence for the AQE half of the skew story
    (join_salted_skew is the manual half): under adaptive execution
    with a forced-low skew threshold, a join against a heavily skewed
    key is re-planned at runtime — the final adaptive plan reads the
    skewed shuffle partition in slices (AQEShuffleRead ... skewed)
    instead of giving one straggler task the whole hot key."""
    import pandas as pd

    from pyspark.sql import functions as F

    n_hot, n_cold = 200_000, 50
    left = spark.range(n_hot + n_cold).select(
        F.when(F.col("id") < n_hot, 0)
        .otherwise(F.col("id") % 50)
        .alias("k"),
        (F.col("id") * 7 % 1000).alias("payload"),
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": list(range(50)), "dim": list(range(50))})
    )
    prev = {
        c: spark.conf.get(c)
        for c in (
            "spark.sql.adaptive.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2"
        )
        spark.conf.set(
            "spark.sql.adaptive.skewJoin."
            "skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB"
        )
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "false"
        )
        joined = left.join(right, "k")
        # collect() executes THIS frame (count() would build and run a
        # different, aggregated plan), making the AdaptiveSparkPlan
        # final so the runtime skew re-plan is visible.
        assert len(joined.collect()) == n_hot + n_cold
        final_plan = (
            joined._jdf.queryExecution().executedPlan().toString()
        )
        assert "isFinalPlan=true" in final_plan
        assert "skew=true" in final_plan, final_plan[:2000]
        assert "AQEShuffleRead skewed" in final_plan
    finally:
        for c, v in prev.items():
            spark.conf.set(c, v)


def test_cluster_pair_cosines_matches_bruteforce(spark):
    """The per-cluster gram-matrix pair stage (r7 rewrite behind
    semantic_dedup_clusters / split_leakage_audit) against an
    independent per-pair python model: same pair set after the
    engine-side round(.,6) >= threshold cut, same carry endpoints,
    cross-cluster pairs never emitted, NULL/ragged vectors dropped."""
    import math

    from pyspark.sql import functions as F

    from etl_airbnb_mex_spark.operators.similarity import (
        cluster_pair_cosines,
    )

    rows = []
    # three clusters; values chosen to span near-1, mid, negative and
    # sub-threshold cosines
    vecs = {
        0: [(1, [1.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0]),
            (3, [0.0, 1.0, 0.0]), (4, [-1.0, 0.0, 0.0])],
        1: [(10, [1.0, 1.0, 0.0]), (11, [1.0, 1.0, 0.1]),
            (12, None)],                     # NULL dropped
        2: [(20, [1.0, 0.0]), (21, [0.5, 0.5, 0.5])],  # ragged: the
        # off-dimension vector drops, leaving <2 rows -> no pairs
    }
    for label, vs in vecs.items():
        for vid, v in vs:
            rows.append((vid, label, v))
    df = spark.createDataFrame(
        rows, "vec_id long, label int, v array<double>"
    )
    got = {
        (r.label, r.ka, r.kb)
        for r in cluster_pair_cosines(df, threshold=0.4)
        .filter(F.round(F.col("cos_raw"), 6) >= 0.4)
        .collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a))
                    * math.sqrt(sum(x * x for x in b)))

    exp = set()
    for label, vs in vecs.items():
        clean = [(i, v) for i, v in vs if v is not None]
        dim = max((len(v) for _, v in clean), default=0)
        clean = [(i, v) for i, v in clean if len(v) == dim]
        for x in range(len(clean)):
            for y in range(x + 1, len(clean)):
                (ia, va), (ib, vb) = clean[x], clean[y]
                if round(cos(va, vb), 6) >= 0.4:
                    exp.add((label, min(ia, ib), max(ia, ib)))
    assert got == exp
    assert (2, 20, 21) not in got  # ragged cluster emitted nothing

    # carry columns label both endpoints in id order
    df2 = df.withColumn(
        "split", F.when(F.col("vec_id") % 2 == 0, "train").otherwise("test")
    )
    carried = {
        (r.ka, r.kb): (r.split_a, r.split_b)
        for r in cluster_pair_cosines(
            df2, threshold=0.4, carry_cols=("split",)
        )
        .filter(F.round(F.col("cos_raw"), 6) >= 0.4)
        .collect()
    }
    for (ka, kb), (sa, sb) in carried.items():
        assert sa == ("train" if ka % 2 == 0 else "test")
        assert sb == ("train" if kb % 2 == 0 else "test")


def test_cluster_pair_cosines_emit_group_size(spark):
    """r17 single-Arrow-pass contract (VERDICT r16 #2): with
    emit_group_size=True every cluster emits exactly one sentinel row
    (ka/kb/cos_raw NULL) whose n_members is the FULL cluster row count
    — NULL and off-dimension vectors included, and clusters too ragged
    to pair still represented — while the pair rows are byte-identical
    to the base form with n_members NULL. The derived per-label agg
    must equal the r16 two-branch reference."""
    from pyspark.sql import functions as F

    from etl_airbnb_mex_spark.operators.similarity import (
        cluster_pair_cosines,
    )

    rows = [
        (1, 0, [1.0, 0.0, 0.0]), (2, 0, [0.9, 0.1, 0.0]),
        (3, 0, [0.0, 1.0, 0.0]), (4, 0, [-1.0, 0.0, 0.0]),
        (10, 1, [1.0, 1.0, 0.0]), (11, 1, [1.0, 1.0, 0.1]),
        (12, 1, None),                      # NULL counts in n_members
        (20, 2, [1.0, 0.0]), (21, 2, [0.5, 0.5, 0.5]),  # ragged: no
        # pairs possible, sentinel still emitted
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, v array<double>"
    )
    out = cluster_pair_cosines(df, threshold=0.4, emit_group_size=True)
    sentinels = {
        r.label: r.n_members
        for r in out.filter(F.col("ka").isNull()).collect()
    }
    assert sentinels == {0: 4, 1: 3, 2: 2}
    # sentinel rows carry no cosine; pair rows carry no n_members
    assert out.filter(
        F.col("ka").isNull() & F.col("cos_raw").isNotNull()
    ).count() == 0
    assert out.filter(
        F.col("ka").isNotNull() & F.col("n_members").isNotNull()
    ).count() == 0
    base_pairs = {
        (r.label, r.ka, r.kb, round(r.cos_raw, 9))
        for r in cluster_pair_cosines(df, threshold=0.4).collect()
    }
    got_pairs = {
        (r.label, r.ka, r.kb, round(r.cos_raw, 9))
        for r in out.filter(F.col("ka").isNotNull()).collect()
    }
    assert got_pairs == base_pairs

    # the registered query's derived agg == the r16 two-branch form
    derived = {
        tuple(r)
        for r in out.filter(
            F.col("ka").isNull() | (F.round(F.col("cos_raw"), 6) >= 0.4)
        )
        .groupBy("label")
        .agg(
            F.max("n_members").cast("bigint").alias("n_members"),
            F.count("ka").cast("bigint").alias("n_dup_pairs"),
            F.countDistinct("kb").cast("bigint").alias("n_removed"),
        )
        .collect()
    }
    pairs = cluster_pair_cosines(df, threshold=0.4).filter(
        F.round(F.col("cos_raw"), 6) >= 0.4
    )
    pc = pairs.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("kb").alias("n_removed"),
    )
    ref = {
        tuple(r)
        for r in df.groupBy("label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
        .join(F.broadcast(pc), "label", "left")
        .select(
            "label",
            "n_members",
            F.coalesce("n_pairs", F.lit(0)).cast("bigint"),
            F.coalesce("n_removed", F.lit(0)).cast("bigint"),
        )
        .collect()
    }
    assert derived == ref


# ---------------------------------------------------------------------------
# global_order_prefix — the bucketed two-level prefix sum behind
# roc_auc / gini_concentration (r8 rewrite of the sort-rank pattern).
# ---------------------------------------------------------------------------


def test_global_order_prefix_matches_sequential(spark):
    from etl_airbnb_mex_spark.operators.stats import global_order_prefix

    # one far value sets the bucket width to (102400 - 0) / 4096 = 25,
    # so the 101 distinct values 0..100 share buckets 0-4 and the
    # within-bucket window does the ordering, ties included
    rows = [
        Row(k=i, v=float((i * 37) % 101), w=(i % 5) + 1) for i in range(500)
    ] + [Row(k=500, v=102400.0, w=3)]
    df = spark.createDataFrame(rows)

    # weighted exclusive prefix sum over global v order (ties by k)
    got = {
        r.k: r.cum
        for r in global_order_prefix(
            df, "v", tie_cols=("k",), weight_col="w"
        ).collect()
    }
    seq = sorted(rows, key=lambda r: (r.v, r.k))
    acc = 0
    for r in seq:
        assert got[r.k] == acc, (r.k, got[r.k], acc)
        acc += r.w

    # unit-weight rank mode: rk is the exact 1-based global row_number
    ranked = {
        r.k: (r.cum, r.rk)
        for r in global_order_prefix(
            df, "v", tie_cols=("k",), rank=True
        ).collect()
    }
    for pos, r in enumerate(seq):
        assert ranked[r.k] == (pos, pos + 1)


def test_global_order_prefix_degenerate_and_guard(spark):
    import pytest as _pytest

    from etl_airbnb_mex_spark.operators.stats import global_order_prefix

    # all-equal order column collapses to bucket 0 (hi == lo) — rank
    # must still be a permutation of 1..n via the tie column
    df = spark.createDataFrame([Row(k=i, v=7.0) for i in range(50)])
    rks = sorted(
        r.rk
        for r in global_order_prefix(df, "v", tie_cols=("k",), rank=True)
        .collect()
    )
    assert rks == list(range(1, 51))

    with _pytest.raises(ValueError):
        global_order_prefix(df, "v", weight_col="v", rank=True)


def test_bucketed_order_operators_fire_no_jobs_at_build(spark):
    """Building a bucketed-order operator plans it and runs nothing: no
    Spark job on an unshuffled input. skyline_2d may fire one, the AQE
    shuffle of the grouped frame that its lazy localCheckpoint plans. A
    driver collect or an eager checkpoint at build time shows here."""
    from etl_airbnb_mex_spark.operators import stats

    tracker = spark.sparkContext.statusTracker()
    df = spark.range(2000).select(
        F.col("id").alias("k"),
        ((F.col("id") * 37) % 101).cast("double").alias("v"),
    )

    def jobs(build) -> int:
        before = set(tracker.getJobIdsForGroup(None))
        build()
        return len(set(tracker.getJobIdsForGroup(None)) - before)

    moments = {"cnt": F.count("v")}
    assert jobs(lambda: stats.exact_percentiles_bucket_select(
        df, "v", (0.5,), moments=moments)) == 0
    assert jobs(lambda: stats.global_order_prefix(
        df, "v", tie_cols=("k",), rank=True)) == 0
    assert jobs(lambda: stats.equidepth_histogram_prefix(
        df, "v", 4, "k")) == 0
    assert jobs(lambda: stats.skyline_2d(df, "v", "k")) <= 1


def test_exact_percentiles_bucket_select_matches_agg(spark):
    """The large-plan branch (bucket histogram -> in-plan target
    buckets -> sort candidates only) must reproduce the native
    percentile() aggregate branch exactly across the edge zoo:
    duplicates, odd/even counts, nulls, NaN-as-missing, +/-Inf pinned
    to edge buckets, all-equal columns (degenerate hi==lo -> one-bucket
    fallback), single row, and empty input."""
    from etl_airbnb_mex_spark.operators.stats import (
        exact_percentiles_bucket_select,
        exact_percentiles_native,
    )

    ps = (0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
    rows = [Row(v=float(x)) for x in
            [5, 1, 9, 1, 7, 3, 3, 8, 2, 6, 4, 4, 4, 10]]
    rows += [Row(v=None), Row(v=None), Row(v=float("nan"))]
    df = spark.createDataFrame(rows, "v double")
    got = exact_percentiles_bucket_select(df, "v", ps).collect()[0]
    want = exact_percentiles_native(df, "v", ps).collect()[0]
    assert got.asDict() == want.asDict()

    # +/-Inf pin to the edge buckets and sort exactly (quantile over
    # [-inf, 1..8, inf])
    inf = float("inf")
    df2 = spark.createDataFrame(
        [Row(v=-inf)] + [Row(v=float(x)) for x in range(1, 9)]
        + [Row(v=inf)],
        "v double",
    )
    got2 = exact_percentiles_bucket_select(
        df2, "v", ps=(0.5,)
    ).collect()[0]
    assert got2["p50"] == 4.5

    # all-equal column: every bucket expression degenerates to 0
    eq = spark.createDataFrame([Row(v=7.0)] * 9, "v double")
    goteq = exact_percentiles_bucket_select(eq, "v", ps=ps).collect()[0]
    assert all(goteq[f"p{int(p*100)}"] == 7.0 for p in ps)

    one = spark.createDataFrame([Row(v=42.0)], "v double")
    for branch in (exact_percentiles_bucket_select, exact_percentiles_native):
        got1 = branch(one, "v", ps).collect()[0]
        assert all(got1[f"p{int(p * 100)}"] == 42.0 for p in ps), branch

    # empty input: one all-NULL row, and keep_n reads 0 on both branches
    empty = spark.createDataFrame([], "v double")
    for branch in (exact_percentiles_bucket_select, exact_percentiles_native):
        got0 = branch(empty, "v", ps, keep_n=True).collect()
        assert len(got0) == 1, branch
        assert all(got0[0][f"p{int(p * 100)}"] is None for p in ps), branch
        assert got0[0]["n"] == 0, branch


def test_bucket_select_exact_hit_on_infinity(spark):
    """A cut point whose rank lands exactly on -Inf (or between two
    -Inf ranks, or between -Inf and a finite value) is -Inf, as in
    DuckDB quantile_cont and Spark's percentile(). Interpolating as
    ``lo + 0·(hi − lo)`` gave NaN there, because ``-inf − -inf`` is
    NaN."""
    from etl_airbnb_mex_spark.operators.stats import (
        exact_percentiles_bucket_select,
        exact_percentiles_native,
    )

    inf = float("inf")
    df = spark.createDataFrame(
        [(v,) for v in (-inf, -inf, 1.0, 2.0, 3.0, inf)], "v double"
    )
    ps = (0.2, 0.25, 0.5, 0.9)
    want = {"p20": -inf, "p25": -inf, "p50": 1.5, "p90": inf}
    for branch in (exact_percentiles_bucket_select, exact_percentiles_native):
        assert branch(df, "v", ps).collect()[0].asDict() == want, branch


_PS = (0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
_INF = float("inf")
_NAN = float("nan")
#: Finite values are quarters: sums and interpolations stay exact in
#: binary, so a 6-dp comparison never straddles a rounding boundary.
_QUANTILE_VALUES = st.lists(
    st.one_of(
        st.integers(-4000, 4000).map(lambda i: i / 4),
        st.sampled_from([0.0, 1.5, 2.25]),  # ties
        st.sampled_from([None, _NAN, _INF, -_INF]),
    ),
    max_size=30,
)


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return a == b or (math.isnan(a) and math.isnan(b))


def _same_row(got: dict, want: dict) -> bool:
    return got.keys() == want.keys() and all(
        _same(got[k], want[k]) for k in want
    )


@given(vals=_QUANTILE_VALUES)
@example(vals=[])
@example(vals=[2.5])
@example(vals=[_NAN, None])
@example(vals=[-_INF, -_INF, 1.0, 2.0, 3.0, _INF])
@HSETTINGS
def test_quantile_branches_match_duckdb(spark, vals):
    """Both exact branches give the same row — quantiles and fused
    moments — and the quantiles equal DuckDB quantile_cont over the
    non-NaN values at 6 dp. describe_stats equals the oracle shape:
    count includes NaN, the moments follow IEEE, the quartiles skip
    NaN. DuckDB refuses stddev over non-finite input, so the oracle
    spells out the IEEE result (NaN) for that case."""
    import duckdb

    from etl_airbnb_mex_spark.operators.stats import (
        describe_stats,
        exact_percentiles_bucket_select,
        exact_percentiles_native,
    )

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    moments = {"cnt": F.count("v"), "mx": F.max("v")}
    native = exact_percentiles_native(df, "v", _PS, moments=moments)
    bucket = exact_percentiles_bucket_select(df, "v", _PS, moments=moments)
    got_native = native.collect()[0].asDict()
    got_bucket = bucket.collect()[0].asDict()
    assert _same_row(got_bucket, got_native), (got_bucket, got_native)

    con = duckdb.connect()
    # as text: the Python binding would turn NaN into NULL
    con.execute(
        "CREATE TABLE t AS SELECT CAST(unnest(?::VARCHAR[]) AS DOUBLE) AS v",
        [[None if v is None else repr(v) for v in vals]],
    )
    q = lambda p: (  # noqa: E731
        f"round(quantile_cont(v, {p}) FILTER (WHERE NOT isnan(v)), 6)"
    )
    names = [f"p{int(p * 100)}" for p in _PS] + ["cnt", "mx"]
    row = con.execute(
        f"SELECT {', '.join(q(p) for p in _PS)}, count(v), max(v) FROM t"
    ).fetchone()
    want = dict(zip(names, row))
    assert _same_row(got_native, want), (got_native, want)

    want_desc = con.execute(
        f"""SELECT count(v) AS cnt, round(avg(v), 6) AS mean,
                   CASE WHEN count(v) < 2 THEN NULL
                        WHEN bool_or(NOT isfinite(v)) THEN 'nan'::DOUBLE
                        ELSE round(stddev_samp(v) FILTER (WHERE isfinite(v)), 6)
                   END AS std,
                   round(min(v), 6) AS min, {q(0.25)} AS p25,
                   {q(0.5)} AS p50, {q(0.75)} AS p75,
                   round(max(v), 6) AS max
            FROM t"""
    ).fetchone()
    got_desc = describe_stats(df, "v").collect()[0]
    assert len(got_desc) == len(want_desc)
    assert all(_same(g, w) for g, w in zip(got_desc, want_desc)), (
        got_desc, want_desc,
    )
