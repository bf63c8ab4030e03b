"""Unit tests for the round-4 batch-3 operators (queries/advanced.py):
blocked-join correctness against brute force, sketch-estimate bounds,
rollup consistency, and the decorrelation plan claim."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_airbnb_mex_spark.operators.corpus import (
    corpus_kl_divergence,
    inverted_index,
)
from etl_airbnb_mex_spark.operators.dedup import levenshtein_pairs
from etl_airbnb_mex_spark.operators.joins import grid_distance_join
from etl_airbnb_mex_spark.operators.timeseries import (
    hll_distinct_rollup,
    multigrain_rollup,
)


def test_grid_join_matches_brute_force(spark):
    """The 3x3-neighborhood equi-join must produce exactly the pairs
    the O(n²) definition produces — including pairs that straddle cell
    boundaries — and each pair exactly once."""
    import random

    rng = random.Random(7)
    pts = [(i, rng.uniform(0, 100), rng.uniform(0, 100)) for i in range(300)]
    df = spark.createDataFrame(pts, ["id", "x", "y"])
    r = 12.0
    got = {
        (row.id_a, row.id_b)
        for row in grid_distance_join(df, "id", "x", "y", r).collect()
    }
    want = {
        (a[0], b[0])
        for i, a in enumerate(pts)
        for b in pts[i + 1:]
        if (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2 <= r * r
    }
    assert got == want
    assert len(want) > 50  # the fixture actually exercises the join
    # exactly-once: the DataFrame has no duplicate pairs
    n_rows = grid_distance_join(df, "id", "x", "y", r).count()
    assert n_rows == len(want)


def test_levenshtein_pairs_matches_brute_force(spark):
    words = [
        "scan", "span", "spam", "plan", "agg", "egg", "big", "bag",
        "window", "windows", "widow", "join", "joint", "point",
    ]
    df = spark.createDataFrame([(w,) for w in words], ["w"])
    got = {
        (r.word_a, r.word_b, r.dist)
        for r in levenshtein_pairs(df, "w", max_dist=2).collect()
    }

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {
        (a, b, lev(a, b))
        for i, a in enumerate(words)
        for b in words
        if a < b and lev(a, b) <= 2
    }
    assert got == want
    assert len(want) >= 5


def test_hll_rollup_estimate_within_tolerance(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
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
        assert est[m] == pytest.approx(exact[m], rel=0.05)


def test_multigrain_day_rows_reconcile_to_month(spark, sf_dir):
    """Day-grain counts must sum to the month-grain counts — the
    internal consistency a one-pass grouping-sets rollup guarantees."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    rolled = multigrain_rollup(ev, "ts", "value").collect()
    months = {
        r.bucket: r.n_events for r in rolled if r.grain == "month"
    }
    day_sums: dict[str, int] = {}
    for r in rolled:
        if r.grain == "day":
            day_sums[r.bucket[:8] + "01"] = (
                day_sums.get(r.bucket[:8] + "01", 0) + r.n_events
            )
    assert day_sums == months


def test_kl_divergence_identical_slices_is_zero(spark):
    """KL between two identically-distributed slices ~ 0, and KL is
    non-negative on a genuinely different split."""
    rows = [(i, "a b c d", i % 2 == 0) for i in range(40)]
    df = spark.createDataFrame(rows, ["id", "text", "flag"])
    r = corpus_kl_divergence(df, "text", F.col("flag")).collect()[0]
    assert r.kl_pq == pytest.approx(0.0, abs=1e-9)
    skewed = [(i, "a a a a" if i % 2 == 0 else "b b b b", i % 2 == 0)
              for i in range(40)]
    df2 = spark.createDataFrame(skewed, ["id", "text", "flag"])
    r2 = corpus_kl_divergence(df2, "text", F.col("flag")).collect()[0]
    assert r2.kl_pq > 0.5 and r2.kl_qp > 0.5


def test_inverted_index_postings_capped_and_sorted(spark):
    rows = [(i, "tok filler" + str(i % 3)) for i in range(50)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    idx = {r.token: r for r in inverted_index(df, "doc_id", "text",
                                              max_postings=5).collect()}
    assert idx["tok"].df_docs == 50  # full df even though postings capped
    ids = [int(s) for s in idx["tok"].postings.split(",")]
    assert ids == sorted(ids) and len(ids) == 5


def test_correlated_subquery_decorrelates(spark, sf_dir):
    """Catalyst must rewrite the correlated scalar subquery to an
    aggregate + equi-join — no per-row nested-loop re-execution."""
    from etl_airbnb_mex_spark.queries import REGISTRY, _load

    _load()
    df = REGISTRY["subquery_correlated_qty"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_merge_intervals_invariants(spark):
    """Property check over a fixed batch of pseudo-random interval sets:
    merged spans are disjoint and non-touching, cover exactly the union
    of the inputs, and every input interval is contained in a span."""
    import random

    rng = random.Random(11)
    rows = []
    for key in range(6):
        for _ in range(rng.randint(1, 40)):
            s = rng.randint(0, 500)
            rows.append((key, s, s + rng.randint(1, 60)))
    df = spark.createDataFrame(rows, ["k", "s", "e"])

    from etl_airbnb_mex_spark.operators.timeseries import merge_intervals

    spans = merge_intervals(df, "k", "s", "e").collect()
    by_key: dict[int, list] = {}
    for r in spans:
        by_key.setdefault(r.k, []).append((r.span_start, r.span_end))
    for key, sp in by_key.items():
        sp.sort()
        # disjoint, strictly separated
        for (s1, e1), (s2, e2) in zip(sp, sp[1:]):
            assert e1 < s2
        # coverage equals the brute-force union of input points
        inputs = [(s, e) for (k, s, e) in rows if k == key]
        want = set()
        for s, e in inputs:
            want.update(range(s, e + 1))
        got = set()
        for s, e in sp:
            got.update(range(s, e + 1))
        assert got == want
        # containment
        for s, e in inputs:
            assert any(ss <= s and e <= ee for ss, ee in sp)


def test_kcore_matches_brute_force(spark):
    """Peeled k-core must equal the classic sequential peel on a random
    graph, for several k."""
    import random

    from etl_airbnb_mex_spark.operators.graph import kcore_decompose

    rng = random.Random(5)
    nodes = list(range(40))
    edges = set()
    while len(edges) < 120:
        a, b = rng.sample(nodes, 2)
        edges.add((min(a, b), max(a, b)))
    df = spark.createDataFrame(sorted(edges), ["src", "dst"])

    def brute(k):
        adj = {n: set() for n in nodes}
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        alive = set(nodes)
        changed = True
        while changed:
            changed = False
            for n in list(alive):
                if len(adj[n] & alive) < k:
                    alive.discard(n)
                    changed = True
        return {n: len(adj[n] & alive) for n in alive if len(adj[n] & alive) > 0}

    for k in (2, 3, 4):
        got = {
            r.node: r.core_degree
            for r in kcore_decompose(df, k).collect()
        }
        assert got == brute(k), f"k={k}"


def test_bpe_train_matches_reference_implementation(spark):
    """The distributed BPE trainer must learn the exact merge sequence
    the classic single-process algorithm learns (same tie-breaking:
    count desc, then lexicographic pair)."""
    from collections import Counter

    from etl_airbnb_mex_spark.operators.corpus import bpe_train

    texts = [
        "low lower lowest slow slowly",
        "new newer newest news now",
        "low slow low new low",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["doc_id", "text"])
    got = bpe_train(df, "text", n_merges=8)

    # reference: Sennrich-style BPE on the word-frequency table
    wc = Counter(w for t in texts for w in t.split() if w)
    vocab = {w: list(w) + ["</w>"] for w in wc}
    want = []
    for _ in range(8):
        pc = Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += wc[w]
        if not pc:
            break
        (l, r), n = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if n < 2:
            break
        want.append((l, r, n))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    assert got == want
    assert len(got) >= 5  # the fixture genuinely learns merges


def test_word_5grams_short_docs_emit_nothing(spark):
    """A document with < 5 tokens must emit zero grams
    (the oracle's range(1, len-3) is empty) instead of crashing on
    Spark's auto-descending sequence(1, size-4) + negative slice()."""
    from etl_airbnb_mex_spark.queries.advanced import _word_5grams
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (1, "a b c"),                 # 3 tokens → no grams
            (2, "a b c d"),               # 4 tokens → no grams
            (3, "a b c d e"),             # exactly 5 → one gram
            (4, "a b c d e f"),           # 6 → two grams
        ],
        "doc_id int, text string",
    )
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    out = _word_5grams(toks).orderBy("doc_id", "g").collect()
    assert [(r["doc_id"], r["g"]) for r in out] == [
        (3, "a b c d e"),
        (4, "a b c d e"),
        (4, "b c d e f"),
    ]


def test_asof_join_right_tiebreak_is_deterministic(spark):
    """Multiple RIGHT rows at one (key, ts) must carry
    a deterministic row. With right_tiebreak, backward carries the
    tiebreak-MAXIMUM (NULLs last) and forward the tiebreak-MINIMUM."""
    from etl_airbnb_mex_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 10), (1, 25)], "k int, ts int"
    )
    # three right rows at ts=10 with tiebreaks 1, 2, NULL
    right = spark.createDataFrame(
        [(1, 10, 1, "a"), (1, 10, 2, "b"), (1, 10, None, "c"),
         (1, 20, 5, "d")],
        "k int, ts int, tb int, v string",
    )
    back = asof_join(
        left, right, key="k", left_ts="ts", right_ts="ts",
        right_value_cols=["v"], direction="backward",
        right_tiebreak="tb",
    ).orderBy("ts").collect()
    # at ts=10: NULL tiebreak sorts last → "c" carried; ts=25 → "d"
    assert [r["asof_v"] for r in back] == ["c", "d"]

    fwd = asof_join(
        left, right, key="k", left_ts="ts", right_ts="ts",
        right_value_cols=["v"], direction="forward",
        right_tiebreak="tb",
    ).orderBy("ts").collect()
    # at ts=10: minimum tiebreak 1 → "a"; ts=25 → no later row → None
    assert [r["asof_v"] for r in fwd] == ["a", None]


def test_entity_resolution_end_to_end(spark):
    """Entity resolution composed ONLY from the engine's shipped
    operators — the capability story, wired: normalize → length-band
    blocked levenshtein matching (levenshtein_pairs) → min-label
    connected components → survivorship golden record (latest
    attribute by event time). Dirty spellings of the same person merge
    into one entity carrying the newest email; distinct people stay
    separate."""
    import datetime as dt

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_airbnb_mex_spark.operators.dedup import (
        connected_components,
        levenshtein_pairs,
    )

    T0 = dt.datetime(2024, 1, 1)
    rows = [
        # one person, three spellings, email changes over time
        (1, "Jonathan Smith", "js@old.com", T0),
        (2, "Jonathon Smith", "js@mid.com", T0 + dt.timedelta(days=10)),
        (3, " jonathan  SMITH ", "js@new.com", T0 + dt.timedelta(days=20)),
        # second person, one typo variant
        (4, "Maria Garcia", "mg@a.com", T0),
        (5, "Marla Garcia", "mg@b.com", T0 + dt.timedelta(days=5)),
        # distinct person — must NOT merge
        (6, "Wei Chen", "wc@c.com", T0),
    ]
    df = spark.createDataFrame(
        rows, "record_id long, name string, email string, ts timestamp"
    )
    norm = F.trim(F.regexp_replace(F.lower("name"), r"\s+", " "))
    recs = df.withColumn("norm", norm)

    vocab = recs.select("norm").distinct()
    edges = levenshtein_pairs(vocab, "norm", max_dist=2)
    labels = connected_components(edges, "word_a", "word_b").select(
        F.col("node").alias("norm"), F.col("label").alias("entity"),
    )
    # singletons never appear in an edge — they are their own entity
    resolved = recs.join(labels, "norm", "left").withColumn(
        "entity", F.coalesce("entity", "norm")
    )
    w = Window.partitionBy("entity").orderBy(
        F.desc("ts"), F.desc("record_id")
    )
    golden = (
        resolved.withColumn("rn", F.row_number().over(w))
        .groupBy("entity")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.max(F.when(F.col("rn") == 1, F.col("email"))).alias(
                "latest_email"
            ),
            F.min("record_id").alias("entity_id"),
        )
    )
    got = {r["entity_id"]: r for r in golden.collect()}
    assert set(got) == {1, 4, 6}
    assert got[1]["n_records"] == 3
    assert got[1]["latest_email"] == "js@new.com"
    assert got[4]["n_records"] == 2
    assert got[4]["latest_email"] == "mg@b.com"
    assert got[6]["n_records"] == 1
    assert got[6]["latest_email"] == "wc@c.com"
