"""Vector similarity search over embedding columns (SURVEY.md §2.11).

Brute-force cosine top-k is the exactness baseline (single scan +
TakeOrderedAndProject — no global sort); the LSH-bucketed variant is the
100 TB path: random-hyperplane signatures shrink each probe to one
bucket equi-join instead of a full-corpus scan.

Dot products use zip_with + aggregate — native higher-order expressions,
Arrow never crosses the JVM/Python boundary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def knn_cosine(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dp: int = 6,
) -> DataFrame:
    """Brute-force cosine top-k of ``df`` rows against a single-row
    ``query_df``. The query vector broadcasts (1-row crossJoin); ranking
    is orderBy+limit → TakeOrderedAndProject. Deterministic tie-break on
    id (SURVEY.md §7.4.8)."""
    q = query_df.select(
        F.col(vec_col).cast("array<double>").alias("__qvec"),
        F.col(id_col).alias("__qid"),
    )
    v = F.col(vec_col).cast("array<double>")
    return (
        df.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("__qid"))
        .select(
            id_col,
            F.round(cosine(v, F.col("__qvec")), dp).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def lsh_bucket_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: sign bit of the dot product with
    each (pre-generated, deterministic) plane, packed into a long."""
    bits = []
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        bits.append(
            F.when(dot(vec, p) >= 0, F.lit(2 ** i).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
    return sum(bits[1:], bits[0])


def lsh_table_signatures(
    vec: Column, planes: list[list[float]], bits_per_table: int
) -> Column:
    """Multi-table LSH signatures: split ``planes`` into tables of
    ``bits_per_table`` and emit array<struct<table int, bucket long>> —
    one probe key per table. Multiple independent tables are what buys
    recall (P[found] = 1-(1-p^b)^L vs a single table's p^b).

    Expression twin of the Arrow-batched bucket UDF inside
    :func:`knn_cosine_lsh` — a consistency unit test keeps the two in
    lockstep, and both reject plane counts that don't divide evenly
    into tables (a silent remainder would drop probe tables)."""
    if len(planes) % bits_per_table != 0:
        raise ValueError(
            f"len(planes)={len(planes)} must be a multiple of "
            f"bits_per_table={bits_per_table}"
        )
    tables = [
        planes[i: i + bits_per_table]
        for i in range(0, len(planes), bits_per_table)
    ]
    return F.array(
        *[
            F.struct(
                F.lit(t).alias("table"),
                lsh_bucket_signature(vec, tbl).alias("bucket"),
            )
            for t, tbl in enumerate(tables)
        ]
    )


def _lsh_bucket_udf(planes: list[list[float]], bits_per_table: int):
    """Arrow-batched bucket computation: ONE numpy matmul per batch for
    all planes. Measured 8× faster than the per-plane higher-order
    expression at sf0.1 — with tens of literal planes the expression
    tree's analysis+interpreted evaluation dominates, the textbook case
    for a vectorized Pandas UDF (the planes matrix ships in the UDF
    closure; rows never cross the boundary one at a time).

    NULL or wrong-dimension embeddings yield an EMPTY bucket list — the
    row simply never enters any probe table (posexplode drops it)
    instead of killing the job. Same table-splitting contract as
    :func:`lsh_table_signatures` (consistency unit-tested)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if len(planes) % bits_per_table != 0:
        raise ValueError(
            f"len(planes)={len(planes)} must be a multiple of "
            f"bits_per_table={bits_per_table}"
        )
    plane_matrix = np.asarray(planes, dtype="float64").T  # dim × n_planes
    dim = plane_matrix.shape[0]
    weights = 2 ** np.arange(bits_per_table, dtype="int64")
    n_tables = len(planes) // bits_per_table

    def buckets(emb):
        arrs = emb.tolist()
        good = [
            i for i, a in enumerate(arrs) if a is not None and len(a) == dim
        ]
        out = [[] for _ in arrs]
        if good:
            vecs = np.asarray([arrs[i] for i in good], dtype="float64")
            bits = (vecs @ plane_matrix >= 0).astype("int64")
            for pos, row in zip(good, bits):
                out[pos] = [
                    int(row[t * bits_per_table: (t + 1) * bits_per_table]
                        @ weights)
                    for t in range(n_tables)
                ]
        return pd.Series(out)

    # Annotations set post-hoc with live objects: `from __future__ import
    # annotations` stringifies inline hints, which pandas_udf can't
    # resolve against a function-local pandas import.
    buckets.__annotations__ = {"emb": pd.Series, "return": pd.Series}
    return pandas_udf(buckets, "array<bigint>")


def knn_cosine_lsh(
    df: DataFrame,
    query_df: DataFrame,
    planes: list[list[float]],
    k: int = 10,
    bits_per_table: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dp: int = 6,
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH: the
    corpus emits one (table, bucket) row per table (posexplode of the
    Arrow-batched bucket vector), the query probes its bucket in EVERY
    table, candidates = union of bucket hits (deduped), then exact
    cosine + top-k over candidates only.

    At scale the exploded (table, bucket) index is precomputed and
    written partitioned by (table, bucket) → each probe is a partition-
    pruned point lookup; candidate count ≈ L·n/2^b regardless of corpus
    size. Recall: with per-bit agreement p = 1-θ/π, P[candidate found] =
    1-(1-p^b)^L — raise L for recall, b for selectivity.
    """
    v = F.col(vec_col).cast("array<double>")
    bucket_udf = _lsh_bucket_udf(planes, bits_per_table)
    corpus = df.select(
        F.col(id_col),
        v.alias("__vec"),
        F.posexplode(bucket_udf(v)).alias("table", "bucket"),
    )
    q = query_df.select(
        v.alias("__qvec"),
        F.col(id_col).alias("__qid"),
        F.posexplode(bucket_udf(v)).alias("table", "bucket"),
    )
    candidates = (
        corpus.join(
            F.broadcast(q),
            on=["table", "bucket"],
        )
        .filter(F.col(id_col) != F.col("__qid"))
        .select(id_col, "__vec", "__qvec")
        .dropDuplicates([id_col])
    )
    return (
        candidates.select(
            id_col,
            F.round(cosine(F.col("__vec"), F.col("__qvec")), dp).alias(
                "cosine_sim"
            ),
        )
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def ivf_build(
    df: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF train-once step: KMeans-partition the corpus into
    ``n_centroids`` inverted lists. Returns (assignments, centers) —
    the assignments frame (id, __arr, __centroid) is what a production
    pipeline WRITES (partitioned by __centroid) so that every
    subsequent probe skips the training pass entirely; centers are
    metadata (k·dim floats). :func:`knn_cosine_ivf` composes this with
    :func:`ivf_probe` for the one-shot form; call them separately to
    amortize the build over many queries.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    arr = F.col(vec_col).cast("array<double>")
    # Unit-normalize before clustering: squared Euclidean on unit
    # vectors is 2-2cos, so Euclidean KMeans partitions BY cosine — the
    # metric the probe ranks with (unnormalized vectors cluster by
    # magnitude and wreck recall). zip_with against an array_repeat of
    # the precomputed norm keeps normalization O(d) per row (a lambda
    # referencing norm(arr) would re-evaluate the aggregate per element
    # — the documented re-eval trap); zero vectors pass through
    # unnormalized (direction undefined; their cosine ranks last).
    base = df.select(F.col(id_col), arr.alias("__arr")).withColumn(
        "__norm", norm(F.col("__arr"))
    )
    unit = F.when(
        F.col("__norm") > 0,
        F.zip_with(
            F.col("__arr"),
            F.array_repeat(F.col("__norm"), F.size(F.col("__arr"))),
            lambda x, n: x / n,
        ),
    ).otherwise(F.col("__arr"))
    vecs = base.withColumn("features", array_to_vector(unit))
    model = KMeans(k=n_centroids, seed=seed, maxIter=10).fit(vecs)
    assigned = model.transform(vecs).select(
        id_col, "__arr", F.col("prediction").alias("__centroid")
    )
    centers = [[float(x) for x in c] for c in model.clusterCenters()]
    return assigned, centers


def ivf_probe(
    assigned: DataFrame,
    centers: list[list[float]],
    query_df: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dp: int = 6,
) -> DataFrame:
    """IVF query step against a prebuilt index (see :func:`ivf_build`):
    rank centroids by cosine to the query driver-side (the centroid
    table is metadata), scan only the ``n_probe`` nearest inverted
    lists, exact cosine inside them. A probe touches
    n_probe/n_centroids of the corpus."""
    spark = assigned.sparkSession
    q_row = query_df.select(
        F.col(id_col).alias("__qid"),
        F.col(vec_col).cast("array<double>").alias("__qvec"),
    ).head()
    if q_row is None:
        # Empty query frame → empty result, like knn_cosine.
        id_type = assigned.schema[id_col].dataType.simpleString()
        return spark.createDataFrame(
            [], f"`{id_col}` {id_type}, cosine_sim double"
        )
    qvec = q_row["__qvec"]
    # Probe order: centroids by cosine to the query (driver-side — the
    # centroid table is tiny by construction).
    import math

    def cos(a: list[float], b: list[float]) -> float:
        dp_ = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a)) or 1e-12
        nb = math.sqrt(sum(x * x for x in b)) or 1e-12
        return dp_ / (na * nb)

    probe = sorted(
        range(len(centers)), key=lambda i: -cos(centers[i], qvec)
    )[:n_probe]

    qid_type = query_df.schema[id_col].dataType.simpleString()
    qdf = spark.createDataFrame(
        [(q_row["__qid"], qvec)],
        f"__qid {qid_type}, __qvec array<double>",
    )
    return (
        assigned.filter(F.col("__centroid").isin(probe))
        .crossJoin(F.broadcast(qdf))
        .filter(F.col(id_col) != F.col("__qid"))
        .select(
            id_col,
            F.round(cosine(F.col("__arr"), F.col("__qvec")), dp).alias(
                "cosine_sim"
            ),
        )
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def ivf_probe_pinned(
    df: DataFrame,
    centroids: list[list[float]],
    query_df: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dp: int = 6,
) -> DataFrame:
    """IVF probe against a PINNED coarse quantizer — the production
    steady state: the quantizer is trained once on a sample
    (:func:`ivf_build`) and ships with the job as literals; every probe
    is then training-free and fully deterministic, which is what makes
    this form exactly SQL-oracle-replayable (the one-shot
    :func:`knn_cosine_ivf` retrains per call, so its centroids are
    engine-internal and only recall can be checked).

    Semantics: assignment = argmax of the 6dp-ROUNDED cosine to each
    centroid with lowest-centroid-id tie-break — on unit-normalized
    vectors this is exactly the KMeans E-step's L2 argmin (dist² =
    2−2cos), and the rounding + tie-break keep both engines' picks
    identical when raw float sums differ in the last ulp (the
    centroid_assign determinism contract). Probe = top-``n_probe``
    centroids by rounded cosine to the query vector, selected IN-PLAN
    from the broadcast 1-row query frame. Residual = exact rounded
    cosine inside the probed lists only, (desc, id asc) top-k.

    Plan shape at scale: assignment is ONE in-row projection (no join,
    no shuffle — centroid literals fold into codegen); the probe frame
    is ``n_probe`` rows broadcast-hash-joined onto the assigned corpus
    (in production the assigned table is WRITTEN partitioned by
    ``__cid`` so this join becomes partition pruning); top-k is
    TakeOrderedAndProject. A probe touches n_probe/n_centroids of the
    corpus regardless of corpus size.

    Contract: ``query_df`` must hold AT MOST one row — the probe
    selection and the final top-k are global (orderBy + limit), so a
    multi-row query frame would silently mix centroid picks and ranked
    neighbors ACROSS queries. Enforced with a ``take(2)`` guard: > 1 row
    raises, 0 rows returns an empty result like :func:`ivf_probe`. The
    collected row then ships as a LITERAL 1-row frame, so the guard's
    eager pass REPLACES the lazy plan's own evaluation of ``query_df``
    (which would otherwise re-run per action) — net scans of the query
    frame stay at one, and the proof-of-singleness is what that one pass
    buys. Batch multi-query probing belongs in a ``__qid``-partitioned
    variant, not in silent cross-query mixing.
    """
    q_rows = query_df.select(
        F.col(id_col).alias("__qid"),
        F.col(vec_col).cast("array<double>").alias("__qvec"),
    ).take(2)
    if len(q_rows) > 1:
        raise ValueError(
            "ivf_probe_pinned expects a single-row query_df (the probe "
            "pick and top-k are GLOBAL and would mix results across "
            "queries); got a multi-row frame — loop per query or use a "
            "query-id-partitioned variant"
        )
    if not q_rows:
        id_type = df.schema[id_col].dataType.simpleString()
        return df.sparkSession.createDataFrame(
            [], f"`{id_col}` {id_type}, cosine_sim double"
        )
    qid_type = query_df.schema[id_col].dataType.simpleString()
    qdf = df.sparkSession.createDataFrame(
        [(q_rows[0]["__qid"], q_rows[0]["__qvec"])],
        f"__qid {qid_type}, __qvec array<double>",
    )
    v = F.col(vec_col).cast("array<double>")
    cents = [
        F.array(*[F.lit(float(x)) for x in c]) for c in centroids
    ]
    # argmax over (rounded cos, -cid) structs: max cosine, ties -> min cid
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    F.round(cosine(v, c), dp).alias("c"),
                    F.lit(-i).alias("negi"),
                )
                for i, c in enumerate(cents)
            ]
        )
    )
    assigned = df.select(
        F.col(id_col), v.alias("__vec"), (-best["negi"]).alias("__cid")
    )
    qcos = F.array(
        *[
            F.struct(
                F.lit(i).alias("cid"),
                F.round(cosine(F.col("__qvec"), c), dp).alias("qc"),
            )
            for i, c in enumerate(cents)
        ]
    )
    probe = (
        qdf
        .select("__qid", "__qvec", F.explode(qcos).alias("__p"))
        .select(
            "__qid",
            "__qvec",
            F.col("__p.cid").alias("__cid"),
            F.col("__p.qc").alias("__qc"),
        )
        .orderBy(F.desc("__qc"), F.asc("__cid"))
        .limit(n_probe)
    )
    return (
        assigned.join(F.broadcast(probe), "__cid")
        .filter(F.col(id_col) != F.col("__qid"))
        .select(
            id_col,
            F.round(cosine(F.col("__vec"), F.col("__qvec")), dp).alias(
                "cosine_sim"
            ),
        )
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def knn_cosine_ivf(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dp: int = 6,
    seed: int = 42,
) -> DataFrame:
    """IVF-flat ANN, one-shot form: :func:`ivf_build` +
    :func:`ivf_probe`. Complements :func:`knn_cosine_lsh`: IVF adapts
    its partitions to the data distribution (better candidate quality
    on clustered embeddings), LSH is data-independent (no training
    step). For repeated queries build once and probe many — the
    assignments frame is written partitioned by ``__centroid`` so each
    probe scans n_probe/n_centroids of the data.
    """
    assigned, centers = ivf_build(df, n_centroids, vec_col, id_col, seed)
    return ivf_probe(
        assigned, centers, query_df,
        k=k, n_probe=n_probe, vec_col=vec_col, id_col=id_col, dp=dp,
    )


def cosine_near_dup_bucketed(
    df: DataFrame,
    planes: list[list[float]],
    bits_per_table: int = 4,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket: int = 1000,
    dp: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs at scale: candidates come
    from an LSH-bucket EQUI-join (never an all-pairs theta join), exact
    cosine runs only on the candidates.

    Plan (the 100 TB shape — no BroadcastNestedLoopJoin anywhere):
    1. Each vector emits one (table, bucket) row per LSH table
       (:func:`lsh_table_signatures` — random-hyperplane sign bits,
       pure Column expressions, whole-stage codegen).
    2. Hot-bucket guard: buckets holding > ``max_bucket`` vectors are
       dropped (a window count over (table, bucket) on the already-
       shuffled data) — the same degenerate-bucket bound as MinHash LSH
       (operators/dedup.py). Shuffle is O(n · n_tables), candidate work
       is Σ bucket², bounded by max_bucket².
    3. Self-EQUI-join on (table, bucket) with the id_a < id_b guard and
       pair-dedup runs on IDS ONLY — the signature rows drop the vector
       right after the sign bits are computed, so the bucket join, the
       window guard, and the distinct all shuffle (id, table, bucket)
       triples, never the d-double embedding payload. The vectors come
       back via two id-keyed equi-joins against the base table for the
       exact-cosine residual (measured 2.2× at sf0.1; at 100 TB the
       payload-free candidate generation is the difference between
       shuffling ids and shuffling the corpus).

    Semantics are deterministic given ``planes`` (ship deterministic
    planes, e.g. seeded LCG — the oracle twin replays the identical
    sign-bit buckets in SQL). Recall is the standard multi-table LSH
    bound 1-(1-p^b)^L with p = 1-θ/π: raise the table count L for
    recall, bits-per-table b for selectivity. The O(n²) exact form
    (:func:`cosine_near_dup_pairs`) is the pytest oracle on gated
    inputs; THIS form is the one to run on a corpus.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    sigs = (
        base.select(
            "id",
            F.posexplode(
                lsh_table_signatures(F.col("v"), planes, bits_per_table)
            ).alias("__pos", "__sig"),
        )
        .select(
            "id",
            F.col("__sig.table").alias("t"),
            F.col("__sig.bucket").alias("b"),
        )
    )
    # Hot-bucket guard as a hash agg + BROADCAST semi-join, not a
    # window: bucket cardinality is at most L * 2^bits rows (metadata
    # scale), so the ok-bucket list broadcasts for free and the
    # signature rows never pay a within-partition sort.
    ok_buckets = (
        sigs.groupBy("t", "b")
        .agg(F.count(F.lit(1)).alias("__bn"))
        .filter(F.col("__bn") <= max_bucket)
        .select("t", "b")
    )
    sigs = sigs.join(F.broadcast(ok_buckets), ["t", "b"])
    # The guarded signature frame is (id, t, b) triples — ids only,
    # O(n * L) rows. Materialize it once so the self-join's two sides
    # reuse one computation instead of re-running the sign-bit explode
    # and the guard per side (the same invariant-frame discipline as
    # PageRank's edge checkpoint).
    sigs = sigs.localCheckpoint(eager=False)
    # Residual = one BLAS gram matrix per (table, bucket) group
    # (cluster_pair_cosines): each vector ships L times (once per
    # table it buckets into) instead of once per CANDIDATE PAIR — at
    # occupancy m that is L·n vector-rows shuffled vs Σ m²/2 pair rows
    # each dragging two d-double payloads, and the m²/2 dots run as a
    # single dgemm instead of per-pair einsum rows (sf0.1 wall
    # 5.2s → 1.5s on the registered 4-bit form). A pair co-bucketing
    # in several tables is computed once per table; max() collapses
    # the duplicates (deterministic — the values differ at most in the
    # last ulp from BLAS blocking, and the 6-dp round erases that).
    sig_vec = sigs.join(base, "id")
    pairs = cluster_pair_cosines(
        sig_vec, label_col=("t", "b"), id_col="id", vec_col="v",
        threshold=threshold,
    )
    return (
        pairs.groupBy(
            F.col("ka").alias("id_a"), F.col("kb").alias("id_b")
        )
        .agg(F.round(F.max("cos_raw"), dp).alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
        .orderBy("id_a", "id_b")
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_ids: int | None = None,
    dp: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim ≥
    threshold). O(n²) exact form — the TEST ORACLE for
    :func:`cosine_near_dup_bucketed`, gated with max_ids; never run
    this on a corpus (the self-theta-join is a BNLJ)."""
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    if max_ids is not None:
        base = base.filter(F.col("id") < max_ids)
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cosine(F.col("a.v"), F.col("b.v")), dp).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .orderBy("id_a", "id_b")
    )


def embedding_centroids(
    emb: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label embedding centroid, long form: (label, pos, mean_v) —
    the class-prototype computation behind IVF coarse quantizers and
    nearest-centroid classifiers.

    Plan: posexplode to (label, pos, v) scalars, then a (label, pos)
    hash agg. The explode widens rows×dim but partial aggregation
    collapses each map task to ≤ labels×dim running sums before the
    shuffle — at 100 TB the shuffle carries labels×dim×partitions
    doubles, never the vectors. Long form keeps the result
    driver-hashable (no array columns) and feeds a pivot/groupBy
    re-assembly when an array<float> centroid is needed.
    """
    return (
        emb.select(
            F.col(label_col),
            F.posexplode(F.col(vec_col)).alias("pos", "v"),
        )
        .groupBy(label_col, "pos")
        .agg(
            F.round(F.avg(F.col("v").cast("double")), 6).alias("mean_v"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )


def centroid_assign(
    emb: DataFrame,
    centroids: dict[int, list[float]] | None = None,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-centroid assignment — the k-means E-step / IVF coarse
    quantization: each vector gets the label of its closest centroid
    (squared-L2), ties broken by label asc. Returns
    (id, assigned_label, dist_sq).

    ``centroids`` ({label: vector}) defaults to the per-label means via
    :func:`embedding_centroids` — an eager METADATA-scale collect
    (k·dim doubles), the same bounded-lift pattern as vocab_prune's hot
    list. The assignment itself is then one in-row projection: centroid
    literals fold into the plan, distances compute via zip_with/
    aggregate, and the argmin is ``array_min`` over (dist, label)
    structs — NO join, NO shuffle, NO k-fold row blowup.

    Cross-engine determinism: centroids are rounded to 6 dp (by
    embedding_centroids) and the argmin compares the ROUNDED distance
    with the label tie-break, so an oracle replaying the same arithmetic
    picks the identical centroid even when raw float sums differ in the
    last ulp.
    """
    if centroids is None:
        by_label: dict[int, dict[int, float]] = {}
        for r in embedding_centroids(emb, label_col, vec_col).collect():
            by_label.setdefault(r[label_col], {})[r["pos"]] = r["mean_v"]
        centroids = {
            lab: [m[p] for p in sorted(m)] for lab, m in by_label.items()
        }
    vec = F.col(vec_col).cast("array<double>")
    candidates = []
    for lab in sorted(centroids):
        carr = F.array(*[F.lit(float(x)) for x in centroids[lab]])
        d = F.aggregate(
            F.zip_with(vec, carr, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )
        candidates.append(
            F.struct(F.round(d, 6).alias("d"), F.lit(lab).alias("l"))
        )
    best = F.array_min(F.array(*candidates))
    return emb.select(
        id_col,
        best["l"].alias("assigned_label"),
        best["d"].alias("dist_sq"),
    )


def quantize_embeddings_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dp: int = 6,
) -> DataFrame:
    """Scalar int8 quantization of an embedding column: per-dimension
    min/max over the corpus → each value maps to
    ``floor((v - min_d) / scale_d + 0.5)`` in [0, 255] with
    ``scale_d = (max_d - min_d)/255`` — the 4× memory cut that lets an
    ANN index at 100 TB keep vectors in RAM (IVF/HNSW deployments
    quantize exactly like this; the residual error is what reranking
    with full-precision vectors corrects).

    Plan: one posexplode → per-dimension (pos) hash agg for min/max —
    the ONLY shuffle, keyed on dimension index (d keys, metadata
    scale) — folded to a single row of (min[], scale[]) arrays and
    broadcast back (the audited scalar-BNLJ crossJoin pattern);
    quantization itself is a pure in-row zip_with projection, no
    second pass over the data. Emits the quantized vector as a joined
    string (driver cannot hash arrays) plus the per-vector
    reconstruction MSE.

    Determinism: min/max over DOUBLE-cast values pick exact floats;
    scale/quantize use only IEEE −, ÷, +, floor (never round(), whose
    half-way rule differs across engines), so both engines compute
    identical codes. The MSE sum is per-vector (~d terms) and rounds
    at ``dp``.
    """
    base = df.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    stats = (
        base.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    packed = stats.agg(
        F.array_sort(
            F.collect_list(F.struct("pos", "mn", "mx"))
        ).alias("s")
    ).select(
        F.transform("s", lambda r: r["mn"]).alias("mins"),
        F.transform(
            "s", lambda r: (r["mx"] - r["mn"]) / F.lit(255.0)
        ).alias("scales"),
    )
    diff = F.zip_with("v", "mins", lambda x, m: x - m)
    q = F.zip_with(
        diff,
        F.col("scales"),
        lambda d, s: F.when(s == 0.0, F.lit(0.0)).otherwise(
            F.least(
                F.lit(255.0),
                F.greatest(F.lit(0.0), F.floor(d / s + F.lit(0.5))),
            )
        ),
    )
    recon_err = F.zip_with(
        diff,
        F.zip_with(F.col("__q"), F.col("scales"), lambda a, b: a * b),
        lambda d, r: (d - r) * (d - r),
    )
    return (
        base.crossJoin(F.broadcast(packed))
        .withColumn("__q", q)
        .select(
            F.col("vid").alias(id_col),
            F.array_join(
                F.col("__q").cast("array<int>").cast("array<string>"), ","
            ).alias("qvec"),
            F.round(
                F.aggregate(
                    recon_err, F.lit(0.0), lambda acc, e: acc + e
                )
                / F.size("v"),
                dp,
            ).alias("recon_mse"),
        )
    )


def cluster_pair_cosines(
    df: DataFrame,
    label_col: str | tuple[str, ...] = "label",
    id_col: str = "vec_id",
    vec_col: str = "v",
    threshold: float = 0.4,
    carry_cols: tuple[str, ...] = (),
    emit_group_size: bool = False,
) -> DataFrame:
    """All-pairs cosine WITHIN each cluster as one BLAS gram matrix per
    cluster (``applyInPandas`` keyed by ``label_col``), replacing the
    per-pair join form: the label equi-join materializes cluster-size²
    pair ROWS each dragging two d-double payloads through the shuffle,
    while this form shuffles each vector exactly ONCE (to its cluster's
    task) and the cluster-size² work happens as a single
    ``X @ X.T`` — measured 3–4× on the semantic-dedup pair stage at
    sf0.1 and the gap widens with cluster count. Clusters parallelize
    across tasks; skew is bounded by the documented cluster-size bound
    (the SemDeDup contract: label = k-means coarse assignment, size
    ~200), never corpus².

    Emits ``(label, ka, kb, cos_raw)`` with ``ka < kb`` plus
    ``<c>_a``/``<c>_b`` for each carry column. ``cos_raw`` is the
    UNROUNDED double cosine: callers apply the engine-side
    ``F.round(..., 6) >= threshold`` cut so the rounding rule is
    Spark's HALF_UP, identical to a per-pair join form (numpy
    rounds half-to-even — rounding in the UDF would diverge from the
    DuckDB oracle at boundaries). The in-UDF pre-filter keeps pairs
    with ``cos_raw >= threshold - 1e-6`` — wider than any 6-dp
    rounding displacement (5e-7), so no pair the engine-side cut would
    keep is lost, and sub-threshold pairs never leave the task.

    Defensive: rows whose vector is NULL or off-dimension are dropped
    inside the task (the same NaN-rejection a per-pair dot applies).

    ``emit_group_size=True``: the output gains an ``n_members long``
    column and every cluster additionally emits ONE sentinel row
    (``ka``/``kb``/``cos_raw`` NULL, ``n_members`` = the cluster's FULL
    row count, dropped rows included) — pair rows carry ``n_members``
    NULL. A consumer that needs per-cluster member counts
    (semantic_dedup_clusters) then derives them from this single
    grouped pass instead of aggregating the embeddings frame a second
    time: one FlatMapGroupsInPandas, one scan, and the
    count-join/broadcast branch disappears. Clusters with < 2 usable
    vectors, which emit nothing in the base form, still emit their
    sentinel — every label stays represented.
    """
    import pandas as pd
    from pyspark.sql import types as T

    import numpy as np  # noqa: F401 — driver-side presence check

    label_cols = (
        (label_col,) if isinstance(label_col, str) else tuple(label_col)
    )
    in_schema = df.schema
    fields = [in_schema[c] for c in label_cols]
    fields += [
        T.StructField("ka", T.LongType()),
        T.StructField("kb", T.LongType()),
        T.StructField("cos_raw", T.DoubleType()),
    ]
    for c in carry_cols:
        fields.append(T.StructField(f"{c}_a", in_schema[c].dataType))
        fields.append(T.StructField(f"{c}_b", in_schema[c].dataType))
    if emit_group_size:
        fields.append(T.StructField("n_members", T.LongType()))
    out_schema = T.StructType(fields)
    out_cols = [f.name for f in fields]
    pre_cut = threshold - 1e-6

    def per_cluster(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        import pandas as pd

        def finish(
            out: dict, n_rows: int, n_pairs: int, labels
        ) -> "pd.DataFrame":
            if not emit_group_size:
                return pd.DataFrame(out, columns=out_cols)
            # sentinel row first: full group size BEFORE the keep
            # filter (n_members must count NULL/off-dim rows too)
            for c in label_cols:
                out[c] = [labels[c]] + list(out.get(c, []))
            out["ka"] = [None] + list(out.get("ka", []))
            out["kb"] = [None] + list(out.get("kb", []))
            out["cos_raw"] = [None] + list(out.get("cos_raw", []))
            for c in carry_cols:
                out[f"{c}_a"] = [None] + list(out.get(f"{c}_a", []))
                out[f"{c}_b"] = [None] + list(out.get(f"{c}_b", []))
            out["n_members"] = [n_rows] + [None] * n_pairs
            return pd.DataFrame(out, columns=out_cols)

        n_rows = len(pdf)
        labels = {c: pdf[c].iloc[0] for c in label_cols}
        vecs = pdf[vec_col].tolist()
        dims = [len(v) if v is not None else -1 for v in vecs]
        dim = max(dims) if dims else 0
        keep = [i for i, d in enumerate(dims) if d == dim]
        if len(keep) < 2:
            return finish({}, n_rows, 0, labels)
        pdf = pdf.iloc[keep]
        # id-sort so (i < j) positions == (ka < kb) ids
        pdf = pdf.sort_values(id_col, kind="mergesort")
        X = np.asarray(pdf[vec_col].tolist(), dtype="float64")
        ids = pdf[id_col].to_numpy()
        nrm = np.sqrt(np.einsum("ij,ij->i", X, X))
        C = (X @ X.T) / np.outer(nrm, nrm)
        ii, jj = np.triu_indices(len(ids), k=1)
        hit = C[ii, jj] >= pre_cut
        ii, jj = ii[hit], jj[hit]
        out = {
            c: [pdf[c].iloc[0]] * len(ii) for c in label_cols
        }
        out.update(
            {"ka": ids[ii], "kb": ids[jj], "cos_raw": C[ii, jj]}
        )
        for c in carry_cols:
            vals = pdf[c].to_numpy()
            out[f"{c}_a"] = vals[ii]
            out[f"{c}_b"] = vals[jj]
        return finish(out, n_rows, len(ii), labels)

    return df.groupBy(*label_cols).applyInPandas(per_cluster, out_schema)
