"""Deduplication operators (SURVEY.md §2.3 D1, §2.11 near-dup family).
The D2/D3 duplicate counts are ``plans.analytics.duplicados``.

Scale notes: exact dedup is one hash shuffle on the dedup key; keep-first
dedup uses a window (single shuffle, no global sort); MinHash-LSH near-dup
turns the O(n²) pair problem into band-bucket equi-joins — the only
strategy that survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokenize


def dedup_keep_first(
    df: DataFrame, keys: list[str], order: list[str]
) -> DataFrame:
    """D1 — drop_duplicates(subset=keys) with *deterministic* keep-first:
    pandas keeps first-in-file-order, Spark's dropDuplicates keeps an
    arbitrary row, so parity requires an explicit tie-break ordering
    (SURVEY.md §7.4.4). One shuffle on ``keys``.
    """
    w = Window.partitionBy(*keys).orderBy(*[F.asc(c) for c in order])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def normalize_text(col: Column | str) -> Column:
    """Canonical form for exact text dedup: lowercase, collapse
    whitespace, trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def dedup_text_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """§2.11 — exact near-dup removal: md5 of normalized text, keep the
    lowest id per hash. One shuffle on the 32-byte hash (never on the
    document text itself — at 100 TB the shuffle payload must be the
    fingerprint, not the payload column).

    Precondition: ``id_col`` holds no NULLs. Keep-lowest-id is
    ``min(id) GROUP BY hash``, and ``min()`` skips NULL ids, where a
    ``row_number`` window ordered by id (NULLs first in Spark) would
    keep them; a hash whose ids are all NULL comes out with a NULL id.

    Keep-lowest-id is an aggregate, not a window: only (id, hash)
    survive, so a ``row_number`` window would be a strictly worse plan
    for the same rows. The window SORTS every partition and ships every
    (id, hash) row through the exchange, while the hash aggregate's
    map-side partial min collapses same-task duplicates before the
    shuffle and never sorts. (``dedup_keep_first`` still needs its
    window — it keeps whole rows, where min() per column would mix
    rows.)"""
    h = F.md5(normalize_text(text_col)).alias("text_hash")
    return (
        df.select(id_col, h)
        .groupBy("text_hash")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, "text_hash")
    )


def shingles(col: Column | str, n: int = 3) -> Column:
    """Token n-gram shingles as array<string> (distinct), the unit set for
    Jaccard/MinHash near-dup.

    Built by zipping the token array with its own 1..n-1 shifts
    (``zip_with`` + ``slice``), NOT by indexing inside a ``transform``
    lambda: a lambda body referencing the tokens expression re-evaluates
    the full tokenize (regex split) per element — O(tokens²) per doc,
    measured ~6 s of pure re-tokenization at sf0.1. Here every lambda
    touches only its element arguments, so shingling is O(tokens).
    zip_with pads the shorter (shifted) array with NULLs; concat
    propagates them and the final filter drops the short tail grams.
    """
    toks = tokenize(col)
    acc = toks
    for j in range(2, n + 1):
        shifted = F.slice(toks, j, F.size(toks))
        acc = F.zip_with(
            acc, shifted, lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.array_distinct(F.filter(acc, lambda g: g.isNotNull()))


#: Modulus of the PORTABLE minhash mix family: the Mersenne prime
#: 2^31−1. With h, a, b < 2^31 every product in (a·h + b) % p stays
#: below 2^62, so the arithmetic is exact long/BIGINT math in BOTH
#: engines — no wraparound semantics to emulate (DuckDB checks integer
#: overflow; Spark wraps silently; staying under 2^62 sidesteps both).
MINHASH_P = 2_147_483_647

#: Band-fold multiplier (2^17−1): p·K < 2^48, so the iterated
#: ((acc·K + m) % p) band hash is likewise exact in both engines.
MINHASH_BAND_K = 131_071


def minhash_mix_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the portable affine mix family
    ((a·h + b) % p) — same no-RNG LCG discipline as the LSH planes
    (queries/extensions.py:_fixed_planes); a is never 0 mod p."""
    out, state = [], 987_654_321
    for _ in range(num_hashes):
        state = (1103515245 * state + 12345) % (2 ** 31)
        a = state % (MINHASH_P - 1) + 1
        state = (1103515245 * state + 12345) % (2 ** 31)
        b = state % MINHASH_P
        out.append((a, b))
    return out


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """MinHash signatures as (id, sig array<bigint>) via
    explode → hash-once → multi-min aggregation.

    Why not ``array_min(transform(shingles, xxhash64(seed=i)))`` per i?
    Catalyst's project collapse inlines the full shingling expression
    (regex tokenize + slice + concat) into *every* one of the 32 hash
    expressions — measured 118 s for 5 000 docs at sf0.1. Here shingles
    are computed and string-hashed exactly ONCE; the 32 seeded hashes are
    cheap long→long mixes inside a hash aggregate with map-side
    partial min, so the shuffle ships 32 longs per doc regardless of
    document size — the property that matters at 100 TB.

    ``portable=False`` (production): xxhash64 gram hash + xxhash64
    seeded mixes. ``portable=True``: md5-prefix gram hash reduced mod
    the Mersenne prime 2^31−1, then the affine family
    ((a_i·h + b_i) % p) — every step exact BIGINT math DuckDB replays
    verbatim, which makes the LSH pipeline oracle-checkable; same plan
    shape, ~31-bit hash width (collision odds 2^−31 per pair — fine for
    dedup, and the estimate column is a signature-agreement rate either
    way).

    Docs with no shingles (fewer than ``shingle_n`` tokens) drop out:
    the explode emits no row for them, so they never get a signature.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.explode(shingles(text_col, shingle_n)).alias("sh"),
    )
    if portable:
        p = F.lit(MINHASH_P)
        base_hash = base.select("id", (md5_prefix_hash(F.col("sh")) % p).alias("h"))
        mixes = [
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % p).alias(f"m{i}")
            for i, (a, b) in enumerate(minhash_mix_params(num_hashes))
        ]
    else:
        base_hash = base.select("id", F.xxhash64("sh").alias("h"))
        mixes = [
            F.min(F.xxhash64("h", F.lit(i))).alias(f"m{i}")
            for i in range(num_hashes)
        ]
    agg = base_hash.groupBy("id").agg(*mixes)
    return agg.select(
        "id", F.array(*[f"m{i}" for i in range(num_hashes)]).alias("sig")
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket: int = 1000,
    portable: bool = False,
) -> DataFrame:
    """§2.11 — MinHash + LSH banding near-dup candidate pairs.

    Pipeline: signature (see :func:`minhash_signatures`) → split into
    ``bands`` bands → hash each band → *equi-join on (band_id,
    band_hash)*. The band join is the LSH trick: only documents agreeing
    on an entire band meet, so the shuffle is O(n·bands), not O(n²).
    Buckets larger than ``max_bucket`` are always dropped (a k-doc
    bucket emits k²/2 pairs; a degenerate hot bucket — e.g. boilerplate
    — would otherwise quadratically dominate the job, the LSH equivalent
    of join skew). Returns distinct candidate pairs (id_a < id_b) with
    estimated Jaccard (signature agreement rate).
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_n, portable=portable
    )

    def band_hash(b: int):
        members = [
            F.element_at("sig", b * rows_per_band + r + 1)
            for r in range(rows_per_band)
        ]
        if not portable:
            return F.xxhash64(*members)
        # portable fold: ((acc·K + m) % p) per member — exact BIGINT
        # math (p·K < 2^48) the DuckDB oracle replays verbatim
        acc = members[0]
        for m in members[1:]:
            acc = (acc * F.lit(MINHASH_BAND_K) + m) % F.lit(MINHASH_P)
        return acc

    banded = sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        band_hash(b).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("id", "sig", "band.band_id", "band.band_hash")
    # Hot-bucket guard as a count window: ONE shuffle on the band keys
    # and the signature pipeline runs once. (A broadcast anti-join
    # against an oversized-buckets aggregate measured no faster — and
    # since the broadcast side is its own plan branch, it recomputes
    # every signature a second time at scale, where that is the
    # dominant cost.)
    w = Window.partitionBy("band_id", "band_hash")
    banded = (
        banded.withColumn("__bc", F.count(F.lit(1)).over(w))
        .filter(F.col("__bc") <= max_bucket)
        .drop("__bc")
    )

    # Force the band self-join to SORT-MERGE. Invariant: the hot-bucket
    # window above always runs, so both sides — the same frame — are
    # already hash-partitioned AND sorted by (band_id, band_hash), and
    # SMJ adds no exchange and no sort. The planner's default broadcast
    # would build the ENTIRE banded frame (O(n·bands) rows — input-
    # sized, 17 MiB at sf0.1, unboundedly larger at scale) into a
    # driver-collected broadcast: a scale hazard AND an extra AQE
    # broadcast-build job per consumer (jobs 8→7 on dedup_minhash,
    # 16→15 on corpus_pipeline). A localCheckpoint of the banded frame
    # removes the duplicate window but ADDS materialization jobs
    # (16→18).
    banded = banded.hint("merge")
    a = banded.alias("a")
    b = banded.alias("b")
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .select(
            "id_a",
            "id_b",
            F.round(agree / F.lit(num_hashes), 4).alias("est_jaccard"),
        )
        # dedup AFTER projecting down to 3 narrow cols so the distinct
        # shuffle ships (long, long, double), not two 32-long signatures.
        .dropDuplicates(["id_a", "id_b"])
        .orderBy("id_a", "id_b")
    )


def near_dedup_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """§2.11 — the full training-data near-dedup operation: drop every
    document that is a near-duplicate (estimated Jaccard ≥ ``threshold``)
    of a lower-id document. Returns the SURVIVING rows of ``df``.

    Pipeline: MinHash-LSH candidate pairs → threshold filter → victims =
    distinct id_b (every doc similar to SOME lower id) → left-anti join
    back. One-pass greedy drop-if-any-lower-near-dup — the standard
    single-pass corpus-dedup policy. Note the chain semantics: for
    A~B~C (A≁C) both B and C are dropped (C pairs with the lower B even
    though B itself is dropped) — i.e. the survivor set is ids that are
    the MINIMUM of their similarity neighborhood, which over-deletes on
    chains relative to connected-component keep-one. That bias (toward
    deleting borderline docs) is the usual choice for training data;
    a cluster-exact variant needs iterative label propagation (O(log n)
    join rounds) and is intentionally not the default.

    At scale every stage is the bounded-shuffle shape documented on its
    operator: the anti join broadcasts when victims are few, else
    shuffles on the 8-byte id — never the text payload.
    """
    pairs = minhash_near_dup_pairs(
        df, text_col, id_col, num_hashes, bands, shingle_n,
        portable=portable,
    )
    # No .distinct() on the victim ids — LEFT ANTI ignores duplicate
    # build-side keys, so a dedup aggregate buys nothing semantically
    # and costs an exchange + two agg stages at every scale (jobs
    # 11→10 here, 14→13 on corpus_pipeline). The duplicate factor the
    # anti join ships is bounded by construction (a doc pairs within
    # its ≤ max_bucket band buckets, and the pair frame was already
    # dropDuplicates'd on (id_a, id_b)), and the rows are bare 8-byte
    # ids — cheaper to ship than to aggregate first.
    victims = (
        pairs.filter(F.col("est_jaccard") >= threshold)
        .select(F.col("id_b").alias(id_col))
    )
    return df.join(victims, on=id_col, how="left_anti")


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hash_fn=F.xxhash64,
) -> DataFrame:
    """§2.11 — ``bits``-wide SimHash per document as (doc_id, simhash
    bigint).

    Explode tokens → hash once per token → per-bit ±1 vote sums as
    ``bits`` aggregate expressions (map-side partial sums; shuffle ships
    ``bits`` longs per doc) → sign-fold into one long. Same
    inline-once rationale as :func:`minhash_signatures`: an
    ``aggregate(transform(tokens, …))`` column expression would recompute
    tokenize+hash per bit. Docs with zero tokens drop out.

    ``hash_fn`` defaults to xxhash64 with the full 64 bits (production);
    pass :func:`md5_prefix_hash` with ``bits=60`` for the
    engine-portable form the DuckDB oracle replays (the md5-prefix hash
    carries 60 entropy bits).
    """
    hashed = (
        df.select(
            F.col(id_col).alias(id_col),
            F.explode(tokenize(text_col)).alias("tok"),
        )
        .select(id_col, hash_fn(F.col("tok")).alias("h"))
    )
    votes = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(bits)
        ]
    )
    fold = None
    for b in range(bits):
        bit = F.shiftleft(
            F.when(F.col(f"v{b}") > 0, F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
            b,
        )
        fold = bit if fold is None else fold + bit
    return votes.select(id_col, fold.alias("simhash"))


def ngram_jaccard_verified_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    portable: bool = False,
) -> DataFrame:
    """§2.11 — the PRODUCTION near-dup shape: MinHash-LSH candidates,
    then EXACT n-gram Jaccard computed only on candidate pairs (shingle
    sets joined back by id). Cost is O(n·bands) candidate generation +
    O(|candidates|) verification — never the O(n²) cross product that
    :func:`ngram_jaccard_pairs` gates with ``max_ids``. Shuffles ship
    ids and shingle arrays for candidates only.
    """
    candidates = minhash_near_dup_pairs(
        df, text_col, id_col, num_hashes, bands, n, portable=portable
    ).select("id_a", "id_b")
    sh = df.select(
        F.col(id_col).alias("id"), shingles(text_col, n).alias("sh")
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a", "id_b", F.round(inter / union, 6).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


def positional_shingles(col: Column | str, n: int = 3) -> Column:
    """Token n-gram sequence IN POSITION ORDER (duplicates kept) —
    the winnowing input, where the i-th gram must be the gram starting
    at token i. Same zip_with/slice build as :func:`shingles` (O(tokens),
    no lambda re-tokenization), but sliced to the full-gram prefix
    instead of distinct+filtered: a doc with t tokens yields exactly
    max(t-n+1, 0) grams."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokenize(c)
    acc = toks
    for j in range(2, n + 1):
        shifted = F.slice(toks, j, F.size(toks))
        acc = F.zip_with(
            acc, shifted, lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.slice(acc, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0)))


def md5_prefix_hash(col: Column) -> Column:
    """Portable 60-bit string hash: the first 15 hex chars of md5 as a
    long. ~3× slower than xxhash64 but ENGINE-PORTABLE — DuckDB replays
    it as CAST('0x' || substr(md5(g),1,15) AS BIGINT), which makes
    hash-keyed operators (winnowing) oracle-checkable. Production swap
    at 100 TB: xxhash64 (same operator shape, 8-byte keys)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
    hash_fn=F.xxhash64,
) -> DataFrame:
    """§2.11 — winnowing document fingerprints (Schleimer et al.): hash
    every POSITIONAL k-gram (duplicates kept — the distinct-gram
    sequence would break the textbook guarantee window and has no
    order-stable SQL twin), then keep the MINIMUM hash of each sliding
    window of ``window`` consecutive k-gram hashes; the distinct minima
    are the document's fingerprint set (guaranteed to share a
    fingerprint with any document overlapping by ≥ window+k-1 tokens).
    Returns one row per (id, fingerprint).

    ``hash_fn`` defaults to xxhash64 (production); pass
    :func:`md5_prefix_hash` for the engine-portable form the DuckDB
    oracle can replay.

    The windowed minimum folds via zip_with against shifted copies of
    the hash array (per-element lambdas only — no enclosing-expression
    re-evaluation), so the whole operator is native expressions; the
    explode ships (id, 8-byte hash) rows to the distinct shuffle.
    """
    sh = df.select(
        F.col(id_col), positional_shingles(text_col, k).alias("__sh")
    ).select(
        id_col,
        F.transform("__sh", lambda s: hash_fn(s)).alias("__h"),
    )
    # min over sliding window of `window` consecutive entries:
    # acc_j = zip_with(acc_{j-1}, shift_j(h), least); after window-1
    # zips, acc[i] = min(h[i..i+window-1]). Only FULL windows count —
    # Schleimer et al. select from complete windows, and partial tail
    # windows would make every doc's final k-gram an automatic
    # fingerprint (spurious cross-doc matches on a shared last shingle).
    # Docs with fewer than `window` k-grams emit no fingerprints.
    acc = F.col("__h")
    for j in range(1, window):
        shifted = F.slice(F.col("__h"), j + 1, F.size(F.col("__h")))
        # least() skips the null pad zip_with adds past the shorter array
        acc = F.zip_with(acc, shifted, lambda a, b: F.least(a, b))
    n_full = F.greatest(
        F.size(F.col("__h")) - (window - 1), F.lit(0)
    )
    full_windows = F.slice(acc, 1, n_full)
    return (
        sh.select(
            id_col,
            F.explode(F.array_distinct(full_windows)).alias("fingerprint"),
        )
        .distinct()
        .orderBy(id_col, "fingerprint")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_ids: int | None = None,
) -> DataFrame:
    """§2.11 — exact n-gram Jaccard over candidate pairs. O(n²) — gate
    with ``max_ids`` for tests; at scale, feed *candidate pairs from
    minhash_near_dup_pairs* instead of the full cross product."""
    base = df.select(F.col(id_col).alias("id"), shingles(text_col, n).alias("sh"))
    if max_ids is not None:
        base = base.filter(F.col("id") < max_ids)
    a, b = base.alias("a"), base.alias("b")
    inter = F.size(F.array_intersect("a.sh", "b.sh"))
    union = F.size(F.array_union("a.sh", "b.sh"))
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(inter / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


def decontaminate_ngram_overlap(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str | None = None,
    n: int = 5,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination (§2.11): flag corpus documents sharing
    ≥ ``min_overlap`` distinct word ``n``-grams with an evaluation set —
    the standard pre-training hygiene step (GPT-3 §C / PaLM-style 13-gram
    checks use the same shape; n defaults lower here because the test
    corpus is short).

    Plan: both sides explode their DISTINCT shingles (so a gram repeated
    inside one doc counts once), then a gram-keyed equi join and a
    per-doc count. Shuffle payload is (id, gram) pairs; the eval side —
    tiny by definition (benchmarks are small) — is distinct-ed and lands
    on the build side. At 100 TB swap the gram STRING for xxhash64(gram)
    before the shuffle (8-byte keys; same join shape) — exact strings are
    kept here so the DuckDB oracle can replay the semantics.

    Returns (id_col, n_overlap) for flagged documents only.
    """
    c = corpus.select(
        F.col(id_col), F.explode(shingles(text_col, n)).alias("gram")
    )
    e = (
        eval_set.select(
            F.explode(shingles(eval_text_col or text_col, n)).alias("gram")
        )
        .distinct()
    )
    return (
        c.join(e, "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components by iterative min-label propagation:
    every node ends up labeled with the smallest id reachable from it.
    Returns (node, label) — one row per node that appears in an edge.

    Each round is two bounded shuffles (neighbor-min groupBy + label
    join); ``localCheckpoint`` truncates lineage so round N's plan does
    not replay rounds 1..N-1 — without it the DAG grows superlinearly
    and the optimizer chokes past ~10 rounds. Convergence needs
    O(graph diameter) rounds; near-dup graphs are shallow clusters, so
    this terminates in a handful. For adversarial long-path graphs the
    O(log n) alternative is large-star/small-star contraction
    (Kiveris et al., "Connected Components in MapReduce"), same join
    primitives — not needed for dedup workloads.

    The driver-side ``count()`` per round is the convergence test —
    intentional (it is the loop condition, not data movement).
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # Checkpoint the symmetrized edge list BEFORE the loop: without it
    # every round re-executes the full upstream DAG that produced the
    # edges (for near-dup graphs that is the entire MinHash-LSH
    # pipeline, measured ~2 s × rounds at sf0.1 — 8.3 s → 2.9 s total).
    sym = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("label").alias("nbr_min"))
        )
        new = (
            labels.join(nbr, labels["node"] == nbr["a"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_min", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    else:
        # Returning unconverged labels would silently violate the
        # one-label-per-component contract downstream (near_dedup_canonical
        # would keep several "canonical" docs from one cluster).
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing) — the graph has a "
            "component with diameter > max_iter; raise max_iter or use "
            "star-contraction for long-path graphs"
        )
    return labels


def near_dedup_canonical(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Cluster-exact near-dedup: keep exactly ONE document (the min id)
    per connected component of the thresholded near-dup graph, plus all
    documents in no component. Fixes the greedy policy's star
    anomaly — in a star 1~5~3, :func:`near_dedup_corpus` keeps both 1
    and 3 (each is the min of its own neighborhood) although they sit in
    one duplicate cluster; component labeling keeps only 1.

    Costs O(diameter) extra join rounds over the greedy pass — the
    documented trade; greedy stays the default for throughput.
    """
    pairs = minhash_near_dup_pairs(
        df, text_col, id_col, num_hashes, bands, shingle_n
    ).filter(F.col("est_jaccard") >= threshold)
    comp = connected_components(pairs, src="id_a", dst="id_b")
    victims = comp.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias(id_col)
    )
    return df.join(victims, on=id_col, how="left_anti")


def levenshtein_pairs(
    vocab: DataFrame,
    col: str,
    max_dist: int = 2,
) -> DataFrame:
    """Fuzzy string pairs within edit distance ``max_dist`` over a
    DISTINCT vocabulary frame — spell-variant / near-key discovery —
    without the O(v²) cross join, via length-band blocking.

    ``levenshtein(a, b) <= d`` requires ``|len(a) - len(b)| <= d``
    (each edit changes length by at most 1), so candidates reduce to an
    **equi-join**: side A explodes to the 2d+1 length keys
    ``len(a)-d .. len(a)+d`` and joins side B on ``len(b)``; the
    ``a < b`` guard dedups (each surviving pair matches exactly one
    offset) and the exact ``levenshtein`` residual runs only on the
    banded candidates.

    Scale: the shuffle keys on string length — candidates are bounded
    by Σ_len v_len · (v in the ±d band), a huge cut over v² for any
    real length distribution. For corpus-scale vocabularies the
    standard refinement is an extra q-gram-prefix blocking key next to
    the length key (same equi-join shape, finer buckets); length alone
    is the right first cut at dictionary scale. The vocabulary frame
    itself is metadata-scale by construction (distinct tokens, not
    corpus rows).

    Output: (word_a, word_b, dist), dist integer — exact on both
    engines (dynamic-programming edit distance has one answer).
    """
    d = int(max_dist)
    va = vocab.select(F.col(col).alias("word_a")).select(
        "word_a",
        F.explode(
            F.array(*[F.length("word_a") + F.lit(k) for k in range(-d, d + 1)])
        ).alias("band"),
    )
    vb = vocab.select(
        F.col(col).alias("word_b"), F.length(col).alias("band")
    )
    return (
        va.join(vb, "band")
        .where(F.col("word_a") < F.col("word_b"))
        .where(F.levenshtein("word_a", "word_b") <= d)
        .select(
            "word_a",
            "word_b",
            F.levenshtein("word_a", "word_b").cast("long").alias("dist"),
        )
    )
