"""Build larger-SF replicas of the driver's sf0.1 testdata for the
scale-trend benchmark.

The driver ships sf{0.001,0.01,0.1} only; the recurring claim that the
engine's fixed distributed overhead amortizes with volume (while the
single-process oracle grows linearly) needs a measured datapoint. This
script tiles `/root/testdata/sf0.1` K× into `<repo>/.scaledata/sfX`
(gitignored — derived data, never committed) with replica-shifted keys
so the scaled tables model MORE data, not repeated data:

* every key column shifts by a replica-specific offset, so joins stay
  FK-consistent inside a replica and never cross replicas (the
  co-purchase graph becomes K disjoint copies → triangles, baskets,
  sessions, per-customer concentration all scale linearly, which is
  the honest 10× -data model);
* `documents.text` gets every 3rd token suffixed with a replica tag
  for k > 0 — every token-3-gram window contains a modified token, so
  cross-replica shingle/minhash/fingerprint collisions vanish (a 10×
  corpus of near-unique docs, not 10 copies of one corpus) while ~2/3
  of tokens stay natural for the lang-id queries;
* `embeddings.embedding` gets a deterministic per-replica ORTHOGONAL
  transform (dimension permutation + sign flips): norms and all
  within-replica pairwise cosines are preserved EXACTLY (cos(Qa, Qb) =
  cos(a, b)), while cross-replica cosines collapse to ~0 for generic
  vectors — so a 10× corpus has 10× the near-dup structure, never 45
  noised-twin pairs per vector. `label` shifts per replica, so cluster
  COUNT grows with SF and cluster SIZE stays ~200 — the shape
  centroid_assign/ivf_build would produce on genuinely larger corpora
  (fixed label => cluster size grows K× and the cluster-bounded pair
  stage grows K² — that would benchmark the algorithm's quadratic
  term, not the engine).

Determinism: numpy RandomState seeded by replica index only.

Graph-density invariant: tiling might inflate co-purchase wedge
density, so that triangle_count's "true work" grows superlinearly
with SF. MEASURED
(``--check-graph`` below, DuckDB over the tiled lineitem): the
co-purchase graph (parts sharing an order, pair-count >= 2) is
EXACTLY K disjoint copies of the sf0.1 graph — edges 3,573 -> 71,460
-> 142,920 and wedges 453 -> 9,060 -> 18,120 and triangles 1 -> 20
-> 40 across sf0.1 -> sf2 -> sf4, each precisely x20 / x40 — because
both l_orderkey and l_partkey shift per replica, so no cross-replica
edge can exist. The generator needs no re-keying; the sf2 wall jump
both engines showed was measurement-phase noise on unstamped rows
(the r10-added phase probe now stamps every row), not data growth.

Usage: python scripts/make_scaledata.py 0.5 1.0
       python scripts/make_scaledata.py --check-graph 2.0 4.0
"""

from __future__ import annotations

import pathlib
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = pathlib.Path(__file__).resolve().parent.parent
SRC = pathlib.Path("/root/testdata/sf0.1")
OUT_ROOT = REPO / ".scaledata"

#: key column -> per-replica offset (disjoint ranges; FK pairs use the
#: same offset on both sides so joins stay consistent inside a replica)
_SHIFTS = {
    "doc_id": 10_000_000,
    "vec_id": 10_000_000,
    "label": 100,
    "event_id": 1_000_000_000,
    "user_id": 10_000_000,
    "o_orderkey": 1_000_000_000,
    "l_orderkey": 1_000_000_000,
    "o_custkey": 10_000_000,
    "c_custkey": 10_000_000,
    "l_partkey": 10_000_000,
    "p_partkey": 10_000_000,
    "l_suppkey": 1_000_000,
    "s_suppkey": 1_000_000,
}

_TILED = (
    "documents", "embeddings", "events", "orders", "lineitem",
    "customer", "part", "supplier",
)
_COPIED = ("nation", "region")


def _perturb_text(texts: list, k: int) -> list:
    """Suffix every 3rd token with the replica tag (k > 0)."""
    tag = f"x{k}"
    out = []
    for t in texts:
        if t is None:
            out.append(None)
            continue
        toks = t.split(" ")
        for i in range(0, len(toks), 3):
            toks[i] = toks[i] + tag
        out.append(" ".join(toks))
    return out


def _tile_table(name: str, k_replicas: int) -> pa.Table:
    base = pq.read_table(SRC / f"{name}.parquet")
    chunks = []
    for k in range(k_replicas):
        cols = {}
        for field in base.schema:
            col = base.column(field.name)
            if k and field.name in _SHIFTS:
                shifted = pa.compute.add(
                    col, pa.scalar(k * _SHIFTS[field.name], type=field.type)
                )
                cols[field.name] = shifted.cast(field.type)
            elif k and name == "documents" and field.name == "text":
                cols[field.name] = pa.array(
                    _perturb_text(col.to_pylist(), k), type=field.type
                )
            elif k and name == "embeddings" and field.name == "embedding":
                arr = np.asarray(col.to_pylist(), dtype="float32")
                rng = np.random.RandomState(k)
                perm = rng.permutation(arr.shape[1])
                signs = rng.choice(
                    [-1.0, 1.0], arr.shape[1]
                ).astype("float32")
                cols[field.name] = pa.array(
                    (arr[:, perm] * signs).tolist(), type=field.type
                )
            else:
                cols[field.name] = col
        chunks.append(pa.table(cols, schema=base.schema))
    return pa.concat_tables(chunks)


def build(sf: float) -> pathlib.Path:
    k_replicas = round(sf / 0.1)
    assert k_replicas >= 1
    out = OUT_ROOT / f"sf{sf:g}"
    if (out / "_DONE").exists():
        print(f"{out} already built")
        return out
    out.mkdir(parents=True, exist_ok=True)
    for name in _COPIED:
        shutil.copy(SRC / f"{name}.parquet", out / f"{name}.parquet")
    for name in _TILED:
        t = _tile_table(name, k_replicas)
        pq.write_table(
            t, out / f"{name}.parquet",
            compression="snappy",
            row_group_size=1 << 20,
        )
        print(f"{name}: {t.num_rows} rows")
    (out / "_DONE").write_text("ok\n")
    return out


def check_graph(sf: float) -> None:
    """Verify the graph-density invariant on a built tier: edge /
    wedge / triangle counts of the co-purchase graph must be exactly
    (sf / 0.1)x the sf0.1 base — i.e. K disjoint replica copies."""
    import duckdb

    base = duckdb.connect()
    q = """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey
                FROM '{d}/lineitem.parquet'),
    e AS (
      SELECT a.l_partkey u, b.l_partkey v
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2)
    SELECT (SELECT count(*) FROM e) edges,
           (SELECT count(*) FROM e e1 JOIN e e2 ON e1.v = e2.u) wedges,
           (SELECT count(*) FROM e e1 JOIN e e2 ON e1.v = e2.u
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) triangles
    """
    e0, w0, t0 = base.execute(q.format(d=str(SRC))).fetchone()
    k = round(sf / 0.1)
    d = OUT_ROOT / f"sf{sf:g}"
    e, w, t = base.execute(q.format(d=str(d))).fetchone()
    ok = (e, w, t) == (k * e0, w0 * k, t0 * k)
    print(
        f"sf{sf:g}: edges={e} wedges={w} triangles={t} "
        f"(base x{k}: {k*e0}/{k*w0}/{k*t0}) "
        f"{'OK — exactly linear' if ok else 'VIOLATION'}"
    )
    if not ok:
        sys.exit(1)


if __name__ == "__main__":
    args = sys.argv[1:] or ["0.5", "1.0"]
    if args[0] == "--check-graph":
        if not args[1:]:
            # exit 0 here would read as "invariant verified" to a
            # caller that forgot the tier list (review r11)
            sys.exit("usage: make_scaledata.py --check-graph SF [SF ...]")
        for arg in args[1:]:
            check_graph(float(arg))
    else:
        for arg in args:
            print("building sf", arg)
            build(float(arg))
