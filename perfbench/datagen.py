"""Seeded inputs for the ``etl_load`` workload.

The Airbnb-shaped ``listings`` / ``reviews`` parquet pair that
``plans.pipeline.run_pipeline`` reads. The value domains are those of
``bench.py``'s ``_pipeline_throughput`` generator (junk numerics,
``N/A`` prices, mixed booleans, extended-JSON dates, nulls, each with
the same share of rows); where that generator picks a value by
``i % k`` this one draws it from a seeded generator with the same
probabilities. Columns are cast to ``sources.readers.AIRBNB_SCHEMAS``.

The same (seed, sizes) give byte-identical files.
"""

from __future__ import annotations

import os
import pathlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: The reference's 26,401 listings (BASELINE.md) and a tenth of its
#: 1,388,226 reviews: a warm pipeline pass is then about 4 s on 4 cores,
#: so that a run under a minute holds several of them.
N_LISTINGS = 26_401
N_REVIEWS = 1_388_226 // 10

_INT_COLUMNS = (
    "accommodates", "bedrooms", "beds", "minimum_nights", "maximum_nights",
    "availability_30", "availability_60", "availability_90",
    "availability_365",
)
_AMENITIES = ('["Fast wifi – 400 Mbps", "Air conditioning"]', "WiFi", "",
              '["Kitchen", "TV", "Pool"]')
_AMENITIES_P = (1 / 7, 1 / 7, 1 / 7, 4 / 7)
_COMMENTS = ("a good and excellent stay", "terrible, horrible place", None,
             "plain comment text here")
_COMMENTS_P = (1 / 6, 1 / 6, 1 / 6, 1 / 2)


def _choice(rng: np.random.Generator, values, p, n: int) -> pa.Array:
    return pa.array(values, pa.string()).take(rng.choice(len(values), n, p=p))


def _str(ks: np.ndarray) -> pa.Array:
    return pa.array(ks).cast(pa.string())


def _cat(*parts) -> pa.Array:
    return pc.binary_join_element_wise(*parts, "")


def _masked(rng: np.random.Generator, values, share: float, fill):
    """``values`` with a ``share`` of the rows replaced by ``fill``."""
    if not isinstance(values, pa.Array):
        values = pa.array(values)
    mask = pa.array(rng.random(len(values)) < share)
    return pc.if_else(mask, pa.scalar(fill, values.type), values)


def _const(value, n: int) -> pa.Array:
    return pa.array([value]).take(np.zeros(n, dtype="int64"))


def airbnb_tables(seed: int, n_listings: int = N_LISTINGS,
                  n_reviews: int = N_REVIEWS) -> dict[str, pa.Table]:
    from etl_airbnb_mex_spark.sources.readers import AIRBNB_SCHEMAS

    rng = np.random.default_rng(seed)
    n = n_listings
    ids = rng.permutation(n).astype("int64")
    # One junk-or-small-int draw per row, shared by the nine integer
    # columns, as in the generator this follows.
    small = _masked(rng, _str(rng.integers(0, 9, n)), 1 / 13, "abc")
    listings = {
        "_id": _const("x", n),
        "id": ids,
        "name": _cat("  Casa ", _str(ids)),
        "description": _masked(rng, _const("desc", n), 1 / 17, None),
        "neighbourhood_cleansed": pc.if_else(
            pa.array(rng.random(n) < 1 / 2), "Cuauhtémoc",
            _cat("Colonia ", _str(rng.integers(0, 40, n)))),
        "latitude": 19.0 + rng.integers(0, 100, n) / 100.0,
        "longitude": np.full(n, -99.1),
        "property_type": pc.if_else(pa.array(rng.random(n) < 1 / 5),
                                    "Apartment", "Entire rental unit"),
        "room_type": _choice(rng, ("Entire home/apt", "Private room", None),
                             None, n),
        **{c: small for c in _INT_COLUMNS},
        "amenities": _choice(rng, _AMENITIES, _AMENITIES_P, n),
        "price": _masked(rng, pc.if_else(
            pa.array(rng.random(n) < 1 / 10), "N/A",
            _cat("$", _str(rng.integers(0, 6000, n)), ".00")), 1 / 11, None),
        "host_since": _const("2019-05-04", n),
        "calendar_last_scraped": _const('{"$date": "2025-10-01T00:00:00Z"}',
                                        n),
        "last_scraped": _masked(rng, _const("2025-10-02", n), 1 / 23,
                                "junk"),
        "host_is_superhost": _choice(rng, ("t", " True ", "f"),
                                     (1 / 4, 1 / 4, 1 / 2), n),
        "host_identity_verified": _const("si", n),
        "has_availability": _masked(rng, _const("1", n), 1 / 9, None),
        "review_scores_rating": 4.0 + rng.integers(0, 10, n) / 10.0,
        "reviews_per_month": np.full(n, 1.2),
    }

    m = n_reviews

    def two_digits(lo: int, hi: int) -> pa.Array:
        return pc.utf8_lpad(_str(rng.integers(lo, hi, m)), 2, "0")

    reviews = {
        "_id": _const("r", m),
        "id": np.arange(m, dtype="int64"),
        "listing_id": ids[rng.integers(0, n, m)],
        "date": _cat("20", two_digits(11, 25), "-", two_digits(1, 13), "-",
                     two_digits(1, 29)),
        "reviewer_id": rng.integers(0, 9999, m).astype("int64"),
        "reviewer_name": _masked(
            rng, _cat("ana ", _str(rng.integers(0, 50, m))), 1 / 31, None),
        "comments": _choice(rng, _COMMENTS, _COMMENTS_P, m),
    }
    out = {}
    for name, cols in (("listings", listings), ("reviews", reviews)):
        schema = pa.schema([
            pa.field(f.name, _ARROW[f.dataType.typeName()])
            for f in AIRBNB_SCHEMAS[name].fields
        ])
        out[name] = pa.table(cols, schema=schema)
    return out


_ARROW = {"string": pa.string(), "long": pa.int64(), "double": pa.float64()}


def write_airbnb(seed: int, out: pathlib.Path, n_listings: int = N_LISTINGS,
                 n_reviews: int = N_REVIEWS) -> dict[str, str]:
    """Write the seeded pair under ``out`` once; later calls with the
    same arguments reuse the files."""
    done = out / "_DONE"
    paths = {name: str(out / f"{name}.parquet")
             for name in ("listings", "reviews")}
    if done.exists():
        return paths
    out.mkdir(parents=True, exist_ok=True)
    for name, table in airbnb_tables(seed, n_listings, n_reviews).items():
        pq.write_table(table, paths[name], compression="snappy")
    done.write_text("ok\n")
    return paths


def tree_bytes(root: str | os.PathLike) -> tuple[int, int]:
    """(file count, total bytes) of the data files under ``root``
    (Spark's ``_SUCCESS`` / ``.crc`` side files excluded)."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for name in names:
            if name.startswith(("_", ".")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description="Write the seeded etl_load "
                                 "inputs.")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", type=pathlib.Path, required=True)
    args = ap.parse_args()
    write_airbnb(args.seed, args.out)
