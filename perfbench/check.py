"""Answer checking against DuckDB oracle answers cached on disk.

An answer is a result frame reduced to a canonical form: columns sorted
by name, rows as lists of plain Python values, rows sorted on their
exact values. Floats compare at a relative tolerance of ``REL_TOL``;
everything else, ``Decimal`` included, compares exactly. Oracle answers
are cached as JSON, keyed by the oracle SQL and the input signature,
because some oracle queries cost far more than the Spark run they check.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os
import pathlib

REL_TOL = 1e-9


def _cell(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if hasattr(v, "tolist"):  # numpy scalar or array
        v = v.tolist()
        if v is None or isinstance(v, bool):
            return v
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        # Tagged so that JSON keeps it exact and apart from floats.
        return {"decimal": str(v.normalize())}
    if isinstance(v, dt.datetime):
        if v != v:  # NaT
            return None
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_cell(x) for x in v]
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _sort_key(row):
    """Total order on exact cell values: None first, then numbers by
    value, then everything else by ``repr``."""
    key = []
    for v in row:
        if v is None:
            key.append((0, 0.0, ""))
        elif isinstance(v, (bool, int, float)):
            key.append((1, v, ""))
        else:
            key.append((2, 0.0, repr(v)))
    return key


def canonical(columns, rows) -> dict:
    """Canonical answer from column names and row tuples."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [[_cell(r[i]) for i in order] for r in rows]
    out.sort(key=_sort_key)
    return {"columns": [columns[i] for i in order], "rows": out}


def from_pandas(pdf) -> dict:
    return canonical(
        [str(c) for c in pdf.columns],
        list(pdf.itertuples(index=False, name=None)),
    )


def _same(a, b) -> bool:
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)
    # Type-strict: an int never equals a float, a bool never an int.
    return type(a) is type(b) and a == b


def mismatch(got: dict, want: dict) -> str | None:
    """None when the answers agree as multisets of rows, else a one-line
    reason. Rows are first compared in sorted order; when floats within
    the tolerance sort differently on the two sides, each got row is
    matched to any unmatched wanted row."""
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != {want['columns']}"
    if len(got["rows"]) != len(want["rows"]):
        return f"{len(got['rows'])} rows != {len(want['rows'])}"
    if all(_same(g, w) for g, w in zip(got["rows"], want["rows"])):
        return None
    unmatched = list(want["rows"])
    for g in got["rows"]:
        for i, w in enumerate(unmatched):
            if _same(g, w):
                del unmatched[i]
                break
        else:
            return f"row {g!r} not in the oracle answer"
    return None


class AnswerCache:
    """Oracle answers on disk, one JSON file per (SQL, input signature)."""

    def __init__(self, root: pathlib.Path):
        self.root = root

    def _path(self, sql: str, signature: str) -> pathlib.Path:
        h = hashlib.sha256(f"{signature}\0{sql}".encode()).hexdigest()
        return self.root / f"{h[:32]}.json"

    def get(self, sql: str, signature: str) -> dict | None:
        path = self._path(sql, signature)
        if not path.exists():
            return None
        return json.loads(path.read_text())

    def put(self, sql: str, signature: str, answer: dict) -> None:
        path = self._path(sql, signature)
        path.parent.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(f".{os.getpid()}.tmp")
        tmp.write_text(json.dumps(answer))
        os.replace(tmp, path)


def input_signature(root: pathlib.Path) -> str:
    """sha256 over the names and bytes of the parquet files under
    ``root``."""
    h = hashlib.sha256()
    for path in sorted(root.glob("*.parquet")):
        h.update(path.name.encode() + b"\0")
        h.update(path.read_bytes())
    return h.hexdigest()
