"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

The fast tests need no Spark. ``test_cli_*`` run the benchmark end to
end (about a minute per workload) and are skipped unless
``PERFBENCH_E2E=1``.
"""

from __future__ import annotations

import decimal
import json
import os
import pathlib
import subprocess
import sys

import pytest

HERE = pathlib.Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import check  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _units(entries) -> dict:
    return {m["name"]: m["unit"] for m in entries}


def test_metric_names_and_units_match_spec():
    assert run.END_TO_END == _units(SPEC["end_to_end"])
    assert run.PER_LAYER == _units(SPEC["per_layer"])
    assert sorted(run.WORKLOADS) == sorted(w["name"]
                                           for w in SPEC["workloads"])


def test_result_line_carries_exactly_the_declared_metrics():
    r = run.Run(FakeWorkload({}), 0, spans.Tracer(False))
    values = {name: 1.5 for name in run.END_TO_END}
    values["extra"] = 2.0
    line = run.result_line(r, values, run.END_TO_END)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in line["metrics"].items()} \
        == run.END_TO_END


class FakeWorkload:
    """Operations named ``ok*`` answer right, ``wrong*`` answer wrong,
    ``boom*`` raise."""

    name = "fake"

    def __init__(self, answers):
        self.answers = answers

    def order(self, pass_no):
        return list(self.answers)

    def build(self, spark, op):
        if op.startswith("boom"):
            raise RuntimeError("injected failure")
        return op

    def collect(self, spark, op, df):
        return [[1, 2.0]] if op.startswith("ok") else [[1, 3.0]]

    def result_rows(self, result):
        return len(result)

    def verify(self, op, result):
        return check.mismatch(check.canonical(["a", "b"], result),
                              check.canonical(["a", "b"], [[1, 2.0]]))


@pytest.mark.parametrize("ops,failed", [
    (["ok1", "ok2"], 0),
    (["ok", "wrong"], 1),
    (["ok", "boom"], 1),
    (["ok", "wrong", "boom"], 2),
])
def test_wrong_or_raising_operations_count_as_failed(ops, failed):
    r = run.Run(FakeWorkload(dict.fromkeys(ops)), 0, spans.Tracer(False))
    wall, _, ok = r.one_pass(1, traced=False)
    line = run.result_line(r, {}, {})
    assert line["attempted"] == len(ops)
    assert line["failed"] == failed
    assert line["correct"] is (failed == 0)
    assert ok is (failed == 0)
    assert len(r.latencies) == len(ops) - failed


def test_traced_pass_runs_each_operation_traced_and_untraced():
    r = run.Run(FakeWorkload(dict.fromkeys(["ok1", "ok2", "ok3"])), 0,
                spans.Tracer(True))
    r.spark = FakeSpark()
    wall, traced_wall, ok = r.one_pass(1, traced=True)
    assert ok and r.attempted == 6 and r.failed == 0
    assert len(r.latencies) == 3  # untraced latencies only
    ops = [s.name for s in r.tracer.spans if s.name.startswith("op:")]
    assert ops == ["op:ok1", "op:ok2", "op:ok3"]
    assert r.pass_counts[0]["ops.jobs"] == 3 * 2


class FakeSpark:
    """Just enough of a session for the job-group bookkeeping: every
    group ran two jobs of one stage of four tasks."""

    class sparkContext:  # noqa: N801
        @staticmethod
        def setJobGroup(group, desc):
            pass

        @staticmethod
        def statusTracker():
            return FakeSpark.Tracker()

    class Tracker:
        def getJobIdsForGroup(self, group):
            return [1, 2]

        def getJobInfo(self, jid):
            return type("J", (), {"stageIds": [jid]})

        def getStageInfo(self, sid):
            return type("S", (), {"numTasks": 4})


def test_same_seed_same_query_order():
    a, b, c = run.Notebook(7), run.Notebook(7), run.Notebook(8)
    assert a.order(1) == b.order(1)
    assert sorted(a.order(1)) == sorted(run.NOTEBOOK)
    assert a.order(1) != a.order(2)
    assert a.order(1) != c.order(1)


def _files(root: pathlib.Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(root.glob("*.parquet"))}


def test_same_seed_byte_identical_etl_inputs(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        datagen.write_airbnb(seed, tmp_path / name, 500, 2000)
    a, b, c = (_files(tmp_path / n) for n in "abc")
    assert set(a) == {"listings.parquet", "reviews.parquet"}
    assert a == b
    assert a != c


def test_etl_inputs_follow_declared_schema():
    from etl_airbnb_mex_spark.sources.readers import AIRBNB_SCHEMAS

    tables = datagen.airbnb_tables(1, 300, 900)
    for name, table in tables.items():
        assert table.column_names == AIRBNB_SCHEMAS[name].names
    assert len(set(tables["listings"]["id"].to_pylist())) == 300
    assert set(tables["reviews"]["listing_id"].to_pylist()) \
        <= set(tables["listings"]["id"].to_pylist())


class FakeClock:
    def __init__(self, times):
        self.times = iter(times)

    def __call__(self):
        return next(self.times)


def test_span_self_time_arithmetic():
    # root [0, 10]; a [1, 4] with child c [2, 3]; b [3.5, 6] overlaps a.
    t = spans.Tracer(True, clock=FakeClock([0, 1, 2, 3, 4, 3.5, 6, 10]))
    with t.span("root"):
        with t.span("a"):
            with t.span("c"):
                pass
        with t.span("b"):
            pass
    st = spans.self_times(t.spans)
    by = {s.name: s.id for s in t.spans}
    assert st[by["c"]] == 1
    assert st[by["a"]] == 3 - 1
    assert st[by["b"]] == 2.5
    # a and b cover [1, 6] together: 5 of root's 10.
    assert st[by["root"]] == 10 - 5
    assert spans.covered([(0, 2), (1, 3), (5, 6)]) == 4


def test_cpu_seconds_counts_this_process():
    import time

    c0, t0 = run.cpu_seconds(), time.process_time()
    while time.process_time() - t0 < 0.3:
        pass
    assert run.cpu_seconds() - c0 >= 0.2


def test_disabled_tracer_records_nothing():
    t = spans.Tracer(False)
    with t.span("x"):
        pass
    assert t.spans == []


# --- answer comparison -------------------------------------------------------

def test_rows_tying_at_six_digits_in_opposite_orders_match():
    # Two sums near 2.7e9, less than 1000 apart: equal at 6 digits.
    rows = [[2706323975.25, "a"], [2706323100.5, "b"]]
    got = check.canonical(["s", "k"], rows)
    want = check.canonical(["s", "k"], rows[::-1])
    assert check.mismatch(got, want) is None


def test_float_tolerance_and_exact_others():
    want = check.canonical(["x"], [[2706323975.3560996]])
    assert check.mismatch(check.canonical(["x"], [[2706323975.3561]]),
                          want) is None
    assert check.mismatch(check.canonical(["x"], [[2706330000.0]]),
                          want) is not None
    # An int never equals a float; a Decimal compares exactly.
    assert check.mismatch(check.canonical(["x"], [[555]]),
                          check.canonical(["x"], [[555.0]])) is not None
    d = decimal.Decimal
    assert check.mismatch(check.canonical(["x"], [[d("1.10")]]),
                          check.canonical(["x"], [[d("1.1")]])) is None
    assert check.mismatch(
        check.canonical(["x"], [[d("2706323975.3561")]]),
        check.canonical(["x"], [[d("2706323975.3560996")]])) is not None


def test_tolerant_floats_that_sort_differently_still_match():
    # 1.0 + 1e-12 sorts after 1.0 on one side; the rows still pair up.
    got = check.canonical(["v", "k"], [[1.0 + 1e-12, "b"], [1.0, "a"]])
    want = check.canonical(["v", "k"], [[1.0, "b"], [1.0 + 1e-12, "a"]])
    assert check.mismatch(got, want) is None
    assert check.mismatch(
        got, check.canonical(["v", "k"], [[1.0, "b"], [1.0, "c"]]))


def test_answer_cache_keys_on_sql_and_signature(tmp_path):
    cache = check.AnswerCache(tmp_path)
    cache.put("select 1", "sig", {"columns": [], "rows": []})
    assert cache.get("select 1", "sig") == {"columns": [], "rows": []}
    assert cache.get("select 1", "other") is None
    assert cache.get("select 2", "sig") is None


# --- end to end --------------------------------------------------------------

e2e = pytest.mark.skipif(os.environ.get("PERFBENCH_E2E") != "1",
                         reason="set PERFBENCH_E2E=1 to run the benchmark")


@e2e
@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_cli_prints_declared_metrics(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True)
    line = json.loads(out.stdout.strip().splitlines()[-1])
    units = run.PER_LAYER if trace else run.END_TO_END
    assert line["correct"] and line["failed"] == 0
    assert {k: v["unit"] for k, v in line["metrics"].items()} == units
