"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload notebook_explore --seed 1 \
        --seconds 5 --trace 0

Run from the root of a checkout of the repository. The run

1. prepares its inputs outside every timed section (the seeded
   ``etl_load`` parquet pair, written once per seed by a child process;
   the DuckDB oracle answers, cached per (oracle SQL, input signature));
2. sets up ``SETUP_ROUNDS`` times: build a SparkSession with
   ``session.get_spark`` (the first round launches the JVM; later ones
   stop the session and build a fresh one in the same JVM), import the
   query registry, open every input;
3. runs the workload's warm passes (one, or two for ``etl_load``),
   whose results are not checked. ``setup_s`` is the median set-up round
   plus the warm passes;
4. measures whole passes in a closed loop (one client, the next
   operation starts when the previous one returns) until ``--seconds``
   have gone by, checking every answer.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a separate traced
run (spans at each layer call, plus untraced passes for the tracing
overhead), and the spans are written to ``perfbench/.work/spans-*.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
CACHE = HERE / ".cache"
SF_DIR = HERE / "data" / "sf0.01"
CPUS = len(os.sched_getaffinity(0))

SETUP_ROUNDS = 3
#: A run stops measuring after this many seconds whatever ``--seconds``
#: says, so that it ends well inside three minutes.
HARD_STOP_S = 100.0

#: The notebook's interactive analytics pass, and the code each query
#: spends its time in (static attribution for the traced run). Ten of
#: the notebook's eighteen queries, so that a run stays near forty
#: seconds. Kept: every module the eighteen use, the two multi-job
#: profiles (describe_stats, percentiles) and one query of each cheap
#: shape. Left out: mode_value (the topn path of topn_by_count);
#: scalar_stats, outliers_iqr and filter_quantile (the quantile and
#: moment paths of describe_stats and percentiles); conditional_agg,
#: date_range, histogram and dedup_by_key (one aggregate job each, like
#: groupby_multi_agg and monthly_counts).
NOTEBOOK = {
    "null_profile": "operators.stats",
    "topn_by_count": "operators.topn",
    "pct_of_total": "operators.topn",
    "groupby_multi_agg": "queries.inline",
    "describe_stats": "operators.stats",
    "percentiles": "operators.stats",
    "monthly_counts": "operators.timeseries",
    "corr_matrix": "operators.stats",
    "sentiment_dist": "queries.inline",
    "flagship_topn_pct": "queries.inline",
}

#: Output columns of the pipeline's parquet sink, per table, as
#: (name, Spark type) — the schema the load must produce.
ETL_SCHEMA = json.loads((HERE / "etl_schema.json").read_text())

#: Metric -> unit; the names and units BENCHMARK.json declares.
END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.registry_import_s": "s",
    "session.warm_pass_s": "s",
    "session.jvm_hwm_mb": "MB",
    "process.peak_rss_mb": "MB",
    "inputs.first_open_s": "s",
    "inputs.cached_open_s": "s",
    "ops.p50_s": "s",
    "ops.p90_s": "s",
    "ops.pass_wall_s": "s",
    "ops.build_s": "s",
    "ops.build_jobs": "count",
    "ops.collect_s": "s",
    "ops.jobs": "count",
    "ops.stages": "count",
    "ops.tasks": "count",
    "ops.result_rows": "count",
    "oracle.duckdb_s": "s",
    "oracle.spark_over_duckdb": "ratio",
    "trace.overhead_ratio": "ratio",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``statistics`` 'inclusive')."""
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[round(q * 100) - 1]


# --- process bookkeeping -----------------------------------------------------

def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _processes() -> dict[int, tuple[str, list[str]]]:
    """pid -> (command name, the fields of /proc/<pid>/stat after it)."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        out[int(entry)] = (stat[stat.index("(") + 1:stat.rindex(")")],
                           stat[stat.rindex(")") + 2:].split())
    return out


def _descendants(root: int, procs) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (_, fields) in procs.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _java_descendants(root: int) -> list[int]:
    procs = _processes()
    return [p for p in _descendants(root, procs) if procs[p][0] == "java"]


_TICK = os.sysconf("SC_CLK_TCK")
#: JVM threads whose CPU time is not the workload's: the JIT compilers,
#: still finishing a fresh JVM's warm-up after the warm passes, by an
#: amount that varies from run to run.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jvm_ticks(pid: int) -> int:
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if stat[stat.index("(") + 1:].startswith(_JIT_THREADS):
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total


def cpu_seconds() -> float:
    """CPU time (user + system) of this process and every process under
    it: the JVM, without its JIT compiler threads, and Spark's Python
    workers."""
    procs = _processes()
    ticks = 0
    for pid in [os.getpid()] + _descendants(os.getpid(), procs):
        if pid not in procs:
            continue
        if procs[pid][0] == "java":
            ticks += _jvm_ticks(pid)
        else:
            # utime, stime, cutime, cstime: fields 14-17 of stat.
            ticks += sum(int(x) for x in procs[pid][1][11:15])
    return ticks / _TICK


def jvm_hwm_mb() -> float:
    pids = _java_descendants(os.getpid())
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024


def peak_rss_mb() -> float:
    """VmHWM of this process plus its JVM child."""
    return _status_kb(os.getpid(), "VmHWM") / 1024 + jvm_hwm_mb()


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --- inputs ------------------------------------------------------------------

def etl_inputs(seed: int) -> dict[str, str]:
    """The seeded listings/reviews pair, generated by a child process so
    that this process imports nothing of the program before set-up."""
    from datagen import N_LISTINGS, N_REVIEWS

    out = WORK / "etl-inputs" / f"seed-{seed}-{N_LISTINGS}-{N_REVIEWS}"
    if not (out / "_DONE").exists():
        subprocess.run(
            [sys.executable, str(HERE / "datagen.py"), "--seed", str(seed),
             "--out", str(out)],
            check=True, cwd=ROOT, env=os.environ.copy())
    return {name: str(out / f"{name}.parquet")
            for name in ("listings", "reviews")}


def oracle_answers(names: list[str]) -> dict[str, dict]:
    """DuckDB answers for ``names`` on the notebook tables, from the
    cache when present."""
    import check
    from etl_airbnb_mex_spark.oracle import duckdb_connection
    from etl_airbnb_mex_spark.queries import REGISTRY

    cache = check.AnswerCache(CACHE / "oracle")
    signature = check.input_signature(SF_DIR)
    out, con = {}, None
    for name in names:
        sql = REGISTRY[name].oracle
        answer = cache.get(sql, signature)
        if answer is None:
            con = con or duckdb_connection(str(SF_DIR))
            answer = check.from_pandas(con.execute(sql).df())
            cache.put(sql, signature, answer)
        out[name] = answer
    if con is not None:
        con.close()
    return out


# --- workloads ---------------------------------------------------------------

class Notebook:
    """Ten notebook-analytics queries on the sf0.01 test tables; one
    operation is one query, built and collected with ``toPandas``."""

    name = "notebook_explore"
    warm_passes = 1

    def __init__(self, seed: int):
        self.seed = seed
        self.answers: dict[str, dict] = {}

    def open_inputs(self, spark) -> None:
        from etl_airbnb_mex_spark.tables import TABLE_NAMES, load_table

        for table in TABLE_NAMES:
            load_table(spark, str(SF_DIR), table)

    def prepare_checks(self) -> None:
        self.answers = oracle_answers(list(NOTEBOOK))

    def order(self, pass_no: int) -> list[str]:
        names = list(NOTEBOOK)
        random.Random(self.seed * 1_000_003 + pass_no).shuffle(names)
        return names

    def build(self, spark, op: str):
        from etl_airbnb_mex_spark.queries import REGISTRY

        return REGISTRY[op].spark(spark, str(SF_DIR))

    def collect(self, spark, op: str, df):
        return df.toPandas()

    def verify(self, op: str, result) -> str | None:
        import check

        return check.mismatch(check.from_pandas(result), self.answers[op])

    def result_rows(self, result) -> int:
        return len(result)

    def duckdb_pass(self) -> float:
        from etl_airbnb_mex_spark.oracle import duckdb_connection
        from etl_airbnb_mex_spark.queries import REGISTRY

        con = duckdb_connection(str(SF_DIR))
        start = time.perf_counter()
        for op in self.order(0):
            con.execute(REGISTRY[op].oracle).df()
        elapsed = time.perf_counter() - start
        con.close()
        return elapsed


def report_dir(report: dict) -> str:
    """The output directory of a pipeline run, from its report."""
    ruta = next(t["ruta"] for t in report["tablas"].values() if "ruta" in t)
    return os.path.dirname(ruta)


class EtlLoad:
    """``run_pipeline`` over the seeded Airbnb-shaped pair: extract count,
    transform, parquet overwrite, verify re-read, into a fresh output
    directory every time. One operation is one pipeline run."""

    name = "etl_load"
    #: The JIT is still compiling the 60-column transform after one pass:
    #: the second pass is about 1.5x the steady one.
    warm_passes = 2

    def __init__(self, seed: int):
        self.seed = seed
        self.paths = etl_inputs(seed)
        self.in_rows: dict[str, int] = {}
        self.in_bytes = sum(os.path.getsize(p) for p in self.paths.values())
        self.out_dir = WORK / "etl-out"
        self.n_out = 0
        self.last_out = ""

    def open_inputs(self, spark) -> None:
        from etl_airbnb_mex_spark.sources.readers import read_table_set

        read_table_set(spark, self.paths)

    def prepare_checks(self) -> None:
        import pyarrow.parquet as pq

        self.in_rows = {name: pq.ParquetFile(p).metadata.num_rows
                        for name, p in self.paths.items()}

    def order(self, pass_no: int) -> list[str]:
        return ["run_pipeline"]

    def fresh_dir(self) -> str:
        self.n_out += 1
        return str(self.out_dir / f"out-{self.n_out}")

    def build(self, spark, op: str):
        # run_pipeline builds its plans itself; the traced run splits
        # them out with spans.
        return self.fresh_dir()

    def collect(self, spark, op: str, out: str):
        from etl_airbnb_mex_spark.plans.pipeline import run_pipeline

        return run_pipeline(spark, self.paths, out)

    def verify(self, op: str, report) -> str | None:
        import pyarrow.parquet as pq

        for name, rows in self.in_rows.items():
            t = report["tablas"].get(name)
            if t is None:
                return f"{name}: missing from the report"
            if not t["extraidos"] == t["cargados"] == rows:
                return (f"{name}: extracted {t['extraidos']}, loaded "
                        f"{t['cargados']}, input {rows}")
            schema = pq.read_schema(next(pathlib.Path(t["ruta"]).glob(
                "*.parquet")))
            got = [[f.name, str(f.type)] for f in schema]
            if got != ETL_SCHEMA[name]:
                return f"{name}: output schema {got} != {ETL_SCHEMA[name]}"
        # Keep only the newest output directory.
        self.last_out = report_dir(report)
        for old in self.out_dir.iterdir():
            if str(old) != self.last_out:
                shutil.rmtree(old)
        return None

    def result_rows(self, report) -> int:
        return sum(t["cargados"] for t in report["tablas"].values())


    def duckdb_pass(self) -> float:
        """The same extract → write → verify shape in DuckDB, without
        the transforms: a machine canary for the write path."""
        import duckdb

        out = WORK / "duckdb-out"
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        con = duckdb.connect()
        start = time.perf_counter()
        for name, path in self.paths.items():
            src = f"read_parquet('{path}')"
            dst = out / f"{name}.parquet"
            con.execute(f"SELECT count(*) FROM {src}").fetchall()
            con.execute(f"COPY (SELECT * FROM {src}) TO '{dst}' "
                        "(FORMAT parquet)")
            con.execute(f"SELECT count(*) FROM read_parquet('{dst}')"
                        ).fetchall()
        elapsed = time.perf_counter() - start
        con.close()
        shutil.rmtree(out)
        return elapsed


WORKLOADS = {w.name: w for w in (Notebook, EtlLoad)}


# --- the run -----------------------------------------------------------------

class Run:
    def __init__(self, workload, seconds: float, tracer):
        self.w = workload
        self.seconds = seconds
        self.tracer = tracer
        self.spark = None
        self.layers: dict[str, float] = {}
        self.attempted = self.failed = 0
        self.latencies: list[float] = []
        self.pass_walls: list[float] = []
        self.pass_counts: list[dict[str, float]] = []
        self.pass_cpu: list[float] = []
        self.n_ops = 0

    def setup(self, started: float) -> float:
        rounds, sessions, opens = [], [], []
        for r in range(SETUP_ROUNDS):
            if r:
                self.spark.stop()
                started = time.perf_counter()
            with self.tracer.span("session.get_spark"):
                from etl_airbnb_mex_spark.session import get_spark

                t0 = time.perf_counter()
                self.spark = get_spark(
                    app_name="perfbench",
                    extra_conf={
                        # Temp files inside the checkout, and the JVM's
                        # perf counters in memory rather than in a file
                        # under the system temp directory.
                        "spark.driver.extraJavaOptions":
                            f"-Djava.io.tmpdir={WORK / 'tmp'} "
                            "-XX:+PerfDisableSharedMem",
                        "spark.ui.showConsoleProgress": "false",
                    })
                sessions.append(time.perf_counter() - t0)
            with self.tracer.span("session.registry_import"):
                from etl_airbnb_mex_spark import queries

                t0 = time.perf_counter()
                queries._load()
                if not r:
                    self.layers["session.registry_import_s"] = (
                        time.perf_counter() - t0)
            with self.tracer.span("inputs.open"):
                t0 = time.perf_counter()
                self.w.open_inputs(self.spark)
                opens.append(time.perf_counter() - t0)
            rounds.append(time.perf_counter() - started)
        self.layers["session.get_spark_s"] = sessions[0]
        self.layers["inputs.first_open_s"] = opens[0]
        self.layers["inputs.cached_open_s"] = statistics.median(opens[1:])
        log(f"setup rounds {[round(x, 3) for x in rounds]}")
        return statistics.median(rounds)

    def op(self, name: str, check: bool, counts: dict | None):
        """One operation; returns its latency, or None when it failed."""
        sc = self.spark.sparkContext if counts is not None else None
        self.n_ops += 1
        build_group, collect_group = f"b{self.n_ops}", f"c{self.n_ops}"
        try:
            with self.tracer.span(f"op:{name}"):
                t0 = time.perf_counter()
                if counts is not None:
                    sc.setJobGroup(build_group, name)
                with self.tracer.span("ops.build"):
                    b0 = time.perf_counter()
                    df = self.w.build(self.spark, name)
                    b1 = time.perf_counter()
                if counts is not None:
                    sc.setJobGroup(collect_group, name)
                with self.tracer.span("ops.collect"):
                    result = self.w.collect(self.spark, name, df)
                elapsed = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 - a failure is a result
            log(f"{name}: raised {exc!r}"[:400])
            return None
        if counts is not None:
            counts["ops.build_s"].append(b1 - b0)
            counts["ops.collect_s"].append(elapsed - (b1 - b0))
            counts["ops.build_jobs"] += self._jobs(build_group)[0]
            jobs, stages, tasks = self._jobs(collect_group)
            counts["ops.jobs"] += jobs
            counts["ops.stages"] += stages
            counts["ops.tasks"] += tasks
            counts["ops.result_rows"] += self.w.result_rows(result)
            sc.setJobGroup("idle", "")
        if check:
            reason = self.w.verify(name, result)
            if reason is not None:
                log(f"{name}: wrong answer: {reason}"[:400])
                return None
        return elapsed

    def _jobs(self, group: str) -> tuple[int, int, int]:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                sinfo = st.getStageInfo(sid)
                if sinfo is not None:
                    stages += 1
                    tasks += sinfo.numTasks
        return len(jobs), stages, tasks

    def one_pass(self, pass_no: int, traced: bool) -> tuple[float, float,
                                                              bool]:
        """Run every operation once, or, when ``traced``, twice — traced
        and untraced, the order alternating from one operation to the
        next so that warm-up drift cancels. Returns the untraced and the
        traced operation time of the pass (answer checks excluded) and
        whether every operation succeeded."""
        counts = None
        if traced:
            counts = {"ops.build_s": [], "ops.collect_s": [],
                      "ops.build_jobs": 0, "ops.jobs": 0, "ops.stages": 0,
                      "ops.tasks": 0, "ops.result_rows": 0}
        ok = True
        walls = {False: 0.0, True: 0.0}
        cpu = 0.0
        for i, name in enumerate(self.w.order(pass_no)):
            modes = (False,)
            if traced:
                modes = (True, False) if (i + pass_no) % 2 else (False, True)
            for mode in modes:
                self.tracer.enabled = mode
                c0 = cpu_seconds()
                latency = self.op(name, check=True,
                                  counts=counts if mode else None)
                cpu += cpu_seconds() - c0
                self.attempted += 1
                if latency is None:
                    self.failed += 1
                    ok = False
                    continue
                walls[mode] += latency
                if not mode:
                    self.latencies.append(latency)
        self.tracer.enabled = traced
        if counts is not None:
            self.pass_counts.append(counts)
        self.pass_cpu.append(cpu)
        return walls[False], walls[True], ok

    def measure(self, traced: bool, deadline: float) -> list[float]:
        """Whole passes until ``seconds`` have gone by (at least one).
        Fills ``pass_walls``; returns the traced pass walls."""
        start = time.perf_counter()
        pass_no = 1
        traced_walls = []
        while True:
            with self.tracer.span("pass"):
                wall, traced_wall, ok = self.one_pass(pass_no, traced)
            if ok:
                self.pass_walls.append(wall)
                traced_walls.append(traced_wall)
            log(f"pass {pass_no}: {wall:.3f} s untraced"
                + (f", {traced_wall:.3f} s traced" if traced else "")
                + f", {self.pass_cpu[-1]:.3f} cpu-s")
            pass_no += 1
            now = time.perf_counter()
            # With one operation a pass, a traced run makes two passes so
            # that traced-first and untraced-first alternate.
            if traced and pass_no <= 2 and now < deadline \
                    and len(self.w.order(pass_no)) == 1:
                continue
            if now - start >= self.seconds or now >= deadline:
                return traced_walls


def main(argv=None) -> int:
    started = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "etl_airbnb_mex_spark" / "session.py").is_file():
        log(f"no program under {ROOT}: run from the root of a checkout")
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    for sub in ("tmp", "local", "warehouse"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_LOCAL_DIRS": str(WORK / "local"),
        "SPARK_GRAFT_WAREHOUSE": str(WORK / "warehouse"),
        "TMPDIR": str(WORK / "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "")
                           .split(os.pathsep) if p]),
    })

    from spans import Tracer

    tracer = Tracer(enabled=bool(args.trace))
    workload = WORKLOADS[args.workload](args.seed)
    deadline = started + HARD_STOP_S
    # Inputs are ready; set-up starts now.
    run = Run(workload, args.seconds, tracer)
    started = time.perf_counter()
    try:
        round_s = run.setup(started)
        workload.prepare_checks()
        t0 = time.perf_counter()
        with tracer.span("session.warm_pass"):
            for _ in range(workload.warm_passes):
                for name in workload.order(0):
                    run.op(name, check=False, counts=None)
        warm_s = time.perf_counter() - t0
        run.layers["session.warm_pass_s"] = warm_s
        # The median set-up round, plus the warm passes (too long to
        # repeat in every round).
        setup_s = round_s + warm_s
        if args.trace:
            result = traced_metrics(run, workload, deadline)
        else:
            run.measure(traced=False, deadline=deadline)
            result = {
                "setup_s": setup_s,
                "pass_cpu_s": statistics.median(run.pass_cpu),
            }
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
    stamp = {"workload": args.workload, "seed": args.seed, "nproc": CPUS,
             "pyspark": _version("pyspark"), "duckdb": _version("duckdb"),
             "commit": _commit(), "passes": len(run.pass_walls),
             "samples": len(run.latencies)}
    print("# stamp " + json.dumps(stamp))
    print(json.dumps(result_line(
        run, result, PER_LAYER if args.trace else END_TO_END)))
    return 0


def result_line(run: "Run", values: dict, units: dict) -> dict:
    """The last stdout line: exactly the metrics of ``units``."""
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": values[name], "unit": unit}
                    for name, unit in units.items()},
    }


def traced_metrics(run: Run, workload, deadline: float) -> dict:
    """Per-layer figures from passes that run every operation traced and
    untraced, and the traced/untraced ratio of their operation time."""
    from spans import hook_pipeline

    unhook = hook_pipeline(run.tracer) if workload.name == "etl_load" \
        else None
    try:
        traced = run.measure(traced=True, deadline=deadline)
    finally:
        if unhook:
            unhook()
    untraced = run.pass_walls
    layers = {"ops.p50_s": quantile(run.latencies, 0.5),
              "ops.p90_s": quantile(run.latencies, 0.9),
              "ops.pass_wall_s": statistics.median(untraced)}
    layers.update(run.layers)
    counts = run.pass_counts
    for key in ("ops.build_s", "ops.collect_s"):
        layers[key] = statistics.median(x for c in counts for x in c[key])
    if workload.name == "etl_load":
        layers.update(pipeline_build_collect(run.tracer.spans))
    for key in ("ops.build_jobs", "ops.jobs", "ops.stages", "ops.tasks",
                "ops.result_rows"):
        layers[key] = statistics.median(c[key] for c in counts)
    layers["session.jvm_hwm_mb"] = jvm_hwm_mb()
    layers["process.peak_rss_mb"] = peak_rss_mb()
    duck = workload.duckdb_pass()
    layers["oracle.duckdb_s"] = duck
    layers["oracle.spark_over_duckdb"] = statistics.median(untraced) / duck
    layers["trace.overhead_ratio"] = (statistics.median(traced)
                                      / statistics.median(untraced))
    extra = layer_breakdown(run, workload)
    print("# layers " + json.dumps(extra))
    path = WORK / f"spans-{workload.name}-{workload.seed}.jsonl"
    run.tracer.dump(str(path))
    log(f"spans written to {path}")
    return layers


#: Pipeline stages that only build plans (no Spark job).
BUILD_STAGES = ("sources.readers.read", "plans.transforms.build",
                "sources.writers.normalize")


def measured(spans) -> list:
    """The spans inside measured passes (not set-up, not the warm pass)."""
    by_id = {s.id: s for s in spans}
    inside: dict[int, bool] = {}

    def under_pass(s) -> bool:
        if s.id not in inside:
            parent = by_id.get(s.parent)
            inside[s.id] = parent is not None and (
                parent.name == "pass" or under_pass(parent))
        return inside[s.id]

    return [s for s in spans if under_pass(s)]


def pipeline_build_collect(spans) -> dict:
    """Per pipeline run: time in the plan-building stages, and the rest."""
    spans = measured(spans)
    by_id = {s.id: s for s in spans}

    def op_of(s):
        while s.parent in by_id:
            s = by_id[s.parent]
            if s.name.startswith("op:"):
                return s.id
        return None

    ops = {s.id: 0.0 for s in spans if s.name.startswith("op:")}
    for s in spans:
        if s.name in BUILD_STAGES:
            op = op_of(s)
            if op is not None:
                ops[op] += s.duration
    return {
        "ops.build_s": statistics.median(ops.values()),
        "ops.collect_s": statistics.median(
            by_id[i].duration - b for i, b in ops.items()),
    }


def layer_breakdown(run: Run, workload) -> dict:
    """Workload-specific layer figures, per traced pass: time by the
    code a query spends it in (notebook), or by pipeline stage (etl)."""
    from spans import self_times

    n_passes = max(1, sum(1 for s in run.tracer.spans if s.name == "pass"))
    spans = measured(run.tracer.spans)
    out: dict[str, float] = {}
    if workload.name == "notebook_explore":
        for s in spans:
            if s.name.startswith("op:"):
                key = NOTEBOOK[s.name[3:]] + "_s"
                out[key] = out.get(key, 0.0) + s.duration / n_passes
        return out
    st = self_times(run.tracer.spans)
    for s in spans:
        if s.name.startswith(("sources.", "plans.")):
            key = s.name + "_s"
            out[key] = out.get(key, 0.0) + st[s.id] / n_passes
    out.update(etl_noop_and_bytes(run, workload))
    return out


def etl_noop_and_bytes(run: Run, workload) -> dict:
    """The transform into a ``noop`` sink (no encoding, no write), and
    what one pipeline run writes."""
    import datagen
    from etl_airbnb_mex_spark.plans.transforms import TRANSFORMS
    from etl_airbnb_mex_spark.sources.readers import read_table_set
    from etl_airbnb_mex_spark.sources.writers import (
        drop_id_columns, normalize_for_sink)

    tables = read_table_set(run.spark, workload.paths)
    t0 = time.perf_counter()
    for name in workload.paths:
        df = normalize_for_sink(drop_id_columns(TRANSFORMS[name](
            tables[name])))
        df.write.format("noop").mode("overwrite").save()
    noop = time.perf_counter() - t0
    files, size = datagen.tree_bytes(workload.last_out)
    return {"plans.transforms.noop_s": noop,
            "sources.writers.files_out": files,
            "sources.writers.bytes_out": size,
            "out_bytes_per_in_byte": size / workload.in_bytes}


def _version(module: str) -> str:
    try:
        return __import__(module).__version__
    except Exception:  # noqa: BLE001
        return "unknown"


def _commit() -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
            capture_output=True, text=True, timeout=10).stdout.strip() \
            or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


if __name__ == "__main__":
    sys.exit(main())
