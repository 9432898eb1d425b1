"""fdf_spark benchmark: closed-loop passes over registry queries.

    python3 perfbench/run.py --workload llm_corpus --seed 7 --seconds 8 --trace 0

One driver process runs Spark on ``local[<cpus>]`` with one client: the
workload's queries (``workloads.py``) run one after another, each as
``Query.fn(spark, dir)`` (build) followed by a noop-sink save (execute).
The seed fixes the generated inputs (``fixtures.py``) and the query order
of every pass.  A run:

1. generates the inputs under ``.perfbench/inputs`` (reused per seed);
2. sets up the session, ``get_spark`` + ``load_all``, ``SETUP_SAMPLES``
   times, each with a new JVM and a fresh import of ``fdf_spark``, and
   keeps the last session (``setup_s`` is the median);
3. runs the cold pass, which also collects every result after its timed
   execution, one untimed warm-up pass, then timed passes until
   ``--seconds`` are measured, at least ``MIN_TIMED_PASSES``; every timed
   execution is the noop save;
4. reads the driver's peak memory, stops the session, and compares each
   collected result with its DuckDB oracle on the same inputs
   (``tests.oracle_utils``), so the oracle's memory never reaches the
   driver's high-water mark.

``spark.catalog.clearCache()`` runs after every query, outside timing, so
no query's persisted relation warms the next.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` turns the event log on and reports the
per-layer metrics.  Every execution that raises or fails its oracle counts
in ``failed``, and the run exits 1.  The last line of stdout is one JSON
object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``; the two lines before it give each query's figures, and the
run's pass times, sample counts and every build and execute sample.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import Counter
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"

import eventlog  # noqa: E402
import fixtures  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# Only the median latency is reported: a run pools 15 to 24 query samples,
# and a higher percentile would have fewer than ten samples beyond it.  The
# cold pass and the peak memory are reported in the run's detail line only:
# from run to run they spread by more than a tenth.
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
}

#: counters read from the event log, summed over every job of a query
TASK_COUNTERS = {
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.failed_tasks": "count",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s",
    "shuffle.spill_bytes": "bytes",
    "kernel.py_run_s": "s",
    "kernel.py_start_s": "s",
    "kernel.bytes_to_py": "bytes",
    "kernel.bytes_from_py": "bytes",
    "sources.scan_bytes": "bytes",
    "sources.scan_rows": "count",
    "sources.write_bytes": "bytes",
    "sources.write_rows": "count",
    "driver.result_bytes": "bytes",
}
PER_LAYER = {
    "session.start_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    **TASK_COUNTERS,
    "driver.peak_rss_mb": "MB",
    "cache.leaked_rdds": "count",
    "trace.pass_s": "s",
}

#: per-layer figures taken once per run rather than per query
RUN_LEVEL = ("session.start_s", "driver.peak_rss_mb", "cache.leaked_rdds")
#: layer times that read exactly 0 on a whole run of some workload (no Python
#: kernel, shuffle blocks that are all local, no garbage collection); they appear in
#: the per-query and per-run detail lines, not among the run's metrics
DETAIL_ONLY = ("executor.gc_s", "shuffle.fetch_wait_s", "kernel.py_run_s", "kernel.py_start_s")
TRACE_METRICS = {k: u for k, u in PER_LAYER.items() if k not in DETAIL_ONLY}
MIN_TIMED_PASSES = 3
SETUP_SAMPLES = 2


def spark_conf(work: Path) -> dict[str, str]:
    """Point every path the run writes inside ``work``; return extra confs.

    The repo root goes on PYTHONPATH so the Python workers the JVM forks
    can import ``fdf_spark`` whatever the working directory is.
    """
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    # no hsperfdata files in the system temp dir, from the launcher or the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def trace_conf(log_dir: Path) -> dict[str, str]:
    """Event log on, uncompressed and in one file (4.1 defaults to rolling zstd)."""
    log_dir.mkdir(parents=True, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def set_up(conf: dict[str, str]):
    """The measured set-up: ``get_spark`` + ``load_all``, with ``fdf_spark``
    imported afresh (third-party modules stay imported).

    Returns (spark, registry, get_spark seconds, set-up seconds).
    """
    import pyspark.sql  # noqa: F401  third-party: imported once, outside every sample

    for name in [m for m in sys.modules if m.split(".")[0] == "fdf_spark"]:
        del sys.modules[name]
    t0 = time.perf_counter()
    from fdf_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    from fdf_spark.queries import load_all

    registry = load_all()
    return spark, registry, t1 - t0, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb() -> float:
    """Driver peak resident memory: gateway JVM VmHWM + this interpreter's maxrss."""
    from pyspark import SparkContext

    jvm_kb = 0
    with open(f"/proc/{SparkContext._gateway.proc.pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


class Bench:
    """Runs one workload's passes on one session and keeps every timing."""

    def __init__(self, spark, registry, workload: str, data: Path, traced: bool):
        by_prefix = {full.split("_", 1)[0]: q for full, q in registry.items()}
        self.queries = {name: by_prefix[name] for name in WORKLOADS[workload]}
        self.spark, self.sc = spark, spark.sparkContext
        self.workload, self.data, self.traced = workload, str(data), traced
        self.windows: list[eventlog.Window] = []
        self.records: list[dict] = []
        self.timed: list[int] = []
        self.leaked: dict[int, int] = {}
        #: query -> (its cold-pass record, its collected rows)
        self.results: dict[str, tuple[dict, object]] = {}
        self.attempted = self.failed = 0

    def _persistent_rdds(self) -> int:
        return self.sc._jsc.sc().getPersistentRDDs().size()

    def run_pass(self, pass_no: int, order: list[str], collect: bool = False) -> None:
        """Run every query once; with ``collect``, also collect each result
        for the oracle, outside the timed region."""
        before = self._persistent_rdds()
        for name in order:
            self.run_query(pass_no, name, collect)
        self.leaked[pass_no] = self._persistent_rdds() - before

    def run_query(self, pass_no: int, name: str, collect: bool) -> None:
        q, group = self.queries[name], f"{self.workload}:{name}"
        rec = {"pass": pass_no, "query": name}
        self.attempted += 1
        try:
            self.sc.setJobGroup(f"{group}:build", f"{group}:build")
            w0, t0 = time.time(), time.perf_counter()
            try:
                df = q.fn(self.spark, self.data)
            finally:
                t1, w1 = time.perf_counter(), time.time()
                self.windows.append(eventlog.Window(pass_no, name, "build", w0 * 1e3, w1 * 1e3))
            self.sc.setJobGroup(f"{group}:exec", f"{group}:exec")
            w2, t2 = time.time(), time.perf_counter()
            try:
                if self.traced:
                    df._jdf.queryExecution().executedPlan()
                t3 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
            finally:
                t4, w4 = time.perf_counter(), time.time()
                self.windows.append(eventlog.Window(pass_no, name, "exec", w2 * 1e3, w4 * 1e3))
            rec.update(build_s=t1 - t0, plan_s=t3 - t2, exec_s=t4 - t3)
            if collect:  # untagged and outside every window: no traced figure counts it
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.results[name] = (rec, df.toPandas())
        except Exception:  # one failed execution must not end the run
            self._fail(rec, f"{group} pass {pass_no}")
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spark.catalog.clearCache()
        self.records.append(rec)

    def check_all(self) -> None:
        """Compare every collected result with its DuckDB oracle on the same
        inputs; a mismatch fails the execution that produced the rows."""
        import duckdb
        from tests.oracle_utils import compare_frames, register_duck_views

        with duckdb.connect() as duck:
            register_duck_views(duck, self.data)
            for name, (rec, rows) in self.results.items():
                try:
                    oracle = duck.execute(self.queries[name].sql).fetch_arrow_table().to_pandas()
                    compare_frames(rows, oracle, name)
                except Exception:  # a mismatch or an error: count it, check the rest
                    self._fail(rec, f"{self.workload}:{name} oracle check")
        self.results.clear()

    def _fail(self, rec: dict, label: str) -> None:
        self.failed += 1
        rec["failed"] = True
        print(f"[perfbench] {label} failed:", file=sys.stderr)
        traceback.print_exc()

    # -- figures ---------------------------------------------------------

    def ok(self, pass_no: int | None = None) -> list[dict]:
        passes = self.timed if pass_no is None else (pass_no,)
        return [r for r in self.records if not r.get("failed") and r["pass"] in passes]

    def pass_seconds(self, pass_no: int) -> float:
        return sum(r["build_s"] + r["plan_s"] + r["exec_s"] for r in self.ok(pass_no))

    def query_samples(self) -> int:
        return len(self.ok())

    def end_to_end(self, setup_s: float) -> dict[str, float]:
        """``pass_s`` is the median timed pass: passes of the same run differ
        by up to a fifth, so the fastest of them moves more from run to run."""
        return {
            "setup_s": setup_s,
            "pass_s": statistics.median(self.pass_seconds(p) for p in self.timed),
            "query_p50_s": statistics.median(r["build_s"] + r["exec_s"] for r in self.ok()),
        }

    def per_query(self) -> dict[str, dict[str, float]]:
        out = {}
        for name in self.queries:
            rs = [r for r in self.ok() if r["query"] == name]
            cold = [r["build_s"] + r["exec_s"] for r in self.ok(0) if r["query"] == name]
            if rs:
                out[name] = {k: statistics.median(r[k] for r in rs) for k in ("build_s", "exec_s")}
                out[name]["cold_s"] = cold[0] if cold else None
        return out

    def layers(self, counters: dict, run_level: dict[str, float]) -> tuple[dict, dict]:
        """Per-layer figures: per workload (sums over a pass, median over the
        timed passes) and per query (median over the timed passes).
        ``run_level`` holds the figures measured once per run."""

        def phase_sum(pass_no: int, names) -> Counter:
            c: Counter = Counter()
            for name in names:
                b = counters.get((pass_no, name, "build"), Counter())
                e = counters.get((pass_no, name, "exec"), Counter())
                c["queries.build_jobs"] += b["jobs"]
                c["exec.jobs"] += e["jobs"]
                c["exec.stages"] += e["stages"]
                c["exec.tasks"] += e["tasks"]
                for k in TASK_COUNTERS:
                    c[k] += b[k] + e[k]
            for r in self.ok(pass_no):
                if r["query"] in names:
                    c["queries.build_s"] += r["build_s"]
                    c["catalyst.plan_s"] += r["plan_s"]
                    c["exec.s"] += r["exec_s"]
                    c["trace.pass_s"] += r["build_s"] + r["plan_s"] + r["exec_s"]
            return c

        keys = [k for k in PER_LAYER if k not in RUN_LEVEL]
        sums = [phase_sum(p, self.queries) for p in self.timed]
        workload = {k: statistics.median(c[k] for c in sums) for k in keys}
        workload.update(run_level)
        workload["cache.leaked_rdds"] = statistics.median(self.leaked[p] for p in self.timed)
        per_query = {}
        for name in self.queries:
            qs = [phase_sum(p, (name,)) for p in self.timed]
            per_query[name] = {k: statistics.median(c[k] for c in qs) for k in keys}
        return workload, per_query


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--base", type=Path, default=fixtures.BASE_DIR,
                   help="base fixture the inputs are generated from")
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / "fdf_spark" / "__init__.py").is_file() or not (ROOT / "tests" / "oracle_utils.py").is_file():
        print(f"perfbench: no fdf_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    conf = spark_conf(WORK)
    workload = args.workload
    data = fixtures.prepare(WORK / "inputs" / args.base.resolve().name, args.seed, args.base)
    log_dir = WORK / "eventlog" / str(os.getpid())
    if args.trace:
        conf.update(trace_conf(log_dir))
    t_start, setups = time.perf_counter(), []
    # the traced run reports no setup_s, and one session keeps one event log
    for _ in range(1 if args.trace else SETUP_SAMPLES):
        if setups:
            stop_spark(spark)
        spark, registry, session_start_s, setup_s = set_up(conf)
        setups.append(setup_s)
    rng = random.Random(args.seed)

    def order() -> list[str]:
        names = list(WORKLOADS[workload])
        rng.shuffle(names)
        return names

    walls = {"setup": time.perf_counter() - t_start}
    try:
        bench = Bench(spark, registry, workload, data, traced=bool(args.trace))
        bench.run_pass(0, order(), collect=True)
        bench.run_pass(1, order())  # the JIT is still compiling through this pass
        t0 = time.perf_counter()
        walls["cold_and_warmup"] = t0 - t_start - walls["setup"]
        while len(bench.timed) < MIN_TIMED_PASSES or time.perf_counter() - t0 < args.seconds:
            bench.timed.append(2 + len(bench.timed))
            bench.run_pass(bench.timed[-1], order())
        walls["timed"] = time.perf_counter() - t0
        rss_mb = peak_rss_mb()
    finally:
        stop_spark(spark)
        shutil.rmtree(WORK / "tmp", ignore_errors=True)
    t0 = time.perf_counter()
    bench.check_all()
    walls["check"] = time.perf_counter() - t0

    summary: dict = {"workload": workload, "seed": args.seed,
               "cold_pass_s": bench.pass_seconds(0),
               "pass_s": [bench.pass_seconds(p) for p in bench.timed],
               "query_samples": bench.query_samples(), "setup_samples_s": setups,
               "driver_peak_rss_mb": rss_mb, "wall_s": walls,
               "samples": [[r["pass"], r["query"], r.get("build_s"), r.get("exec_s")] for r in bench.records],
               "attempted": bench.attempted, "failed": bench.failed}
    if args.trace:
        logs = [p for p in log_dir.iterdir() if not p.name.startswith(".")]
        counters = eventlog.read_event_log(logs[0], workload, bench.windows)
        shutil.rmtree(log_dir, ignore_errors=True)
        values, per_query = bench.layers(
            counters, {"session.start_s": session_start_s, "driver.peak_rss_mb": rss_mb})
        summary["layers"] = values
        units = TRACE_METRICS
    else:
        values, per_query = bench.end_to_end(statistics.median(setups)), bench.per_query()
        units = END_TO_END
    print(json.dumps({"per_query": per_query}))
    print(json.dumps(summary))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if bench.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
