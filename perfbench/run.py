#!/usr/bin/env python3
"""Closed-loop benchmark of the query registry.

    python3 perfbench/run.py --workload olap_sf0.1 --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. One process is one run:

1. read the repository's read-only fixture tables at the workload's
   scale (``sf<scale>`` next to ``catalog.DEFAULT_SF_DIR``); every write
   goes to a private run directory under ``.perfbench/runs/``, which
   holds the run's TMPDIR, warehouse, shuffle and JVM temp dirs;
2. launch the JVM with a first session, then time fresh session set-ups
   on it (``setup_s``);
3. cold pass: every query once, built by ``fn(spark, sf_dir)`` and
   collected, then checked against its DuckDB oracle outside the timed
   region (``cold_pass_s``);
4. warm passes: every query once per pass, in an order permuted by
   ``--seed``, forced with the ``noop`` sink and row-counted through
   ``DataFrame.observe``; passes are measured until ``--seconds`` have
   passed and at least 40 samples are in. A run that reaches its deadline
   short of that exits with code 3 and prints no result;
5. print a host/diagnostics line and then one JSON result line: the
   end-to-end metrics with ``--trace 0``, the per-layer metrics with
   ``--trace 1``.

Times are wall-clock seconds with the CPU time the hypervisor stole from
this VM during the measured interval taken out (``steal_share``); on a
host without steal they are plain wall time.

With ``--trace 1`` the cold pass and every even warm pass are traced:
spans around each call into a layer, one Spark job group per query
phase, and the status stores read once at the end. The odd passes run
untraced; all but the first give the tracing overhead. Spans are written to
``.perfbench/traces/``. See ``perfbench/README.md`` for the metrics.
"""

from __future__ import annotations

import argparse
import gc
import importlib
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager, nullcontext
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark"
sys.path.insert(0, HERE)

import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

P75 = 0.75
MIN_SAMPLES = 40  # stats.samples_beyond(40, P75) >= 10: ten samples lie above query_p75_s
SETUPS = 5  # timed session set-ups per run; setup_s is their median
RUN_DEADLINE_S = 140.0  # no new warm pass starts after this much wall time; a run cut short is invalid
END_TO_END = {
    "setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "query_p50_s": "s",
    "query_p75_s": "s", "ok_frac": "ratio", "jvm_live_mb": "MB",
}


def now() -> float:
    return time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# ---------------------------------------------------------------- host


def host_fit() -> tuple[int, float, str]:
    """Cores this process may use, RAM in GiB, and a driver heap that
    leaves most of the RAM to the Python workers and the OS."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    ram_gb = kb / 1024**2
    heap_gb = max(1, min(4, int(ram_gb * 0.25)))
    return cores, ram_gb, f"{heap_gb}g"


def cpu_ticks() -> tuple[int, int]:
    """(steal, busy + steal) jiffies over all CPUs, from /proc/stat.
    Steal is time the hypervisor gave this VM's runnable CPUs to someone
    else, so steal / (busy + steal) is the share of wanted CPU time lost."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    return steal, user + nice + system + irq + softirq + steal


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    return (t1[0] - t0[0]) / max(1, t1[1] - t0[1])


def fixture_dir(sf: float) -> str:
    """The read-only fixtures at scale ``sf``: ``sf<sf>`` beside the
    package's default fixture directory."""
    catalog = importlib.import_module(f"{PKG}.catalog")
    return os.path.join(os.path.dirname(catalog.DEFAULT_SF_DIR), f"sf{sf:g}")


def git_rev() -> str:
    """The checkout's commit if it is a git work tree, else ``unknown``."""
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


# ------------------------------------------------------------- tracing


class Tracer:
    """In-memory spans: id, name, start, end, parent id, and the query,
    pass or set-up they belong to."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, query: str | None = None, pass_idx: int | None = None,
             setup: int | None = None):
        rec = {"id": len(self.spans), "name": name, "start": now(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "query": query, "pass": pass_idx, "setup": setup}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = now()
            self._stack.pop()

    def total(self, name: str, pass_idx: int | None = None, setup: int | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["pass"] == pass_idx and s["setup"] == setup)


# ------------------------------------------------------------- session


def import_package() -> SimpleNamespace:
    """(Re-)import the package from scratch, so module-level work runs
    again on every set-up."""
    for m in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[m]
    mods = {m: importlib.import_module(f"{PKG}.{m}")
            for m in ("registry", "session", "shipping", "catalog")}
    return SimpleNamespace(**mods)


def setup(run_dir: str, idx: int, conf: dict[str, str], tracer: Tracer) -> tuple:
    """One session set-up in a fresh temp dir: package import,
    ``session.get_spark`` and the first ``ensure_package_on_workers``.
    Returns the package, the session and the steal-corrected seconds."""
    tmp = os.path.join(run_dir, f"tmp{idx}")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    ticks = cpu_ticks()
    with tracer.span("setup", setup=idx) as sp:
        with tracer.span("session.import", setup=idx):
            pkg = import_package()
        with tracer.span("session.start", setup=idx):
            spark = pkg.session.get_spark(extra_conf=conf)
        with tracer.span("shipping.ship", setup=idx):
            pkg.shipping.ensure_package_on_workers(spark)
    return pkg, spark, (sp["end"] - sp["start"]) * (1 - steal_share(ticks, cpu_ticks()))


def stop_jvm(spark) -> None:
    """Stop the session, the py4j gateway and the JVM, then wait for the
    JVM and every process it started (the Python worker daemon)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = _descendants(proc.pid) if proc else set()
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        _reap(children)


def _descendants(pid: int) -> set[int]:
    parents: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parents[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = set(), {pid}
    while frontier:
        frontier = {c for c, p in parents.items() if p in frontier} - out
        out |= frontier
    return out


def _running(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _reap(pids: set[int], timeout: float = 15.0) -> None:
    """Wait for ``pids`` to exit; SIGKILL whatever outlives ``timeout``."""
    deadline = now() + timeout
    alive = set(pids)
    while alive:
        alive = {p for p in alive if _running(p)}
        if alive and now() > deadline:
            for p in alive:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            deadline = now() + timeout
        time.sleep(0.05)


def jvm_live_mb(spark, tries: int = 8) -> float:
    """Driver heap in use after full GCs: the live set. Objects die in
    stages (Python drops its py4j proxies, then a GC clears Spark's weak
    references, then the ContextCleaner thread drops what they guarded),
    so the reading repeats until three in a row agree within 1%; the
    least reading is the result."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    readings: list[float] = []
    for _ in range(tries):
        gc.collect()
        jvm.java.lang.System.gc()
        readings.append((rt.totalMemory() - rt.freeMemory()) / stats.MB)
        last = readings[-3:]
        if len(last) == 3 and max(last) - min(last) < 0.01 * min(last):
            break
        time.sleep(0.5)
    log(f"live heap readings {[round(r, 1) for r in readings]} MB")
    return min(readings)


# -------------------------------------------------------------- passes


class Runner:
    def __init__(self, workload: str, pkg, spark, sf_dir: str, tracer: Tracer):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        self.pkg = pkg
        self.spark = spark
        self.sc = spark.sparkContext
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.names = list(WORKLOADS[workload][1])
        self.fns = pkg.registry.queries()
        self.oracles = pkg.registry.oracle_sql()
        self._Observation = Observation
        self._count = F.count(F.lit(1)).alias("rows")
        self._obs_seq = 0
        self.expected: dict[str, int] = {}
        self.samples: list[dict] = []
        self.passes: list[dict] = []
        self.failures: list[str] = []
        self.verifications = 0
        self.py4j = None  # probe.Py4jCounter when traced
        self.plan_counts: dict[tuple[int, str], dict[str, int]] = {}
        self.fixture_tables: set[str] = set()

    def _timed(self, traced: bool, span: str, query: str, pass_idx: int, fn):
        if traced:
            with self.tracer.span(span, query, pass_idx) as s:
                out = fn()
            return out, s["end"] - s["start"]
        t = now()
        out = fn()
        return out, now() - t

    # one query ------------------------------------------------------
    def sample(self, name: str, pass_idx: int, traced: bool, collect: bool):
        """Build and force one query. ``collect`` forces by collecting to
        pandas (the cold pass, whose result is verified); otherwise the
        ``noop`` sink forces it and an observed count gives the rows.
        Returns the sample record and the collected frame (or None)."""
        rec = {"query": name, "pass": pass_idx, "build": 0.0, "plan": 0.0, "force": 0.0,
               "steal": 0.0, "latency": 0.0, "py4j": 0, "rows": None, "error": None}
        frame = None
        ticks = cpu_ticks()
        try:
            with self.tracer.span("query", name, pass_idx) if traced else nullcontext():
                if traced:
                    self.sc.setJobGroup(f"b|{pass_idx}|{name}", name)
                    c0 = self.py4j.calls
                df, rec["build"] = self._timed(
                    traced, "registry.build", name, pass_idx, lambda: self.fns[name](self.spark, self.sf_dir))
                if traced:
                    from probe import plan_node_counts

                    rec["py4j"] = self.py4j.calls - c0
                    tree, rec["plan"] = self._timed(
                        traced, "catalyst.plan", name, pass_idx,
                        lambda: df._jdf.queryExecution().executedPlan().treeString())
                    self.plan_counts[(pass_idx, name)] = plan_node_counts(tree)
                    self.sc.setJobGroup(f"f|{pass_idx}|{name}", name)
                if collect:
                    frame, rec["force"] = self._timed(traced, "exec.force", name, pass_idx, df.toPandas)
                    rec["rows"] = len(frame)
                else:
                    obs, observed = self._observed(df)
                    _, rec["force"] = self._timed(
                        traced, "exec.force", name, pass_idx,
                        lambda: observed.write.format("noop").mode("overwrite").save())
                    rec["rows"] = obs.get["rows"]
        except Exception as e:  # noqa: BLE001 - one failed sample never ends the run
            rec["error"] = f"{type(e).__name__}: {e}".splitlines()[0][:300]
            log(f"{name} (pass {pass_idx}) raised:\n{traceback.format_exc()}")
        finally:
            if traced:
                self.sc.setJobGroup("", "")
        rec["steal"] = steal_share(ticks, cpu_ticks())
        rec["latency"] = (rec["build"] + rec["force"]) * (1 - rec["steal"])
        return rec, frame

    def _observed(self, df):
        self._obs_seq += 1
        obs = self._Observation(f"perfbench_rows_{self._obs_seq}")
        return obs, df.observe(obs, self._count)

    # one pass -------------------------------------------------------
    def run_pass(self, pass_idx: int, order: list[str], traced: bool) -> dict:
        """One pass over ``order``. Pass 0 is the cold pass: it collects
        every result and verifies it once the pass is over."""
        cold = pass_idx == 0
        ticks = cpu_ticks()
        t0 = now()
        with self.tracer.span("pass", pass_idx=pass_idx) if traced else nullcontext():
            out = [self.sample(n, pass_idx, traced, collect=cold) for n in order]
        wall = now() - t0
        steal = steal_share(ticks, cpu_ticks())
        recs = [r for r, _ in out]
        self.samples.extend(recs)
        if cold:
            self.verify({r["query"]: f for r, f in out if f is not None})
        for r in recs:
            self.check(r)
        p = {"pass": pass_idx, "traced": traced, "wall": wall, "steal": steal,
             "time": sum(r["latency"] for r in recs)}
        self.passes.append(p)
        return p

    def check(self, rec: dict) -> None:
        """Record a sample's exception, or a warm sample's wrong row count
        (the cold pass's results were verified whole)."""
        name = rec["query"]
        if rec["error"] is None and rec["pass"] > 0 and name in self.expected \
                and rec["rows"] != self.expected[name]:
            rec["error"] = f"row count {rec['rows']} != expected {self.expected[name]}"
        if rec["error"] is not None:
            self.failures.append(f"{name} (pass {rec['pass']}): {rec['error']}")

    # correctness ----------------------------------------------------
    def verify(self, frames: dict) -> None:
        """Compare each cold-pass result with its DuckDB oracle at the
        run's scale, outside any timed region. A query with no oracle must
        be non-empty. The row counts found here are what every warm
        sample must return."""
        from tests.helpers import compare_frames, driver_sortability_problems, duckdb_connection

        con = duckdb_connection(self.sf_dir)
        try:
            for name, got in frames.items():
                self.verifications += 1
                try:
                    problems = driver_sortability_problems(got)
                    if name in self.oracles:
                        want = con.execute(self.oracles[name]).fetchdf()
                        problems += compare_frames(got, want)
                        self.expected[name] = len(want)
                    else:
                        self.expected[name] = len(got)
                        if got.empty:
                            problems.append("empty result")
                except Exception as e:  # noqa: BLE001 - a failed check never ends the run
                    problems = [f"{type(e).__name__}: {e}".splitlines()[0][:300]]
                    log(f"{name} (oracle) raised:\n{traceback.format_exc()}")
                if problems:
                    self.failures.append(f"{name} (oracle): {'; '.join(problems)[:500]}")
        finally:
            con.close()

    # catalog ----------------------------------------------------------
    def load_fixtures(self, pass_idx: int) -> None:
        for t in sorted(self.fixture_tables):
            self.sc.setJobGroup(f"c|{pass_idx}|{t}", t)
            with self.tracer.span("catalog.load", t, pass_idx):
                self.pkg.catalog.load_table(self.spark, self.sf_dir, t)
        self.sc.setJobGroup("", "")


def record_fixture_reads(runner: Runner):
    """Wrap the parquet reader for the duration of the traced cold pass to
    learn which fixture tables the workload reads. Returns the undo."""
    from pyspark.sql.readwriter import DataFrameReader

    original = DataFrameReader.parquet
    fixture_dir = os.path.abspath(runner.sf_dir)

    def parquet(self, *paths, **options):
        for p in map(os.path.abspath, map(str, paths)):
            if os.path.dirname(p) == fixture_dir and p.endswith(".parquet"):
                runner.fixture_tables.add(os.path.basename(p)[: -len(".parquet")])
        return original(self, *paths, **options)

    DataFrameReader.parquet = parquet

    def restore():
        DataFrameReader.parquet = original

    return restore


# ------------------------------------------------------------- metrics


def end_to_end(runner: Runner, setup_times: list[float], live_mb: float) -> dict:
    cold = runner.passes[0]
    warm = [p for p in runner.passes if p["pass"] > 0]
    lat = [s["latency"] for s in runner.samples if s["pass"] > 0 and s["error"] is None]
    attempted = len(runner.samples) + runner.verifications
    values = {
        "setup_s": statistics.median(setup_times),
        "cold_pass_s": cold["time"],
        "pass_s": statistics.median(p["time"] for p in warm),
        "query_p50_s": stats.percentile(lat, 0.5),
        "query_p75_s": stats.percentile(lat, P75),
        "ok_frac": stats.ok_frac(attempted, len(runner.failures)),
        "jvm_live_mb": live_mb,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def per_layer(runner: Runner, tracer: Tracer, layers: dict, cores: int) -> dict:
    """Per-pass totals over the traced warm passes (median over passes),
    plus the one-off set-up, cold-pass and end-of-run readings. Layer
    times are raw span durations."""
    from stats import MB, exec_totals, group_jobs, median_or_zero, python_totals

    traced = [p for p in runner.passes if p["traced"] and p["pass"] > 0]
    untraced = [p for p in runner.passes if not p["traced"] and p["pass"] > 1]
    groups = group_jobs(layers["jobs"])
    stages = layers["stages"]

    def jobs_of(prefix: str, pass_idx: int, name: str) -> list[dict]:
        return groups.get(f"{prefix}|{pass_idx}|{name}", [])

    per_pass: dict[str, list[float]] = {}

    def add(key: str, value: float) -> None:
        per_pass.setdefault(key, []).append(value)

    skews = []
    for p in traced:
        pi = p["pass"]
        recs = [s for s in runner.samples if s["pass"] == pi]
        force_s = sum(s["force"] for s in recs)
        add("registry.build_s", sum(s["build"] for s in recs))
        add("registry.build_jobs", sum(len(jobs_of("b", pi, s["query"])) for s in recs))
        add("registry.py4j_calls", sum(s["py4j"] for s in recs))
        add("catalyst.plan_s", sum(s["plan"] for s in recs))
        for key in ("exchanges", "broadcasts", "python_nodes", "cache_scans"):
            add(f"catalyst.{key}", sum(runner.plan_counts.get((pi, s["query"]), {}).get(key, 0) for s in recs))
        add("catalog.load_s", tracer.total("catalog.load", pi))
        add("catalog.load_jobs", sum(len(jobs_of("c", pi, t)) for t in runner.fixture_tables))
        tot = dict.fromkeys(stats.STAGE_FIELDS + ("jobs", "stages"), 0.0)
        force_jobs: set[int] = set()
        for s in recs:
            jobs = jobs_of("f", pi, s["query"])
            force_jobs.update(j["job_id"] for j in jobs)
            t = exec_totals(jobs, stages)
            if t["stages"]:
                skews.append(t["skew"])
            for k in tot:
                tot[k] += t[k]
        add("exec.force_s", force_s)
        add("exec.jobs", tot["jobs"])
        add("exec.stages", tot["stages"])
        add("exec.tasks", tot["tasks"])
        add("exec.task_run_s", tot["run_ms"] / 1e3)
        add("exec.task_cpu_s", tot["cpu_ns"] / 1e9)
        add("exec.gc_s", tot["gc_ms"] / 1e3)
        add("exec.idle_slot_s", cores * force_s - tot["run_ms"] / 1e3)
        add("exec.shuffle_write_mb", tot["shuffle_write_b"] / MB)
        add("exec.shuffle_read_mb", tot["shuffle_read_b"] / MB)
        add("exec.spill_mb", tot["spill_b"] / MB)
        add("exec.input_mb", tot["input_b"] / MB)
        add("exec.output_mb", tot["output_b"] / MB)
        for k, v in python_totals(layers["python"], force_jobs).items():
            add(k, v)
        batches, trigger_ms, add_batch_ms, planning_ms = layers["streams"][pi]
        add("streaming.batches", batches)
        add("streaming.trigger_s", trigger_ms / 1e3)
        add("streaming.add_batch_s", add_batch_ms / 1e3)
        add("streaming.planning_s", planning_ms / 1e3)
        add("trace.coverage", sum(s["build"] + s["plan"] + s["force"] for s in recs) / p["wall"])
        own = stats.self_times([sp for sp in tracer.spans if sp["pass"] == pi])
        add("trace.pass_self_s", own.get("pass", 0.0))
        add("trace.query_self_s", own.get("query", 0.0))
        add("host.steal_share", p["steal"])

    values = {k: median_or_zero(v) for k, v in per_pass.items()}
    cold_out = sum(exec_totals(groups.get(f"{kind}|0|{name}", []), stages)["output_b"]
                   for kind in "bf" for name in runner.names)
    restarts = range(1, SETUPS + 1)

    def corrected_wall(ps: list[dict]) -> float:
        return median_or_zero([p["wall"] * (1 - p["steal"]) for p in ps])

    values.update({
        "session.jvm_start_s": tracer.total("session.start", setup=0),
        "session.import_s": statistics.median(tracer.total("session.import", setup=i) for i in restarts),
        "session.start_s": statistics.median(tracer.total("session.start", setup=i) for i in restarts),
        "shipping.ship_s": statistics.median(tracer.total("shipping.ship", setup=i) for i in restarts),
        "exec.task_skew": median_or_zero(skews),
        "exec.cold_output_mb": cold_out / MB,
        "cache.stored_mb": layers["stored_mb"],
        "trace.overhead_s": corrected_wall(traced) - corrected_wall(untraced),
        "run.samples": float(sum(1 for s in runner.samples if s["pass"] in {p["pass"] for p in traced})),
    })
    return values


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name in ("exec.task_skew", "trace.coverage", "host.steal_share"):
        return "ratio"
    return "count"


# ---------------------------------------------------------------- main


def main(argv: list[str]) -> int:
    t_start = now()
    args = parse_args(argv)
    if args.seconds <= 0:
        log("--seconds must be positive")
        return 2
    for need in (os.path.join(ROOT, PKG, "registry.py"), os.path.join(ROOT, "tests", "helpers.py")):
        if not os.path.isfile(need):
            log(f"missing {os.path.relpath(need, ROOT)}: run from the root of a full checkout")
            return 2
    sys.path.insert(0, ROOT)
    real_stdout = os.dup(1)
    os.dup2(2, 1)  # library and JVM output go to stderr; stdout carries the result only

    sf = WORKLOADS[args.workload][0]
    traced = bool(args.trace)
    cores, ram_gb, heap = host_fit()
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = None
    try:
        local = os.path.join(run_dir, "local")
        jvm_tmp = os.path.join(run_dir, "jvm")
        os.makedirs(local)
        os.makedirs(jvm_tmp)
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": heap,
            "SPARK_GRAFT_LOCAL_DIR": local,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            # spark-submit's launcher JVM: keep its temp and perf-data files out of /tmp
            "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={jvm_tmp} -XX:-UsePerfData",
        })
        sf_dir = fixture_dir(sf)  # after the env update: the package reads SPARK_GRAFT_* on import
        if not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
            log(f"no fixtures at {sf_dir}")
            return 2
        conf = {
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jvm_tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if traced:  # the status stores must keep every job of the run
            conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000",
                         "spark.sql.ui.retainedExecutions": "100000"})
        import pyspark  # noqa: F401 - third-party import stays outside the set-up timings

        tracer = Tracer()
        pkg, spark, _ = setup(run_dir, 0, conf, tracer)
        setup_times = []
        for i in range(1, SETUPS + 1):
            spark.stop()
            pkg, spark, dt = setup(run_dir, i, conf, tracer)
            setup_times.append(dt)
        host = {
            "cores": cores, "ram_gb": round(ram_gb, 1), "driver_heap": heap,
            "spark": spark.version,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(), "git_rev": git_rev(),
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
        }
        log(f"host {json.dumps(host)}; setups {[round(x, 3) for x in setup_times]}")

        runner = Runner(args.workload, pkg, spark, sf_dir, tracer)
        streams = None
        stream_deltas: dict[int, tuple] = {}
        if traced:
            import probe

            runner.py4j = probe.Py4jCounter()
            runner.py4j.install()
            streams = probe.StreamProgress()
            spark.streams.addListener(streams)

        def traced_pass(pass_idx: int, order: list[str]) -> dict:
            probe.drain_listeners(spark)  # progress events of earlier passes land before the mark
            before = streams.snapshot()
            p = runner.run_pass(pass_idx, order, True)
            if pass_idx:
                runner.load_fixtures(pass_idx)
            probe.drain_listeners(spark)
            stream_deltas[pass_idx] = tuple(a - b for a, b in zip(streams.snapshot(), before))
            return p

        if traced:
            restore = record_fixture_reads(runner)
            cold = traced_pass(0, runner.names)
            restore()
        else:
            cold = runner.run_pass(0, runner.names, False)
        log(f"cold pass {cold['time']:.2f}s: " + ", ".join(
            f"{s['query']}={s['build']:.2f}+{s['force']:.2f}" for s in runner.samples))

        def sampled() -> bool:
            """Enough measured passes: 40 samples in an untraced run; two
            traced and two untraced passes after the first in a traced run."""
            if traced:
                kinds = [p["traced"] for p in runner.passes if p["pass"] > 1]
                return min(kinds.count(True), kinds.count(False)) >= 2
            return sum(1 for s in runner.samples if s["pass"] > 0) >= MIN_SAMPLES

        rng = random.Random(args.seed)
        t_warm = now()
        pass_idx = 0
        while not (sampled() and now() - t_warm >= args.seconds):
            if now() - t_start > RUN_DEADLINE_S:
                break
            pass_idx += 1
            order = rng.sample(runner.names, len(runner.names))
            # traced runs trace even passes; the first warm pass, slow while the
            # JIT settles, stays out of both sides of the overhead comparison
            if traced and pass_idx % 2 == 0:
                p = traced_pass(pass_idx, order)
            else:
                p = runner.run_pass(pass_idx, order, False)
            log(f"pass {pass_idx}{' traced' if p['traced'] else ''}: {p['time']:.2f}s, "
                f"{p['wall']:.2f}s wall, steal {p['steal']:.3f}; " + " ".join(
                    f"{s['query']}={s['latency']:.2f}" for s in runner.samples if s["pass"] == pass_idx))

        if not sampled():
            log(f"invalid run: {RUN_DEADLINE_S:g}s deadline reached after {pass_idx} warm passes, "
                "short of the sample floor")
            return 3

        if traced:
            runner.py4j.uninstall()
            probe.drain_listeners(spark)
            jobs = probe.read_jobs(spark)
            layers = {
                "jobs": jobs,
                "stages": probe.read_stages(spark, {sid for j in jobs if j["group"] for sid in j["stage_ids"]}),
                "python": probe.read_python_executions(spark),
                "stored_mb": probe.stored_mb(spark),
                "streams": stream_deltas,
            }
            metrics = {k: {"value": v, "unit": layer_unit(k)}
                       for k, v in per_layer(runner, tracer, layers, cores).items()}
            trace_dir = os.path.join(work, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump({"host": host, "spans": tracer.spans, "samples": runner.samples,
                           "passes": runner.passes, "metrics": metrics}, f)
        else:
            metrics = end_to_end(runner, setup_times, jvm_live_mb(spark))

        n_warm = sum(1 for s in runner.samples if s["pass"] > 0)
        for f in runner.failures:
            log(f"FAILED {f}")
        result = {
            "correct": not runner.failures,
            "attempted": len(runner.samples) + runner.verifications,
            "failed": len(runner.failures),
            "metrics": metrics,
        }
        info = {
            "host": host, "warm_samples": n_warm, "warm_passes": pass_idx,
            "p75_samples_beyond": stats.samples_beyond(n_warm, P75) if n_warm else 0,
            "passes": [{k: round(v, 4) if isinstance(v, float) else v for k, v in p.items()}
                       for p in runner.passes],
            "failures": runner.failures,
        }
        stop_jvm(spark)
        spark = None
        os.write(real_stdout, (json.dumps(info) + "\n" + json.dumps(result) + "\n").encode())
        return 0
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            try:
                stop_jvm(spark)
            except Exception:  # noqa: BLE001
                traceback.print_exc()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
