"""Pure arithmetic of the benchmark: percentiles, success fractions,
span self time, Spark metric strings and the per-pass aggregation of
status-store stages and SQL metrics.

Nothing here touches Spark, so ``test_stats.py`` checks it on small
recorded inputs.
"""

from __future__ import annotations

import math
import re
import statistics
from collections import defaultdict

MB = 1024 * 1024


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolation percentile (the ``inclusive`` method of
    ``statistics.quantiles``): the value at rank ``q * (n - 1)``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above rank ``q * (n - 1)``, i.e.
    strictly above the ``q`` percentile when the samples are distinct."""
    return n - 1 - math.floor(q * (n - 1))


def ok_frac(attempted: int, failed: int) -> float:
    """Share of attempts that ran and returned the right result. An
    attempt is one execution of one query (cold and warm) or one oracle
    verification; each exception or wrong result fails exactly one."""
    if attempted < 1:
        raise ValueError("no attempts")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..{attempted}")
    return (attempted - failed) / attempted


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: a span's duration minus the
    durations of its direct children (spans whose ``parent`` is its
    ``id``)."""
    child_total: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.get("parent") is not None:
            child_total[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"]] += (s["end"] - s["start"]) - child_total.get(s["id"], 0.0)
    return dict(out)


_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": MB, "GiB": 1024 * MB, "TiB": 1024 * 1024 * MB,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric, in seconds, bytes or a plain
    count. Spark renders one task as ``"1.6 s"`` and several as
    ``"total (min, med, max (stageId: taskId))\\n3.2 s (1.0 s, ...)"``;
    the total is the first value of the last line."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparseable SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return value
    if unit not in _UNITS:
        raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")
    return value * _UNITS[unit]


# SQL metric name on a Python-boundary node -> per-layer metric and scale.
PYTHON_METRICS = {
    "time to run Python workers": ("python.run_s", 1.0),
    "time to start Python workers": ("python.start_s", 1.0),
    "time to initialize Python workers": ("python.start_s", 1.0),
    "data sent to Python workers": ("python.sent_mb", 1 / MB),
    "data returned from Python workers": ("python.returned_mb", 1 / MB),
    "number of output rows": ("python.rows_returned", 1.0),
}

STAGE_FIELDS = (
    "tasks", "run_ms", "cpu_ns", "gc_ms", "input_b", "output_b",
    "shuffle_read_b", "shuffle_write_b", "spill_b",
)


def group_jobs(jobs: list[dict]) -> dict[str, list[dict]]:
    """Jobs keyed by job group; jobs without a group are dropped."""
    out: dict[str, list[dict]] = defaultdict(list)
    for j in jobs:
        if j.get("group"):
            out[j["group"]].append(j)
    return dict(out)


def exec_totals(jobs: list[dict], stages: dict[int, dict]) -> dict[str, float]:
    """Sum the status-store data of one query execution. ``jobs`` are
    the jobs of its job group, ``stages`` maps stage id to the stage's
    last attempt. Only stages that ran count (skipped stages reuse an
    earlier shuffle), and a stage shared by two jobs counts once.
    ``skew`` is the heaviest stage's max/median task run time."""
    t = dict.fromkeys(STAGE_FIELDS, 0.0)
    t["jobs"] = float(len(jobs))
    t["stages"] = 0.0
    seen: set[int] = set()
    heaviest = None
    for j in jobs:
        for sid in j["stage_ids"]:
            st = stages.get(sid)
            if sid in seen or st is None or st["status"] != "COMPLETE":
                continue
            seen.add(sid)
            t["stages"] += 1
            for f in STAGE_FIELDS:
                t[f] += st[f]
            if heaviest is None or st["run_ms"] > heaviest["run_ms"]:
                heaviest = st
    t["skew"] = 1.0
    if heaviest and heaviest.get("task_p50_ms"):
        t["skew"] = heaviest["task_max_ms"] / heaviest["task_p50_ms"]
    return t


def python_totals(executions: list[dict], job_ids: set[int]) -> dict[str, float]:
    """Sum the Python-boundary SQL metrics of the SQL executions whose
    jobs belong to ``job_ids``. Each execution is
    ``{"jobs": [...], "metrics": [(metric name, formatted value), ...]}``
    holding the metrics of its Python nodes only."""
    out = {name: 0.0 for name, _ in PYTHON_METRICS.values()}
    for e in executions:
        if not job_ids.intersection(e["jobs"]):
            continue
        for name, text in e["metrics"]:
            if name in PYTHON_METRICS:
                key, scale = PYTHON_METRICS[name]
                out[key] += parse_sql_metric(text) * scale
    return out


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
