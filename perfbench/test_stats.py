"""Checks of the benchmark's own arithmetic on small recorded inputs.

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import statistics

import pytest

import stats
from probe import plan_node_counts


def test_percentile_matches_inclusive_quantiles():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0, 7.0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    assert stats.percentile(xs, 0.25) == pytest.approx(q[0])
    assert stats.percentile(xs, 0.5) == pytest.approx(statistics.median(xs))
    assert stats.percentile(xs, 0.75) == pytest.approx(q[2])
    assert stats.percentile([3.0], 0.75) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


def test_p75_rule_leaves_ten_samples_beyond():
    # the run's floor of 40 samples leaves at least ten above query_p75_s
    assert stats.samples_beyond(40, 0.75) >= 10
    assert stats.samples_beyond(37, 0.75) < 10
    # and the samples counted as beyond really are above the percentile
    for n in (37, 40, 42, 49):
        xs = [float(i) for i in range(n)]
        p = stats.percentile(xs, 0.75)
        assert sum(x > p for x in xs) == stats.samples_beyond(n, 0.75)


def test_ok_frac_denominators():
    # 7 queries: 7 cold + 42 warm executions + 7 oracle verifications,
    # as a run reports them
    attempted = 7 + 42 + 7
    assert stats.ok_frac(attempted, 0) == 1.0
    # one exception in a warm pass costs that one sample
    assert stats.ok_frac(attempted, 1) == pytest.approx(55 / 56)
    # a wrong result found by the oracle costs the verification, and a
    # wrong row count in each of the 6 warm passes costs those samples too
    assert stats.ok_frac(attempted, 7) == pytest.approx(49 / 56)
    with pytest.raises(ValueError):
        stats.ok_frac(0, 0)
    with pytest.raises(ValueError):
        stats.ok_frac(3, 4)


def test_self_time_subtracts_direct_children_only():
    spans = [
        {"id": 0, "name": "pass", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 1, "name": "query", "start": 0.5, "end": 4.5, "parent": 0},
        {"id": 2, "name": "registry.build", "start": 0.5, "end": 1.5, "parent": 1},
        {"id": 3, "name": "exec.force", "start": 1.6, "end": 4.4, "parent": 1},
        {"id": 4, "name": "query", "start": 5.0, "end": 9.0, "parent": 0},
        {"id": 5, "name": "exec.force", "start": 5.0, "end": 8.0, "parent": 4},
    ]
    own = stats.self_times(spans)
    assert own["pass"] == pytest.approx(10.0 - 4.0 - 4.0)
    assert own["query"] == pytest.approx((4.0 - 1.0 - 2.8) + (4.0 - 3.0))
    assert own["registry.build"] == pytest.approx(1.0)
    assert own["exec.force"] == pytest.approx(2.8 + 3.0)


@pytest.mark.parametrize("text,value", [
    ("1.6 s", 1.6),
    ("985 ms", 0.985),
    ("0 ms", 0.0),
    ("2.5 m", 150.0),
    ("8.1 KiB", 8.1 * 1024),
    ("3.5 MiB", 3.5 * 1024 * 1024),
    ("500", 500.0),
    ("1,234,567", 1234567.0),
    ("total (min, med, max (stageId: taskId))\n3.2 s (1.0 s, 1.1 s, 1.1 s (stage 3.0: task 5))", 3.2),
    ("total (min, med, max (stageId: taskId))\n12.0 MiB (4.0 MiB, 4.0 MiB, 4.0 MiB (stage 1.0: task 2))",
     12.0 * 1024 * 1024),
])
def test_parse_sql_metric(text, value):
    assert stats.parse_sql_metric(text) == pytest.approx(value)


def test_parse_sql_metric_rejects_unknown_units():
    with pytest.raises(ValueError):
        stats.parse_sql_metric("3 furlongs")


def _stage(status="COMPLETE", tasks=4, run_ms=400, p50=100.0, mx=130.0, **kw):
    d = dict.fromkeys(stats.STAGE_FIELDS, 0)
    d.update(status=status, tasks=tasks, run_ms=run_ms, task_p50_ms=p50, task_max_ms=mx, **kw)
    return d


def test_exec_totals_counts_shared_and_skipped_stages_once():
    stages = {
        1: _stage(tasks=4, run_ms=400, cpu_ns=3e8, shuffle_write_b=2048),
        2: _stage(tasks=2, run_ms=900, p50=300.0, mx=600.0, shuffle_read_b=2048, gc_ms=20),
        3: _stage(status="SKIPPED", tasks=0, run_ms=0),
    }
    jobs = [
        {"job_id": 7, "group": "f|2|q", "stage_ids": [1, 2]},
        {"job_id": 8, "group": "f|2|q", "stage_ids": [3, 2]},
    ]
    t = stats.exec_totals(jobs, stages)
    assert t["jobs"] == 2
    assert t["stages"] == 2
    assert t["tasks"] == 6
    assert t["run_ms"] == 1300
    assert t["cpu_ns"] == 3e8
    assert t["gc_ms"] == 20
    assert t["shuffle_write_b"] == 2048 and t["shuffle_read_b"] == 2048
    assert t["skew"] == pytest.approx(2.0)  # heaviest stage: 600 / 300
    assert stats.exec_totals([], stages)["stages"] == 0


def test_group_jobs_drops_ungrouped_jobs():
    jobs = [
        {"job_id": 1, "group": "b|1|q", "stage_ids": []},
        {"job_id": 2, "group": None, "stage_ids": []},
        {"job_id": 3, "group": "b|1|q", "stage_ids": []},
        {"job_id": 4, "group": "0d5c-streaming-uuid", "stage_ids": []},
    ]
    g = stats.group_jobs(jobs)
    assert [j["job_id"] for j in g["b|1|q"]] == [1, 3]
    assert None not in g


def test_python_totals_sums_only_the_query_jobs():
    executions = [
        {"jobs": [1], "metrics": [
            ("time to run Python workers", "1.6 s"),
            ("time to start Python workers", "985 ms"),
            ("time to initialize Python workers", "630 ms"),
            ("data sent to Python workers", "156.5 KiB"),
            ("data returned from Python workers", "8.1 KiB"),
            ("number of output rows", "500"),
        ]},
        {"jobs": [3, 4], "metrics": [
            ("time to run Python workers", "334 ms"),
            ("data sent to Python workers", "3.5 MiB"),
            ("number of output rows", "6"),
        ]},
        {"jobs": [9], "metrics": [("time to run Python workers", "9 s")]},
    ]
    t = stats.python_totals(executions, {1, 4})
    assert t["python.run_s"] == pytest.approx(1.934)
    assert t["python.start_s"] == pytest.approx(1.615)
    assert t["python.sent_mb"] == pytest.approx(156.5 / 1024 + 3.5)
    assert t["python.returned_mb"] == pytest.approx(8.1 / 1024)
    assert t["python.rows_returned"] == 506
    assert stats.python_totals(executions, set())["python.run_s"] == 0.0


PLAN = """AdaptiveSparkPlan isFinalPlan=false
+- Project [n_rows#38L]
   +- HashAggregate(keys=[], functions=[sum(n#29L)])
      +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=65]
         +- HashAggregate(keys=[], functions=[partial_sum(n#29L)])
            +- MapInArrow fn(doc_id#0L)#8, [n#29L], false
               +- BroadcastHashJoin [a#1L], [b#2L], Inner, BuildRight, false
                  :- *(1) Filter isnotnull(a#1L)
                  :  +- InMemoryTableScan [a#1L]
                  :        +- InMemoryRelation [a#1L], StorageLevel(disk, memory, 1 replicas)
                  :              +- Exchange hashpartitioning(a#1L, 4), REPARTITION_BY_NUM, [plan_id=3]
                  +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false)
                     +- ArrowEvalPython [udf(b#2L)#9], [pythonUDF0#10], 200
                        +- FileScan parquet [b#2L] Batched: true
"""


def test_plan_node_counts():
    assert plan_node_counts(PLAN) == {
        "exchanges": 2, "broadcasts": 1, "python_nodes": 2, "cache_scans": 1,
    }
