"""Harness self-tests (SURVEY.md §2.12): timing hygiene H1/H2/H4/H5
and the component-separated memory probes H3."""

from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.harness import memory, timing


def test_bench_op_median_and_warmup():
    calls = []

    def thunk():
        calls.append(1)

    result = timing.bench_op("op", thunk, reps=5)
    # one discarded warm-up + 5 timed reps
    assert len(calls) == 6
    assert result.operation == "op"
    assert len(result.times_s) == 5
    assert result.median_s == sorted(result.times_s)[2]
    assert result.median_s >= 0.0


def test_memory_probes_report_components(spark):
    rss = memory.python_rss_mb()
    heap = memory.jvm_heap_mb(spark)
    assert rss > 10.0, "python RSS probe must report a real value"
    assert heap > 1.0, "JVM heap probe must reach the driver runtime"


def test_registry_priority_fits_driver_window():
    # the driver verifies the first 50 registry entries per round; the
    # priority list must fill that window EXACTLY (ADVICE r14: at 49
    # entries the 50th slot silently fell to module registration
    # order, so the scheduled vintage drain skipped a query)
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.registry import (
        DRIVER_WINDOW,
        _PRIORITY,
    )

    assert DRIVER_WINDOW == 50
    assert len(_PRIORITY) == DRIVER_WINDOW, (
        f"priority window must fill the driver check set exactly: "
        f"{len(_PRIORITY)} != {DRIVER_WINDOW}"
    )

def test_gc_heap_probe_positive_and_bounded(spark):
    # the r4 artifact recorded -18 GB "deltas" across GC boundaries;
    # the replacement probe is retained heap after a forced full GC —
    # always positive and far below the configured max heap
    live = memory.jvm_heap_after_gc_mb(spark)
    assert 1.0 < live < 130_000.0


def test_priority_window_is_ledger_justified():
    # Round-7 policy (VERDICT r6 "Next round" #1): with all 270
    # queries driver-attested once, the remaining attestation risk is
    # rows silently trailing code changes. The ledger ast-diffs every
    # query function between the commit its last driver row ran
    # against and the working tree; the window must then be
    #   (i)  changed-since-row complete: every query whose function
    #        body changed after its last driver row is IN the window
    #        (no code edit ships without a scheduled re-attestation),
    #   (ii) stalest-first monotone: a round-k row may occupy a slot
    #        only if every older row also has one (changed entries
    #        aside) — so re-check freshness can never regress, and
    #   (iii) never-checked complete: a query with no row at all
    #        always rotates in (vacuous while the registry is frozen
    #        at 270, load-bearing the moment a query is added).
    # This test recomputes the ledger live (git + ast, ~8s), so
    # editing any registry function without rotating it into the
    # window fails pytest in the same change.
    import importlib.util
    import os

    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.registry import (
        _PRIORITY,
        REGISTRY,
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "attestation_ledger", os.path.join(repo, "scripts", "attestation_ledger.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    ledger = mod.build_ledger()
    assert set(ledger) == set(REGISTRY)

    window = set(_PRIORITY)
    changed = {q for q, e in ledger.items() if e["fn_changed_since_row"]}
    out_of_window = sorted(changed - window)
    assert not out_of_window, (
        f"queries edited after their last driver row but not scheduled "
        f"for re-attestation: {out_of_window}"
    )
    in_rounds = [ledger[q]["last_row_round"] for q in window - changed]
    out_rounds = [
        ledger[q]["last_row_round"] for q in set(REGISTRY) - window - changed
    ]
    if in_rounds and out_rounds:
        assert max(in_rounds) <= min(out_rounds), (
            f"window skips a staler row: includes round {max(in_rounds)} "
            f"while excluding round {min(out_rounds)}"
        )


def test_svg_fallback_renders_valid_artifact(tmp_path):
    import xml.dom.minidom

    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.harness import runner

    results = {
        "read": timing.OpTiming(operation="read", times_s=[0.2], median_s=0.2, memory_mb=0.0),
        "sort": timing.OpTiming(operation="sort", times_s=[1.6], median_s=1.6, memory_mb=0.0),
    }
    out = tmp_path / "h7.svg"
    assert runner.plot_results(results, str(out)) is True
    rendered = out if out.exists() else tmp_path / "h7.svg.svg"
    dom = xml.dom.minidom.parse(str(rendered))
    assert dom.documentElement.tagName == "svg"
    texts = [
        t.firstChild.data for t in dom.getElementsByTagName("text") if t.firstChild is not None
    ]
    assert any("read" in t for t in texts) and any("1.60" in t for t in texts)


def test_bench_contract_line_shape():
    # the driver stores only a stdout tail window; the contract line
    # must stay compact and carry exactly the agreed keys
    import json
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    line = bench.contract_line({f"q{i}": 0.1234 for i in range(60)}, 0.1)
    parsed = json.loads(line)
    assert set(parsed) == {"metric", "value", "unit", "queries", "sf"}
    assert parsed["unit"] == "sec" and parsed["sf"] == 0.1
    assert abs(parsed["value"] - 60 * 0.1234) < 1e-6
    # per-query values are 2-decimal displays (full precision lives in
    # bench_detail.json per_query)
    assert parsed["queries"]["q0"] == 0.12


def test_rebaseline_jobs_request_full_precision_line(monkeypatch):
    """make_rebaseline.py mins over the contract line's per-query
    values; a 2-decimal line would bake ~4% error into a drift
    machinery whose alarm margin is 5%. Pin both halves: the env
    override restores 4 decimals, and both rebaseline jobs actually
    set it when invoking bench.py."""
    import json
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    monkeypatch.setenv("SPARK_GRAFT_CONTRACT_PRECISION", "4")
    parsed = json.loads(bench.contract_line({"q0": 0.1234}, 0.1))
    assert parsed["queries"]["q0"] == 0.1234
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for job in ("reanchor_job.py", "calm_window_job.py"):
        src = open(os.path.join(repo, "scripts", job)).read()
        assert 'SPARK_GRAFT_CONTRACT_PRECISION="4"' in src, job


def test_contract_line_fits_driver_tail():
    """The driver keeps only the LAST 2000 chars of stdout and parses
    the contract line out of that tail; BENCH_r09/r10 recorded
    ``parsed: null`` because the 4-decimal default-formatted line
    outgrew it unnoticed (r9 crossed 2000 at ~60 queries). Budget the
    line with worst-case value widths over the ACTUAL suite so adding
    a query that would overflow fails pytest BEFORE it silently costs
    a round's numbers."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    # worst-case per-query width "99.99" — a 100+s query at sf0.1
    # would trip the drift machinery long before line length matters
    line = bench.contract_line({q: 99.99 for q in bench.BENCH_QUERIES}, 0.1)
    assert len(line) <= 1970, (
        f"contract line worst-case {len(line)}B is within 30B of the "
        "2000B driver tail: trim the bench suite or shrink the format"
    )


def test_committed_bench_detail_matches_committed_bench_round():
    """VERDICT r8 #4 / r9 #3 / r10 #4 / r11 #4: the committed
    results/bench_detail.json is the evidence contextualizing a bench
    run. Through r11 the driver's round run clobbered it every round
    and it had to land in the round commit alongside BENCH_rN; r11 #4
    retired that — ordinary bench.py runs now write the gitignored
    results/bench_detail_run.json, and the committed detail changes
    only in intentional re-anchor commits
    (SPARK_GRAFT_BENCH_DETAIL_COMMIT=1). Pin, restated for that
    policy: the committed detail must be self-consistent with the
    commit that last touched it — if that commit also carries a
    BENCH_r*.json (every round <= 11), each per-query number in the
    BENCH artifact must sit inside the detail's recorded [min, max]
    spread; if it is a detail-only re-anchor commit, the detail must
    still be a round-shaped run (round sf, epoch + spread keys
    present). Either way a smoke-run detail (wrong sf) fails."""
    import json
    import os
    import re
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def _git(args):
        out = subprocess.run(
            ["git", "-C", repo, *args], capture_output=True, text=True
        )
        return out.stdout if out.returncode == 0 else None

    # the commit whose run produced the committed detail
    anchor = (_git(["log", "-1", "--format=%H", "--", "results/bench_detail.json"]) or "").strip()
    if not anchor:
        return  # round 1: nothing committed yet
    detail_text = _git(["show", f"{anchor}:results/bench_detail.json"])
    assert detail_text is not None, "results/bench_detail.json missing from its anchor commit"
    detail = json.loads(detail_text)
    for key in ("epoch", "spread", "per_query", "sf_dir"):
        assert key in detail, f"committed detail missing {key!r}"
    sf_detail = float(
        os.path.basename(detail["sf_dir"].rstrip("/")).removeprefix("sf")
    )
    assert sf_detail == 0.1, (
        f"committed detail is a sf={sf_detail} run — the committed "
        "artifact must be a round-scale (sf0.1) run, not a smoke run"
    )
    committed_files = (_git(["show", "--name-only", "--format=", anchor]) or "").split()
    bench_in_anchor = sorted(
        f for f in committed_files if re.fullmatch(r"BENCH_r\d+\.json", f)
    )
    if not bench_in_anchor:
        return  # intentional detail-only re-anchor commit (r11 #4 policy)
    bench_art = json.loads(_git(["show", f"{anchor}:{bench_in_anchor[-1]}"]))
    assert sf_detail == bench_art["sf"], (
        f"detail sf={sf_detail} but same-commit artifact "
        f"{bench_in_anchor[-1]} is sf={bench_art['sf']}"
    )
    spread = detail["spread"]
    parsed = bench_art.get("parsed")
    if parsed and parsed.get("queries"):
        pairs = parsed["queries"].items()
        assert set(parsed["queries"]) == set(spread)
    else:
        # legacy rounds (r9/r10) where the oversized line truncated to
        # parsed:null — recover complete pairs from the stored tail
        pairs = [
            (q, float(v))
            for q, v in re.findall(
                r'"(\w+)":\s?([0-9]+\.[0-9]+)[,}]', bench_art.get("tail", "")
            )
            if q in spread
        ]
        assert pairs, "no recoverable per-query pairs in BENCH tail"
    for q, v in pairs:
        lo, hi = spread[q]
        assert lo - 0.006 <= float(v) <= hi + 0.006, (
            f"{q}: BENCH={v} outside committed detail spread [{lo}, {hi}] — "
            "detail and BENCH artifacts are from different runs"
        )


def test_bench_epoch_factor_and_drift_annotations():
    # VERDICT r7 #1: the host-epoch calibration must (a) read the
    # control drift as the epoch factor and (b) annotate any query
    # whose drift <= control drift as "host", not "regression".
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    baseline = {"groupby_mean": 0.20, "mapinarrow_matrix_stats": 0.40, "sort_asc_rank": 0.56}
    # controls drifted uniformly +30% across all three phases
    series = {
        "start": {"groupby_mean": 0.26, "mapinarrow_matrix_stats": 0.52},
        "mid": {"groupby_mean": 0.26, "mapinarrow_matrix_stats": 0.52},
        "end": {"groupby_mean": 0.26, "mapinarrow_matrix_stats": 0.52},
    }
    factor = bench.epoch_factor(series, baseline)
    assert abs(factor - 1.3) < 1e-6

    per_query = {
        "sort_asc_rank": 0.56 * 1.28,  # moved less than controls -> host
        "groupby_mean": 0.20 * 1.30,
        "mapinarrow_matrix_stats": 0.40 * 2.0,  # moved well past controls
        "unknown_query": 9.9,  # no rebaseline -> no annotation
    }
    ann = bench.drift_annotations(per_query, baseline, factor)
    assert ann["sort_asc_rank"]["verdict"] == "host"
    assert ann["groupby_mean"]["verdict"] == "host"
    assert ann["mapinarrow_matrix_stats"]["verdict"] == "exceeds-epoch"
    assert "unknown_query" not in ann

    # calm host (factor 1.0): a +40% query exceeds the epoch
    calm = {
        p: {n: baseline[n] for n in ("groupby_mean", "mapinarrow_matrix_stats")}
        for p in ("start", "mid", "end")
    }
    f2 = bench.epoch_factor(calm, baseline)
    assert abs(f2 - 1.0) < 1e-6
    ann2 = bench.drift_annotations({"sort_asc_rank": 0.56 * 1.4}, baseline, f2)
    assert ann2["sort_asc_rank"]["verdict"] == "exceeds-epoch"
    # at-or-near rebaseline -> nothing to explain, no annotation row
    assert not bench.drift_annotations({"sort_asc_rank": 0.56}, baseline, f2)
    # missing controls -> factor defaults to 1.0, never crashes
    assert bench.epoch_factor({"start": {}}, baseline) == 1.0


def test_bench_epoch_controls_are_benchable():
    # The calibration contract: both controls must exist in the
    # registry AND in the bench suite (their per-run timings double as
    # suite rows), and the drift margin must stay a sane multiplier —
    # a rename or suite edit that breaks this kills the epoch factor
    # silently otherwise.
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark import registry

    names = set(registry.REGISTRY)
    for control in bench.EPOCH_CONTROLS:
        assert control in names, f"epoch control {control} not in registry"
        assert control in bench.BENCH_QUERIES, f"epoch control {control} not benched"
    assert 1.0 < bench.EPOCH_MARGIN < 2.0
    assert len(bench.BENCH_QUERIES) == len(set(bench.BENCH_QUERIES)), "duplicate bench query"
    unknown = [q for q in bench.BENCH_QUERIES if q not in names]
    assert not unknown, f"bench suite names unknown queries: {unknown}"
    # ADVICE r8: a control missing from the committed rebaseline
    # contributes zero epoch-factor ratios — exactly the gap that let
    # the one-legged r8 calibration ship silently. Until the next
    # calm-window regeneration covers every control, the loud-flag
    # machinery (bench.main's controls_missing_rebaseline warning +
    # detail field) must name each gap; once the regeneration lands
    # this assertion requires presence outright.
    rebaseline = bench._load_rebaseline()
    missing = [c for c in bench.EPOCH_CONTROLS if not rebaseline.get(c)]
    for control in bench.EPOCH_CONTROLS:
        value = rebaseline.get(control)
        assert (isinstance(value, (int, float)) and value > 0) or control in missing
    if missing:
        # the flag must actually reach the committed artifact source:
        # bench.py computes it from the same _load_rebaseline() — pin
        # that the computation can't be skipped by a rename
        import inspect

        src = inspect.getsource(bench.main)
        assert "controls_missing_rebaseline" in src


def test_executor_peaks_report_real_usage(spark):
    peaks = memory.executor_peaks_mb(spark)
    assert peaks, "local mode must report at least the driver block manager"
    for used in peaks.values():
        assert 0.0 <= used < 130_000.0


def _repo_root() -> str:
    import os

    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_script(name: str):
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        name, os.path.join(_repo_root(), "scripts", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_named_scripts_exist():
    """Every ``scripts/<name>.py`` the package, the tests, bench.py or
    README.md names must exist: a deleted probe's number lives in its
    committed results/*.json or SCALE.md, never behind a dead path."""
    import os
    import re

    root = _repo_root()
    files = [os.path.join(root, "bench.py"), os.path.join(root, "README.md")]
    for sub in ("benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark", "tests"):
        for dirpath, _dirs, names in os.walk(os.path.join(root, sub)):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".py")]
    missing = set()
    for path in files:
        with open(path, encoding="utf-8") as f:
            for name in re.findall(r"scripts/(\w+)\.py", f.read()):
                if not os.path.exists(os.path.join(root, "scripts", f"{name}.py")):
                    missing.add(f"{os.path.relpath(path, root)}: scripts/{name}.py")
    assert not missing, sorted(missing)


def test_timing_loop_lives_only_in_harness():
    """harness.timing.bench_op is the one per-rep timing loop: bench.py
    and scripts/ time through it, never through their own perf_counter."""
    import os

    root = _repo_root()
    paths = [os.path.join(root, "bench.py")] + [
        os.path.join(root, "scripts", n)
        for n in os.listdir(os.path.join(root, "scripts"))
        if n.endswith(".py")
    ]
    offenders = [p for p in paths if "perf_counter" in open(p, encoding="utf-8").read()]
    assert not offenders, offenders


def test_ab_archive_arm_imports_under_its_own_name(tmp_path):
    """ab.py's base arm: ``git archive HEAD`` of the package imports
    under a distinct module name and exposes the working tree's query
    set (no Spark needed — registry import is pure Python)."""
    import sys

    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark import registry

    ab = _load_script("ab")
    try:
        archived = ab.archived_registry("HEAD", str(tmp_path))
        pkg = archived.__name__.split(".")[0]
        assert pkg.startswith("abpkg_") and pkg != ab.PKG
        assert archived.__file__.startswith(str(tmp_path))
        assert set(archived.REGISTRY) == set(registry.REGISTRY)
    finally:
        sys.path.remove(str(tmp_path))
        for mod in [m for m in sys.modules if m.startswith("abpkg_")]:
            del sys.modules[mod]


def test_ab_keep_rule_boundary():
    import math

    ab = _load_script("ab")
    assert ab.keeps(1.15)
    assert not ab.keeps(math.nextafter(1.15, 0.0))
    assert not ab.keeps(1.149)
