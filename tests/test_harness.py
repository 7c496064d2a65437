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


def test_gc_heap_probe_positive_and_bounded(spark):
    # the r4 artifact recorded -18 GB "deltas" across GC boundaries;
    # the replacement probe is retained heap after a forced full GC —
    # always positive and far below the configured max heap
    live = memory.jvm_heap_after_gc_mb(spark)
    assert 1.0 < live < 130_000.0


def test_committed_ledger_is_fresh():
    # The driver checks a prefix of __spark_entry__.queries(), a sort
    # over the committed ledger, so that file must match a live
    # recomputation (git + ast, a few seconds): editing a query or a
    # helper it reaches must regenerate the ledger in the same change.
    import json

    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.registry import REGISTRY

    mod = _load_script("attestation_ledger")
    live = mod.build_ledger()
    with open(mod.LEDGER) as f:
        committed = json.load(f)["queries"]

    def view(ledger):
        return {q: (e["last_row_round"], e["changed_since_row"]) for q, e in ledger.items()}

    stale = sorted(set(view(live).items()) ^ set(view(committed).items()))
    assert not stale, (
        f"results/attestation_ledger.json is stale {stale}; "
        "regenerate it with: python scripts/attestation_ledger.py"
    )
    assert set(REGISTRY) <= set(live)


def test_driver_order_follows_ledger():
    import json

    import __spark_entry__ as entry
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.registry import REGISTRY

    with open(entry.LEDGER) as f:
        ledger = json.load(f)["queries"]
    names = list(entry.queries())
    assert sorted(names) == sorted(REGISTRY)
    keys = [entry.window_key(n, ledger) for n in names]
    assert keys == sorted(keys)


_HELPERS_SRC = '''"""Helpers."""
SCALE = 2
def scaled(x):
    """Scale x."""
    return x * SCALE  # doubled
'''

_OPS_SRC = '''from . import helpers
from .helpers import scaled
ORACLE = "SELECT 1"
def q(spark, sf_dir):
    """Scaled one."""
    return scaled(1)
def r(spark, sf_dir):
    from .helpers import SCALE
    return SCALE
def s(spark, sf_dir):
    return helpers.scaled(2)
QUERIES = {"q": (q, ORACLE), "r": (r, None)}
if True:
    QUERIES["s"] = (s, None)
'''


def _closure_hashes(ops=_OPS_SRC, helpers=_HELPERS_SRC):
    sources = {"pkg/__init__.py": "", "pkg/ops.py": ops, "pkg/helpers.py": helpers}
    pkg = _load_script("attestation_ledger").Package(sources)
    return {q: pkg.query_hash(q) for q in pkg.roots}


def test_closure_hash_follows_helpers_and_oracles_not_prose():
    base = _closure_hashes()
    assert set(base) == {"q", "r", "s"}

    # a helper edit reaches its consumers, direct and through module.attr
    edit = _closure_hashes(helpers=_HELPERS_SRC.replace("x * SCALE", "x + SCALE"))
    assert edit["q"] != base["q"] and edit["s"] != base["s"]
    assert edit["r"] == base["r"]
    # a constant edit reaches through a function-local import
    edit = _closure_hashes(helpers=_HELPERS_SRC.replace("SCALE = 2", "SCALE = 3"))
    assert all(edit[q] != base[q] for q in base)
    # the oracle SQL is part of the entry
    edit = _closure_hashes(ops=_OPS_SRC.replace("SELECT 1", "SELECT 2"))
    assert edit["q"] != base["q"]
    assert edit["r"] == base["r"] and edit["s"] == base["s"]

    # docstring and comment edits change nothing
    prose = _closure_hashes(
        ops=_OPS_SRC.replace("Scaled one.", "One, scaled by SCALE."),
        helpers=_HELPERS_SRC.replace("Scale x.", "Multiply x by SCALE.").replace(
            "# doubled", "# times SCALE"
        ),
    )
    assert prose == base


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
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark import registry

    assert len(bench.BENCH_QUERIES) == len(set(bench.BENCH_QUERIES)), "duplicate bench query"
    unknown = [q for q in bench.BENCH_QUERIES if q not in registry.REGISTRY]
    assert not unknown, f"bench suite names unknown queries: {unknown}"
    # worst-case per-query width "99.99": no benched query comes near
    # 100 s at sf0.1
    line = bench.contract_line({q: 99.99 for q in bench.BENCH_QUERIES}, 0.1)
    assert len(line) <= 1970, (
        f"contract line worst-case {len(line)}B is within 30B of the "
        "2000B driver tail: trim the bench suite or shrink the format"
    )


def test_bench_main_survives_one_failing_query(monkeypatch, capsys, tmp_path):
    """One query failing costs one row: bench.main still prints the
    single contract line and records the error in the detail file
    (no Spark: the session, the timing loop and the probes are stubs).
    A fixture dir not named ``sf<N>`` (a blown-up copy) reports
    ``"sf": null`` instead of losing the whole run."""
    import json
    import os
    import sys
    import types

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    bad = bench.BENCH_QUERIES[3]

    def fake_bench_query(qs, spark, name, reps, warmup, memory_probe=None):
        if name == bad:
            raise RuntimeError("boom")
        return timing.OpTiming(
            operation=name, median_s=0.25, times_s=[0.2, 0.25, 0.3], memory_mb=1.0
        )

    context = types.SimpleNamespace(setLogLevel=lambda level: None)
    spark = types.SimpleNamespace(sparkContext=context)
    monkeypatch.setattr(bench, "get_spark", lambda *args, **kwargs: spark)
    monkeypatch.setattr(bench, "_bench_query", fake_bench_query)
    monkeypatch.setattr(bench.memory, "python_rss_mb", lambda: 100.0)
    monkeypatch.setattr(bench.memory, "jvm_heap_after_gc_mb", lambda spark: 50.0)
    detail_path = tmp_path / "detail.json"
    monkeypatch.setattr(bench, "DETAIL_PATH", str(detail_path))

    for sf_dir, sf in (("/data/sf0.01", 0.01), ("/tmp/blowup_x4", None)):
        monkeypatch.setattr(bench, "SF_DIR", sf_dir)
        detail_path.unlink(missing_ok=True)

        bench.main()

        lines = capsys.readouterr().out.splitlines()
        assert len(lines) == 1, sf_dir
        parsed = json.loads(lines[0])
        assert set(parsed) == {"metric", "value", "unit", "queries", "sf"}
        assert parsed["sf"] == sf
        assert list(parsed["queries"]) == [q for q in bench.BENCH_QUERIES if q != bad]
        detail = json.loads(detail_path.read_text())
        assert set(detail) == {"per_query", "spread", "memory", "reps", "sf_dir", "errors"}
        assert detail["sf_dir"] == sf_dir
        assert set(detail["errors"]) == {bad}
        assert "boom" in detail["errors"][bad]


def test_committed_bench_detail_matches_committed_bench_round():
    """VERDICT r8 #4 / r9 #3 / r10 #4 / r11 #4: the committed
    results/bench_detail.json is the evidence contextualizing a bench
    run. Through r11 the driver's round run clobbered it every round
    and it had to land in the round commit alongside BENCH_rN; r11 #4
    retired that — ordinary bench.py runs now write the gitignored
    results/bench_detail_run.json, and the committed detail changes
    only in intentional re-anchor commits. Pin, restated for that
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


def test_ab_archive_arm_imports_under_its_own_name(tmp_path, monkeypatch):
    """ab.py's base arm: ``git archive HEAD`` of the package imports
    under a distinct module name and exposes the committed query set
    (no Spark needed — registry import is pure Python). HEAD is a
    throwaway one-commit repo holding the working tree's package, so the
    check holds while the working tree has uncommitted query changes."""
    import os
    import shutil
    import subprocess
    import sys

    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark import registry

    ab = _load_script("ab")
    repo = tmp_path / "repo"
    shutil.copytree(
        os.path.join(ab.REPO, ab.PKG), repo / ab.PKG,
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    git = ["git", "-C", str(repo), "-c", "user.name=t", "-c", "user.email=t@t"]
    for args in (["init", "-q"], ["add", "-A"], ["commit", "-q", "-m", "arm"]):
        subprocess.run(git + args, check=True, capture_output=True)
    monkeypatch.setattr(ab, "REPO", str(repo))
    dest = str(tmp_path / "arm")
    try:
        archived = ab.archived_registry("HEAD", dest)
        pkg = archived.__name__.split(".")[0]
        assert pkg.startswith("abpkg_") and pkg != ab.PKG
        assert archived.__file__.startswith(dest)
        assert set(archived.REGISTRY) == set(registry.REGISTRY)
    finally:
        sys.path.remove(dest)
        for mod in [m for m in sys.modules if m.startswith("abpkg_")]:
            del sys.modules[mod]


def test_ab_keep_rule_boundary():
    import math

    ab = _load_script("ab")
    assert ab.keeps(1.15)
    assert not ab.keeps(math.nextafter(1.15, 0.0))
    assert not ab.keeps(1.149)


# Registry queries that may share one byte-identical oracle, each group
# with the reason it stays. Any other shared oracle is a strategy twin:
# two implementations of one answer, where the loser of a committed A/B
# should be deleted rather than kept beside the winner.
SHARED_ORACLE_GROUPS = {
    # one pipeline through the DataFrame, SQL and SQL-pipe APIs
    frozenset({"flagship_lazy_pipeline", "sql_api_flagship", "sql_pipe_flagship"}),
    # one table round-tripped through three storage formats
    frozenset({"json_roundtrip", "orc_roundtrip", "parquet_zstd_roundtrip"}),
    # batch vs micro-batch stream over the same events
    frozenset({"events_hourly_agg", "streaming_hourly_agg"}),
    frozenset({"events_sliding_window", "streaming_sliding_agg"}),
    frozenset({"corpus_fingerprint", "streaming_corpus_fingerprint"}),
    # planted-set recall certificates scored by one planted-pair query
    frozenset({"dedup_simhash_recall", "streaming_minhash_dedup_recall"}),
    # open: each wins on a different graph shape (shallow vs high
    # diameter) and no committed A/B decides between them
    frozenset({"dedup_clusters_cc", "dedup_clusters_star_contraction"}),
    # the sequential trainer is the reference the adaptive trainer is
    # tested against, and bpe_encode_corpus trains with it
    frozenset({"bpe_train_merges", "bpe_train_merges_adaptive"}),
}


def test_shared_oracles_are_allow_listed():
    from collections import defaultdict

    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark import registry

    by_sql = defaultdict(set)
    for name, sql in registry.oracle_sql().items():
        by_sql[sql].add(name)
    shared = {frozenset(names) for names in by_sql.values() if len(names) > 1}
    assert shared == SHARED_ORACLE_GROUPS, (
        f"unlisted shared oracles {sorted(map(sorted, shared - SHARED_ORACLE_GROUPS))}; "
        f"stale allow-list groups {sorted(map(sorted, SHARED_ORACLE_GROUPS - shared))}"
    )
