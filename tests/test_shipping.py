"""The worker-side zip-directory guard (``shipping.prepare_worker``).

PySpark's worker calls ``importlib.invalidate_caches()`` at every task
start, which before CPython 3.13 re-reads every zipimporter's central
directory. The guard skips a re-read while the archive's file identity
is unchanged; these tests pin that it skips, that a changed archive is
still re-read, and that every Python UDF body in the package installs it.
"""

from __future__ import annotations

import ast
import importlib
import os
import sys
import weakref
import zipfile
import zipimport

import pytest

from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark import shipping

PKG_DIR = os.path.dirname(os.path.abspath(shipping.__file__))
UDF_METHODS = {"mapInPandas", "mapInArrow", "applyInPandas"}

needs_reread = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="invalidate_caches no longer re-reads zip directories"
)


@pytest.fixture
def zip_reads(monkeypatch):
    """A fresh, uninstalled guard whose install is undone after the
    test, plus the list of archives ``zipimport`` reads meanwhile."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(shipping, "_WORKER_PREPARED", False)
    monkeypatch.setattr(shipping, "_READ_IDENTITY", weakref.WeakKeyDictionary())
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@needs_reread
def test_guard_skips_unchanged_archive_and_rereads_a_rewritten_one(zip_reads, tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"graft_guard_a": "A = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("graft_guard_a").A == 1
        importlib.invalidate_caches()  # a task start before the guard: a full re-read
        assert archive in zip_reads

        shipping.prepare_worker()
        zip_reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in zip_reads

        _write_zip(archive, {"graft_guard_a": "A = 1\n", "graft_guard_b": "B = 2\n"})
        importlib.invalidate_caches()
        assert zip_reads.count(archive) == 1
        assert importlib.import_module("graft_guard_b").B == 2

        zip_reads.clear()
        importlib.invalidate_caches()
        assert archive not in zip_reads

        os.remove(archive)  # no identity to compare: fall through to the re-read
        importlib.invalidate_caches()
        assert archive in zip_reads
    finally:
        for name in ("graft_guard_a", "graft_guard_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


@needs_reread
def test_guard_reads_an_archive_added_after_install_once(zip_reads, tmp_path, monkeypatch):
    shipping.prepare_worker()
    archive = str(tmp_path / "late.zip")
    _write_zip(archive, {"graft_guard_late": "C = 3\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("graft_guard_late").C == 3
        zip_reads.clear()
        importlib.invalidate_caches()  # no recorded identity yet: one read
        importlib.invalidate_caches()
        assert zip_reads.count(archive) == 1
    finally:
        sys.modules.pop("graft_guard_late", None)
        sys.path_importer_cache.pop(archive, None)


def _udf_bodies() -> list[tuple[str, ast.FunctionDef | None, str]]:
    """(file, resolved def or None, passed expression) for every
    function the package hands to a Python-worker API."""
    found = []
    for root, _dirs, files in os.walk(PKG_DIR):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, PKG_DIR)
            with open(path) as f:
                tree = ast.parse(f.read())
            parent = {child: node for node in ast.walk(tree) for child in ast.iter_child_nodes(node)}

            def resolve(expr, node):
                """The def a Name refers to: innermost enclosing scope first."""
                if not isinstance(expr, ast.Name):
                    return None
                while node is not None:
                    node = parent.get(node)
                    scope = tree if node is None else node
                    if isinstance(scope, (ast.Module, ast.FunctionDef)):
                        for stmt in scope.body:
                            if isinstance(stmt, ast.FunctionDef) and stmt.name == expr.id:
                                return stmt
                return None

            for node in ast.walk(tree):
                if isinstance(node, ast.FunctionDef):
                    for dec in node.decorator_list:
                        target = dec.func if isinstance(dec, ast.Call) else dec
                        if getattr(target, "id", getattr(target, "attr", None)) == "pandas_udf":
                            found.append((rel, node, node.name))
                if not isinstance(node, ast.Call) or not node.args:
                    continue
                name = getattr(node.func, "attr", getattr(node.func, "id", None))
                arg = node.args[0]
                if name == "pandas_udf" and isinstance(arg, ast.Constant):
                    continue  # the decorator form, handled above
                if name in UDF_METHODS or name == "pandas_udf":
                    found.append((rel, resolve(arg, node), ast.unparse(arg)))
    return found


def _calls_prepare_first(fn: ast.FunctionDef) -> bool:
    body = list(fn.body)
    if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        body = body[1:]  # docstring
    if not body or not isinstance(body[0], ast.Expr) or not isinstance(body[0].value, ast.Call):
        return False
    return ast.unparse(body[0].value.func) == "shipping.prepare_worker"


def test_every_python_udf_body_prepares_the_worker_first():
    bodies = _udf_bodies()
    unresolved = [(rel, expr) for rel, fn, expr in bodies if fn is None]
    assert not unresolved, f"UDF passed as something other than a def: {unresolved}"
    assert len(bodies) >= 6, bodies
    missing = [(rel, fn.name) for rel, fn, _ in bodies if not _calls_prepare_first(fn)]
    assert not missing, f"first statement is not shipping.prepare_worker(): {missing}"


@needs_reread
def test_reused_worker_rereads_no_zip_directory(spark):
    """A worker that ran one guarded task re-reads no zip directory at
    its next task's start (the count covers setup to the UDF's first line)."""
    shipping.ensure_package_on_workers(spark)

    def probe(batches):
        shipping.prepare_worker()
        import os
        import sys
        import zipimport

        import pandas as pd

        state = getattr(zipimport, "_graft_probe", None)
        if state is None:  # first task in this worker: start counting reads
            state = zipimport._graft_probe = {"reads": 0, "tasks": 0}
            real = zipimport._read_directory

            def counting(archive):
                state["reads"] += 1
                return real(archive)

            zipimport._read_directory = counting
        row = {
            "pid": [os.getpid()],
            "tasks": [state["tasks"]],
            "reads": [state["reads"]],
            "zips": [sum(isinstance(i, zipimport.zipimporter) for i in sys.path_importer_cache.values())],
        }
        state["reads"] = 0
        state["tasks"] += 1
        for _ in batches:
            pass
        yield pd.DataFrame(row)

    schema = "pid long, tasks long, reads long, zips long"
    reused = []
    for _ in range(30):  # idle workers are handed out in turn: run until one comes back
        (row,) = spark.range(1, numPartitions=1).mapInPandas(probe, schema).collect()
        if row.tasks >= 1:
            reused.append(row)
            if len(reused) >= 2:
                break
    assert reused, "no Python worker was reused"
    assert all(r.zips > 0 for r in reused), reused
    assert all(r.reads == 0 for r in reused), reused
