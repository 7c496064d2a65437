#!/usr/bin/env python
"""Attestation ledger: which registry queries changed since their last
driver correctness row?

Per query: the latest round whose CORRECTNESS_r*.json has a row for
it, and whether its code differs between that round's ``round N:
verdict`` commit and the working tree. A query's code is its
``QUERIES`` entry (function and oracle SQL) plus every package
function, class and constant reached through names, ``module.attr``
and relative imports (top-level and function-local), each hashed as
``ast.dump`` with docstrings stripped: a helper edit changes every
consumer, a docstring or comment edit changes nothing. Nothing is
imported; each commit is parsed once.

``__spark_entry__.queries()`` sorts the registry over the committed
ledger, changed (or never checked) first, then stalest; the driver
checks a prefix of that order.

Usage: python scripts/attestation_ledger.py  # rewrites results/attestation_ledger.json
"""

from __future__ import annotations

import ast
import hashlib
import io
import json
import os
import re
import subprocess
import tarfile
from glob import glob

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark"
LEDGER = os.path.join(REPO, "results", "attestation_ledger.json")

Key = tuple[str, str]  # (module, top-level name)


def round_marker_commits() -> dict[int, str]:
    """round N -> sha of the ``round N: verdict/...`` commit."""
    markers: dict[int, str] = {}
    log = subprocess.run(
        ["git", "-C", REPO, "log", "--format=%H %s"], capture_output=True, text=True, check=True
    ).stdout
    for line in log.splitlines():
        sha, _, subject = line.partition(" ")
        m = re.match(r"^round (\d+): verdict", subject)
        if m:
            markers.setdefault(int(m.group(1)), sha)
    return markers


def last_row_rounds() -> dict[str, int]:
    rounds: dict[str, int] = {}
    for path in glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        r = int(re.search(r"CORRECTNESS_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            for q in json.load(f):
                rounds[q] = max(rounds.get(q, 0), r)
    return rounds


def worktree_sources() -> dict[str, str]:
    """relative path -> source of every package ``.py`` file."""
    out = {}
    for path in glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True):
        with open(path) as f:
            out[os.path.relpath(path, REPO)] = f.read()
    return out


def commit_sources(sha: str) -> dict[str, str]:
    """The same at a commit, from one ``git archive``."""
    tar = subprocess.run(
        ["git", "-C", REPO, "archive", sha, PKG], capture_output=True, check=True
    ).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as t:
        return {
            m.name: t.extractfile(m).read().decode()
            for m in t.getmembers()
            if m.name.endswith(".py")
        }


def _module(path: str) -> str:
    return path.removesuffix(".py").removesuffix("/__init__").replace("/", ".")


class Package:
    """A parsed package: per module, its top-level definitions (docstrings
    stripped) and relative-import bindings, plus every ``QUERIES`` entry."""

    def __init__(self, sources: dict[str, str]) -> None:
        self.packages = {_module(p) for p in sources if p.endswith("/__init__.py")}
        self.defs: dict[str, dict[str, list[ast.stmt]]] = {_module(p): {} for p in sources}
        self.imports: dict[str, dict[str, tuple[str, str | None]]] = {m: {} for m in self.defs}
        self.roots: dict[str, tuple[str, ast.expr]] = {}
        self._refs: dict[Key, set[Key]] = {}
        self._digests: dict[Key, bytes] = {}
        for path, src in sources.items():
            tree = ast.parse(src)
            for node in ast.walk(tree):
                if (
                    isinstance(node, (ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
                    and isinstance(node.body[0], ast.Expr)
                    and isinstance(node.body[0].value, ast.Constant)
                    and isinstance(node.body[0].value.value, str)
                ):
                    node.body = node.body[1:]
            self._scan(_module(path), tree.body)

    def _bindings(self, module: str, node: ast.AST) -> dict[str, tuple[str, str | None]]:
        """name -> (module, attr) bound by a relative import of the
        package; attr is None when the name is a module."""
        if not isinstance(node, ast.ImportFrom) or not node.level:
            return {}
        parts = module.split(".")
        base = parts[: len(parts) - node.level + (module in self.packages)]
        source = ".".join(base + ([node.module] if node.module else []))
        if source not in self.defs:
            return {}
        out = {}
        for a in node.names:
            sub = f"{source}.{a.name}"
            out[a.asname or a.name] = (sub, None) if sub in self.defs else (source, a.name)
        return out

    def _scan(self, module: str, body: list[ast.stmt]) -> None:
        defs = self.defs[module]
        for stmt in body:
            self.imports[module].update(self._bindings(module, stmt))
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(stmt.name, []).append(stmt)
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
                for t in getattr(stmt, "targets", [getattr(stmt, "target", None)]):
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            defs.setdefault(n.id, []).append(stmt)
                    if isinstance(t, ast.Subscript) and ast.unparse(t.value) == "QUERIES":
                        self.roots[t.slice.value] = (module, stmt.value)
                    elif ast.unparse(t) == "QUERIES" and isinstance(stmt.value, ast.Dict):
                        for k, v in zip(stmt.value.keys, stmt.value.values):
                            self.roots[k.value] = (module, v)
            elif isinstance(stmt, (ast.If, ast.Try, ast.With)):
                for block in ("body", "orelse", "finalbody"):
                    self._scan(module, getattr(stmt, block, []))
                for h in getattr(stmt, "handlers", []):
                    self._scan(module, h.body)

    def _lookup(self, module: str, name: str) -> Key | None:
        """The definition ``name`` denotes at the top of ``module``,
        through re-exports; None for modules and outside names."""
        while name not in self.defs[module]:
            target = self.imports[module].get(name)
            if target is None or target[1] is None:
                return None
            module, name = target
        return module, name

    def _references(self, module: str, nodes: list[ast.AST]) -> set[Key]:
        """Definitions the nodes name directly or as ``module.attr``;
        function-local imports bind over the module's own names."""
        local = {}
        for n in (n for node in nodes for n in ast.walk(node)):
            local.update(self._bindings(module, n))
        scope = {**self.imports[module], **local}
        out = set()
        for n in (n for node in nodes for n in ast.walk(node)):
            if isinstance(n, ast.Name):
                target = local.get(n.id, (module, n.id))
            elif isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name):
                base = scope.get(n.value.id, (None, ""))
                target = (base[0], None if base[1] is not None else n.attr)
            else:
                continue
            key = target[1] is not None and self._lookup(*target)
            if key:
                out.add(key)
        return out

    def _digest(self, key: Key) -> bytes:
        if key not in self._digests:
            dump = "\n".join(ast.dump(s) for s in self.defs[key[0]][key[1]])
            self._digests[key] = hashlib.sha256(f"{key}{dump}".encode()).digest()
        return self._digests[key]

    def query_hash(self, query: str) -> str:
        """Hash of the query's entry and every definition it reaches."""
        module, root = self.roots[query]
        seen: set[Key] = set()
        todo = list(self._references(module, [root]))
        while todo:
            key = todo.pop()
            if key not in seen:
                seen.add(key)
                if key not in self._refs:
                    self._refs[key] = self._references(key[0], self.defs[key[0]][key[1]])
                todo.extend(self._refs[key])
        h = hashlib.sha256(f"{module}{ast.dump(root)}".encode())
        for key in sorted(seen):
            h.update(self._digest(key))
        return h.hexdigest()


def build_ledger() -> dict[str, dict]:
    """query -> {last_row_round, changed_since_row}; a query with no
    row (round 0) counts as changed."""
    markers = round_marker_commits()
    rows = last_row_rounds()
    now = Package(worktree_sources())
    then: dict[str, Package] = {}
    ledger: dict[str, dict] = {}
    for name in sorted(now.roots):
        row_round = rows.get(name, 0)
        changed = True
        if row_round in markers:
            sha = markers[row_round]
            if sha not in then:
                then[sha] = Package(commit_sources(sha))
            changed = name not in then[sha].roots or (
                then[sha].query_hash(name) != now.query_hash(name)
            )
        ledger[name] = {"last_row_round": row_round, "changed_since_row": changed}
    return ledger


def main() -> None:
    ledger = build_ledger()
    changed = sorted(q for q, e in ledger.items() if e["changed_since_row"])
    with open(LEDGER, "w") as f:
        json.dump({"queries": ledger, "changed_since_row": changed}, f, indent=1)
        f.write("\n")
    print(f"queries: {len(ledger)}  changed-since-row: {len(changed)}")
    for q in changed:
        print(f"  {q}  (row r{ledger[q]['last_row_round']})")
    print(f"-> {LEDGER}")


if __name__ == "__main__":
    main()
