"""Every package module is reached from something that runs: the
query registry, a benchmark, the Python-worker shim or a script.

The guard walks `ast` imports (function-level ones too) from the roots
below. A string constant that names a package module counts as an
import, which covers `importlib` lookups such as the package's lazy
re-export map. Importing `a.b.c` also runs `a` and `a.b`. A module
that only `tests/` imports fails the guard unless `KEEP` names it,
with the COVERAGE.md row that says why it stays.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "rdf_diff_store_spark"

ROOTS = (
    "__spark_entry__.py",
    "bench.py",
    "bench_extra.py",
    "pyspark_graft_worker.py",
    "perfbench/*.py",
    "scripts/*.py",
)

# module -> why it stays; each has its row in COVERAGE.md's
# "Reachability keep/remove" table
KEEP = {
    "rdf_diff_store_spark.streaming.kg_stream": "writes KG micro-batches (O-01..O-04)",
    "rdf_diff_store_spark.streaming.update_stream": "folds SPARQL Update batches (O-01..O-04)",
    "rdf_diff_store_spark.streaming.neardup": "near-dup filter before the writer (O-01..O-04)",
    "rdf_diff_store_spark.streaming.stateful": "latest-wins state fold (O-01..O-04)",
    "rdf_diff_store_spark.sources.git_history": "migration: rdf-diff-store git repo (O-01)",
    "rdf_diff_store_spark.sources.turtle_files": "migration: reference .ttl layout (O-01)",
}


def _package_modules() -> dict[str, str]:
    """Dotted module name -> file, for every module of the package."""
    mods = {}
    for path in glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
        if rel[-1] == "__init__":
            rel = rel[:-1]
        mods[".".join(rel)] = path
    return mods


def _imports(path: str, name: str, is_pkg: bool, known: dict[str, str]) -> set[str]:
    """The package modules that the file at `path` imports."""
    tree = ast.parse(open(path, encoding="utf-8").read(), path)
    here = name.split(".") if is_pkg else name.split(".")[:-1]
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                up = here[: len(here) - node.level + 1]
                base = ".".join(up + ([base] if base else []))
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            out.add(node.value)
    reached = set()
    for mod in out:
        parts = mod.split(".")
        reached.update(
            ".".join(parts[:i]) for i in range(1, len(parts) + 1)
            if ".".join(parts[:i]) in known
        )
    return reached


def unreached() -> set[str]:
    """Package modules that no root reaches."""
    known = _package_modules()
    roots = sorted({p for g in ROOTS for p in glob.glob(os.path.join(ROOT, g))})
    assert roots, "no root file found"
    seen: set[str] = set()
    todo = [m for p in roots for m in _imports(p, "__root__", False, known)]
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        path = known[mod]
        todo.extend(_imports(path, mod, path.endswith("__init__.py"), known) - seen)
    return set(known) - seen


def test_every_package_module_is_reached_or_kept():
    known, stray = _package_modules(), unreached()
    assert not stray - set(KEEP), (
        "reached only from tests/ (delete them, or add a KEEP line with "
        f"its COVERAGE.md row): {sorted(stray - set(KEEP))}"
    )
    # KEEP stays exact: no stale line for a deleted or now-reached module
    assert set(KEEP) <= set(known), sorted(set(KEEP) - set(known))
    assert set(KEEP) <= stray, f"a root reaches these now: {sorted(set(KEEP) - stray)}"
