"""Every package module, and every top-level function and class in it,
is reached from something that runs: the query registry, a benchmark,
the Python-worker shim or a script.

The guard is pure `ast` and name-based. Its units are the root files,
the module-level statements of each package module (decorators, class
bases and default values included) and each top-level `def`/`class`.
A unit references:

- a module, through an import (function-level ones too) or a string
  constant that is exactly a dotted identifier naming it; importing
  `a.b.c` also runs `a` and `a.b`;
- a name, through an `ast.Name`, an `ast.Attribute`, an import alias
  or such a string constant (each of its dotted parts).

A module is reached when a reached unit references it; its
module-level statements then run. A top-level `def`/`class` is reached
when its module is reached and a reached unit references its name;
its body then counts too. A module hook (a dunder name such as
`__getattr__`) is reached with its module. Being name-based, the
guard can over-count but never fails falsely.

A module or `module:name` that only `tests/` reaches fails the guard
unless `KEEP` names it, with the COVERAGE.md row that says why it
stays. A kept module acts as a root.
"""

from __future__ import annotations

import ast
import glob
import os
import re

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

# module or module:name -> why it stays; each has its row in
# COVERAGE.md's "Reachability keep/remove" table
KEEP = {
    "rdf_diff_store_spark.streaming.kg_stream": "writes KG micro-batches (O-01..O-04)",
    "rdf_diff_store_spark.streaming.update_stream": "folds SPARQL Update batches (O-01..O-04)",
    "rdf_diff_store_spark.streaming.neardup": "near-dup filter before the writer (O-01..O-04)",
    "rdf_diff_store_spark.streaming.stateful": "latest-wins state fold (O-01..O-04)",
    "rdf_diff_store_spark.sources.git_history": "migration: rdf-diff-store git repo (O-01)",
    "rdf_diff_store_spark.sources.turtle_files": "migration: reference .ttl layout (O-01)",
    "rdf_diff_store_spark.operators.caching:SnapshotCache": "prettified and query tiers (O-15/O-16)",
    "rdf_diff_store_spark.operators.similarity:cosine_topk": "exact reference for ivf_topk's recall tests",
}

_DOTTED = re.compile(r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*\Z")


def _package_modules() -> dict[str, str]:
    """Dotted module name -> file, for every module of the package."""
    mods = {}
    for path in glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
        if rel[-1] == "__init__":
            rel = rel[:-1]
        mods[".".join(rel)] = path
    return mods


def _refs(nodes, here: list[str]) -> tuple[set[str], set[str]]:
    """(dotted module candidates, names) that the AST `nodes` reference.
    `here` is the package that relative imports resolve against."""
    mods: set[str] = set()
    names: set[str] = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.Import):
                for a in node.names:
                    mods.add(a.name)
                    names.update(a.name.split("."))
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    up = here[: len(here) - node.level + 1]
                    base = ".".join(up + ([base] if base else []))
                mods.add(base)
                for a in node.names:
                    mods.add(f"{base}.{a.name}")
                    names.add(a.name)
            elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
                  and _DOTTED.match(node.value)):
                mods.add(node.value)
                names.update(node.value.split("."))
    return mods, names


def _module_prefixes(cands: set[str], known) -> set[str]:
    out = set()
    for mod in cands:
        parts = mod.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1)
                   if ".".join(parts[:i]) in known)
    return out


class _Module:
    """A package module split into its module-level unit and its
    top-level definitions."""

    def __init__(self, name: str, path: str):
        tree = ast.parse(open(path, encoding="utf-8").read(), path)
        is_pkg = path.endswith("__init__.py")
        self.here = name.split(".") if is_pkg else name.split(".")[:-1]
        self.defs: dict[str, ast.AST] = {}
        level: list[ast.AST] = []
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self.defs[node.name] = node
                level.extend(node.decorator_list)
                if isinstance(node, ast.ClassDef):
                    level.extend(node.bases + node.keywords)
                else:
                    level.extend(node.args.defaults + node.args.kw_defaults)
            else:
                level.append(node)
        self.level = [n for n in level if n is not None]

    def hooks(self) -> set[str]:
        return {n for n in self.defs if n.startswith("__") and n.endswith("__")}


def reached(keep=()) -> tuple[set[str], set[str]]:
    """(reached modules, reached `module:name` defs) from the roots,
    plus the modules and names in `keep`."""
    known = _package_modules()
    parsed = {m: _Module(m, p) for m, p in known.items()}
    roots = sorted({p for g in ROOTS for p in glob.glob(os.path.join(ROOT, g))})
    assert roots, "no root file found"

    mods: set[str] = set()
    names: set[str] = set()
    defs: set[str] = set()
    pending: list[tuple[set[str], set[str]]] = []

    for path in roots:
        tree = ast.parse(open(path, encoding="utf-8").read(), path)
        pending.append(_refs([tree], []))
    for entry in keep:
        mod, _, name = entry.partition(":")
        if name:
            pending.append(({mod}, {name}))
        else:
            m = parsed[mod]
            pending.append(_refs(list(m.defs.values()), m.here))
            pending.append(({mod}, set(m.defs)))

    while pending:
        new_mods, new_names = pending.pop()
        new_mods = _module_prefixes(new_mods, known) - mods
        new_names = new_names - names
        mods |= new_mods
        names |= new_names
        for mod in new_mods:
            m = parsed[mod]
            pending.append(_refs(m.level, m.here))
            pending.append((set(), m.hooks()))
        # a def is reached once both its module and its name are
        for mod in mods:
            m = parsed[mod]
            for name in m.defs.keys() & names:
                key = f"{mod}:{name}"
                if key not in defs:
                    defs.add(key)
                    pending.append(_refs([m.defs[name]], m.here))
    return mods, defs


def unreached(keep=()) -> set[str]:
    """Modules and `module:name` defs that nothing reaches."""
    known = _package_modules()
    everything = set(known) | {
        f"{mod}:{name}" for mod, path in known.items()
        for name in _Module(mod, path).defs
    }
    mods, defs = reached(keep)
    stray = everything - mods - defs
    # a def in an unreached module is named by its module
    return {s for s in stray if s.partition(":")[0] not in stray or ":" not in s}


def test_every_package_module_is_reached_or_kept():
    stray = unreached(KEEP)
    assert not stray, (
        "reached only from tests/ (route a caller to it, delete it with its "
        f"tests, or add a KEEP line with its COVERAGE.md row): {sorted(stray)}"
    )


def test_keep_is_exact():
    known = _package_modules()
    for entry in KEEP:
        mod, _, name = entry.partition(":")
        assert mod in known, f"KEEP names a missing module: {entry}"
        assert not name or name in _Module(mod, known[mod]).defs, (
            f"KEEP names a missing definition: {entry}")
    # no stale line: the roots alone do not reach a kept entry
    stray = unreached()
    assert set(KEEP) <= stray, f"a root reaches these now: {sorted(set(KEEP) - stray)}"
    coverage = open(os.path.join(ROOT, "COVERAGE.md"), encoding="utf-8").read()
    for entry in KEEP:
        mod, _, name = entry.partition(":")
        row = mod[len(PACKAGE) + 1:].replace(".", "/") + ".py" + (f"::{name}" if name else "")
        assert f"`{row}`" in coverage, f"no COVERAGE.md row for KEEP entry {entry}: `{row}`"


def test_lazy_reexports_resolve():
    """Every name in the package's lazy re-export map (`__getattr__`)
    resolves, so a deletion cannot leave a dangling re-export."""
    import importlib

    pkg = importlib.import_module(PACKAGE)
    hook = _Module(PACKAGE, _package_modules()[PACKAGE]).defs["__getattr__"]
    lazy = next(
        n.value for n in ast.walk(hook)
        if isinstance(n, ast.Assign) and n.targets[0].id == "lazy"
    )
    names = [k.value for k in lazy.keys]
    assert names
    for name in names:
        assert callable(getattr(pkg, name)), name
