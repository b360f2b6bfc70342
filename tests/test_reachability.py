"""Every top-level function, class and constant in web_crawler_spark/
must be used somewhere other than its own definition — by the engine,
the driver registry, another query, a test, a tool or a benchmark.
Docstrings, comments and imports do not count as a use: uses are read
from the syntax tree (names loaded, attributes, and strings spelling a
name, for lookups by name such as ``getattr``).

The catalog contract is checked the same way: ManifestCatalog's public
methods are exactly the ones its callers are declared to use, and the
manifest layout is read by no module but the catalog."""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "web_crawler_spark"
QUERY_MODULES = ("web_crawler_spark/plans/queries.py",
                 "web_crawler_spark/plans/pipeline_ops.py")
ALLOWED = {"__version__"}  # package metadata, read by tooling
_IDENT = re.compile(r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)*")


def _source_files():
    for p in sorted(ROOT.rglob("*.py")):
        if not any(part.startswith(".") for part in p.relative_to(ROOT).parts):
            yield p


def _uses(paths=None) -> Counter:
    """Names read in ``paths`` (default: all the repository's Python
    sources)."""
    used = Counter()
    for p in paths if paths is not None else _source_files():
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                used[node.id] += 1
            elif isinstance(node, ast.Attribute):
                used[node.attr] += 1
            elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
                  and _IDENT.fullmatch(node.value)):
                used.update(node.value.split("."))
    return used


def _definitions(path: Path) -> list[str]:
    """Top-level functions, classes and assigned names of a module."""
    names = []
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.append(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names.extend(t.id for t in targets if isinstance(t, ast.Name))
    return names


def _unused(paths, keep=lambda name: True) -> list[str]:
    used = _uses()
    return [f"{p.relative_to(ROOT)}:{name}"
            for p in paths for name in dict.fromkeys(_definitions(p))
            if keep(name) and name not in ALLOWED and not used[name]]


def test_every_query_and_oracle_string_is_used():
    unused = _unused([ROOT / m for m in QUERY_MODULES],
                     keep=lambda name: name.startswith(("q_", "SQL_")))
    assert not unused, "defined but never used:\n" + "\n".join(unused)


def test_every_top_level_name_is_used():
    unused = _unused(sorted(PACKAGE.rglob("*.py")))
    assert not unused, "defined but never used:\n" + "\n".join(unused)


# -- the catalog contract -------------------------------------------------
CATALOG = PACKAGE / "sources" / "catalog.py"
# what the engine, the reports and the benchmark call on ManifestCatalog,
# plus `rounds`, which expire_snapshots calls
ENGINE_CALLS = {
    "exists", "read", "read_part", "counters", "round", "staged_rowcount",
    "stage", "stage_local", "append", "append_local", "replace", "commit",
    "scratch", "discard_scratch", "parts", "compact", "expire_snapshots",
    "rounds",
}
# readers of the retained snapshot manifests that expire_snapshots keeps
SNAPSHOT_READERS = {"read_at", "history"}
# reached only from tests: upsert, additive schema evolution and the
# incremental-append scan — each goes together with the tests written
# for it, or moves to ENGINE_CALLS once an entry point calls it
TEST_ONLY = {"merge", "alter_add_columns", "read_changes"}


def _outside_tests():
    return [p for p in _source_files() if p.relative_to(ROOT).parts[0] != "tests"]


def _catalog_methods() -> set[str]:
    cls = next(n for n in ast.parse(CATALOG.read_text()).body
               if isinstance(n, ast.ClassDef) and n.name == "ManifestCatalog")
    return {n.name for n in cls.body
            if isinstance(n, ast.FunctionDef) and not n.name.startswith("_")}


def test_catalog_holds_only_what_its_callers_use():
    # an equality, not a use count: `merge` shares its name with
    # CuckooFilter.merge and bloom.merge, so counting names cannot see it
    declared = ENGINE_CALLS | SNAPSHOT_READERS | TEST_ONLY
    methods = _catalog_methods()
    assert methods == declared, (
        f"undeclared: {sorted(methods - declared)}, "
        f"gone: {sorted(declared - methods)}")
    used = _uses(_outside_tests())
    uncalled = [n for n in sorted(ENGINE_CALLS) if not used[n]]
    assert not uncalled, f"not called outside tests: {uncalled}"
    # a test-only name that gains a caller outside tests moves to
    # ENGINE_CALLS (names other modules define too are not checked)
    defined_elsewhere = {n.name for p in _outside_tests() if p != CATALOG
                         for n in ast.walk(ast.parse(p.read_text()))
                         if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))}
    reached = [n for n in sorted(SNAPSHOT_READERS | TEST_ONLY)
               if used[n] and n not in defined_elsewhere]
    assert not reached, f"called outside tests: {reached}"


def test_manifest_layout_stays_inside_the_catalog():
    readers = [f"{p.relative_to(ROOT)}:{n.lineno}" for p in _outside_tests()
               if p != CATALOG for n in ast.walk(ast.parse(p.read_text()))
               if isinstance(n, ast.Attribute) and n.attr == "manifest"]
    assert not readers, "reads ManifestCatalog.manifest: " + ", ".join(readers)
