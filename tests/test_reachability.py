"""Every top-level function, class and constant in web_crawler_spark/
must be used somewhere other than its own definition — by the engine,
the driver registry, another query, a test, a tool or a benchmark.
Docstrings, comments and imports do not count as a use: uses are read
from the syntax tree (names loaded, attributes, and strings spelling a
name, for lookups by name such as ``getattr``)."""

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


def _uses() -> Counter:
    """Names read anywhere in the repository's Python sources."""
    used = Counter()
    for p in _source_files():
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
