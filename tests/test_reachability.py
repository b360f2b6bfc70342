"""Every top-level ``q_*`` query function and ``SQL_*`` oracle string in
plans/queries.py and plans/pipeline_ops.py must be used somewhere other
than its own definition — by the driver registry, another query, a
test, a tool or a benchmark. Docstrings and comments do not count as a
use: names are counted as NAME tokens of the source."""

import ast
import io
import re
import tokenize
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MODULES = ("web_crawler_spark/plans/queries.py",
           "web_crawler_spark/plans/pipeline_ops.py")


def _source_files():
    for p in sorted(ROOT.rglob("*.py")):
        if not any(part.startswith(".") for part in p.relative_to(ROOT).parts):
            yield p


def _name_counts(src: str) -> Counter:
    counts = Counter()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.NAME:
            counts[tok.string] += 1
        elif tok.type == tokenize.STRING and "f" in re.match(r"\w*", tok.string).group().lower():
            # before Python 3.12 an f-string is a single STRING token, but
            # its replacement fields are code
            tree = ast.parse(tok.string, mode="eval")
            counts.update(n.id for n in ast.walk(tree) if isinstance(n, ast.Name))
    return counts


def _definitions(path: Path) -> Counter:
    """Top-level q_* functions and SQL_* constants -> how often the
    module binds each name (a constant may be rebound once refined)."""
    defs = Counter()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, ast.FunctionDef) and node.name.startswith("q_"):
            defs[node.name] += 1
        elif isinstance(node, ast.Assign):
            defs.update(t.id for t in node.targets
                        if isinstance(t, ast.Name) and t.id.startswith("SQL_"))
    return defs


def test_every_query_and_oracle_string_is_used():
    used = Counter()
    for p in _source_files():
        used += _name_counts(p.read_text())
    unused = [f"{mod}:{name}"
              for mod in MODULES
              for name, n_defs in _definitions(ROOT / mod).items()
              if used[name] <= n_defs]
    assert not unused, "defined but never used:\n" + "\n".join(unused)
