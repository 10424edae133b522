"""QUERY_INDEX.md and the ``[[name]]`` cross-references in query docstrings
stay true to the registry, and the query families stay independent.
Spark-free: imports the registry and parses its modules only."""

from __future__ import annotations

import ast
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "lvm_datapipe_spark.queries"
QUERY_DIR = REPO / "lvm_datapipe_spark" / "queries"
sys.path.insert(0, str(REPO / "tools"))

import gen_query_index  # noqa: E402


def test_committed_index_equals_render():
    """Regenerate with ``python tools/gen_query_index.py``."""
    assert (REPO / "QUERY_INDEX.md").read_text() == gen_query_index.render()


def test_every_query_link_names_a_registered_query():
    from lvm_datapipe_spark.queries import QUERIES

    dangling = [
        f"{path.name}:{i}: [[{name}]]"
        for path in sorted(QUERY_DIR.glob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        for name in re.findall(r"\[\[([^\]]*)\]\]", line)
        if name not in QUERIES
    ]
    assert not dangling, dangling


def test_no_family_module_imports_a_sibling():
    """A family module imports from ``_shared`` and the operators, never
    from another family: each family can move or change on its own."""
    families = {p.stem for p in QUERY_DIR.glob("*.py")} - {"__init__", "_shared"}
    sibling = []
    for path in sorted(QUERY_DIR.glob("*.py")):
        if path.stem not in families:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom):
                # a relative import resolves against the package
                base = ".".join(filter(None, [PACKAGE if node.level else "", node.module]))
                targets = [base] + [f"{base}.{a.name}" for a in node.names]
            elif isinstance(node, ast.Import):
                targets = [a.name for a in node.names]
            else:
                continue
            if any(
                t.startswith(f"{PACKAGE}.") and t[len(PACKAGE) + 1 :].split(".")[0] in families
                for t in targets
            ):
                sibling.append(f"{path.name}:{node.lineno}: {ast.unparse(node)}")
    assert not sibling, sibling
