"""Guard against copied code: a block that two callers share is written
once, as a helper both call.

The scan reads every ``.py`` file of the package.  Each line loses its
comment and its surrounding whitespace; blank lines, import statements and
docstrings are dropped.  Every run of ``WINDOW`` consecutive remaining lines
of one file is a window.  A window whose text appears again later in the
package, in the same file or another, is a copy: the guard reports the
``file:line`` of both, once per family of overlapping windows, with the
top-level definition that holds each.  Copies that differ only in comments,
docstrings, imports or indentation are still copies; one changed line in
every window is not.

A family stays when ``ALLOWED`` names it, keyed by the two holding
definitions (``path::name``), with the reason; an allowed family the scan
no longer finds is stale and fails too.

Spark-free: ``ast`` and ``tokenize`` only.
"""

from __future__ import annotations

import ast
import io
import tokenize
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "lvm_datapipe_spark"
WINDOW = 8

#: copy families that stay, keyed ``"<path>::<def> == <path>::<def>"``
#: (earlier copy first), with the reason
ALLOWED: dict[str, str] = {}

_DOC_HOLDERS = (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _holder(node: ast.stmt) -> str:
    """The name a top-level statement defines, for the report."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return node.name
    targets = getattr(node, "targets", None) or [getattr(node, "target", None)]
    names = [t.id for t in targets if isinstance(t, ast.Name)]
    return names[0] if names else f"<line {node.lineno}>"


def _code_lines(src: str) -> list[tuple[int, str, str]]:
    """``(line number, stripped code text, holding definition)`` of every
    line that is not blank, a comment, an import or a docstring."""
    tree = ast.parse(src)
    dropped: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            dropped.update(range(node.lineno, node.end_lineno + 1))
        body = getattr(node, "body", None)
        if isinstance(node, _DOC_HOLDERS) and body:
            first = body[0]
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                dropped.update(range(first.lineno, first.end_lineno + 1))
    lines = src.splitlines()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT:
            row, col = tok.start
            lines[row - 1] = lines[row - 1][:col]
    holder = {}
    for node in tree.body:
        start = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])])
        for n in range(start, node.end_lineno + 1):
            holder[n] = _holder(node)
    return [
        (n, text.strip(), holder.get(n, "<module>"))
        for n, text in enumerate(lines, start=1)
        if n not in dropped and text.strip()
    ]


def _copies(root: Path = REPO, allowed=ALLOWED) -> tuple[list[str], list[str]]:
    """(copy families not allowed, allowed keys no longer found)."""
    first: dict[tuple[str, ...], tuple[str, int, str]] = {}
    families: dict[str, tuple[str, str]] = {}
    for path in sorted((root / PACKAGE.name).rglob("*.py")):
        rel = str(path.relative_to(root))
        lines = _code_lines(path.read_text())
        for k in range(len(lines) - WINDOW + 1):
            text = tuple(t for _, t, _ in lines[k : k + WINDOW])
            here = (rel, lines[k][0], lines[k][2])
            if text not in first:
                first[text] = here
                continue
            there = first[text]
            key = f"{there[0]}::{there[2]} == {here[0]}::{here[2]}"
            # one report per family: the first window of the run
            families.setdefault(
                key, (f"{there[0]}:{there[1]} ({there[2]})", f"{here[0]}:{here[1]} ({here[2]})")
            )
    found = [f"{a} copied at {b}" for key, (a, b) in families.items() if key not in allowed]
    return found, sorted(set(allowed) - set(families))


def test_no_copied_code():
    copies, stale = _copies()
    assert copies == []
    # an allow-list entry whose copy is gone goes too
    assert stale == []


def test_the_scan_flags_copies_not_near_copies(tmp_path):
    """A block copied across two files is flagged, with both positions;
    the same block with one line changed is not; a copy that differs
    only in comments, docstrings, imports or indentation is; an allowed
    family that is gone is stale."""
    body = [f"    v{i} = v{i - 1} * {i} + len(x)" for i in range(1, 8)] + ["    return v7"]
    pkg = tmp_path / PACKAGE.name
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "a.py").write_text("def f(x):\n    v0 = 1\n" + "\n".join(body) + "\n")
    (pkg / "b.py").write_text("def g(x):\n    v0 = 2\n" + "\n".join(body) + "\n")
    changed = body[:3] + ["    v4 = v3 * 5 - len(x)"] + body[4:]
    (pkg / "c.py").write_text("def h(x):\n    v0 = 3\n" + "\n".join(changed) + "\n")
    disguised = (
        ['"""Module docstring."""', "import os", "", "", "class K:", "    def k(self, x):"]
        + ['        """Doc."""', "        v0 = 4"]
        + ["    " + line + "  # note" for line in body[:4]]
        + ["        # a comment line", "        from os import path", ""]
        + ["    " + line for line in body[4:]]
    )
    (pkg / "d.py").write_text("\n".join(disguised) + "\n")

    copies, stale = _copies(tmp_path, allowed={"x.py::gone == y.py::gone": "stale"})
    assert copies == [
        f"{PACKAGE.name}/a.py:3 (f) copied at {PACKAGE.name}/b.py:3 (g)",
        f"{PACKAGE.name}/a.py:3 (f) copied at {PACKAGE.name}/d.py:9 (K)",
    ]
    assert stale == ["x.py::gone == y.py::gone"]

    allowed = {
        f"{PACKAGE.name}/a.py::f == {PACKAGE.name}/b.py::g": "kept",
        f"{PACKAGE.name}/a.py::f == {PACKAGE.name}/d.py::K": "kept",
    }
    assert _copies(tmp_path, allowed=allowed) == ([], [])
