"""Guard against code that no production path reaches.

Production paths are the package itself (CLI stages, registered queries,
operators they call), ``tools/``, ``perfbench/``, ``bench.py`` and
``__spark_entry__.py``.  A top-level function or class of the package is
unreached when no code in that corpus uses its name except its own body;
in ``queries.py`` only the definitions ``_q`` registers are exempt, since
``QUERIES`` reaches them by name.  Only code counts as a use: an AST
name, an attribute, an imported name, or an identifier inside a string
constant that is not a docstring (a ``getattr`` dispatch, a config key).
A name in a comment or a docstring is no use, and neither is a module's
own ``__all__``.  The scan runs to a fixpoint: an unreached definition's
uses are dropped and the scan repeats, so a private helper only dead
code calls is unreached too.  An allow-listed definition stays, so what
it calls is reached.  Tests are not in the corpus: code only a test
calls is unreached.  A package module is reached when another corpus
file imports it.

``test_every_option_is_set`` holds the package's parameters to the same
rule: a defaulted parameter of a top-level function or method that no
corpus call passes, by position or by keyword, is an option nothing sets.
Calls match a definition by name (``f(...)``, ``x.f(...)``, ``Cls(...)``
for ``__init__``, ``partial(f, ...)``, and ``w(...)`` after
``w = f if c else g``); a call that forwards ``*args`` or ``**kwargs``
passes everything.

Spark-free: AST only.
"""

from __future__ import annotations

import ast
import functools
import re
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "lvm_datapipe_spark"
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")

#: unreached definitions that stay, with the reason
ALLOWED = {
    "count_exchanges": "plan-shape checker the bucketing and CLI pipeline tests assert co-location with",
    "duration_stats": "reference aggregate test_cli checks analyze's one-pass aggregate against",
    "duration_histogram": "reference histogram test_cli checks analyze's one-pass aggregate against",
    "read_webdataset": "reader the webdataset writer tests check the written shards with",
}

#: defaulted parameters no corpus call passes that stay, with the reason
ALLOWED_OPTIONS = {
    **{
        f"similarity.{fn}({p})": "fixture size: tests run the kernel on 2-8-dim vectors"
        for fn, ps in (
            ("embedding_near_dup_pairs", ("dim",)),
            ("semdedup_keep", ("n_cells", "dim")),
            ("icl_chain_order", ("n_cells", "dim")),
            ("kcenter_coreset", ("k", "n_cells", "dim")),
        )
        for p in ps
    },
    "scenecut.pyscenedetect_bounds(scenedetect_mod)": "fake of the optional scenedetect dependency",
    "media.with_sampled_frames(target_hw)": "resize path the score stages keep (ROADMAP item 2)",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _docstring(node: ast.AST) -> ast.Constant | None:
    body = getattr(node, "body", None)
    first = body[0] if isinstance(body, list) and body else None
    if (
        isinstance(first, ast.Expr)
        and isinstance(first.value, ast.Constant)
        and isinstance(first.value.value, str)
    ):
        return first.value
    return None


def _uses(node: ast.AST, docstrings: set[int]) -> tuple[Counter, set[str]]:
    """(names the code under ``node`` uses, names its imports name)."""
    uses, imported = Counter(), set()
    for sub in ast.walk(node):  # breadth-first: a def comes before its body
        kind = type(sub)
        if kind is ast.Name:
            uses[sub.id] += 1
        elif kind is ast.Attribute:
            uses[sub.attr] += 1
        elif kind is ast.Constant:
            if type(sub.value) is str and id(sub) not in docstrings:
                uses.update(IDENT.findall(sub.value))
        elif kind in _DEFS:
            if (doc := _docstring(sub)) is not None:
                docstrings.add(id(doc))
        elif kind is ast.Import or kind is ast.ImportFrom:
            names = [p for a in sub.names for p in a.name.split(".")]
            if kind is ast.ImportFrom and sub.module:
                names += sub.module.split(".")
            uses.update(names)
            imported.update(names)
    return uses, imported


def _is_all(node: ast.stmt) -> bool:
    return isinstance(node, ast.Assign) and any(
        getattr(t, "id", None) == "__all__" for t in node.targets
    )


def _registered(node: ast.stmt) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "_q"
        for d in getattr(node, "decorator_list", ())
    )


@functools.cache
def _corpus(root: Path = REPO) -> dict[Path, list[tuple[ast.stmt, Counter, set[str]]]]:
    """Per production file: (top-level statement, its uses, its imports)."""
    files = sorted((root / PACKAGE.name).rglob("*.py"))
    files += sorted((root / "tools").glob("*.py"))
    files += sorted((root / "perfbench").glob("*.py"))
    files += [p for p in (root / "bench.py", root / "__spark_entry__.py") if p.exists()]
    corpus = {}
    for path in files:
        tree = ast.parse(path.read_text())
        doc = _docstring(tree)
        docstrings = {id(doc)} if doc is not None else set()
        corpus[path] = [
            (node, *_uses(node, docstrings))
            for node in tree.body
            if not _is_all(node)
        ]
    return corpus


def _unreached(root: Path = REPO, allowed=ALLOWED) -> tuple[list[str], list[str]]:
    """(unreached definitions not allowed, allowed names that are reached)."""
    package = root / PACKAGE.name
    defs = []  # (where, name, uses of the definition's own code)
    uses = Counter()
    for path, nodes in _corpus(root).items():
        for node, own, _ in nodes:
            uses.update(own)
            if (
                isinstance(node, _DEFS)
                and package in path.parents
                and not _registered(node)
            ):
                start = min([node.lineno] + [d.lineno for d in node.decorator_list])
                defs.append((f"{path.relative_to(root)}:{start}", node.name, own))
    allowed_defs = [d for d in defs if d[1] in allowed]
    defs = [d for d in defs if d[1] not in allowed]
    unreached = []
    while True:
        new = [d for d in defs if uses[d[1]] == d[2][d[1]]]
        if not new:
            reached = sorted(
                set(allowed)
                - {n for _, n, own in allowed_defs if uses[n] == own[n]}
            )
            return unreached, reached
        for where, name, own in new:
            uses.subtract(own)
            unreached.append(f"{where} {name}")
        defs = [d for d in defs if d not in new]


def _orphans(root: Path = REPO) -> list[str]:
    """Package modules no other corpus file imports."""
    corpus = _corpus(root)
    imported = {p: set().union(*(i for _, _, i in nodes)) for p, nodes in corpus.items()}
    return [
        str(path.relative_to(root))
        for path in sorted((root / PACKAGE.name).rglob("*.py"))
        if path.stem not in {"__init__", "__main__"}
        and not any(path.stem in ns for p, ns in imported.items() if p != path)
    ]


def _callee(node: ast.expr) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _aliases(tops: list[ast.stmt]) -> dict[str, set[str]]:
    """``x = f`` or ``x = f if c else g``: the names a call of ``x`` may
    reach."""
    out: dict[str, set[str]] = {}
    for top in tops:
        for node in ast.walk(top):
            if isinstance(node, ast.Assign) and len(node.targets) == 1:
                value = node.value
                held = [value.body, value.orelse] if isinstance(value, ast.IfExp) else [value]
                names = {n for n in map(_callee, held) if n}
                if isinstance(node.targets[0], ast.Name) and names:
                    out.setdefault(node.targets[0].id, set()).update(names)
    return out


def _passed(root: Path = REPO) -> tuple[Counter, dict[str, set]]:
    """Per callee name: the most positional arguments any corpus call
    passes, and every keyword any passes (``None``: a ``**`` forward)."""
    tops = [top for nodes in _corpus(root).values() for top, _, _ in nodes]
    aliases = _aliases(tops)
    positional, keywords = Counter(), {}
    for top in tops:
        for call in ast.walk(top):
            if not isinstance(call, ast.Call):
                continue
            name, args = _callee(call.func), list(call.args)
            if name == "partial" and args:
                name = _callee(args.pop(0))
            if name is None:
                continue
            for n in {name} | aliases.get(name, set()):
                if any(isinstance(a, ast.Starred) for a in args):
                    positional[n] = 1 << 30
                positional[n] = max(positional[n], len(args))
                keywords.setdefault(n, set()).update(k.arg for k in call.keywords)
    return positional, keywords


def _options(root: Path = REPO):
    """(where, key, callee names, position or None, parameter) for every
    defaulted parameter of a package function or method."""
    package = root / PACKAGE.name
    for path, nodes in _corpus(root).items():
        if package not in path.parents:
            continue
        funcs = []
        for top, _, _ in nodes:
            if isinstance(top, _FUNCS):
                funcs.append((top.name, top, [top.name], 0))
            elif isinstance(top, ast.ClassDef):
                for sub in top.body:
                    if isinstance(sub, _FUNCS):
                        static = any(
                            getattr(d, "id", None) == "staticmethod"
                            for d in sub.decorator_list
                        )
                        names = [top.name] if sub.name == "__init__" else [sub.name]
                        funcs.append((f"{top.name}.{sub.name}", sub, names, 0 if static else 1))
        for qual, fn, names, shift in funcs:
            a = fn.args
            params = a.posonlyargs + a.args
            first = len(params) - len(a.defaults)
            opts = [(p, i - shift) for i, p in enumerate(params) if i >= first]
            opts += [(p, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            for p, pos in opts:
                yield (
                    f"{path.relative_to(root)}:{fn.lineno}",
                    f"{path.stem}.{qual}({p.arg})",
                    names,
                    pos,
                    p.arg,
                )


def _unset_options(root: Path = REPO, allowed=ALLOWED_OPTIONS) -> tuple[list[str], list[str]]:
    """(options no corpus call sets and not allowed, allowed keys that are
    set or gone)."""
    positional, keywords = _passed(root)
    unset, keys = [], set()
    for where, key, names, pos, param in _options(root):
        keys.add(key)
        passed = any(
            (pos is not None and positional[n] > pos)
            or param in keywords.get(n, ())
            or None in keywords.get(n, ())
            for n in names
        )
        if passed:
            keys.discard(key)
        elif key not in allowed:
            unset.append(f"{where} {key}")
    return unset, sorted(set(allowed) - keys)


def test_every_package_definition_is_reached():
    unreached, reached = _unreached()
    assert sorted(unreached) == []
    # an allow-list entry whose definition is reached again (or gone) goes
    assert reached == []


def test_every_package_module_is_imported():
    assert _orphans() == []


def test_every_option_is_set():
    unset, stale = _unset_options()
    assert unset == []
    # an allow-list entry whose option is set again (or gone) goes
    assert stale == []


def test_only_code_counts_as_a_use(tmp_path):
    """A name only a docstring or a comment holds is no use; a
    non-docstring string (a ``getattr`` dispatch) is; a module only a
    comment names is not imported."""
    pkg = tmp_path / PACKAGE.name
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "ops.py").write_text(
        '"""Ops; see prose_only and comment_only."""\n'
        "def prose_only():\n"
        "    return 1\n"
        "def comment_only():\n"
        "    return 2\n"
        "def dispatched():\n"
        "    return 3\n"
        "def called():\n"
        '    """Unlike prose_only, called by main."""\n'
        "    return 4\n"
    )
    (pkg / "cli.py").write_text(
        '"""CLI; prose_only is no stage."""\n'
        "from lvm_datapipe_spark import ops  # comment_only, orphan\n"
        "def main():\n"
        '    """Run called, never prose_only."""\n'
        "    ops.called()\n"
        '    return getattr(ops, "dispatched")()\n'
    )
    (pkg / "__main__.py").write_text("from lvm_datapipe_spark.cli import main\nmain()\n")
    (pkg / "orphan.py").write_text("X = 1\n")
    unreached, _ = _unreached(tmp_path, allowed={})
    assert sorted(u.split()[1] for u in unreached) == ["comment_only", "prose_only"]
    assert _orphans(tmp_path) == [f"{PACKAGE.name}/orphan.py"]


def test_an_option_is_set_by_position_keyword_or_forward(tmp_path):
    """A defaulted parameter counts as set when a corpus call passes it by
    position (a method's ``self`` not counted) or by keyword, also through
    an alias, or forwards ``*args`` / ``**kwargs``; a test calling it is no
    use."""
    pkg = tmp_path / PACKAGE.name
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "ops.py").write_text(
        "def f(a, by_pos=1, by_kw=2, unset=3):\n"
        "    return a\n"
        "def g(a, fwd=1):\n"
        "    return a\n"
        "class C:\n"
        "    def __init__(self, x=1, y=2):\n"
        "        pass\n"
        "    def m(self, p=1, q=2):\n"
        "        pass\n"
    )
    (pkg / "cli.py").write_text(
        "from lvm_datapipe_spark import ops\n"
        "def main(*args):\n"
        "    ops.f(0, 1, by_kw=2)\n"
        "    ops.g(*args)\n"
        "    ops.C(5).m(6)\n"
        "    h = ops.f if args else ops.g\n"
        "    h(0, unset=4)\n"
    )
    tests = tmp_path / "tests"
    tests.mkdir()
    (tests / "test_ops.py").write_text("from lvm_datapipe_spark import ops\nops.C(1, y=3)\n")
    unset, stale = _unset_options(tmp_path, allowed={"ops.C.m(q)": "kept", "ops.g(fwd)": "gone"})
    assert sorted(u.split()[1] for u in unset) == ["ops.C.__init__(y)"]
    assert stale == ["ops.g(fwd)"]
