"""Guard against code that no production path reaches.

Production paths are the package itself (CLI stages, registered queries,
operators they call), ``tools/``, ``perfbench/``, ``bench.py`` and
``__spark_entry__.py``.  A top-level function or class of the package is
unreached when no code in that corpus uses its name except its own body;
in the ``queries/`` modules only the definitions ``_q`` registers are
exempt, since ``QUERIES`` reaches them by name.  Only code counts as a
use: an AST name, an attribute, an imported name, or an identifier inside
a string constant that is not a docstring (a ``getattr`` dispatch, a
config key).
A name in a comment or a docstring is no use, and neither is a module's
own ``__all__``.  The scan runs to a fixpoint: an unreached definition's
uses are dropped and the scan repeats, so a private helper only dead
code calls is unreached too.  An allow-listed definition stays, so what
it calls is reached.  Tests are not in the corpus: code only a test
calls is unreached.  A package module is reached when another corpus
file imports it.

``test_every_option_is_set`` holds the package's parameters to the same
rule: a parameter of a top-level function or method, required or
defaulted, stays only when the corpus uses at least two distinct values
for it; with one value in use it is a constant.  Each matching call uses
one value: the argument it passes by position or by keyword, or the
default when it omits the parameter.  A literal, or a name no enclosing
function or comprehension binds (a module constant such as
``IVF_CELLS``), is compared by its source text; any other argument (a
parameter, a local or loop variable, a name a nested ``def``, ``class``,
import, ``with ... as`` or ``except ... as`` binds, an expression) may
hold any value, and so may a ``*args`` / ``**kwargs`` forward.  Two kinds
of required parameter are exempt: a ``_q``-registered query's, which
``QUERIES`` calls with every ``sf_dir``, and one no corpus call passes,
whose function a table dispatches (a CLI handler, a pickler hook).
Calls match a definition by name: ``f(...)``, ``partial(f, ...)``,
``w(...)`` after ``w = f if c else g``, ``Cls(...)`` for ``__init__``,
and ``x.f(...)`` where ``x`` is a name the file imports from the package;
a method also matches any ``x.m(...)``, so a foreign object's method call
(a model's ``generate``) sets no package function's options.

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

#: parameters with fewer than two values in use that stay, with the reason
ALLOWED_OPTIONS = {
    "scenecut.pyscenedetect_bounds(scenedetect_mod)": "fake of the optional scenedetect dependency",
    "media.with_sampled_frames(target_hw)": "resize path the score stages keep (ROADMAP item 2)",
    "similarity.embedding_near_dup_pairs(threshold)": (
        "exact recall oracle: tests compare lsh_near_dup_pairs with it at the queries' 0.4"
    ),
    "fakevideo.generate(n_scenes)": "test fixture: the scene-cut tests pin a video's scene count",
    **{
        f"fakevideo.generate({p})": "test fixture size: the CLI resize test decodes 96x128 frames"
        for p in ("height", "width")
    },
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


def _package_names(tops: list[ast.stmt]) -> set[str]:
    """Names a file binds by importing from the package."""
    return {
        a.asname or a.name
        for top in tops
        for node in ast.walk(top)
        if isinstance(node, ast.ImportFrom)
        and (node.module or "").split(".")[0] == PACKAGE.name
        for a in node.names
    }


def _callee(node: ast.expr, modules: set[str]) -> str | None:
    """The key a call of ``node`` matches definitions by: ``f`` for a
    name or an attribute of a name imported from the package, ``.f`` for
    any other attribute (a method call, which only methods match)."""
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        held = node.value
        return node.attr if isinstance(held, ast.Name) and held.id in modules else "." + node.attr
    return None


def _aliases(tops: list[ast.stmt], modules: set[str]) -> dict[str, set[str]]:
    """``x = f`` or ``x = f if c else g``: the keys a call of ``x`` may
    reach."""
    out: dict[str, set[str]] = {}
    for top in tops:
        for node in ast.walk(top):
            if isinstance(node, ast.Assign) and len(node.targets) == 1:
                value = node.value
                held = [value.body, value.orelse] if isinstance(value, ast.IfExp) else [value]
                names = {n for n in (_callee(h, modules) for h in held) if n}
                if isinstance(node.targets[0], ast.Name) and names:
                    out.setdefault(node.targets[0].id, set()).update(names)
    return out


_COMPS = (ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp)


def _binds(node: ast.AST) -> set[str]:
    """The names a statement or expression under a scope binds: a stored
    name (an assignment, a loop or ``with ... as`` target), a nested
    ``def`` or ``class``, an import, an ``except ... as``."""
    if isinstance(node, ast.Name):
        return {node.id} if isinstance(node.ctx, ast.Store) else set()
    if isinstance(node, _DEFS):
        return {node.name}
    if isinstance(node, (ast.Import, ast.ImportFrom)):
        return {(a.asname or a.name).split(".")[0] for a in node.names}
    if isinstance(node, ast.ExceptHandler):
        return {node.name} if node.name else set()
    return set()


def _scoped_calls(node: ast.AST, bound: frozenset = frozenset()):
    """Every call under ``node``, with the names its enclosing functions
    and comprehensions bind (parameters, locals, loop targets, nested
    definitions and imports)."""
    if isinstance(node, (*_FUNCS, ast.Lambda, *_COMPS)):
        a = getattr(node, "args", None)
        params = a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg] if a else []
        bound = bound | {p.arg for p in params if p}
        for sub in ast.walk(node):
            if sub is not node:
                bound |= _binds(sub)
    if isinstance(node, ast.Call):
        yield node, bound
    for child in ast.iter_child_nodes(node):
        yield from _scoped_calls(child, bound)


#: the value of an argument that may hold any value, and a ``*`` forward
EVERY, FORWARD = object(), object()


def _value(node: ast.expr, bound: frozenset) -> object:
    """A literal, or a name no enclosing function or comprehension binds
    (a module constant), is its source text; anything else may hold any
    value."""
    if isinstance(node, ast.Name):
        return EVERY if node.id in bound else node.id
    try:
        ast.literal_eval(node)
    except ValueError:
        return EVERY
    return ast.unparse(node)


def _calls(root: Path = REPO) -> dict[str, list[tuple[list[object], dict[str, object]]]]:
    """Per callee key: the positional and keyword argument values of every
    corpus call that may reach it; a ``*`` forward is positional
    ``FORWARD``, a ``**`` forward keyword ``None``."""
    out: dict[str, list] = {}
    for nodes in _corpus(root).values():
        tops = [top for top, _, _ in nodes]
        modules = _package_names(tops)
        aliases = _aliases(tops, modules)
        for top in tops:
            for call, bound in _scoped_calls(top):
                name, args = _callee(call.func, modules), list(call.args)
                if name in ("partial", ".partial") and args:
                    name = _callee(args.pop(0), modules)
                if name is None:
                    continue
                values = [
                    FORWARD if isinstance(a, ast.Starred) else _value(a, bound) for a in args
                ]
                given = {
                    k.arg: EVERY if k.arg is None else _value(k.value, bound)
                    for k in call.keywords
                }
                for n in {name} | aliases.get(name, set()):
                    out.setdefault(n, []).append((values, given))
    return out


def _options(root: Path = REPO):
    """(where, key, callee keys, position or None, parameter, default or
    None) for every parameter of a package function or method but a
    method's ``self``, ``*args`` and ``**kwargs``; a ``_q``-registered
    query's required parameters are exempt."""
    package = root / PACKAGE.name
    for path, nodes in _corpus(root).items():
        if package not in path.parents:
            continue
        funcs = []
        for top, _, _ in nodes:
            if isinstance(top, _FUNCS):
                funcs.append((top.name, top, [top.name], 0, _registered(top)))
            elif isinstance(top, ast.ClassDef):
                for sub in top.body:
                    if isinstance(sub, _FUNCS):
                        static = any(
                            getattr(d, "id", None) == "staticmethod"
                            for d in sub.decorator_list
                        )
                        names = [top.name] if sub.name == "__init__" else [sub.name, "." + sub.name]
                        funcs.append(
                            (f"{top.name}.{sub.name}", sub, names, 0 if static else 1, False)
                        )
        for qual, fn, names, shift, query in funcs:
            a = fn.args
            params = a.posonlyargs + a.args
            defaults = [None] * (len(params) - len(a.defaults)) + a.defaults
            opts = [
                (p, i - shift, d)
                for i, (p, d) in enumerate(zip(params, defaults))
                if i >= shift and (d is not None or not query)
            ]
            opts += [
                (p, None, d)
                for p, d in zip(a.kwonlyargs, a.kw_defaults)
                if d is not None or not query
            ]
            for p, pos, default in opts:
                yield (
                    f"{path.relative_to(root)}:{fn.lineno}",
                    f"{path.stem}.{qual}({p.arg})",
                    names,
                    pos,
                    p.arg,
                    default,
                )


def _unset_options(root: Path = REPO, allowed=ALLOWED_OPTIONS) -> tuple[list[str], list[str]]:
    """(options with fewer than two values in use and not allowed, allowed
    keys that have two or are gone)."""
    calls = _calls(root)
    unset, keys = [], set()
    for where, key, names, pos, param, default in _options(root):
        keys.add(key)
        values = set()
        for args, given in (c for n in names for c in calls.get(n, ())):
            if pos is not None and FORWARD in args[: pos + 1]:
                values.add(EVERY)
            elif pos is not None and pos < len(args):
                values.add(args[pos])
            elif param in given:
                values.add(given[param])
            elif None in given or default is None:
                values.add(EVERY)
            else:
                values.add(_value(default, frozenset()))
        if EVERY in values or len(values) > 1 or (default is None and not values):
            # a required parameter no corpus call passes is a dispatch
            # target's (a CLI handler table, a pickler hook)
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
    """A defaulted parameter is set when corpus calls use two distinct
    values for it: passed by position (a method's ``self`` not counted) or
    by keyword, also through an alias, omitted (the default), or any value
    through a ``*args`` / ``**kwargs`` forward or a non-literal argument (a
    loop variable included).
    Passed only its default, or one other literal that no call omits, or
    one module constant, it is unset; a foreign object's ``fm(**kw)`` sets
    no package function ``fm``; a test calling it is no use."""
    pkg = tmp_path / PACKAGE.name
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "ops.py").write_text(
        "def f(a, by_pos=1, by_kw=2, by_alias=3, default_only=4):\n"
        "    return a\n"
        "def k(a, one_other=5, by_const=6):\n"
        "    return a\n"
        "def g(a, fwd=1):\n"
        "    return a\n"
        "def fm(a, foreign=1):\n"
        "    return a\n"
        "def q(a, in_loop=1):\n"
        "    return a\n"
        "class C:\n"
        "    def __init__(self, x=1, y=2):\n"
        "        pass\n"
        "    def m(self, p=1, q=2):\n"
        "        pass\n"
    )
    (pkg / "cli.py").write_text(
        "from lvm_datapipe_spark import ops\n"
        "LIMIT = 9\n"
        "Q = [ops.q(n, in_loop=n) for n in (LIMIT, 2)]\n"
        "def main(model, *args, **kw):\n"
        "    ops.f(0, 7, by_kw=8, default_only=4)\n"
        "    ops.f(model, by_pos=args)\n"
        "    ops.k(0, one_other=0, by_const=LIMIT)\n"
        "    ops.k(1, 0, LIMIT)\n"
        "    ops.g(*args)\n"
        "    model.fm(**kw)\n"
        "    ops.C(5).m(6)\n"
        "    ops.C(x=args[0]).m(p=7)\n"
        "    h = ops.f if args else ops.g\n"
        "    h(0, by_alias=args[1])\n"
    )
    tests = tmp_path / "tests"
    tests.mkdir()
    (tests / "test_ops.py").write_text("from lvm_datapipe_spark import ops\nops.C(1, y=3)\n")
    unset, stale = _unset_options(tmp_path, allowed={"ops.C.m(q)": "kept", "ops.g(fwd)": "gone"})
    assert sorted(u.split()[1] for u in unset) == [
        "ops.C.__init__(y)",
        "ops.f(default_only)",
        "ops.fm(foreign)",
        "ops.k(by_const)",
        "ops.k(one_other)",
    ]
    assert stale == ["ops.g(fwd)"]


def test_a_required_parameter_is_set_like_an_option(tmp_path):
    """A required parameter that every call passes one literal or one
    module constant is unset; a parameter, a local, a loop variable or a
    nested ``def`` passed to it sets it, and so does a name an import or
    a ``with``/``except ... as`` binds.  A ``_q``-registered query's
    required parameters are exempt, and so are those of a function no
    call reaches (a dispatch table's)."""
    pkg = tmp_path / PACKAGE.name
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "ops.py").write_text(
        "def one_lit(df, col):\n"
        "    return df\n"
        "def one_const(df, n):\n"
        "    return df\n"
        "def by_param(df, col):\n"
        "    return df\n"
        "def by_local(df, col):\n"
        "    return df\n"
        "def by_loop(df, col):\n"
        "    return df\n"
        "def by_closure(df, fn):\n"
        "    return df\n"
        "def by_binding(df, a, b, c):\n"
        "    return df\n"
        "def dispatched(spark, args):\n"
        "    return args\n"
        "HANDLERS = {'x': dispatched}\n"
    )
    (pkg / "queries").mkdir()
    (pkg / "queries" / "__init__.py").write_text("from lvm_datapipe_spark.queries import family\n")
    (pkg / "queries" / "_shared.py").write_text("def _q(name):\n    return lambda f: f\n")
    (pkg / "queries" / "family.py").write_text(
        "from lvm_datapipe_spark.queries._shared import _q\n"
        "@_q('query')\n"
        "def query(spark, sf_dir):\n"
        "    return sf_dir\n"
        "@_q('other')\n"
        "def other(spark, sf_dir):\n"
        "    return sf_dir\n"
        "def helper(spark, sf_dir):\n"
        "    return sf_dir\n"
        "def run(spark):\n"
        "    return query(spark, 'sf1'), helper(spark, 'sf1')\n"
    )
    (pkg / "cli.py").write_text(
        "from lvm_datapipe_spark import ops\n"
        "WIDTH = 9\n"
        "def main(df, col):\n"
        "    ops.one_lit(df, 'k')\n"
        "    ops.one_lit(df, col='k')\n"
        "    ops.one_const(df, WIDTH)\n"
        "    ops.by_param(df, col)\n"
        "    name = col.upper()\n"
        "    ops.by_local(df, name)\n"
        "    for c in ('a', 'b'):\n"
        "        ops.by_loop(df, c)\n"
        "    def scorer(x):\n"
        "        return x\n"
        "    ops.by_closure(df, scorer)\n"
        "    import json as codec\n"
        "    with open(col) as fh:\n"
        "        try:\n"
        "            pass\n"
        "        except ValueError as err:\n"
        "            ops.by_binding(df, codec, fh, err)\n"
    )
    unset, _ = _unset_options(tmp_path, allowed={})
    assert sorted(u.split()[1] for u in unset) == [
        "family.helper(sf_dir)",
        "ops.one_const(n)",
        "ops.one_lit(col)",
    ]
