"""Guard against code that no production path reaches.

Production paths are the package itself (CLI stages, registered queries,
operators they call), ``tools/``, ``perfbench/``, ``bench.py`` and
``__spark_entry__.py``.  A top-level function or class of the package
(outside ``queries.py``, whose registrations are reached by name through
``QUERIES``) is unreached when its name appears nowhere in that corpus
except in its own body.  The scan runs to a fixpoint: an unreached
definition's body is dropped from the corpus and the scan repeats, so a
private helper only dead code calls is unreached too.  An allow-listed
definition stays, so what it calls is reached.  A module's own
``__all__`` is not a use.  Tests are not in the corpus: code only a test
calls is unreached.

Spark-free: AST for the definitions, identifier counts for the uses.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "lvm_datapipe_spark"
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")

#: unreached definitions that stay, with the reason
ALLOWED = {
    "count_exchanges": "plan-shape checker the bucketing and CLI pipeline tests assert co-location with",
    "llava_conv_mode": "reference LLaVA conv-mode rule (llava_caption.py:77-92), golden-tested",
    "llava_stop_str": "reference LLaVA stop string (llava_caption.py:131), golden-tested",
    "tokenizer_image_token_ids": "reference llava.mm_utils image-token splice, golden-tested",
    "coca_text_tokens": "reference open_clip tokenize framing for CoCa, golden-tested",
    "clip_preprocess": "torch-free CLIP input contract (resize, crop, normalize), golden-tested",
    "validate_enums": "reference macvid enum domains as a CHECK-style filter, tested",
    "category_counts": "reference analyze_vids.py per-category counts, tested",
    "bloom_size": "Bloom sizing rule for bloom_bitmap's m_bits/n_hashes, tested",
}


def _corpus() -> dict[Path, str]:
    files = sorted(PACKAGE.rglob("*.py"))
    files += sorted((REPO / "tools").glob("*.py"))
    files += sorted((REPO / "perfbench").glob("*.py"))
    files += [REPO / "bench.py", REPO / "__spark_entry__.py"]
    texts = {}
    for path in files:
        text = path.read_text()
        lines = text.splitlines(keepends=True)
        for node in ast.parse(text).body if "__all__" in text else ():
            if isinstance(node, ast.Assign) and any(
                getattr(t, "id", None) == "__all__" for t in node.targets
            ):
                lines[node.lineno - 1 : node.end_lineno] = [""] * (
                    node.end_lineno - node.lineno + 1
                )
        texts[path] = "".join(lines)
    return texts


def _unreached(texts: dict[Path, str]) -> tuple[list[str], list[str]]:
    """(unreached definitions not allowed, allowed names that are reached)."""
    defs = []  # (where, name, identifier counts of the definition's source)
    for path, text in texts.items():
        if path.name == "queries.py" or PACKAGE not in path.parents:
            continue
        lines = text.splitlines(keepends=True)
        for node in ast.parse(text).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                start = min([node.lineno] + [d.lineno for d in node.decorator_list])
                src = "".join(lines[start - 1 : node.end_lineno])
                where = f"{path.relative_to(REPO)}:{start}"
                defs.append((where, node.name, Counter(IDENT.findall(src))))
    uses = Counter()
    for text in texts.values():
        uses.update(IDENT.findall(text))
    allowed = [d for d in defs if d[1] in ALLOWED]
    defs = [d for d in defs if d[1] not in ALLOWED]
    unreached = []
    while True:
        new = [d for d in defs if uses[d[1]] == d[2][d[1]]]
        if not new:
            reached = sorted(
                set(ALLOWED) - {n for _, n, own in allowed if uses[n] == own[n]}
            )
            return unreached, reached
        for where, name, own in new:
            uses.subtract(own)
            unreached.append(f"{where} {name}")
        defs = [d for d in defs if d not in new]


def test_every_package_definition_is_reached():
    unreached, reached = _unreached(_corpus())
    assert sorted(unreached) == []
    # an allow-list entry whose definition is reached again (or gone) goes
    assert reached == []


def test_every_package_module_is_imported():
    texts = _corpus()
    idents = {path: set(IDENT.findall(text)) for path, text in texts.items()}
    orphans = [
        str(path.relative_to(REPO))
        for path in sorted(PACKAGE.rglob("*.py"))
        if path.stem not in {"__init__", "__main__"}
        and not any(path.stem in ids for p, ids in idents.items() if p != path)
    ]
    assert orphans == []
