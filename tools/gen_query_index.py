"""Generate QUERY_INDEX.md: one row per declared query with oracle status,
the docstring's first sentence, and a clickable source location.
Regenerate after adding queries:

    python tools/gen_query_index.py
"""

from __future__ import annotations

import inspect
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    for stop in (". ", ".\n"):
        if stop in text:
            text = text[: text.index(stop) + 1]
            break
    return text if len(text) <= 220 else text[:217] + "..."


def render() -> str:
    """QUERY_INDEX.md's text for the registered queries."""
    from lvm_datapipe_spark.queries import ORACLE_SQL, QUERIES

    lines = [
        "# QUERY_INDEX — every declared query, generated",
        "",
        f"{len(QUERIES)} declared queries, {len(ORACLE_SQL)} with a full",
        "DuckDB value-hash oracle (the rest are rows-only by design —",
        "probabilistic or clustering-dependent, each with a deterministic",
        "oracle-checked twin named in its docstring).  Regenerated by",
        "`python tools/gen_query_index.py`; the per-query scale-shape audit",
        "is PLAN_AUDIT.md and the extension-operator inventory is",
        "COVERAGE.md.",
        "",
        "| query | oracle | summary | source |",
        "|---|---|---|---|",
    ]
    for name, fn in sorted(QUERIES.items()):
        src = inspect.unwrap(fn)
        file = os.path.relpath(inspect.getsourcefile(src), REPO)
        line = inspect.getsourcelines(src)[1]
        kind = "FULL" if name in ORACLE_SQL else "rows-only"
        summary = first_sentence(inspect.getdoc(fn)) or "(wired operator — see module docstring)"
        summary = summary.replace("|", "\\|")
        lines.append(f"| `{name}` | {kind} | {summary} | `{file}:{line}` |")
    lines.append("")
    return "\n".join(lines)


def main() -> None:
    out = os.path.join(REPO, "QUERY_INDEX.md")
    with open(out, "w") as f:
        f.write(render())
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
