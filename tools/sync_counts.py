"""Sync the declared/oracle-paired query counts into the docs.

The repo states its inventory (N declared / M oracle-paired) in README,
ARCHITECTURE, and the __spark_entry__ rotation comment; three review
rounds caught these drifting after query additions.  This derives both
numbers from the registry and rewrites every known phrasing in place —
always against the REPO ROOT (not the cwd), with round-agnostic
patterns, and a NONZERO exit when any pattern fails to match (a silent
no-match is exactly the drift this tool exists to stop).

Usage: python tools/sync_counts.py   (idempotent; prints what changed)
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, ROOT)
    from lvm_datapipe_spark.queries import ORACLE_SQL, QUERIES

    nq, no = len(QUERIES), len(ORACLE_SQL)
    rules = {
        "README.md": [
            (r"\d+ named queries = the driver contract \(\d+ DuckDB-oracle-checked\)",
             f"{nq} named queries = the driver contract ({no} DuckDB-oracle-checked)"),
        ],
        "ARCHITECTURE.md": [
            (r"\*\*\d+ declared queries, \d+ oracle-paired\*\*",
             f"**{nq} declared queries, {no} oracle-paired**"),
        ],
        "__spark_entry__.py": [
            # current-state phrasing only — historical "rN cut" notes must
            # never be rewritten (review r6: a sync clobbered r5-era totals)
            (r"\(\d+/\d+ oracle-paired queries green in\n# the latest full local sweep; \d+ declared\)",
             f"({no}/{no} oracle-paired queries green in\n# the latest full local sweep; {nq} declared)"),
            (r"\(tools/census\.py --correctness, \d+/\d+ oracle-paired\)",
             f"(tools/census.py --correctness, {no}/{no} oracle-paired)"),
        ],
        "COVERAGE.md": [
            (r"surface to \*\*\d+ declared\n/ \d+ oracle-paired\*\*",
             f"surface to **{nq} declared\n/ {no} oracle-paired**"),
        ],
    }
    changed, missing = [], []
    for name, subs in rules.items():
        path = os.path.join(ROOT, name)
        with open(path) as f:
            s = f.read()
        orig = s
        for pat, repl in subs:
            s, n = re.subn(pat, repl, s)
            if n == 0:
                missing.append(f"{name}: {pat[:60]}")
        if s != orig:
            with open(path, "w") as f:
                f.write(s)
            changed.append(name)
    print(f"registry: {nq} declared / {no} oracle-paired; "
          f"updated: {changed or 'nothing (already in sync)'}")
    if missing:
        for m in missing:
            print(f"ERROR: pattern not found — {m}")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
