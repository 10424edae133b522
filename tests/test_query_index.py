"""QUERY_INDEX.md and the ``[[name]]`` cross-references in query docstrings
stay true to the registry.  Spark-free: imports the registry only."""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

import gen_query_index  # noqa: E402


def test_committed_index_equals_render():
    """Regenerate with ``python tools/gen_query_index.py``."""
    assert (REPO / "QUERY_INDEX.md").read_text() == gen_query_index.render()


def test_every_query_link_names_a_registered_query():
    from lvm_datapipe_spark.queries import QUERIES

    src = (REPO / "lvm_datapipe_spark" / "queries.py").read_text().splitlines()
    dangling = [
        f"queries.py:{i}: [[{name}]]"
        for i, line in enumerate(src, 1)
        for name in re.findall(r"\[\[([^\]]*)\]\]", line)
        if name not in QUERIES
    ]
    assert not dangling, dangling
