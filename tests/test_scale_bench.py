"""tools/scale_bench.py rewrites only the SCALE_BENCH.md sections its run
measured, and keeps the records inside them that no bench regenerates;
every section it renders re-renders byte-identical from the committed
SCALE_BENCH.json.  Spark-free: the renderers read the committed JSON."""

from __future__ import annotations

import json
import shutil
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

import scale_bench  # noqa: E402


def test_r11_rerender_keeps_the_committed_record(tmp_path, monkeypatch):
    """Re-rendering §21 from the committed results reproduces the committed
    file byte for byte: §21c/d (the reverted LM scoring A/Bs, which the
    r11 bench no longer measures) is carried over, and every other
    section, before and after §21, is untouched."""
    md = tmp_path / "SCALE_BENCH.md"
    shutil.copy(REPO / "SCALE_BENCH.md", md)
    monkeypatch.setattr(scale_bench, "MD_PATH", str(md))
    res = json.loads((REPO / "SCALE_BENCH.json").read_text())
    scale_bench._update_md_section(
        "## 21. r11 kernel A/Bs", scale_bench.render_r11_kernels_md(res)
    )
    committed = (REPO / "SCALE_BENCH.md").read_text()
    assert scale_bench.R11_KEPT in committed
    assert md.read_text() == committed


SECTIONS = [(key, marker, render) for runs in scale_bench.RUNS.values() for key, _, marker, render in runs]


@pytest.mark.parametrize("key, marker, render", SECTIONS, ids=[k for k, _, _ in SECTIONS])
def test_section_rerenders_from_the_committed_record(tmp_path, monkeypatch, key, marker, render):
    """Each section a bench run writes renders from its committed record in
    SCALE_BENCH.json to the committed SCALE_BENCH.md text, so the record
    and the prose cannot drift apart."""
    md = tmp_path / "SCALE_BENCH.md"
    shutil.copy(REPO / "SCALE_BENCH.md", md)
    monkeypatch.setattr(scale_bench, "MD_PATH", str(md))
    res = json.loads((REPO / "SCALE_BENCH.json").read_text())
    assert key in res
    scale_bench._update_md_section(marker, render(res))
    assert md.read_text() == (REPO / "SCALE_BENCH.md").read_text()
