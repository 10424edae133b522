"""tools/census.py: one sweep writes every per-query artifact, in the shapes
the committed artifacts and tools/bench_compare.py read."""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

import bench_compare  # noqa: E402
import census  # noqa: E402

NAMES = ["q1_pricing_summary", "a1_breakpoint"]


def test_sweep_writes_every_artifact(spark, sf_dir, tmp_path):
    from lvm_datapipe_spark.session import held_storage

    _, rdds_before = held_storage(spark)
    paths = {k: str(tmp_path / k) for k in ("correctness", "audit", "times", "explain")}
    rc = census.sweep(spark, sf_dir, NAMES, passes=2, **paths)

    corr = json.loads(Path(paths["correctness"]).read_text())
    assert corr["sf_dir"] == sf_dir and sorted(corr["queries"]) == sorted(NAMES)
    for rec in corr["queries"].values():
        assert rec["err"] is None
        assert rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
        assert rec["spark_rows"] == rec["oracle_rows"] > 0
    # earlier tests' RDDs may be freed by the context cleaner meanwhile, but
    # the sweep adds none; the exit rule counts every RDD the session holds
    n_after, rdds_after = held_storage(spark)
    assert n_after == corr["left"]["cached_relations"] == 0 and rdds_after <= rdds_before
    assert rc == (1 if corr["left"]["persistent_rdds"] else 0)

    committed = (REPO / "PLAN_AUDIT.md").read_text().splitlines()
    written = Path(paths["audit"]).read_text().splitlines()
    for name in NAMES:
        row = [line for line in committed if line.startswith(f"| {name} |")]
        assert row and row == [line for line in written if line.startswith(f"| {name} |")]

    loaded = bench_compare.load(paths["times"])
    assert sorted(loaded["queries"]) == sorted(NAMES)
    phases = json.loads(Path(paths["times"]).read_text())["phases"]
    assert all(set(p) == {*census.PHASES, *census.JOB_PHASES} for p in phases.values())
    # each phase's jobs are counted under its own job group: both queries
    # build lazily (a footer-schema read launches no job), and each noop
    # sink runs at least its one result job
    for p in phases.values():
        assert p["build_jobs"] == 0 and p["exec_jobs"] >= 1

    for name in NAMES:
        text = (Path(paths["explain"]) / f"{name}.txt").read_text()
        assert "Physical Plan" in text
        # expression and plan ids are masked: two sweeps' files diff directly
        assert "#N" in text and not census.IDS.search(text)
