"""Versioned-table transaction log (sources/txlog.py): commit/read/time
travel, append copy-on-write, optimistic-concurrency conflicts,
crash-orphan invisibility, and vacuum retention."""

from __future__ import annotations

import json
import os

import pytest

from lvm_datapipe_spark.session import jobs_of
from lvm_datapipe_spark.sources import txlog


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, val string")


def test_commit_read_roundtrip_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    v1 = txlog.commit(spark, _df(spark, [(1, "a"), (2, "b")]), t)
    v2 = txlog.commit(spark, _df(spark, [(3, "c")]), t)  # overwrite
    assert (v1, v2) == (1, 2)
    assert {r["id"] for r in txlog.read(spark, t).collect()} == {3}
    # time travel: version 1 is still exactly its original content
    assert {r["id"] for r in txlog.read(spark, t, version=1).collect()} == {1, 2}


def test_append_references_parent_files(spark, tmp_path):
    t = str(tmp_path / "tbl")
    txlog.commit(spark, _df(spark, [(1, "a")]), t)
    v2 = txlog.commit(spark, _df(spark, [(2, "b")]), t, op="append")
    assert {r["id"] for r in txlog.read(spark, t).collect()} == {1, 2}
    # copy-on-write: v2's manifest REFERENCES v1's files, it does not
    # rewrite them — append cost is O(new data)
    m = json.load(open(os.path.join(t, "_txlog", f"{v2:08d}.json")))
    assert any("/v00000001/" in f for f in m["files"])
    assert m["n_rows"] == 2
    h = txlog.history(t)
    assert [(e["version"], e["op"]) for e in h] == [(1, "overwrite"), (2, "append")]


def test_version_conflict_on_concurrent_commit(spark, tmp_path):
    t = str(tmp_path / "tbl")
    txlog.commit(spark, _df(spark, [(1, "a")]), t)
    # simulate a racing committer that already created version 2's manifest
    rival = os.path.join(t, "_txlog", "00000002.json")
    with open(rival, "w") as f:
        json.dump({"version": 2, "parent": 1, "op": "overwrite",
                   "files": [], "n_rows": 0}, f)
    with pytest.raises(txlog.VersionConflict):
        txlog.commit(spark, _df(spark, [(9, "z")]), t)


def test_crash_orphan_is_invisible_to_readers(spark, tmp_path):
    t = str(tmp_path / "tbl")
    txlog.commit(spark, _df(spark, [(1, "a")]), t)
    # a crash between data write and manifest create leaves only a data
    # dir: readers resolve through the pointer and never see it
    orphan = os.path.join(t, "data", "v00000002")
    os.makedirs(orphan)
    _df(spark, [(99, "junk")]).write.mode("overwrite").parquet(orphan)
    assert {r["id"] for r in txlog.read(spark, t).collect()} == {1}
    # ...and vacuum removes the orphan
    result = txlog.vacuum(t, keep_last=5)
    assert "v00000002" in result["removed_dirs"]
    assert {r["id"] for r in txlog.read(spark, t).collect()} == {1}


def test_vacuum_drops_old_versions_keeps_recent(spark, tmp_path):
    t = str(tmp_path / "tbl")
    for i in range(1, 5):
        txlog.commit(spark, _df(spark, [(i, "x")]), t)
    result = txlog.vacuum(t, keep_last=2)
    assert result["dropped_versions"] == [1, 2]
    # retained versions still read fine
    assert {r["id"] for r in txlog.read(spark, t, version=3).collect()} == {3}
    assert {r["id"] for r in txlog.read(spark, t, version=4).collect()} == {4}
    # dropped versions fail loudly, not silently-empty
    with pytest.raises(FileNotFoundError):
        txlog.read(spark, t, version=1)


def test_vacuum_keeps_files_referenced_by_retained_appends(spark, tmp_path):
    # an append chain: v3 references v1's data files, so vacuum(keep 2)
    # must NOT remove v1's data dir even though manifest 1 is dropped
    t = str(tmp_path / "tbl")
    txlog.commit(spark, _df(spark, [(1, "a")]), t)
    txlog.commit(spark, _df(spark, [(2, "b")]), t, op="append")
    txlog.commit(spark, _df(spark, [(3, "c")]), t, op="append")
    result = txlog.vacuum(t, keep_last=2)
    assert result["dropped_versions"] == [1]
    assert result["removed_dirs"] == []  # v1 data still referenced by v2/v3
    assert {r["id"] for r in txlog.read(spark, t).collect()} == {1, 2, 3}


def test_read_empty_table_fails_loudly(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        txlog.read(spark, str(tmp_path / "nope"))


def test_diff_files_reads_only_the_delta(spark, tmp_path):
    t = str(tmp_path / "tbl")
    txlog.commit(spark, _df(spark, [(1, "a"), (2, "b")]), t)
    txlog.commit(spark, _df(spark, [(3, "c")]), t, op="append")
    txlog.commit(spark, _df(spark, [(4, "d")]), t, op="append")
    # incremental contract: exactly the rows added between the versions
    assert {r["id"] for r in txlog.diff_files(spark, t, 1, 3).collect()} == {3, 4}
    assert {r["id"] for r in txlog.diff_files(spark, t, 2, 3).collect()} == {4}
    # from version 0 (empty) the delta is the whole table
    assert {r["id"] for r in txlog.diff_files(spark, t, 0, 2).collect()} == {1, 2, 3}
    # no delta -> empty frame with the table schema, not an error
    assert txlog.diff_files(spark, t, 3, 3).count() == 0


def _commit_partitioned(spark, t, rows, nparts):
    """Append ``rows`` as ``nparts`` data files (repartition by id range)."""
    df = spark.createDataFrame(rows, "id long, val string").repartitionByRange(
        nparts, "id"
    )
    return txlog.commit(spark, df, t, op="append")


def test_merge_upserts_and_inserts(spark, tmp_path):
    t = str(tmp_path / "tbl")
    txlog.commit(spark, _df(spark, [(1, "a"), (2, "b"), (3, "c")]), t)
    v = txlog.merge(spark, _df(spark, [(2, "B"), (9, "new")]), t, ["id"])
    assert v == 2
    got = {r["id"]: r["val"] for r in txlog.read(spark, t).collect()}
    assert got == {1: "a", 2: "B", 3: "c", 9: "new"}
    # time travel still shows the pre-merge snapshot
    old = {r["id"]: r["val"] for r in txlog.read(spark, t, version=1).collect()}
    assert old == {1: "a", 2: "b", 3: "c"}
    h = txlog.history(t)[-1]
    assert h["op"] == "merge" and h["n_rows"] == 4


def test_merge_rewrites_only_affected_files(spark, tmp_path):
    t = str(tmp_path / "tbl")
    # 4 files over ids 0..39 (range-partitioned): an update hitting one
    # range must carry the other files by reference, byte-identical
    _commit_partitioned(spark, t, [(i, f"v{i}") for i in range(40)], 4)
    before = txlog._read_manifest(t, 1)["files"]
    mtimes = {f: os.path.getmtime(f) for f in before}
    v = txlog.merge(spark, _df(spark, [(0, "X"), (1, "Y")]), t, ["id"])
    m = txlog._read_manifest(t, v)
    kept = [f for f in m["files"] if f in set(before)]
    assert len(kept) >= 2, "untouched files must be referenced, not rewritten"
    for f in kept:
        assert os.path.getmtime(f) == mtimes[f]
    assert m["meta"]["rewritten_files"] >= 1
    assert m["meta"]["kept_files"] == len(kept)
    got = {r["id"]: r["val"] for r in txlog.read(spark, t).collect()}
    assert got[0] == "X" and got[1] == "Y" and got[39] == "v39"
    assert len(got) == 40


def test_merge_pure_insert_keeps_every_file(spark, tmp_path):
    t = str(tmp_path / "tbl")
    _commit_partitioned(spark, t, [(i, f"v{i}") for i in range(10)], 2)
    before = set(txlog._read_manifest(t, 1)["files"])
    v = txlog.merge(spark, _df(spark, [(100, "n")]), t, ["id"])
    m = txlog._read_manifest(t, v)
    assert before <= set(m["files"])
    assert m["meta"]["rewritten_files"] == 0
    assert txlog.read(spark, t).count() == 11


def test_merge_on_empty_table_is_overwrite_commit(spark, tmp_path):
    t = str(tmp_path / "tbl")
    v = txlog.merge(spark, _df(spark, [(1, "a")]), t, ["id"])
    assert v == 1
    assert txlog.history(t)[-1]["op"] == "overwrite"


def test_merge_collapses_duplicate_table_rows_for_a_key(spark, tmp_path):
    t = str(tmp_path / "tbl")
    txlog.commit(spark, _df(spark, [(1, "a"), (1, "a2"), (2, "b")]), t)
    txlog.merge(spark, _df(spark, [(1, "A")]), t, ["id"])
    rows = sorted(
        (r["id"], r["val"]) for r in txlog.read(spark, t).collect()
    )
    assert rows == [(1, "A"), (2, "b")]


def test_merge_rejects_duplicate_update_keys(spark, tmp_path):
    t = str(tmp_path / "tbl")
    txlog.commit(spark, _df(spark, [(1, "a")]), t)
    with pytest.raises(ValueError, match="not unique"):
        txlog.merge(spark, _df(spark, [(1, "x"), (1, "y")]), t, ["id"])


def test_merge_rejects_schema_mismatch_and_bad_key(spark, tmp_path):
    t = str(tmp_path / "tbl")
    txlog.commit(spark, _df(spark, [(1, "a")]), t)
    bad = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="columns"):
        txlog.merge(spark, bad, t, ["id"])
    with pytest.raises(ValueError, match="key columns"):
        txlog.merge(spark, _df(spark, [(1, "a")]), t, ["nope"])


def test_merge_then_vacuum_drops_fully_rewritten_old_dirs(spark, tmp_path):
    t = str(tmp_path / "tbl")
    txlog.commit(spark, _df(spark, [(1, "a"), (2, "b")]), t)
    txlog.merge(spark, _df(spark, [(1, "A"), (2, "B")]), t, ["id"])
    txlog.merge(spark, _df(spark, [(1, "AA"), (2, "BB")]), t, ["id"])
    res = txlog.vacuum(t, keep_last=1)
    assert res["dropped_versions"] == [1, 2]
    got = {r["id"]: r["val"] for r in txlog.read(spark, t).collect()}
    assert got == {1: "AA", 2: "BB"}


def test_cli_tx_merge_roundtrip(spark, tmp_path, capsys):
    import json as _json

    from lvm_datapipe_spark import cli

    base = str(tmp_path / "base.parquet")
    upd = str(tmp_path / "upd.parquet")
    t = str(tmp_path / "tbl")
    _df(spark, [(1, "a"), (2, "b")]).write.parquet(base)
    _df(spark, [(2, "B"), (3, "c")]).write.parquet(upd)
    assert cli.main(["tx-commit", "--table", base, "--out", t], spark=spark) == 0
    capsys.readouterr()
    assert (
        cli.main(["tx-merge", "--table", upd, "--out", t, "--keys", "id"], spark=spark)
        == 0
    )
    status = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert status["stage"] == "tx-merge" and status["version"] == 2
    got = {r["id"]: r["val"] for r in txlog.read(spark, t).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def test_merge_handles_relative_manifest_paths(spark, tmp_path):
    # manifests may store relative paths (tx-commit --out tbl); the
    # _metadata.file_path comparison must canonicalize both sides.
    # Simulate by rewriting a committed manifest's file list relative to
    # the process cwd (which equals the Spark JVM's cwd here, as it does
    # for the real CLI).
    t = str(tmp_path / "tbl")
    txlog.commit(spark, _df(spark, [(1, "a"), (2, "b")]), t)
    mp = txlog._manifest_path(t, 1)
    m = json.load(open(mp))
    m["files"] = [os.path.relpath(f, os.getcwd()) for f in m["files"]]
    json.dump(m, open(mp, "w"))
    v = txlog.merge(spark, _df(spark, [(2, "B")]), t, ["id"])
    got = {r["id"]: r["val"] for r in txlog.read(spark, t, version=v).collect()}
    assert got == {1: "a", 2: "B"}


def test_compact_folds_small_files_preserving_rows_and_history(spark, tmp_path):
    t = str(tmp_path / "tbl")
    for i in range(4):  # 4 appends x 2 files = 8 tiny files
        _commit_partitioned(
            spark, t, [(i * 10 + j, f"v{i * 10 + j}") for j in range(10)], 2
        )
    before = txlog._read_manifest(t, 4)
    v = txlog.compact(spark, t, small_file_mb=32, target_file_mb=128)
    assert v == 5
    m = txlog._read_manifest(t, v)
    assert m["op"] == "compact"
    assert m["n_rows"] == before["n_rows"] == 40
    assert len(m["files"]) < len(before["files"])
    assert m["meta"]["compacted_files"] == len(before["files"])
    # rows identical, old version still time-travels
    new = {r["id"]: r["val"] for r in txlog.read(spark, t).collect()}
    old = {r["id"]: r["val"] for r in txlog.read(spark, t, version=4).collect()}
    assert new == old and len(new) == 40
    # vacuum afterwards reclaims the replaced small files
    res = txlog.vacuum(t, keep_last=1)
    assert res["dropped_versions"] == [1, 2, 3, 4]
    assert txlog.read(spark, t).count() == 40


def test_compact_noop_when_nothing_small_enough(spark, tmp_path):
    t = str(tmp_path / "tbl")
    txlog.commit(
        spark,
        spark.createDataFrame([(1, "a")], "id long, val string").coalesce(1),
        t,
    )
    # one small file only -> no-op, no new version
    assert txlog.compact(spark, t) == 1
    assert txlog.latest_version(t) == 1
    # files above the cutoff -> also a no-op
    _commit_partitioned(spark, t, [(2, "b")], 1)
    assert txlog.compact(spark, t, small_file_mb=0) == 2


def test_cli_tx_compact(spark, tmp_path, capsys):
    import json as _json

    from lvm_datapipe_spark import cli

    base = str(tmp_path / "base.parquet")
    t = str(tmp_path / "tbl")
    _df(spark, [(1, "a"), (2, "b")]).write.parquet(base)
    assert cli.main(["tx-commit", "--table", base, "--out", t], spark=spark) == 0
    assert cli.main(
        ["tx-commit", "--table", base, "--out", t, "--op", "append"], spark=spark
    ) == 0
    capsys.readouterr()
    assert cli.main(["tx-compact", "--table", t], spark=spark) == 0
    status = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert status["stage"] == "tx-compact" and status["compacted"] is True
    assert txlog.read(spark, t).count() == 4


def test_merge_and_compact_raise_on_concurrent_commit(spark, tmp_path):
    # the O_EXCL manifest create is the commit point for EVERY op: a rival
    # version published mid-merge/compact must surface as VersionConflict
    t = str(tmp_path / "tbl")
    _commit_partitioned(spark, t, [(i, "x") for i in range(20)], 4)

    def _rival(version):
        with open(os.path.join(t, "_txlog", f"{version:08d}.json"), "w") as f:
            json.dump({"version": version, "parent": version - 1,
                       "op": "overwrite", "files": [], "n_rows": 0,
                       "meta": {}}, f)

    _rival(2)
    with pytest.raises(txlog.VersionConflict):
        txlog.merge(spark, _df(spark, [(0, "y")]), t, ["id"])
    os.remove(os.path.join(t, "_txlog", "00000002.json"))
    _rival(2)
    with pytest.raises(txlog.VersionConflict):
        txlog.compact(spark, t, small_file_mb=32)


def test_append_schema_drift_fails_loudly(spark, tmp_path):
    # explicit-file-list reads take the FIRST file's schema, so a drifted
    # append would silently drop/null columns — it must raise instead
    t = str(tmp_path / "tbl")
    txlog.commit(spark, _df(spark, [(1, "a")]), t)
    drifted = spark.createDataFrame([(2, "b", 1.5)], "id long, val string, score double")
    with pytest.raises(ValueError, match="append columns"):
        txlog.commit(spark, drifted, t, op="append")
    narrower = spark.createDataFrame([(2,)], "id long")
    with pytest.raises(ValueError, match="append columns"):
        txlog.commit(spark, narrower, t, op="append")
    # overwrite may change schema freely (it references only its own files)
    v = txlog.commit(spark, drifted, t, op="overwrite")
    assert txlog._read_manifest(t, v)["columns"] == ["id", "val", "score"]
    # ...and subsequent appends validate against the NEW schema
    txlog.commit(spark, drifted, t, op="append")


def test_append_to_pre_columns_manifest_still_works(spark, tmp_path):
    # manifests written before the schema field skip the check
    t = str(tmp_path / "tbl")
    txlog.commit(spark, _df(spark, [(1, "a")]), t)
    mp = txlog._manifest_path(t, 1)
    m = json.load(open(mp))
    del m["columns"]
    json.dump(m, open(mp, "w"))
    txlog.commit(spark, _df(spark, [(2, "b")]), t, op="append")
    assert txlog.read(spark, t).count() == 2


def test_merge_with_updates_derived_from_own_snapshot(spark, tmp_path):
    # the read-modify-write production shape: updates computed FROM the
    # table's own latest snapshot (lazy plans read the old immutable
    # files while the new version dir is written — no self-clobber)
    from pyspark.sql import functions as F

    t = str(tmp_path / "tbl")
    _commit_partitioned(spark, t, [(i, f"v{i}") for i in range(20)], 4)
    snap = txlog.read(spark, t)
    upd = snap.filter(snap["id"] < 5).withColumn("val", F.upper(F.col("val")))
    v = txlog.merge(spark, upd, t, ["id"])
    got = {r["id"]: r["val"] for r in txlog.read(spark, t, version=v).collect()}
    assert got[0] == "V0" and got[4] == "V4" and got[5] == "v5"
    assert len(got) == 20


def test_cli_tx_diff(spark, tmp_path, capsys):
    import json as _json

    from lvm_datapipe_spark import cli

    base = str(tmp_path / "base.parquet")
    more = str(tmp_path / "more.parquet")
    t = str(tmp_path / "tbl")
    out = str(tmp_path / "delta.parquet")
    _df(spark, [(1, "a")]).write.parquet(base)
    _df(spark, [(2, "b"), (3, "c")]).write.parquet(more)
    assert cli.main(["tx-commit", "--table", base, "--out", t], spark=spark) == 0
    assert cli.main(
        ["tx-commit", "--table", more, "--out", t, "--op", "append"], spark=spark
    ) == 0
    capsys.readouterr()
    assert cli.main(
        ["tx-diff", "--table", t, "--from", "1", "--to", "2", "--out", out],
        spark=spark,
    ) == 0
    status = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert status["stage"] == "tx-diff" and status["rows"] == 2
    assert {r["id"] for r in spark.read.parquet(out).collect()} == {2, 3}


def test_delete_removes_keys_file_granularly(spark, tmp_path):
    t = str(tmp_path / "tbl")
    _commit_partitioned(spark, t, [(i, f"v{i}") for i in range(40)], 4)
    before = txlog._read_manifest(t, 1)["files"]
    keys = spark.createDataFrame([(0,), (1,), (100,)], "id long")  # 100 absent
    v = txlog.delete(spark, keys, t, ["id"])
    m = txlog._read_manifest(t, v)
    assert m["op"] == "delete"
    assert m["meta"]["deleted_rows"] == 2
    assert m["meta"]["rewritten_files"] >= 1
    kept = [f for f in m["files"] if f in set(before)]
    assert len(kept) >= 2  # untouched files carried by reference
    got = {r["id"] for r in txlog.read(spark, t).collect()}
    assert 0 not in got and 1 not in got and len(got) == 38
    # time travel: pre-delete snapshot intact until vacuum (the caveat)
    assert txlog.read(spark, t, version=1).count() == 40
    res = txlog.vacuum(t, keep_last=1)
    assert res["dropped_versions"] == [1]
    with pytest.raises(FileNotFoundError):
        txlog.read(spark, t, version=1)


def test_delete_no_match_publishes_empty_delta(spark, tmp_path):
    t = str(tmp_path / "tbl")
    txlog.commit(spark, _df(spark, [(1, "a")]), t)
    v = txlog.delete(spark, spark.createDataFrame([(9,)], "id long"), t, ["id"])
    m = txlog._read_manifest(t, v)
    assert m["meta"]["deleted_rows"] == 0 and m["n_rows"] == 1
    assert txlog.read(spark, t).count() == 1


def test_delete_bad_key_and_empty_table(spark, tmp_path):
    t = str(tmp_path / "tbl")
    with pytest.raises(FileNotFoundError):
        txlog.delete(spark, _df(spark, [(1, "a")]), str(tmp_path / "no"), ["id"])
    txlog.commit(spark, _df(spark, [(1, "a")]), t)
    with pytest.raises(ValueError, match="key columns"):
        txlog.delete(spark, _df(spark, [(1, "a")]), t, ["nope"])


def test_cli_tx_delete(spark, tmp_path, capsys):
    import json as _json

    from lvm_datapipe_spark import cli

    base = str(tmp_path / "base.parquet")
    keys = str(tmp_path / "keys.parquet")
    t = str(tmp_path / "tbl")
    _df(spark, [(1, "a"), (2, "b"), (3, "c")]).write.parquet(base)
    spark.createDataFrame([(2,)], "id long").write.parquet(keys)
    assert cli.main(["tx-commit", "--table", base, "--out", t], spark=spark) == 0
    capsys.readouterr()
    assert cli.main(
        ["tx-delete", "--table", keys, "--out", t, "--keys", "id"], spark=spark
    ) == 0
    status = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert status["stage"] == "tx-delete" and status["deleted_rows"] == 1
    assert {r["id"] for r in txlog.read(spark, t).collect()} == {1, 3}


def _lookup_jobs(spark, fn) -> int:
    def raises():
        with pytest.raises(ValueError, match="columns"):
            fn()

    return jobs_of(spark, raises)[1]


@pytest.mark.parametrize("manifest_columns", [True, False],
                         ids=["manifest", "pre-columns-manifest"])
def test_merge_and_delete_column_lookup_runs_no_job(spark, tmp_path, manifest_columns):
    """merge and delete check columns against the table's names, taken from
    the manifest or (older manifests) the first file's footer: a mismatch
    raises before any Spark job runs."""
    t = str(tmp_path / "tbl")
    txlog.commit(spark, _df(spark, [(1, "a")]), t)
    if not manifest_columns:
        mp = txlog._manifest_path(t, 1)
        m = json.load(open(mp))
        del m["columns"]
        json.dump(m, open(mp, "w"))
    bad = spark.createDataFrame([(1,)], "id long")
    assert _lookup_jobs(spark, lambda: txlog.merge(spark, bad, t, ["id"])) == 0
    good = _df(spark, [(1, "a")])
    assert _lookup_jobs(spark, lambda: txlog.merge(spark, good, t, ["nope"])) == 0
    assert _lookup_jobs(spark, lambda: txlog.delete(spark, good, t, ["nope"])) == 0


def test_read_and_unaffected_merge_run_no_schema_or_count_job(spark, tmp_path):
    """A read over a manifest's file list takes its schema from the first
    file's footer, and the row counts of a commit come from the written
    footers: ``txlog.read`` launches no job, and a merge whose key matches
    no row runs only its own work — the update checkpoint, the uniqueness
    check, the affected-file semi-join and the write, 8 jobs — with no
    schema-inference or count job among them.  The manifest's row count
    still equals a read's."""
    t = str(tmp_path / "tbl")
    _commit_partitioned(spark, t, [(i, f"v{i}") for i in range(20)], 4)
    snap, jobs = jobs_of(spark, lambda: txlog.read(spark, t))
    assert jobs == 0 and snap.columns == ["id", "val"]
    new = spark.createDataFrame([(100, "new")], "id long, val string")
    v, jobs = jobs_of(spark, lambda: txlog.merge(spark, new, t, ["id"]))
    assert jobs == 8
    assert txlog.history(t)[-1]["n_rows"] == txlog.read(spark, t, v).count() == 21
