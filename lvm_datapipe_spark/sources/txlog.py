"""Minimal copy-on-write transaction log — versioned parquet tables with
time travel (the capability a table format like Delta/Iceberg provides,
reduced to the piece a snapshot-store pipeline actually needs: atomic
version publication + reproducible reads of any historical version).

Reference parity note: the reference pipeline rewrites whole metadata
snapshots between stages and resumes by diffing them; a versioned table
makes that resume contract explicit — every stage commit is a numbered,
immutable version, and "the snapshot stage N read" is replayable forever
(until vacuumed).

Layout::

    table_dir/
      _txlog/
        00000001.json   # manifest: {version, op, files, n_rows, parent}
        00000002.json
        _latest         # pointer file, content "2" (atomic-rename swap)
      data/
        v00000001/part-*.parquet   # each commit's files, never mutated
        v00000002/part-*.parquet

Commit protocol (optimistic concurrency):

1. write the new data files under ``data/v{N}/`` (N = latest + 1);
2. create ``_txlog/{N}.json`` with ``O_EXCL`` — two racing committers
   cannot both win; the loser gets :class:`VersionConflict` and retries
   on top of the new latest;
3. atomically swap the ``_latest`` pointer (temp file + ``os.replace``).

A crash between (1) and (3) leaves an orphaned data dir / un-pointered
manifest — readers never see it (they resolve through the pointer), and
``vacuum`` removes it.  ``op="append"`` manifests carry the parent's
files plus their own, so reads stay a single parquet read over
an explicit file list (no directory listing at read time — the manifest
IS the source of truth, which also makes concurrent vacuum+read safe for
retained versions).

FILESYSTEM CONTRACT: the log protocol needs atomic ``rename`` and
exclusive ``create`` — true of local/NFS/HDFS-mounted paths, NOT of bare
object stores (the reason production table formats pair S3 with a
coordination service).  Data files are written by Spark and may live on
any Spark-writable filesystem; the ``_txlog`` directory must be on a
rename-atomic one.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from lvm_datapipe_spark.catalog import parquet_row_count, read_parquet
from lvm_datapipe_spark.session import query_scope

_LOGDIR = "_txlog"
_LATEST = "_latest"


class VersionConflict(RuntimeError):
    """Another committer published this version first — re-read the table
    state and retry the commit on top of the new latest."""


def _log_dir(table_dir: str) -> str:
    return os.path.join(table_dir, _LOGDIR)


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(_log_dir(table_dir), f"{version:08d}.json")


def latest_version(table_dir: str) -> int:
    """Current committed version (0 = empty table, no commits yet)."""
    p = os.path.join(_log_dir(table_dir), _LATEST)
    if not os.path.exists(p):
        return 0
    with open(p) as f:
        return int(f.read().strip())


def _read_manifest(table_dir: str, version: int) -> dict:
    mp = _manifest_path(table_dir, version)
    if not os.path.exists(mp):
        raise FileNotFoundError(
            f"version {version} does not exist (or was vacuumed) in {table_dir}"
        )
    with open(mp) as f:
        return json.load(f)


def commit(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    op: str = "overwrite",
) -> int:
    """Publish ``df`` as the table's next version; returns the version.

    ``op="overwrite"`` — the new version is exactly ``df``;
    ``op="append"`` — the new version is the parent version plus ``df``
    (the parent's files are REFERENCED, not rewritten — append is O(new
    data), the copy-on-write property).

    Raises :class:`VersionConflict` if a concurrent committer wins the
    race for this version number; the caller retries (its data dir is
    version-stamped with the LOSING number, so the retry rewrites it —
    never torn state).

    An APPEND whose columns differ from the parent's manifested schema
    fails loudly: a read over an explicit file list takes the first
    file's schema, so a drifted append would otherwise merge
    cleanly today and silently DROP its new column (or null out a missing
    one) on every later read.  Overwrites may change schema freely — the
    new version references only its own files.
    """
    if op not in ("overwrite", "append"):
        raise ValueError(f"op must be 'overwrite' or 'append', got {op!r}")
    os.makedirs(_log_dir(table_dir), exist_ok=True)
    parent = latest_version(table_dir)
    version = parent + 1
    if op == "append" and parent > 0:
        _check_append_schema(df, table_dir, parent)
    own, own_rows = _write_version_files(spark, df, table_dir, version)
    files = own
    n_rows = own_rows
    if op == "append" and parent > 0:
        pm = _read_manifest(table_dir, parent)
        files = pm["files"] + own
        n_rows += pm["n_rows"]
    _publish(table_dir, version, parent, op, files, n_rows, {},
             columns=df.columns)
    return version


def _check_append_schema(df: DataFrame, table_dir: str, parent: int) -> None:
    """Appends must match the parent's column set.  Older manifests
    (pre-``columns``) skip the check — their reads already carry the
    first-file-schema caveat this guard exists to prevent going forward."""
    pm = _read_manifest(table_dir, parent)
    expect = pm.get("columns")
    if expect is not None and sorted(df.columns) != sorted(expect):
        raise ValueError(
            f"append columns {sorted(df.columns)} != table columns "
            f"{sorted(expect)}; use op='overwrite' to change schema"
        )


def _write_version_files(
    spark: SparkSession, df: DataFrame, table_dir: str, version: int
) -> tuple[list[str], int]:
    """Write ``df`` under ``data/v{version}/``; return (files, row count),
    the count summed from the written footers."""
    vdir = os.path.join(table_dir, "data", f"v{version:08d}")
    df.write.mode("overwrite").parquet(vdir)
    own = sorted(
        os.path.join(vdir, f)
        for f in os.listdir(vdir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    return own, parquet_row_count(*own)


def _table_columns(spark: SparkSession, pm: dict) -> list[str]:
    """The column names of manifest ``pm``'s version: the manifest's own
    list or, for an older manifest without one, the first data file's
    footer (catalog.read_parquet), so the lookup runs no footer job."""
    return pm.get("columns") or read_parquet(spark, pm["files"][0]).columns


def _publish(
    table_dir: str,
    version: int,
    parent: int,
    op: str,
    files: list[str],
    n_rows: int,
    meta: dict | None,
    columns: list[str] | None = None,
) -> None:
    manifest = {
        "version": version,
        "parent": parent,
        "op": op,
        "files": files,
        "n_rows": n_rows,
        "columns": columns,
        "meta": meta or {},
    }
    mp = _manifest_path(table_dir, version)
    try:
        # O_EXCL is the whole concurrency story: exactly one committer can
        # create this manifest; everyone else conflicts and retries
        fd = os.open(mp, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
    except FileExistsError as exc:
        raise VersionConflict(
            f"version {version} of {table_dir} was committed concurrently"
        ) from exc
    with os.fdopen(fd, "w") as f:
        json.dump(manifest, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    tmp = os.path.join(_log_dir(table_dir), f"{_LATEST}.tmp.{version}")
    with open(tmp, "w") as f:
        f.write(str(version))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(_log_dir(table_dir), _LATEST))


def read(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the table at ``version`` (default: latest).  The manifest's
    explicit file list is the source of truth — no directory listing, so
    orphaned crash leftovers and newer in-flight commits are invisible;
    the read launches no job (catalog.read_parquet)."""
    v = latest_version(table_dir) if version is None else version
    if v == 0:
        raise FileNotFoundError(f"{table_dir} has no committed versions")
    m = _read_manifest(table_dir, v)
    return read_parquet(spark, *m["files"])


def history(table_dir: str) -> list[dict]:
    """Commit log, oldest first: [{version, parent, op, n_rows, n_files}]."""
    ld = _log_dir(table_dir)
    if not os.path.isdir(ld):
        return []
    out = []
    for name in sorted(os.listdir(ld)):
        if not name.endswith(".json"):
            continue
        m = json.load(open(os.path.join(ld, name)))
        out.append(
            {
                "version": m["version"],
                "parent": m["parent"],
                "op": m["op"],
                "n_rows": m["n_rows"],
                "n_files": len(m["files"]),
            }
        )
    return out


def diff_files(
    spark: SparkSession, table_dir: str, v_from: int, v_to: int
) -> DataFrame:
    """Rows ADDED between two versions, read file-incrementally: only the
    files present in ``v_to``'s manifest but not ``v_from``'s are scanned
    — for an append chain this is O(new data), the incremental-processing
    contract (process each version's delta exactly once, no full-table
    rescan, no row-level diff join).

    For overwrite commits the file sets are disjoint, so this returns the
    whole new version — use a row-level comparison (e.g. the
    snapshot-diff query pattern) when overwrites must be diffed
    semantically."""
    fa = set(_read_manifest(table_dir, v_from)["files"]) if v_from > 0 else set()
    fb = _read_manifest(table_dir, v_to)["files"]
    new = [f for f in fb if f not in fa]
    if not new:
        return read(spark, table_dir, v_to).limit(0)
    return read_parquet(spark, *new)


def _strip_scheme(path: str) -> str:
    """``_metadata.file_path`` is a URI (``file:/x`` or ``file:///x``
    depending on the Hadoop path layer); manifests store plain paths."""
    if path.startswith("file:"):
        from urllib.parse import urlparse

        return urlparse(path).path
    return path


def _affected_files(
    spark: SparkSession, pm: dict, keys: DataFrame, key_cols: list[str]
) -> set:
    """Manifest files containing at least one row matching ``keys``: one
    key semi-join against the snapshot's ``_metadata.file_path`` column
    (result is file-path-sized), canonicalized against the manifest's
    possibly-relative paths."""
    from pyspark.sql import functions as F

    snap = read_parquet(spark, *pm["files"])
    uris = [
        r[0]
        for r in snap.select(
            F.col("_metadata.file_path").alias("fp"), *key_cols
        )
        .join(keys, key_cols, "left_semi")
        .select("fp")
        .distinct()
        .collect()
    ]
    by_abs = {os.path.abspath(f): f for f in pm["files"]}
    affected_abs = {os.path.abspath(_strip_scheme(u)) for u in uris}
    if not affected_abs <= by_abs.keys():
        raise RuntimeError(
            f"semi-join returned files outside the manifest: "
            f"{sorted(affected_abs - by_abs.keys())[:3]}"
        )
    return {by_abs[a] for a in affected_abs}


def merge(
    spark: SparkSession,
    updates: DataFrame,
    table_dir: str,
    key_cols: list[str],
) -> int:
    """Delta-style MERGE (upsert) at FILE granularity: rows of ``updates``
    replace every current row sharing their key; keys not present insert.
    Returns the new version.

    The copy-on-write property that matters at 100 TB: only data files
    that actually CONTAIN a matched key are rewritten.  Affected files are
    found with one key semi-join against the snapshot's ``_metadata.
    file_path`` column (the result is file-path-sized, never row-sized);
    every untouched file is carried into the new manifest by REFERENCE.
    A daily upsert into a date-clustered 100 TB table therefore rewrites
    ~one day's files, not the table.

    Semantics guards (fail loudly, not silently):
    - ``updates`` must be key-unique — two update rows with one key would
      make the surviving row order-dependent;
    - ``updates`` must carry exactly the table's columns (any order);
    - if the table has several rows for a key, ALL are replaced by the
      single update row (MERGE collapses them — documented, tested).

    Concurrency matches :func:`commit`: the manifest O_EXCL create is the
    commit point; a losing racer gets :class:`VersionConflict` and must
    re-run the whole merge against the new latest (its data dir is
    version-stamped with the losing number, so the retry overwrites it).
    """
    parent = latest_version(table_dir)
    if parent == 0:
        return commit(spark, updates, table_dir, op="overwrite")
    pm = _read_manifest(table_dir, parent)
    snap_cols = _table_columns(spark, pm)
    if set(updates.columns) != set(snap_cols):
        raise ValueError(
            f"updates columns {sorted(updates.columns)} != table columns "
            f"{sorted(snap_cols)}"
        )
    missing = [k for k in key_cols if k not in snap_cols]
    if missing:
        raise ValueError(f"key columns {missing} not in table schema")
    from pyspark.sql import functions as F

    version = parent + 1
    with query_scope(spark):
        # the update set feeds three separate jobs (uniqueness check,
        # affected-file semi-join, rewrite): an eager checkpoint pins it,
        # so a nondeterministic upstream (sampled/shuffled input) cannot
        # drift between them
        updates = updates.select(*snap_cols).localCheckpoint()
        keys = updates.select(*key_cols)
        dup = keys.groupBy(*key_cols).count().filter(F.col("count") > 1)
        if dup.limit(1).count() > 0:
            raise ValueError(
                f"updates are not unique on {key_cols}; MERGE would be "
                "order-dependent"
            )
        affected = _affected_files(spark, pm, keys, key_cols)
        new_df = updates
        if affected:
            touched = read_parquet(spark, *sorted(affected))
            new_df = touched.join(keys, key_cols, "left_anti").unionByName(updates)
        own, own_rows = _write_version_files(spark, new_df, table_dir, version)
    kept = [f for f in pm["files"] if f not in affected]
    touched_rows = parquet_row_count(*affected)
    n_rows = pm["n_rows"] - touched_rows + own_rows
    merge_meta = {
        "merge_keys": list(key_cols),
        "rewritten_files": len(affected),
        "kept_files": len(kept),
    }
    _publish(table_dir, version, parent, "merge", kept + own, n_rows,
             merge_meta, columns=snap_cols)
    return version


def delete(
    spark: SparkSession,
    keys: DataFrame,
    table_dir: str,
    key_cols: list[str],
) -> int:
    """File-granular DELETE: remove every row whose key appears in
    ``keys`` (MERGE minus the insert arm — same affected-file semi-join
    on ``_metadata.file_path``, same carry-by-reference for untouched
    files).  Returns the new version; the manifest meta records
    ``deleted_rows`` for the audit trail.

    COMPLIANCE CAVEAT (right-to-be-forgotten): a delete creates a new
    VERSION — the deleted rows still exist in every older version's
    files until :func:`vacuum` drops the manifests that reference them.
    An erasure pipeline is therefore delete -> vacuum(keep_last=1),
    with [[erasure_cascade_audit]]-style counts captured BEFORE the
    destructive pair.  Raises :class:`VersionConflict` on a concurrent
    commit, like every other writer."""
    parent = latest_version(table_dir)
    if parent == 0:
        raise FileNotFoundError(f"{table_dir} has no committed versions")
    pm = _read_manifest(table_dir, parent)
    snap_cols = _table_columns(spark, pm)
    missing = [k for k in key_cols if k not in snap_cols]
    if missing:
        raise ValueError(f"key columns {missing} not in table schema")
    version = parent + 1
    own, own_rows = [], 0
    with query_scope(spark):
        # the key set feeds the affected-file semi-join and the rewrite
        kdf = keys.select(*key_cols).distinct().localCheckpoint()
        affected = _affected_files(spark, pm, kdf, key_cols)
        if affected:
            touched = read_parquet(spark, *sorted(affected))
            survivors = touched.join(kdf, key_cols, "left_anti")
            own, own_rows = _write_version_files(spark, survivors, table_dir, version)
    kept = [f for f in pm["files"] if f not in affected]
    touched_rows = parquet_row_count(*affected)
    n_rows = pm["n_rows"] - touched_rows + own_rows
    _publish(
        table_dir, version, parent, "delete", kept + own, n_rows,
        {"delete_keys": list(key_cols), "deleted_rows": touched_rows - own_rows,
         "rewritten_files": len(affected), "kept_files": len(kept)},
        columns=snap_cols,
    )
    return version


def compact(
    spark: SparkSession,
    table_dir: str,
    small_file_mb: int = 32,
    target_file_mb: int = 128,
) -> int:
    """OPTIMIZE: bin-pack the latest version's small files into
    ~``target_file_mb`` files as a NEW version — rows are untouched, so
    reads get fewer/bigger scans while every historical version keeps
    time-travelling (the replaced small files stay on disk until
    :func:`vacuum`; a txlog table must never rewrite files in place).

    Only files under ``small_file_mb`` are rewritten; already-large files
    carry into the new manifest by reference.  No-op (returns the current
    version, no commit) when fewer than two small files exist — one small
    file gains nothing from a rewrite.

    The append/merge/compact lifecycle is the 100 TB steady state:
    streaming appends produce per-epoch small files, daily compaction
    folds them, vacuum reclaims the replaced bytes.
    """
    parent = latest_version(table_dir)
    if parent == 0:
        raise FileNotFoundError(f"{table_dir} has no committed versions")
    pm = _read_manifest(table_dir, parent)
    cutoff = small_file_mb * 1024 * 1024
    small = [f for f in pm["files"] if os.path.getsize(f) < cutoff]
    if len(small) < 2:
        return parent
    kept = [f for f in pm["files"] if f not in set(small)]
    import math

    small_bytes = sum(os.path.getsize(f) for f in small)
    n_out = max(1, math.ceil(small_bytes / (target_file_mb * 1024 * 1024)))
    df = read_parquet(spark, *small).coalesce(n_out)
    version = parent + 1
    own, own_rows = _write_version_files(spark, df, table_dir, version)
    small_rows = parquet_row_count(*small)
    if own_rows != small_rows:
        raise RuntimeError(
            f"compact row-count drift: rewrote {small_rows} rows but the "
            f"new files hold {own_rows} — aborting before publish"
        )
    compact_meta = {
        "compacted_files": len(small),
        "written_files": len(own),
    }
    _publish(
        table_dir, version, parent, "compact", kept + own, pm["n_rows"],
        compact_meta, columns=pm.get("columns") or df.columns,
    )
    return version


def vacuum(table_dir: str, keep_last: int = 2) -> dict:
    """Drop manifests older than the last ``keep_last`` versions and every
    data directory no retained manifest references (including orphans from
    crashed commits).  Returns {"dropped_versions": [...],
    "removed_dirs": [...]}.

    Readers of retained versions are unaffected (their manifests list
    every file they need); readers of dropped versions get the explicit
    FileNotFoundError from :func:`read`.
    """
    import shutil

    latest = latest_version(table_dir)
    keep_from = max(1, latest - keep_last + 1)
    retained_files: set[str] = set()
    dropped: list[int] = []
    ld = _log_dir(table_dir)
    versions = sorted(
        int(n[:-5]) for n in os.listdir(ld) if n.endswith(".json")
    )
    for v in versions:
        m = _read_manifest(table_dir, v)
        if v >= keep_from:
            retained_files.update(m["files"])
        else:
            dropped.append(v)
    data_dir = os.path.join(table_dir, "data")
    removed: list[str] = []
    if os.path.isdir(data_dir):
        for d in sorted(os.listdir(data_dir)):
            full = os.path.join(data_dir, d)
            if not any(f.startswith(full + os.sep) for f in retained_files):
                shutil.rmtree(full)
                removed.append(d)
    for v in dropped:
        os.remove(_manifest_path(table_dir, v))
    return {"dropped_versions": dropped, "removed_dirs": removed}
