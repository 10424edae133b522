"""WebDataset-style sharded tar export — the delivery format LVM/LLM
training loaders stream (public format: tar archives of per-sample files,
grouped by a common key prefix; see the webdataset project's spec).

Spark has no tar sink, so the writer is per-partition imperative IO — the
legitimate "sink edge" use of per-partition code.  The sink is
``df.write.format("webdataset")``, a Spark 4 Python DataSourceWriter
(:func:`register_webdataset`): task commits, ``mode("overwrite")``
semantics, and a driver-side ``_manifest.json`` listing exactly the
ACKNOWLEDGED shards (a died-midway export is distinguishable from a
complete one; :func:`read_webdataset` honors the manifest when present).

Scale shape:

- one tar SHARD per ``shard_size`` samples within each partition, named
  ``shard-{partition:05d}-{seq:05d}.tar`` — writers never contend on a
  final file (shards are written to an attempt-suffixed temp name and
  moved into place via the filesystem's rename, so a speculative or
  retried task attempt cannot tear a shard: the last completed attempt
  wins — atomically on local/HDFS; see the FILESYSTEM CONTRACT for the
  object-store caveat);
- samples are written in the partition's row order — pre-sort/
  pre-repartition upstream to control shard composition (e.g.
  ``contiguous_ids`` then ``repartitionByRange`` for size-balanced,
  deterministic shards);
- each sample becomes ``{key}.{ext}`` members; binary columns pass
  through raw; extension ``json`` passes str through VERBATIM (it is
  already JSON — re-encoding would double-quote it) and serializes
  dict/list/Row values; everything else is utf-8 text.

The loader side (``read_webdataset``) exists for round-trip tests and
small-scale inspection: it reads the manifested shard list (or lists the
directory when no manifest exists) and parallelizes member extraction —
production loaders stream shards whole, which is the point of the format.

FILESYSTEM CONTRACT (read before pointing this at a cluster): every byte
of IO here is routed through ``pyarrow.fs`` — a plain path resolves to
the local filesystem, a URI scheme (``file://``, ``s3://``, ``hdfs://``,
``gs://``, ...) resolves via ``pyarrow.fs.FileSystem.from_uri`` on the
driver AND inside each task, so on a multi-node cluster an object-store
URI gives every executor and the driver the SAME directory (credentials
come from the standard env/instance-role chain).  A PLAIN path on a
multi-node cluster must still be a shared mount (NFS/Lustre/fuse) — with
executor-local disks the shards land per-node and the driver manifest
describes nothing.  An unknown scheme fails loudly at ``from_uri`` time.
Atomicity note: shards are written to an attempt-suffixed temp name and
moved into place — an atomic rename on local/HDFS; on S3-like stores the
move is copy+delete (last completed attempt still wins, but a reader
listing mid-move can see both names; the manifest-honoring reader is
immune since only acknowledged final names are manifested).

KEY CONTRACT: ``key_col`` must be GLOBALLY UNIQUE — webdataset-style
loaders group tar members by key prefix, so two samples sharing a key
silently clobber each other at load time.  Repeats within one task are
detected and fail the write loudly; repeats ACROSS tasks cannot be seen
by a per-task writer, so enforce global uniqueness upstream (it is one
``groupBy(key).count().filter("count > 1")`` assertion away).
"""

from __future__ import annotations

import io
import json
import os
import posixpath
import re
import tarfile

MANIFEST = "_manifest.json"

_URI_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


def _fs_for(path: str):
    """Resolve ``path`` to a (pyarrow FileSystem, fs-local path) pair.

    Plain paths → LocalFileSystem (absolutized, so executor tasks that
    fork with a different cwd agree with the driver); scheme'd URIs →
    ``FileSystem.from_uri`` (unknown schemes raise there, loudly).  Called
    independently on the driver and inside every task — pyarrow
    filesystems are constructed from the path string, never shipped."""
    from pyarrow import fs as pafs

    if _URI_SCHEME.match(path):
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), os.path.abspath(path)


def _exists(fs, p: str) -> bool:
    from pyarrow import fs as pafs

    return fs.get_file_info(p).type != pafs.FileType.NotFound


def _list_names(fs, root: str) -> list[str]:
    """Base names of regular files directly under ``root`` ([] if absent)."""
    from pyarrow import fs as pafs

    sel = pafs.FileSelector(root, allow_not_found=True)
    return [
        posixpath.basename(info.path)
        for info in fs.get_file_info(sel)
        if info.is_file
    ]


def _member_bytes(v, ext: str) -> bytes:
    if ext == "json":
        if isinstance(v, str):
            return v.encode()  # already JSON — never double-encode
        if hasattr(v, "asDict"):  # pyspark Row
            v = v.asDict(recursive=True)
        return json.dumps(v, sort_keys=True).encode()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return str(v).encode()


def _write_rows_to_shards(
    rows,
    path: str,
    key_col: str,
    columns: dict,
    shard_size: int,
    pid: int,
    attempt: int,
) -> tuple[int, list]:
    """Shard-writing core of one task: returns (n_rows, final shard names).
    Each shard streams to ``<final>.tmp-<attempt>`` through the resolved
    pyarrow filesystem and is moved into place on close (atomic rename on
    local/HDFS; copy+delete on S3-likes — see FILESYSTEM CONTRACT)."""
    fs, root = _fs_for(path)
    fs.create_dir(root, recursive=True)
    seq = n_in_shard = n_rows = 0
    tar, stream, tmp, final = None, None, None, None
    shards: list = []
    # per-task duplicate-key guard (KEY CONTRACT in the module docstring):
    # one small string per row of this partition — loaders clobber repeated
    # keys silently, so a repeat here is always a data bug worth failing
    seen_keys: set = set()

    def close_current():
        nonlocal tar, stream
        if tar is not None:
            tar.close()
            stream.close()
            fs.move(tmp, final)
            shards.append(posixpath.basename(final))
            tar = stream = None

    try:
        for row in rows:
            if tar is None:
                final = posixpath.join(root, f"shard-{pid:05d}-{seq:05d}.tar")
                tmp = f"{final}.tmp-{attempt}"
                stream = fs.open_output_stream(tmp)
                # "w|" = sequential stream mode: no seeks, so the same
                # writer works against non-seekable object-store streams
                tar = tarfile.open(fileobj=stream, mode="w|")
            k = str(row[key_col])
            if k in seen_keys:
                raise ValueError(
                    f"duplicate {key_col}={k!r} in partition {pid}: webdataset "
                    "keys must be globally unique (loaders group members by "
                    "key and silently clobber repeats)"
                )
            seen_keys.add(k)
            for col, ext in columns.items():
                v = row[col]
                if v is None:
                    continue
                data = _member_bytes(v, ext)
                info = tarfile.TarInfo(name=f"{k}.{ext}")
                info.size = len(data)
                info.mtime = 0  # reproducible archives
                tar.addfile(info, io.BytesIO(data))
            n_rows += 1
            n_in_shard += 1
            if n_in_shard >= shard_size:
                close_current()
                n_in_shard, seq = 0, seq + 1
        close_current()
    except BaseException:
        # best-effort cleanup: the closes may themselves raise on a broken
        # remote stream (often the very condition behind the original
        # error) — suppress them so the ORIGINAL exception propagates and
        # the temp-object deletion still runs
        import contextlib

        if tar is not None:
            with contextlib.suppress(Exception):
                tar.close()
        if stream is not None:
            with contextlib.suppress(Exception):
                stream.close()
        if tmp is not None:
            with contextlib.suppress(Exception):
                if _exists(fs, tmp):
                    fs.delete_file(tmp)  # never leave a torn temp behind
        raise
    return n_rows, shards


def read_webdataset(spark, path: str):
    """Round-trip reader: (shard, key, ext, content bytes) rows — one task
    per shard.  When ``_manifest.json`` exists (DataSource writes), ONLY
    the acknowledged shards in it are read — partial shards from a failed
    or superseded run are skipped; without a manifest the directory
    listing is the source of truth."""
    fs, root = _fs_for(path)
    from pyarrow import fs as pafs

    if fs.get_file_info(root).type == pafs.FileType.NotFound:
        # fail loudly on a typo'd / not-yet-written path — a silent empty
        # DataFrame would let a downstream job "succeed" on zero rows
        raise FileNotFoundError(f"webdataset path does not exist: {path}")
    mpath = posixpath.join(root, MANIFEST)
    if _exists(fs, mpath):
        with fs.open_input_stream(mpath) as f:
            names = json.loads(f.read().decode())["shards"]
        shards = sorted(posixpath.join(root, n) for n in names)
    else:
        shards = sorted(
            posixpath.join(root, n)
            for n in _list_names(fs, root)
            if n.endswith(".tar")
        )

    def read_shard(it):
        # re-resolve inside the task: executors build their own filesystem
        # handle from the path string (works for object-store URIs too)
        task_fs, _root = _fs_for(path)
        for shard in it:
            # "r|*" = sequential stream mode (members read in order, no
            # seeks) — the non-seekable-input sibling of the writer's "w|"
            with task_fs.open_input_stream(shard) as st, tarfile.open(
                fileobj=st, mode="r|*"
            ) as tar:
                for m in tar:
                    stem, _dot, ext = m.name.rpartition(".")
                    f = tar.extractfile(m)
                    data = f.read() if f is not None else b""
                    yield (posixpath.basename(shard), stem, ext, bytearray(data))

    rdd = spark.sparkContext.parallelize(shards, max(len(shards), 1)).mapPartitions(
        read_shard
    )
    return spark.createDataFrame(
        rdd, "shard string, key string, ext string, content binary"
    )


# ---------------------------------------------------------------------------
# The sink: df.write.format("webdataset") via the Spark 4 Python
# DataSource WRITER API.
# ---------------------------------------------------------------------------

try:  # pyspark >= 4 only
    from dataclasses import dataclass

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    @dataclass
    class _ShardCommit(WriterCommitMessage):
        partition_id: int
        n_rows: int
        shards: list

    class WebDatasetWriter(DataSourceWriter):
        """Per-task writer over the shard core, committed through
        the DataSourceWriter protocol: a failed task's shards are never
        acknowledged, ``commit()`` writes the ``_manifest.json`` of
        acknowledged shards, and ``mode("overwrite")`` clears prior
        shards + manifest DRIVER-SIDE before any task launches."""

        def __init__(self, options, overwrite: bool):
            self.path = options.get("path")
            if not self.path:
                raise ValueError("path option is required")
            fs, root = _fs_for(self.path)  # fail fast on an unknown scheme
            self.key_col = options.get("key_col", "key")
            spec = options.get("columns", "")  # "col:ext,col2:ext2"
            self.columns = dict(
                part.split(":", 1) for part in spec.split(",") if part
            )
            if not self.columns:
                raise ValueError(
                    "columns option is required, e.g. 'txt:txt,payload:bin'"
                )
            self.shard_size = int(options.get("shard_size", "1000"))
            existing = [
                n for n in _list_names(fs, root)
                if n.endswith(".tar") or n == MANIFEST
            ]
            if not overwrite and existing:
                # "append" cannot be honest here: shard names are
                # deterministic per (partition, seq) so a second run
                # overwrites prior shards, and commit() rewrites the
                # manifest with only its own — silently clobbering
                # and orphaning the earlier export.  Fail loudly.
                raise ValueError(
                    f"{self.path} already holds a webdataset export "
                    f"({len(existing)} files); write to a fresh "
                    "directory or use mode('overwrite')"
                )
            if overwrite:
                # runs on the DRIVER when the writer is built, before any
                # task: stale shards must not survive into the new export
                # (they would outlive the rewritten manifest and leak into
                # directory-listing readers)
                for n in existing:
                    fs.delete_file(posixpath.join(root, n))

        def write(self, rows):
            from pyspark import TaskContext

            ctx = TaskContext.get()
            n_rows, shards = _write_rows_to_shards(
                rows, self.path, self.key_col, self.columns,
                self.shard_size, ctx.partitionId(), ctx.attemptNumber(),
            )
            return _ShardCommit(ctx.partitionId(), n_rows, shards)

        def commit(self, messages):
            manifest = {
                "n_rows": sum(m.n_rows for m in messages),
                "shards": sorted(s for m in messages for s in m.shards),
            }
            fs, root = _fs_for(self.path)
            with fs.open_output_stream(posixpath.join(root, MANIFEST)) as f:
                f.write(json.dumps(manifest, sort_keys=True).encode())

        def abort(self, messages):
            # acknowledged shards from completed tasks are left on disk but
            # NOT manifested — the manifest-honoring reader skips them
            pass

    class WebDatasetDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "webdataset"

        def writer(self, schema, overwrite: bool) -> WebDatasetWriter:
            return WebDatasetWriter(self.options, overwrite)

except ImportError:  # pragma: no cover — pyspark<4 fallback
    WebDatasetDataSource = None  # type: ignore[assignment]


def register_webdataset(spark) -> None:
    """Register the sink: ``df.write.format("webdataset").option(...)
    .mode("append").save()``."""
    if WebDatasetDataSource is None:  # pragma: no cover
        raise RuntimeError("webdataset DataSource needs pyspark >= 4")
    spark.dataSource.register(WebDatasetDataSource)
