"""Dataset delivery manifests — the handoff contract for a produced
corpus snapshot.

A training run consumes a snapshot by path; the manifest pins what that
path CONTAINED: per data file, its byte size, md5, and parquet row count
(read from the footer — no data pages are scanned), plus totals.  A
consumer verifies the manifest before training (bit-rot, partial copies,
concurrent-rewrite detection) and cites it for reproducibility ("run X
trained on manifest digest Y").  Pure driver-side file walking — the
manifest covers file METADATA, so building it costs footer reads, not a
corpus scan; at 100 TB it parallelizes trivially per file if ever needed.
"""

from __future__ import annotations

import hashlib
import json
import os

__all__ = ["build_manifest", "write_manifest", "verify_manifest"]

_DATA_EXT = (".parquet", ".orc", ".json", ".csv")


def _file_md5(path: str) -> str:
    h = hashlib.md5()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _parquet_rows(path: str) -> int | None:
    try:
        import pyarrow.parquet as pq

        return pq.ParquetFile(path).metadata.num_rows
    except Exception:  # noqa: BLE001 — non-parquet data files
        return None


def build_manifest(root: str) -> dict:
    """Walk a dataset directory and build its manifest dict."""
    files = []
    for dirpath, _dirs, names in os.walk(root):
        for name in sorted(names):
            if not name.endswith(_DATA_EXT) or name.startswith((".", "_")):
                continue
            full = os.path.join(dirpath, name)
            rel = os.path.relpath(full, root)
            entry = {
                "path": rel,
                "bytes": os.path.getsize(full),
                "md5": _file_md5(full),
            }
            rows = _parquet_rows(full)
            if rows is not None:
                entry["rows"] = rows
            files.append(entry)
    files.sort(key=lambda e: e["path"])
    digest = hashlib.md5(
        json.dumps(files, sort_keys=True).encode()
    ).hexdigest()
    return {
        "files": files,
        "n_files": len(files),
        "total_bytes": sum(e["bytes"] for e in files),
        "total_rows": sum(e.get("rows", 0) for e in files),
        "digest": digest,
    }


def write_manifest(root: str) -> dict:
    """Build and persist the manifest as ``_MANIFEST.json`` under the
    dataset root (underscore prefix → invisible to Spark readers)."""
    m = build_manifest(root)
    with open(os.path.join(root, "_MANIFEST.json"), "w") as f:
        json.dump(m, f, indent=1, sort_keys=True)
    return m


def verify_manifest(root: str) -> list[str]:
    """Re-walk the dataset and report every discrepancy against its
    ``_MANIFEST.json`` (missing/extra/changed files).  Empty list =
    verified."""
    with open(os.path.join(root, "_MANIFEST.json")) as f:
        manifest = json.load(f)
    current = {e["path"]: e for e in build_manifest(root)["files"]}
    recorded = {e["path"]: e for e in manifest["files"]}
    problems = []
    for path in sorted(set(recorded) | set(current)):
        if path not in current:
            problems.append(f"missing: {path}")
        elif path not in recorded:
            problems.append(f"extra: {path}")
        elif (current[path]["md5"], current[path]["bytes"]) != (
            recorded[path]["md5"],
            recorded[path]["bytes"],
        ):
            problems.append(f"changed: {path}")
    return problems
