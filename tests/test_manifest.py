"""Delivery manifests: footer-derived row counts, tamper detection."""

from __future__ import annotations

from lvm_datapipe_spark.sources.manifest import (
    verify_manifest,
    write_manifest,
)


def test_manifest_counts_and_verifies(spark, tmp_path):
    out = str(tmp_path / "ds")
    df = spark.range(0, 1000).selectExpr("id", "id % 7 AS g")
    df.repartition(4).write.mode("overwrite").parquet(out)

    m = write_manifest(out)
    assert m["total_rows"] == 1000
    assert m["n_files"] >= 4
    assert verify_manifest(out) == []

    # the manifest file itself must be invisible to Spark readers
    assert spark.read.parquet(out).count() == 1000

    # tamper: flip a byte in one data file
    victim = tmp_path / "ds" / m["files"][0]["path"]
    data = bytearray(victim.read_bytes())
    data[10] ^= 0xFF
    victim.write_bytes(bytes(data))
    problems = verify_manifest(out)
    assert problems == [f"changed: {m['files'][0]['path']}"]


def test_manifest_detects_missing_and_extra(spark, tmp_path):
    out = str(tmp_path / "ds2")
    spark.range(0, 10).write.mode("overwrite").parquet(out)
    m = write_manifest(out)
    victim = tmp_path / "ds2" / m["files"][0]["path"]
    victim.unlink()
    (tmp_path / "ds2" / "rogue.parquet").write_bytes(b"PAR1junk")
    problems = set(verify_manifest(out))
    assert f"missing: {m['files'][0]['path']}" in problems
    assert "extra: rogue.parquet" in problems
