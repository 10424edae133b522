"""Partitioned sink semantics: dynamic overwrite must be per-slice
idempotent; retention drops only expired partitions."""

from __future__ import annotations

from pyspark.sql import functions as F

from lvm_datapipe_spark.sources.sinks import write_partitioned


def test_dynamic_overwrite_replaces_only_incoming_partitions(spark, tmp_path):
    p = str(tmp_path / "tbl")
    full = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["id", "split", "v"]
    )
    write_partitioned(full, p)
    # reprocess ONLY partition 'b' with a corrected value
    fixed_b = spark.createDataFrame([(2, "b", 99.0)], ["id", "split", "v"])
    write_partitioned(fixed_b, p)
    got = {
        (r.id, r.split, r.v) for r in spark.read.parquet(p).collect()
    }
    # a and c survive, b replaced — NOT truncated to just b
    assert got == {(1, "a", 10.0), (2, "b", 99.0), (3, "c", 30.0)}


def test_retention_sweep_drops_only_expired_partitions(spark, tmp_path):
    from pyspark.sql import functions as F

    from lvm_datapipe_spark.sources.sinks import retention_sweep

    df = spark.createDataFrame(
        [(d, i) for i, d in enumerate(["2024-01-01", "2024-02-01", "2024-03-01", "2024-04-01"])],
        "day string, v long",
    )
    out = str(tmp_path / "store")
    df.write.partitionBy("day").parquet(out)

    # dry run: reports, deletes nothing
    assert retention_sweep(out, "day", "2024-03-01", dry_run=True) == [
        "2024-01-01",
        "2024-02-01",
    ]
    assert spark.read.parquet(out).count() == 4

    dropped = retention_sweep(out, "day", "2024-03-01")
    assert dropped == ["2024-01-01", "2024-02-01"]
    back = spark.read.parquet(out)
    assert sorted(str(r["day"]) for r in back.select("day").collect()) == [
        "2024-03-01",
        "2024-04-01",
    ]
    # idempotent
    assert retention_sweep(out, "day", "2024-03-01") == []


def test_orc_roundtrip_preserves_data(spark, tmp_path):
    # second columnar format through the same sink conventions
    from lvm_datapipe_spark.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", "n_chars"
    )
    out = str(tmp_path / "docs_orc")
    docs.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))
