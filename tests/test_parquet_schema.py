"""catalog.read_parquet: the footer schema equals the schema Spark infers,
nullability included, and reading launches no Spark job; where the footer
cannot give the schema it falls back to inference."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF001, SF0001
from pyspark.errors import AnalysisException

from lvm_datapipe_spark import catalog, fakevideo
from lvm_datapipe_spark.catalog import TPCH_TABLES, read_parquet, table_path
from lvm_datapipe_spark.cli import main
from lvm_datapipe_spark.session import jobs_of

SF_DIRS = (SF0001, SF001)
TABLES = [
    table_path(sf, t) for sf in SF_DIRS for t in TPCH_TABLES
    if os.path.exists(table_path(sf, t))
]


@pytest.fixture(scope="module")
def snapshots(spark, tmp_path_factory):
    """A scenecut snapshot and a motion-score snapshot written by the CLI."""
    d = tmp_path_factory.mktemp("schema")
    fakevideo.write_corpus(str(d / "videos"), [f"schv_{i}" for i in range(3)])
    s0, s1 = str(d / "s0"), str(d / "s1")
    assert main(["scenecut", "--video-dir", str(d / "videos"), "--out", s0], spark=spark) == 0
    assert main(["score", "--snapshot", s0, "--out", s1, "--scorer", "motion"],
                spark=spark) == 0
    return {"scenecut": s0, "score": s1}


@pytest.fixture
def nanos_as_long(spark):
    """The reader setting that lets Spark infer a TIMESTAMP(NANOS) table
    (catalog.load_table sets it the same way)."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(key, "false")
    spark.conf.set(key, "true")
    yield
    spark.conf.set(key, old)


def _rows(df):
    return sorted(map(str, df.collect()))


@pytest.mark.parametrize("path", TABLES, ids=lambda p: "/".join(p.split("/")[-2:]))
def test_table_schema_matches_inference(spark, nanos_as_long, path):
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema


def test_snapshot_schemas_and_rows_match_inference(spark, snapshots):
    for path in snapshots.values():
        assert read_parquet(spark, path).schema == spark.read.parquet(path).schema
    # Spark's row metadata marks these non-nullable; its reader does not
    meta = pq.read_schema(os.path.join(
        snapshots["scenecut"],
        next(f for f in sorted(os.listdir(snapshots["scenecut"])) if f.endswith(".parquet")),
    )).metadata[b"org.apache.spark.sql.parquet.row.metadata"]
    assert not {f["name"]: f["nullable"] for f in json.loads(meta)["fields"]}["clip_id"]
    assert read_parquet(spark, snapshots["scenecut"]).schema["clip_id"].nullable
    # the schema handed to Spark is the inferred one, nullability included
    for path in snapshots.values():
        given = catalog._footer_spark_schema(catalog._read_footer(path))
        assert given == spark.read.parquet(path).schema
    score = snapshots["score"]
    assert _rows(read_parquet(spark, score)) == _rows(spark.read.parquet(score))


def test_read_launches_no_job(spark, snapshots):
    paths = [p for p in TABLES if not p.endswith("events.parquet")]
    paths += list(snapshots.values())

    def read_all():
        for p in paths:
            read_parquet(spark, p).schema

    assert jobs_of(spark, read_all)[1] == 0
    assert jobs_of(spark, lambda: spark.read.parquet(snapshots["score"]).schema)[1] == 1


def test_nanos_and_int96_timestamps_fall_back_to_inference(spark, nanos_as_long, tmp_path):
    """Both report ``timestamp[ns]`` in the arrow footer: a pyarrow
    TIMESTAMP(NANOS) column (Spark reads it as bigint under nanosAsLong)
    and Spark's own INT96 timestamp (Spark reads it as timestamp)."""
    nanos = str(tmp_path / "nanos.parquet")
    pq.write_table(pa.table({
        "id": pa.array([1, 2], pa.int64()),
        "ts": pa.array([1_000_000_001, 2], pa.timestamp("ns")),
    }), nanos)
    int96 = str(tmp_path / "int96")
    spark.sql("SELECT 1L AS id, TIMESTAMP'2024-01-01 00:00:01.5' AS ts").write.parquet(int96)
    for path in (nanos, int96):
        got, want = read_parquet(spark, path), spark.read.parquet(path)
        assert got.schema == want.schema, path
        assert _rows(got) == _rows(want)


def test_partitioned_layout_falls_back_to_inference(spark, tmp_path):
    out = str(tmp_path / "parts")
    spark.createDataFrame(
        [(i, f"v{i}", i % 3) for i in range(12)], "id long, val string, k int"
    ).write.partitionBy("k").parquet(out)
    got, want = read_parquet(spark, out), spark.read.parquet(out)
    assert got.schema == want.schema
    assert "k" in got.columns
    assert _rows(got) == _rows(want)


def test_empty_scenecut_snapshot_matches_inference(spark, tmp_path):
    """A write that saw no rows still leaves one data file whose footer
    carries the schema; a directory with no data file at all fails to
    read exactly as inference does."""
    videos = tmp_path / "junk"
    videos.mkdir()
    (videos / "a.fvid").write_bytes(b"JUNKJUNKJUNKJUNKJUNKJUNK")
    out = str(tmp_path / "empty")
    assert main(["scenecut", "--video-dir", str(videos), "--out", out], spark=spark) == 0
    got, want = read_parquet(spark, out), spark.read.parquet(out)
    assert got.schema == want.schema
    assert got.count() == want.count() == 0
    bare = tmp_path / "bare"
    bare.mkdir()
    for read in (lambda p: read_parquet(spark, p), spark.read.parquet):
        with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
            read(str(bare))


def test_unmapped_types_fall_back_to_inference(spark, nanos_as_long, tmp_path):
    """Types arrow maps differently from Spark's parquet reader (a duration,
    an all-null column, a nested nanosecond timestamp) or not at all (an
    unsigned int)."""
    ids = pa.array([1, 2], pa.int64())
    for name, col in [
        ("u32", pa.array([1, 2], pa.uint32())),
        ("dur", pa.array([1, 2], pa.duration("us"))),
        ("nul", pa.array([None, None], pa.null())),
        ("nested_ns", pa.array([{"ts": 1}, {"ts": 2}],
                               pa.struct([("ts", pa.timestamp("ns"))]))),
    ]:
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.table({"id": ids, name: col}), path)
        got, want = read_parquet(spark, path), spark.read.parquet(path)
        assert got.schema == want.schema, name
        assert _rows(got) == _rows(want)
