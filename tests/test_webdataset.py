"""WebDataset tar shard export/round-trip (sources/webdataset.py)."""

from __future__ import annotations

import json
import os
import tarfile

import pytest

from lvm_datapipe_spark.sources.webdataset import read_webdataset, register_webdataset


def _ds_write(df, out, columns="txt:txt", shard_size="5", mode="append"):
    """Write through the ``df.write.format("webdataset")`` sink;
    ``columns`` is the sink's ``col:ext,col2:ext2`` option."""
    register_webdataset(df.sparkSession)
    (
        df.write.format("webdataset")
        .option("path", out)
        .option("key_col", "key")
        .option("columns", columns)
        .option("shard_size", shard_size)
        .mode(mode)
        .save()
    )


def test_write_read_roundtrip(spark, tmp_path):
    out = str(tmp_path / "wds")
    rows = [
        (f"doc{i:04d}", f"text body {i}", bytes([i % 256, (255 - i) % 256]))
        for i in range(25)
    ]
    df = spark.createDataFrame(rows, "key string, txt string, payload binary").repartition(3)
    _ds_write(df, out, columns="txt:txt,payload:bin")
    back = read_webdataset(spark, out).collect()
    by_key = {}
    for r in back:
        by_key.setdefault(r["key"], {})[r["ext"]] = bytes(r["content"])
    assert len(by_key) == 25
    for key, txt, payload in rows:
        assert by_key[key]["txt"].decode() == txt
        assert by_key[key]["bin"] == payload


def test_shard_size_and_naming(spark, tmp_path):
    out = str(tmp_path / "wds2")
    df = spark.createDataFrame(
        [(f"k{i}", "x") for i in range(20)], "key string, txt string"
    ).coalesce(1)
    _ds_write(df, out, shard_size="6")
    shards = sorted(f for f in os.listdir(out) if f.endswith(".tar"))
    # 20 rows / 6 per shard in one partition → 4 shards from partition 0
    assert shards == [f"shard-00000-{i:05d}.tar" for i in range(4)]
    sizes = []
    for s in shards:
        with tarfile.open(os.path.join(out, s)) as t:
            sizes.append(len(t.getmembers()))
    assert sizes == [6, 6, 6, 2]


def test_json_members_and_null_skip(spark, tmp_path):
    out = str(tmp_path / "wds3")
    df = spark.createDataFrame(
        [("a", '{"lang":"en"}', None), ("b", None, "hello")],
        "key string, meta string, txt string",
    ).coalesce(1)
    _ds_write(df, out, columns="meta:json,txt:txt")
    back = read_webdataset(spark, out).collect()
    members = {(r["key"], r["ext"]): bytes(r["content"]) for r in back}
    assert set(members) == {("a", "json"), ("b", "txt")}  # nulls skipped
    # a string value under ext 'json' is ALREADY JSON — verbatim, never
    # double-encoded (loaders must get a dict from json.load, not a str)
    assert json.loads(members[("a", "json")]) == {"lang": "en"}


@pytest.mark.slow  # >=7 s equivalence test (r11 tier split)
def test_archives_reproducible(spark, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    df = spark.createDataFrame(
        [(f"k{i}", f"t{i}") for i in range(8)], "key string, txt string"
    ).coalesce(1)
    for out in (a, b):
        _ds_write(df, out, shard_size="8")
    fa, fb = (open(os.path.join(d, "shard-00000-00000.tar"), "rb").read() for d in (a, b))
    assert fa == fb  # mtime pinned → byte-identical re-export


def test_datasource_writer_roundtrip_and_manifest(spark, tmp_path):
    import json as _json

    out = str(tmp_path / "wds_ds")
    rows = [(f"k{i:03d}", f"body {i}") for i in range(17)]
    df = spark.createDataFrame(rows, "key string, txt string").repartition(2)
    _ds_write(df, out)
    manifest = _json.load(open(os.path.join(out, "_manifest.json")))
    assert manifest["n_rows"] == 17
    listed = sorted(f for f in os.listdir(out) if f.endswith(".tar"))
    assert manifest["shards"] == listed
    back = read_webdataset(spark, out).collect()
    assert {(r["key"], bytes(r["content"]).decode()) for r in back} == set(rows)


def test_datasource_writer_requires_options(spark, tmp_path):
    import pytest

    register_webdataset(spark)
    df = spark.createDataFrame([("a", "b")], "key string, txt string")
    with pytest.raises(Exception, match="columns"):
        (
            df.write.format("webdataset")
            .option("path", str(tmp_path / "x"))
            .mode("append")
            .save()
        )


@pytest.mark.slow  # >=7 s equivalence test (r11 tier split)
def test_datasource_overwrite_clears_stale_shards(spark, tmp_path):
    import json as _json

    out = str(tmp_path / "wds_ow")
    big = spark.createDataFrame(
        [(f"k{i:03d}", "old") for i in range(17)], "key string, txt string"
    ).repartition(2)
    _ds_write(big, out)
    assert len([f for f in os.listdir(out) if f.endswith(".tar")]) >= 4

    small = spark.createDataFrame(
        [("n1", "new"), ("n2", "new")], "key string, txt string"
    ).coalesce(1)
    _ds_write(small, out, mode="overwrite")
    manifest = _json.load(open(os.path.join(out, "_manifest.json")))
    assert manifest["n_rows"] == 2
    # stale shards are gone from disk AND the read sees only the new rows
    listed = sorted(f for f in os.listdir(out) if f.endswith(".tar"))
    assert listed == manifest["shards"]
    back = read_webdataset(spark, out).collect()
    assert {r["key"] for r in back} == {"n1", "n2"}


def test_reader_honors_manifest_over_listing(spark, tmp_path):
    import json as _json
    import tarfile as _tarfile

    out = str(tmp_path / "wds_man")
    df = spark.createDataFrame(
        [("a", "x"), ("b", "y")], "key string, txt string"
    ).coalesce(1)
    _ds_write(df, out)
    # plant an UNACKNOWLEDGED shard (a failed/superseded attempt's leftover)
    rogue = os.path.join(out, "shard-99999-00000.tar")
    with _tarfile.open(rogue, "w") as t:
        import io as _io

        data = b"zzz"
        info = _tarfile.TarInfo("rogue.txt")
        info.size = len(data)
        t.addfile(info, _io.BytesIO(data))
    keys = {r["key"] for r in read_webdataset(spark, out).collect()}
    assert keys == {"a", "b"}  # manifest wins; rogue shard skipped
    # without a manifest the listing is the source of truth
    os.remove(os.path.join(out, "_manifest.json"))
    keys2 = {r["key"] for r in read_webdataset(spark, out).collect()}
    assert "rogue" in keys2


@pytest.mark.slow  # >=7 s equivalence test (r11 tier split)
def test_datasource_append_refuses_existing_export(spark, tmp_path):
    import pytest

    out = str(tmp_path / "wds_refuse")
    df = spark.createDataFrame([("a", "x")], "key string, txt string").coalesce(1)
    _ds_write(df, out)
    with pytest.raises(Exception, match="fresh|overwrite"):
        _ds_write(df, out)  # append onto an existing export must fail loudly
    _ds_write(df, out, mode="overwrite")  # but overwrite remains fine


def test_duplicate_key_fails_loudly(spark, tmp_path):
    # KEY CONTRACT: loaders group members by key and silently clobber
    # repeats, so the writer must fail on an in-task duplicate
    import pytest

    out = str(tmp_path / "wds_dup")
    df = spark.createDataFrame(
        [("k1", "a"), ("k2", "b"), ("k1", "c")], "key string, txt string"
    ).coalesce(1)
    with pytest.raises(Exception, match="duplicate.*k1"):
        _ds_write(df, out)


def test_file_uri_scheme_round_trips(spark, tmp_path):
    # FILESYSTEM CONTRACT: scheme'd URIs resolve through pyarrow.fs on the
    # driver and inside each task — file:// exercises the exact same
    # resolution path an object-store URI takes, against local disk
    out_uri = f"file://{tmp_path}/wds_uri"
    df = spark.createDataFrame(
        [("k1", "a"), ("k2", "b"), ("k3", "c")], "key string, txt string"
    ).coalesce(1)
    _ds_write(df, out_uri)
    got = {
        r["key"]: bytes(r["content"]).decode()
        for r in read_webdataset(spark, out_uri).collect()
    }
    assert got == {"k1": "a", "k2": "b", "k3": "c"}
    # the export really landed at the local path the URI names
    import os

    assert any(
        f.endswith(".tar") for f in os.listdir(f"{tmp_path}/wds_uri")
    )


def test_unknown_uri_scheme_rejected(spark, tmp_path):
    # an unregistered scheme must fail loudly at resolution time, not be
    # silently treated as a relative local dir named "bogus:"
    import pytest

    df = spark.createDataFrame([("k1", "a")], "key string, txt string")
    with pytest.raises(Exception, match="[Uu]nrecognized|[Uu]nknown|scheme"):
        _ds_write(df, "bogus://bucket/wds")
    with pytest.raises(Exception, match="[Uu]nrecognized|[Uu]nknown|scheme"):
        read_webdataset(spark, "bogus://bucket/wds")


def test_read_missing_path_fails_loudly(spark, tmp_path):
    # a typo'd path must raise, not return a silent empty DataFrame that
    # lets a downstream job "succeed" on zero rows
    import pytest

    with pytest.raises(FileNotFoundError, match="does not exist"):
        read_webdataset(spark, str(tmp_path / "no_such_export"))
