"""Structured Streaming tests: stream results must converge to the batch
twins on the same data (the streaming layer's correctness oracle)."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lvm_datapipe_spark.catalog import load_table
from lvm_datapipe_spark.streaming import events as ev

N_FILES = 4
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _read_events(spark, landing_dir, max_files_per_trigger=10):
    """File-source stream of JSONL event batches in a landing directory."""
    return (
        spark.readStream.format("json")
        .schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(landing_dir)
    )


def _to_memory(df, query_name, output_mode="update"):
    """Start ``df`` into an in-memory table named ``query_name``."""
    return df.writeStream.format("memory").queryName(query_name).outputMode(output_mode).start()


def _await(query, timeout_s=60):
    """Process all available data then stop."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if not query.status["isDataAvailable"] and not query.status["isTriggerActive"]:
            break
        time.sleep(0.5)
    query.processAllAvailable()
    query.stop()


def _write_event_batches(d, rows, n_files=N_FILES):
    """Write event Rows as n_files JSONL arrival batches (shared by the
    landing_dir fixture and tests needing a custom row order)."""
    chunk = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        with open(d / f"batch_{i}.json", "w") as f:
            for r in rows[i * chunk : (i + 1) * chunk]:
                rec = {k: None for k in EVENTS_SCHEMA.fieldNames()}
                rec.update(r.asDict())
                rec["ts"] = rec["ts"].isoformat()
                f.write(json.dumps(rec) + "\n")


@pytest.fixture(scope="module")
def landing_dir(spark, tmp_path_factory):
    """Split the driver's events table into N json files (batch arrivals)."""
    d = tmp_path_factory.mktemp("landing")
    _write_event_batches(d, load_table(spark, "/root/testdata/sf0.001", "events").collect())
    return str(d)


def test_stream_windowed_counts_match_batch(spark, landing_dir, sf_dir):
    stream = _read_events(spark, landing_dir)
    assert stream.isStreaming
    q = _to_memory(
        ev.windowed_counts(stream), "win_counts", output_mode="complete"
    )
    _await(q)
    got = {
        (r.window_start, r.event_type): (r.n, round(r.total_value, 6))
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    batch = ev.windowed_counts(load_table(spark, sf_dir, "events"))
    want = {
        (r.window_start, r.event_type): (r.n, round(r.total_value, 6))
        for r in batch.collect()
    }
    assert got == want


def test_windowed_counts_same_plan_batch_and_stream(spark, sf_dir):
    """The batch twin of windowed_counts IS the oracle-checked tumbling
    window query: same column names, same values."""
    from lvm_datapipe_spark.queries import QUERIES

    batch = ev.windowed_counts(load_table(spark, sf_dir, "events"))
    oracle = QUERIES["events_tumbling_window"](spark, sf_dir)
    a = {(r.window_start, r.event_type, r.n) for r in batch.collect()}
    b = {(r.window_start, r.event_type, r.n) for r in oracle.collect()}
    assert a == b


def test_stream_clips_landing_pipeline(spark, tmp_path):
    """Clips-domain streaming: JSONL metadata landing -> watermarked dedup
    on clip_id -> parquet sink; re-delivered shards don't duplicate rows
    (the streaming form of the reference's resume markers)."""
    import shutil

    schema = T.StructType(
        [
            T.StructField("clip_id", T.StringType()),
            T.StructField("video_id", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("clip_duration", T.DoubleType()),
        ]
    )
    landing = tmp_path / "clips_landing"
    landing.mkdir()
    for shard in range(2):
        with open(landing / f"shard_{shard}.json", "w") as f:
            for i in range(10):
                f.write(
                    json.dumps(
                        {
                            "clip_id": f"v{shard}_{i:07d}",
                            "video_id": f"v{shard}",
                            "ts": f"2024-01-01T0{shard}:00:{i:02d}",
                            "clip_duration": 1.5,
                        }
                    )
                    + "\n"
                )
    # re-deliver shard 0 wholesale (at-least-once delivery)
    shutil.copy(landing / "shard_0.json", landing / "shard_0_redelivered.json")

    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(landing))
    )
    # dropDuplicatesWithinWatermark: state for clip_ids older than the
    # watermark is evicted (plain dropDuplicates([key]) without the event-time
    # column in the subset would grow state forever)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["clip_id"]
    )
    out, ckpt = str(tmp_path / "clips_out"), str(tmp_path / "clips_ckpt")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    result = spark.read.parquet(out)
    assert result.count() == 20  # 30 delivered rows -> 20 unique clips
    assert result.select("clip_id").distinct().count() == 20


def test_stream_static_enrichment_matches_batch(spark, landing_dir):
    """Stream-static broadcast join: streamed events enriched with customer
    attributes must equal the batch join row-for-row."""
    cust = load_table(spark, "/root/testdata/sf0.001", "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    stream = _read_events(spark, landing_dir)
    q = _to_memory(
        ev.enrich_stream(stream, cust), "enriched_events", output_mode="append"
    )
    _await(q)
    got = {
        (r.event_id, r.c_mktsegment, r.c_acctbal)
        for r in spark.sql("SELECT * FROM enriched_events").collect()
    }
    batch = ev.enrich_stream(
        load_table(spark, "/root/testdata/sf0.001", "events"), cust
    )
    want = {(r.event_id, r.c_mktsegment, r.c_acctbal) for r in batch.collect()}
    assert got == want
    assert len(got) > 0


def test_stream_stream_interval_join_matches_batch(spark, landing_dir):
    """Stream-stream inner join with event-time bounds: every (purchase,
    view-within-lookback) pair the batch twin produces must emit from the
    streaming form on the same data (inner-join results emit as matches
    arrive; the watermark only bounds buffered state)."""
    views = _read_events(spark, landing_dir).filter(
        F.col("event_type") == "view"
    )
    purchases = _read_events(spark, landing_dir).filter(
        F.col("event_type") == "purchase"
    )
    q = _to_memory(
        ev.interval_join_views_purchases(views, purchases),
        "ss_interval_join",
        output_mode="append",
    )
    _await(q)
    got = {
        (r.purchase_id, r.view_id)
        for r in spark.sql("SELECT * FROM ss_interval_join").collect()
    }
    evb = load_table(spark, "/root/testdata/sf0.001", "events")
    batch = ev.interval_join_views_purchases(
        evb.filter(F.col("event_type") == "view"),
        evb.filter(F.col("event_type") == "purchase"),
    )
    want = {(r.purchase_id, r.view_id) for r in batch.collect()}
    assert len(want) > 0
    assert got == want


@pytest.mark.slow  # >=7 s equivalence test (r11 tier split)
def test_stream_stream_outer_join_emits_nulls_after_watermark(
    spark, landing_dir, tmp_path
):
    """LEFT OUTER stream-stream interval join: a purchase with no view in
    its lookback emits a null-view row once the watermark proves no future
    view can match.  A far-future sentinel view advances the watermark past
    all real data so every outer row flushes."""
    import shutil

    d = tmp_path / "landing_outer"
    shutil.copytree(landing_dir, d)
    q = _to_memory(
        ev.interval_join_views_purchases(
            _read_events(spark, str(d)).filter(F.col("event_type") == "view"),
            _read_events(spark, str(d)).filter(
                F.col("event_type") == "purchase"
            ),
            how="left_outer",
        ),
        "ss_outer_join",
        output_mode="append",
    )
    q.processAllAvailable()
    # sentinels far past max(ts) + watermark + horizon flush outer state;
    # TWO batches needed: the watermark updates at the END of the batch that
    # read sentinel 1, and eviction/emission happen in the NEXT batch —
    # which only triggers when sentinel 2 arrives
    # the global watermark is the MIN across both sides' watermark
    # operators, and each sits AFTER its event_type filter — so both sides
    # need a sentinel, or the purchase side pins the minimum
    for i in (1, 2):
        with open(d / f"zz_sentinel{i}.json", "w") as f:
            for j, etype in enumerate(("view", "purchase")):
                f.write(
                    json.dumps(
                        {"event_id": 10**9 + 2 * i + j,
                         "ts": f"203{i}-01-01T00:00:00", "user_id": -1,
                         "event_type": etype, "value": 0.0, "props": "{}"}
                    )
                    + "\n"
                )
        q.processAllAvailable()
    _await(q, timeout_s=90)

    rows = spark.sql(
        "SELECT * FROM ss_outer_join WHERE purchase_id IS NOT NULL"
        " AND user_id >= 0"  # exclude the watermark sentinels
    ).collect()
    got_pairs = {(r.purchase_id, r.view_id) for r in rows if r.view_id is not None}
    got_unmatched = {r.purchase_id for r in rows if r.view_id is None}

    evb = load_table(spark, "/root/testdata/sf0.001", "events")
    batch = ev.interval_join_views_purchases(
        evb.filter(F.col("event_type") == "view"),
        evb.filter(F.col("event_type") == "purchase"),
        how="left_outer",
    ).collect()
    want_pairs = {(r.purchase_id, r.view_id) for r in batch if r.view_id is not None}
    want_unmatched = {r.purchase_id for r in batch if r.view_id is None}

    assert got_pairs == want_pairs
    assert len(want_unmatched) > 0
    assert got_unmatched == want_unmatched


def test_stream_temporal_enrich_matches_batch(spark, landing_dir):
    """SCD2 read-side on a STREAM: temporal_join is a stateless
    stream-static join (key equality + validity residual; the static
    version table is re-planned per micro-batch), so it runs unchanged on
    a streaming frame and must converge to the batch twin."""
    from lvm_datapipe_spark.operators.scd import temporal_join

    versions = spark.createDataFrame(
        [
            (uid, f"tier-early-{uid}", "2024-01-01T00:00:00", "2024-01-15T00:00:00")
            for uid in range(0, 40, 2)
        ]
        + [
            (uid, f"tier-late-{uid}", "2024-01-15T00:00:00", None)
            for uid in range(0, 40)
        ],
        "doc_id long, tier string, valid_from string, valid_to string",
    ).select(
        "doc_id",
        "tier",
        F.to_timestamp("valid_from").alias("valid_from"),
        F.to_timestamp("valid_to").alias("valid_to"),
    )

    stream = _read_events(spark, landing_dir).select(
        "event_id", "ts", F.col("user_id").alias("doc_id")
    )
    out = temporal_join(stream, versions)
    assert out.isStreaming
    q = _to_memory(out, "temporal_enrich", output_mode="append")
    _await(q)
    got = {
        (r.event_id, r.tier)
        for r in spark.sql("SELECT * FROM temporal_enrich").collect()
    }
    batch = temporal_join(
        load_table(spark, "/root/testdata/sf0.001", "events").select(
            "event_id", "ts", F.col("user_id").alias("doc_id")
        ),
        versions,
    )
    want = {(r.event_id, r.tier) for r in batch.collect()}
    assert got == want
    # the version split is actually exercised: both tiers appear
    tiers = {t for _, t in got if t}
    assert any(t.startswith("tier-early") for t in tiers)
    assert any(t.startswith("tier-late") for t in tiers)


# -- watermark-drop audit: shuffled-arrival fixture (r9, VERDICT item 6) -----


def _audit_reference(rows, delays):
    """Pure-python replay: rows = [(key, tsec, seq)], arrival = seq order."""
    from collections import defaultdict

    bykey = defaultdict(list)
    for key, tsec, seq in rows:
        bykey[key].append((seq, tsec))
    out = {}
    for key, evs in bykey.items():
        evs.sort()
        hw, late = None, []
        for _, tsec in evs:
            hw = tsec if hw is None else max(hw, tsec)
            late.append(hw - tsec)
        for d in delays:
            dropped = sum(1 for x in late if x > d)
            out[(key, d)] = (
                len(late),
                dropped,
                dropped * 1_000_000 // len(late),
                max(late),
            )
    return out


def _arrivals(spark, rows):
    """The audit's input for ``(key, tsec, seq)`` rows: arrival order is
    ``seq`` (also the event id)."""
    return spark.createDataFrame(
        [(k, t, q, q) for k, t, q in rows],
        "event_type string, tsec long, arr long, event_id long",
    )


def test_watermark_audit_shuffled_arrival_fixture(spark):
    """The late branch exercised by DATA: an explicitly scrambled ingest
    sequence (not the declared query's synthetic jitter) must yield the
    pinned non-zero drop counts — protecting the audit row if the jitter
    expression is ever simplified into vacuous in-order arrival."""
    delays = (0, 60, 600, 3600)
    # hand-pinnable case: one partition, arrival order scrambles event time
    rows = [
        ("a", 100, 1),
        ("a", 700, 2),
        ("a", 40, 3),    # 660 s late
        ("a", 820, 4),
        ("a", 760, 5),   # 60 s late (dropped only at delay 0)
        ("a", 30, 6),    # 790 s late
    ]
    df = _arrivals(spark, rows)
    got = {
        (r.event_type, r.delay_s): (r.n_events, r.n_dropped, r.drop_ppm, r.max_late_s)
        for r in ev.watermark_drop_audit(df).collect()
    }
    assert got[("a", 0)] == (6, 3, 500_000, 790)
    assert got[("a", 60)] == (6, 2, 333_333, 790)
    assert got[("a", 600)] == (6, 2, 333_333, 790)
    assert got[("a", 3600)] == (6, 0, 0, 790)
    assert got == _audit_reference(rows, delays)


def test_watermark_audit_matches_reference_on_permuted_feed(spark):
    """200-event two-partition fixture whose arrival order is a fixed
    multiplicative permutation of event time — late events guaranteed in
    both partitions; Spark must equal the python replay exactly."""
    delays = (0, 60, 600, 3600)
    rows = []
    for i in range(200):
        key = "k%d" % (i % 2)
        tsec = 1000 + i * 37          # event time, increasing
        seq = (i * 73) % 200          # arrival permutation (gcd(73,200)=1)
        rows.append((key, tsec, seq))
    df = _arrivals(spark, rows)
    got = {
        (r.event_type, r.delay_s): (r.n_events, r.n_dropped, r.drop_ppm, r.max_late_s)
        for r in ev.watermark_drop_audit(df).collect()
    }
    expect = _audit_reference(rows, delays)
    assert got == expect
    # the fixture genuinely exercises the late branch in every partition
    assert all(expect[(k, 0)][1] > 0 for k in ("k0", "k1"))


# --- state-partition sizing for the sink verification queries (r10 opt) ----


def test_stream_state_partitions_pins_and_restores_conf(spark, monkeypatch):
    from lvm_datapipe_spark.queries import streaming
    from lvm_datapipe_spark.queries.streaming import _stream_state_partitions

    old = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setattr(streaming, "STREAM_STATE_PARTITIONS", 3)
    with _stream_state_partitions(spark):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    assert spark.conf.get("spark.sql.shuffle.partitions") == old
    # restores even when the body raises
    with pytest.raises(RuntimeError):
        with _stream_state_partitions(spark):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == old


def test_stream_sink_rows_independent_of_state_partitions(spark, monkeypatch):
    # the state-store count is a layout knob: the sink contents must be
    # identical under any setting (exact hash aggregation per key)
    from lvm_datapipe_spark.queries import QUERIES, streaming

    sf = "/root/testdata/sf0.001"
    monkeypatch.setattr(streaming, "STREAM_STATE_PARTITIONS", 2)
    a = QUERIES["stream_sink_tumbling_window"](spark, sf)
    monkeypatch.setattr(streaming, "STREAM_STATE_PARTITIONS", 13)
    b = QUERIES["stream_sink_tumbling_window"](spark, sf)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_stream_sink_queries_remove_their_temp_dirs(spark, sf_dir, monkeypatch, tmp_path):
    # the sink result is materialized before the query returns, so no
    # landing, sink or checkpoint dir outlives a run
    from lvm_datapipe_spark.queries import QUERIES

    monkeypatch.setenv("SPARK_GRAFT_STREAM_TMP", str(tmp_path))
    for name in ("stream_sink_tumbling_window", "stream_sink_session_window"):
        assert QUERIES[name](spark, sf_dir).collect()
    assert list(tmp_path.iterdir()) == []
