"""Schema-dialect conversion tests (nested working ↔ flat published)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from lvm_datapipe_spark.operators import export


def _flat(spark):
    rows = [
        {
            "video_id": "vid_1",
            "clip_id": "vid_1_0000000",
            "clip_path": "vid_1_0000000.mp4",
            "clip_duration": 2.5,
            "image_quality": 70.0,
            "aesthetic_score": [5.0, 6.0, 7.0],
            "ocr_score": 0.1,
            "frame_caption": ["a", "b", "c"],
            "caption": "scene caption",
            "background": "city",
        },
        {
            "video_id": "vid_2",
            "clip_id": "vid_2_0000000",
            "clip_path": None,
            "clip_duration": None,
            "image_quality": None,
            "aesthetic_score": None,
            "ocr_score": None,
            "frame_caption": None,
            "caption": None,
            "background": None,
        },
    ]
    return spark.createDataFrame(rows)


def test_roundtrip_flat_nested_flat(spark):
    flat = _flat(spark)
    nested = export.nest_clips(flat)
    assert "basic" in nested.columns and "scene" in nested.columns
    row = nested.filter(F.col("basic.video_id") == "vid_1").first()
    assert row.basic.clip_id == "vid_1_0000000"
    assert row.basic.optimal_score == [5.0, 6.0, 7.0]
    assert json.loads(row.misc["frame_caption"]) == ["a", "b", "c"]
    back = export.flatten_clips(
        nested.withColumn(
            "scene",
            F.col("scene").withField("objects", F.lit(None).cast(
                "array<struct<category:string,action:string,action_speed:string>>")),
        )
    )
    got = back.filter(F.col("video_id") == "vid_1").first()
    assert got.frame_caption == ["a", "b", "c"]
    assert got.image_quality == 70.0
    assert got.aesthetic_score == [5.0, 6.0, 7.0]


def test_nest_tolerates_missing_columns(spark):
    # load_from_dict semantics: absent fields default to null, never error
    flat = spark.createDataFrame([("v1", "c1")], ["video_id", "clip_id"])
    nested = export.nest_clips(flat)
    row = nested.first()
    assert row.basic.video_id == "v1"
    assert row.basic.clip_duration is None
    assert row.misc is None
