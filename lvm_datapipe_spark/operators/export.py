"""Schema dialect conversion: nested working schema ↔ flat published schema.

The reference keeps two dialects (SURVEY.md §1.2): the nested working schema
(basic/scene/camera/misc, ``data_schema/macvid.py:11-44``) and the flat
published MMTrail schema (``README.md:37-63``).  Conversions here are pure
column expressions; the ``misc`` map's JSON-encoded values (e.g.
``misc.frame_caption`` holding a JSON array of 3 strings,
``coca_caption.py:101``) decode with ``from_json`` (C14).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _nested_field(df: DataFrame, section: str, field: str, typ: str):
    """F.col(section.field) when present, typed null otherwise — the
    load_from_dict defaulting direction (scene_cut.py:120-137): partial
    records flatten without error."""
    try:
        struct = df.schema[section].dataType
        names = [f.name for f in struct.fields]
    except (KeyError, AttributeError):
        names = []
    if field in names:
        return F.col(f"{section}.{field}")
    return F.lit(None).cast(typ)


def flatten_clips(nested: DataFrame) -> DataFrame:
    """Nested working schema → flat published rows (README.md:37-63).
    Missing optional sections/fields become nulls, never errors."""
    objects = _nested_field(
        nested, "scene", "objects",
        "array<struct<category:string,action:string,action_speed:string>>",
    )
    return nested.select(
        _nested_field(nested, "basic", "video_id", "string").alias("video_id"),
        _nested_field(nested, "basic", "clip_id", "string").alias("clip_id"),
        _nested_field(nested, "basic", "clip_path", "string").alias("clip_path"),
        _nested_field(nested, "basic", "clip_duration", "double").alias("clip_duration"),
        _nested_field(nested, "scene", "imaging_quality", "double").alias("image_quality"),
        _nested_field(nested, "basic", "optimal_score", "array<double>").alias("aesthetic_score"),
        _nested_field(nested, "scene", "ocr_score", "double").alias("ocr_score"),
        F.from_json(
            F.col("misc")["frame_caption"], T.ArrayType(T.StringType())
        ).alias("frame_caption"),
        _nested_field(nested, "scene", "captions", "string").alias("caption"),
        F.transform(objects, lambda o: o["category"]).alias("objects"),
        _nested_field(nested, "scene", "background", "string").alias("background"),
    )


def nest_clips(flat: DataFrame) -> DataFrame:
    """Flat rows → nested working schema (the load_from_dict direction,
    scene_cut.py:120-137 — missing fields become nulls, not errors)."""
    cols = set(flat.columns)

    def opt(*names: str, typ: str = "string"):
        # first present column wins: accepts both the published flat names
        # (image_quality) and the working/scorer names (imaging_quality)
        for name in names:
            if name in cols:
                return F.col(name)
        return F.lit(None).cast(typ)

    basic = F.struct(
        opt("video_id").alias("video_id"),
        opt("video_path").alias("video_path"),
        opt("video_duration", typ="double").alias("video_duration"),
        opt("clip_id").alias("clip_id"),
        opt("clip_path").alias("clip_path"),
        opt("clip_duration", typ="double").alias("clip_duration"),
        opt("aesthetic_score", "optimal_score", typ="array<double>").alias("optimal_score"),
    )
    scene = F.struct(
        opt("caption", "captions").alias("captions"),
        opt("background").alias("background"),
        opt("image_quality", "imaging_quality", typ="double").alias("imaging_quality"),
        opt("ocr_score", typ="double").alias("ocr_score"),
    )
    misc = (
        F.when(
            F.col("frame_caption").isNotNull(),
            F.create_map(F.lit("frame_caption"), F.to_json(F.col("frame_caption"))),
        ).otherwise(F.lit(None).cast("map<string,string>"))
        if "frame_caption" in cols
        else F.lit(None).cast("map<string,string>")
    )
    return flat.select(
        basic.alias("basic"), scene.alias("scene"), misc.alias("misc")
    )
