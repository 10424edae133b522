"""Scene detection + clip table construction (EP1, M1/M2).

Reference shape (utils/scenecut.py:88-127): per video — decode, detect scene
boundaries (PySceneDetect ContentDetector), split with ffmpeg, emit one
nested-JSON record per clip.  Spark shape (``scene_cut``), one narrow pass:

    binaryFile scan → Arrow UDF per video (detect → cut → probe each clip)
    → posexplode(clips) → clip id exprs → write parquet

Each video's bytes cross to Python once and no row is shuffled: the UDF
returns the video's whole clip array, and ``posexplode`` numbers the clips
in detection order.

The detector here is the deterministic content-delta analog of
ContentDetector (threshold on mean abs frame delta; reference threshold 30.0,
scene_cut.py:191) running on FVID payloads; a real adapter would call
PySceneDetect behind the same UDF signature.  The physical ffmpeg split (M2)
is modeled in-engine as a byte-range cut (``fakevideo.cut``), since clips of
an FVID are themselves valid FVID: the clip bytes live in the clip table,
not in per-clip files.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from lvm_datapipe_spark import fakevideo
from lvm_datapipe_spark.functions.strings import clip_id, file_stem
from lvm_datapipe_spark.operators import media

DEFAULT_THRESHOLD = 30.0  # scene_cut.py:191 / utils/scenecut.py:96

SCENES_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("start_frame", T.IntegerType()),
            T.StructField("end_frame", T.IntegerType()),
            T.StructField("start_s", T.DoubleType()),
            T.StructField("end_s", T.DoubleType()),
        ]
    )
)


def detect_scene_bounds(frames: np.ndarray, fps: float, threshold: float) -> list[tuple]:
    """Content-delta scene detection: boundary wherever the mean absolute
    pixel delta between consecutive frames exceeds ``threshold`` (the
    HSV-delta ContentDetector analog).  Returns [(start_f, end_f_exclusive,
    start_s, end_s), ...] — the whole video as one scene when no boundary
    fires, matching PySceneDetect."""
    n = frames.shape[0]
    if n == 0:
        return []
    deltas = np.abs(np.diff(frames.astype(np.float64), axis=0)).mean(axis=(1, 2))
    bounds = [0] + [i + 1 for i, d in enumerate(deltas) if d > threshold] + [n]
    out = []
    for s, e in zip(bounds[:-1], bounds[1:]):
        out.append((int(s), int(e), s / fps, e / fps))
    return out


def have_pyscenedetect() -> bool:
    import importlib.util

    return importlib.util.find_spec("scenedetect") is not None


def pyscenedetect_bounds(
    data: bytes, threshold: float = DEFAULT_THRESHOLD, scenedetect_mod=None
) -> list[tuple] | None:
    """M1 real adapter — PySceneDetect ContentDetector, the exact reference
    call sequence (scene_cut.py:162-172: open_video → SceneManager →
    add_detector(ContentDetector(threshold)) → detect_scenes →
    get_scene_list).  Scene list timecodes convert to the same
    (start_f, end_f, start_s, end_s) tuples as the content-delta analog.

    ``scenedetect_mod`` is injectable for tests; default imports the real
    package (import-guarded by callers via :func:`have_pyscenedetect`).
    """
    import tempfile

    sd = scenedetect_mod
    if sd is None:
        import scenedetect as sd  # noqa: F811 — optional dependency

    with tempfile.NamedTemporaryFile(suffix=".mp4") as tmp:
        tmp.write(data)
        tmp.flush()
        video = sd.open_video(tmp.name)
        manager = sd.SceneManager()
        manager.add_detector(sd.ContentDetector(threshold=threshold))
        manager.detect_scenes(video)
        scenes = manager.get_scene_list()
    out = []
    for start, end in scenes:
        out.append(
            (
                int(start.get_frames()),
                int(end.get_frames()),
                float(start.get_seconds()),
                float(end.get_seconds()),
            )
        )
    return out


def _detect_one(data: bytes, threshold: float) -> list[tuple] | None:
    """Per-video dispatch: FVID → content-delta analog; real containers →
    PySceneDetect when importable on this worker; else None (F4 null row)."""
    if data is None:
        return None
    try:
        if fakevideo.is_fvid(data):
            v = fakevideo.decode(data)
            return detect_scene_bounds(v.frames, v.fps, threshold)
        if have_pyscenedetect():
            return pyscenedetect_bounds(data, threshold)
        return None
    except Exception:  # noqa: BLE001 — F4 null-row semantics
        return None


def detect_scenes(videos: DataFrame) -> DataFrame:
    """M1 — one row per video gains a ``scenes`` array (the flatMap/UDTF
    shape noted in SURVEY.md §2.9: array-returning pandas UDF + explode).
    Backend resolves per worker inside the UDF (:func:`_detect_one`)."""

    @pandas_udf(SCENES_TYPE)
    def _detect(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for content in batches:
            yield pd.Series(
                [_detect_one(data, DEFAULT_THRESHOLD) for data in content], dtype=object
            )

    return videos.withColumn("scenes", _detect(F.col("content")))


CLIPS_TYPE = T.ArrayType(
    T.StructType(
        [
            *SCENES_TYPE.elementType.fields,
            T.StructField("clip_content", T.BinaryType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("n_frames", T.IntegerType()),
        ]
    )
)


def _cut_one(data: bytes, threshold: float) -> list[tuple] | None:
    """Per-video body of :func:`scene_cut`: detect the scenes, then cut each
    scene's clip out of the payload (M2 — the FVID byte-range analog of the
    reference's per-scene ffmpeg split, utils/scenecut.py:120-121) and probe
    it.  None when detection fails (F4: the video gives no clips); a real
    container whose scenes PySceneDetect found gets null clip payloads and
    probes, since only FVID payloads split in-engine."""
    bounds = _detect_one(data, threshold)
    if bounds is None:
        return None
    splits = fakevideo.is_fvid(data)
    out = []
    for s, e, start_s, end_s in bounds:
        clip = fakevideo.cut(data, s, e) if splits else None
        info = media._probe(clip) or {}
        out.append(
            (s, e, start_s, end_s, clip,
             info.get("height"), info.get("width"), info.get("n_frames"))
        )
    return out


def scene_cut(videos: DataFrame, threshold: float = DEFAULT_THRESHOLD) -> DataFrame:
    """EP1 end-to-end: videos(path, content) → one row per clip with the
    reference's clip metadata and the probed clip payload:

    video_id (filename stem), video_path, clip_id (``f'{video_id}_{idx:07d}'``,
    C1), clip_index (the scene's position in detection order, which is
    ascending start frame — the scene_cut.py:82 loop counter), start_frame,
    end_frame, start_s, end_s, clip_duration (C8), clip_content (the clip's
    own FVID payload), height, width, n_frames (probed from clip_content).

    One pass per video: a single Arrow UDF receives each video's bytes once
    and returns its clip array (:func:`_cut_one`), and ``posexplode`` numbers
    the clips.  The plan is narrow — no window, no join, no second scan, no
    shuffle — so Python receives the corpus bytes once.  The whole-video
    ``content`` is not carried onto the clip rows.  A video that fails to
    decode gives no clips.  The reference's joblib chunking /
    breakpoint-resume scaffolding (scene_cut.py:226-263) is replaced by Spark
    task parallelism + the generic resume anti-join."""

    @pandas_udf(CLIPS_TYPE)
    def _cut(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for content in batches:
            yield pd.Series([_cut_one(data, threshold) for data in content], dtype=object)

    return videos.select(
        file_stem(F.col("path")).alias("video_id"),
        F.col("path").alias("video_path"),
        F.posexplode(_cut(F.col("content"))).alias("clip_index", "clip"),
    ).select(
        "video_id",
        "video_path",
        clip_id(F.col("video_id"), F.col("clip_index")).alias("clip_id"),
        "clip_index",
        *[F.col(f"clip.{c}").alias(c) for c in ("start_frame", "end_frame", "start_s", "end_s")],
        (F.col("clip.end_s") - F.col("clip.start_s")).alias("clip_duration"),
        *[F.col(f"clip.{c}").alias(c) for c in ("clip_content", "height", "width", "n_frames")],
    )


