"""Video directory sources (S1/S2).

Reference: ``os.listdir(vid_dir)`` + extension whitelist
(``utils/scenecut.py:101-112``, ``evaluations/scene_cut.py:196-200,237-245``).
Spark: the ``binaryFile`` source yields (path, modificationTime, length,
content) with partition-parallel listing; the extension predicate is a
``pathGlobFilter`` pushed into the file index, so excluded files are never
opened.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# utils/scenecut.py:108-112 whitelist + our test container format
VIDEO_EXTENSIONS = ("mp4", "avi", "mkv", "mov", "wmv", "flv", "webm", "mpeg", "mpg", "fvid")


def scan_video_dir(spark: SparkSession, directory: str) -> DataFrame:
    """S1+S2 — list a video directory as (path, length, content).

    ``binaryFile`` keeps whole payloads in executor memory (SURVEY.md §7
    "hard parts").
    """
    pattern = "*.{" + ",".join(VIDEO_EXTENSIONS) + "}"
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .option("recursiveFileLookup", "true")
        .load(directory)
    )
    return df.select("path", "length", "content")
