"""Scalar string/path/regex expression builders (SURVEY.md §2.7, C1-C9/C14).

All native Column expressions — they stay inside whole-stage codegen (no
Python in the hot path).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def clip_id(video_id: Column | str, index: Column | str) -> Column:
    """C1 — ``f'{video_id}_{index:07d}'`` (``evaluations/scene_cut.py:82-83``,
    ``utils/scenecut.py:39-40``)."""
    return F.format_string("%s_%07d", _c(video_id), _c(index))


def path_basename(path: Column | str) -> Column:
    """C2 — ``os.path.basename`` (``evaluations/scene_cut.py:78``)."""
    return F.element_at(F.split(_c(path), "/"), -1)


def path_dirname(path: Column | str) -> Column:
    """C2 — ``os.path.dirname``."""
    return F.regexp_replace(_c(path), "/[^/]*$", "")


def file_extension(path: Column | str) -> Column:
    """C3 — ``name.rsplit('.', 1)[-1]`` lower-cased
    (``utils/scenecut.py:109``, ``evaluations/scene_cut.py:197``)."""
    return F.lower(F.substring_index(_c(path), ".", -1))


def file_stem(path: Column | str) -> Column:
    """C3 — basename without extension."""
    return F.regexp_replace(path_basename(_c(path)), r"\.[^.]*$", "")


def clean_caption(raw: Column | str) -> Column:
    """C5 — CoCa caption token cleanup:
    ``split('<end_of_text>')[0].replace('<start_of_text>', '')`` then trim
    (``evaluations/coca_caption.py:98-99``)."""
    return F.trim(
        F.regexp_replace(
            F.substring_index(_c(raw), "<end_of_text>", 1), "<start_of_text>", ""
        )
    )


def extract_answer_words(raw: Column | str) -> Column:
    """C7 — parse ``Answer: ["w1", "w2", ...]`` out of LLM output into an
    array of words (``evaluations/sum_caption_llama.py:42-50``).  Rows with
    no match yield an empty array (the reference returns ``[]``)."""
    inner = F.regexp_extract(_c(raw), r"Answer:\s*\[(.*?)\]", 1)
    words = F.split(inner, r"\s*,\s*")
    cleaned = F.transform(words, lambda w: F.regexp_replace(F.trim(w), "[\"']", ""))
    return F.when(inner == "", F.array().cast("array<string>")).otherwise(
        F.filter(cleaned, lambda w: w != "")
    )


def frame_indices_at_fractions() -> Column:
    """C9 — key-frame indices of ``frame_count`` at relative positions
    [0.2, 0.5, 0.8] (``evaluations/coca_caption.py:44``)."""
    return F.array(
        *[F.floor(_c("frame_count") * F.lit(p)).cast("int") for p in (0.2, 0.5, 0.8)]
    )
