"""Media kernel layer: decode/probe/frame-sampling + scorer UDFs.

Every reference model stage (SURVEY.md §2.8, M1-M9) is: sample frames →
preprocess → batched model forward → write a score/caption column.  Here each
becomes an Arrow-batched pandas UDF over a binary video column, with:

- a pluggable decoder: real codecs (cv2) behind an import-guard, and the
  in-repo FVID format as deterministic fallback — the *plumbing* (schema,
  batching, null-on-failure) is real even where the model is a stub;
- pure-numpy numeric kernels that reproduce the reference's published math
  exactly (OCR area incl. shoelace ``ocr_score.py:29-49``; pixel
  normalization ``macvid.py:188``; motion magnitude ``extract_mvs.c:46-90``);
- model adapters replaced by deterministic stubs (the container has no
  torch/CLIP/MUSIQ/easyocr) — marked STUB in their docstrings;
- a scorer registry, the Spark analog of ``instantiate_from_config``
  (``utils/utils.py:57-72``).

Failure semantics: decode errors yield null rows (F4), which stay in the
snapshot and are eligible for the next run (``plans/pipeline.py``) — never
index-shifting retries (macvid.py:161-174) or exit-on-error
(ocr_score.py:75-78).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from lvm_datapipe_spark import fakevideo
from lvm_datapipe_spark.operators import mp4

# -- decode adapapter --------------------------------------------------------

FRACTION_POINTS = [0.2, 0.5, 0.8]  # macvidataset.py:21


def _resize_nn(arr: np.ndarray, th: int, tw: int) -> np.ndarray:
    """Nearest-neighbor resize — deterministic and identical across the FVID
    and cv2 decode paths (no codec-specific interpolation), so resized
    pipelines stay oracle/golden-checkable."""
    h, w = arr.shape
    rows = (np.arange(th) * h) // th
    cols = (np.arange(tw) * w) // tw
    return arr[rows][:, cols]


def _decode_frames(
    data: bytes,
    indices: list[int],
    native_hw: tuple[int, int] | None = None,
    target_hw: tuple[int, int] | None = None,
) -> list[bytes] | None:
    """Return raw grayscale frame payloads at the given indices, or None on
    decode failure (F4/F5 null-row semantics).  ``target_hw=(h, w)`` resizes
    AT DECODE — the reference opens videos at target resolution (decord
    ``VideoReader(width=..., height=...)``, macvid.py:165-173) so full-res
    frames never cross into the pipeline; here they never cross the Arrow
    boundary."""
    if data is None:
        return None
    try:
        if fakevideo.is_fvid(data):
            frames = fakevideo.decode_frames(data, indices)
            if frames is None or target_hw is None:
                return frames
            if native_hw is None:
                p = fakevideo.probe(data)
                native_hw = (p["height"], p["width"])
            th, tw = target_hw
            return [
                _resize_nn(
                    np.frombuffer(f, dtype=np.uint8).reshape(native_hw), th, tw
                ).tobytes()
                for f in frames
            ]
        import importlib.util

        if importlib.util.find_spec("decord") is not None:
            return _decode_frames_decord(data, indices, target_hw)
        return _decode_frames_cv2(data, indices, target_hw)
    except Exception:  # noqa: BLE001 — any decode failure → null row
        return None


def _decode_frames_decord(
    data: bytes,
    indices: list[int],
    target_hw: tuple[int, int] | None = None,
) -> list[bytes] | None:
    """Decord path — the reference's decoder family
    (``data_schema/macvid.py:165-188``): batched random access via
    ``get_batch``.  Preferred over cv2 when importable (no temp file, no
    per-index seek).

    BIT-IDENTITY over codec-side convenience: decoding happens at NATIVE
    resolution and the resize is the same deterministic ``_resize_nn`` the
    cv2/FVID paths use (decord's in-codec bilinear resize would silently
    change frame bytes the moment decord is installed, breaking
    golden/oracle checks), and the BT.601 luminance is ROUNDED (``np.rint``)
    before the uint8 cast to match cv2's fixed-point-rounded ``BGR2GRAY``
    (a truncating cast is off by one on ~half of all pixels).  The reference
    opens ``VideoReader(width=, height=)``; that in-codec resize stays the
    right call on a throughput-only pipeline, but this engine's decode paths
    must agree byte-for-byte with each other."""
    import io

    import decord  # optional dependency

    vr = decord.VideoReader(io.BytesIO(data))
    batch = vr.get_batch(list(indices)).asnumpy()  # (n, H, W, 3) RGB
    r = batch[..., 0].astype(np.float64)
    g = batch[..., 1].astype(np.float64)
    b = batch[..., 2].astype(np.float64)
    gray = np.rint(0.299 * r + 0.587 * g + 0.114 * b).astype(np.uint8)
    if target_hw is not None:
        th, tw = target_hw
        return [_resize_nn(gray[i], th, tw).tobytes() for i in range(gray.shape[0])]
    return [gray[i].tobytes() for i in range(gray.shape[0])]


def _decode_frames_cv2(
    data: bytes, indices: list[int], target_hw: tuple[int, int] | None = None
) -> list[bytes] | None:
    """Real-codec path (mp4/avi/...): cv2 seek-and-grab, the reference's
    CAP_PROP_POS_FRAMES pattern (macvidataset.py:29-42).  STUB-GUARDED: the
    container ships no cv2; raises ImportError so callers null the row."""
    import tempfile

    import cv2  # noqa: F401 — optional dependency

    with tempfile.NamedTemporaryFile(suffix=".mp4") as tmp:
        tmp.write(data)
        tmp.flush()
        cap = cv2.VideoCapture(tmp.name)
        out = []
        for i in indices:
            cap.set(cv2.CAP_PROP_POS_FRAMES, int(i))
            ok, frame = cap.read()
            if not ok:
                return None
            gray = cv2.cvtColor(frame, cv2.COLOR_BGR2GRAY).astype(np.uint8)
            if target_hw is not None:
                gray = _resize_nn(gray, *target_hw)
            out.append(gray.tobytes())
        cap.release()
        return out


def _probe(data: bytes) -> dict | None:
    """Format-dispatching probe: FVID header → fakevideo; ISO-BMFF → the
    pure-Python box walker (operators/mp4.py, no deps); anything else → the
    ffprobe subprocess adapter when the binary exists (scene_cut.py:28-34),
    else None (null row)."""
    if data is None:
        return None
    try:
        if fakevideo.is_fvid(data):
            return fakevideo.probe(data)
        if mp4.is_mp4(data):
            got = mp4.probe_mp4(data)
            if got is not None:
                return got
        return mp4.ffprobe_probe(data)
    except Exception:  # noqa: BLE001
        return None


# -- probe (S17) -------------------------------------------------------------

# -- frame sampling (S14-S16) ------------------------------------------------


def _indices_for_policy(n_frames: int, policy: str, stride: int) -> list[int]:
    if n_frames <= 0:
        return []
    if policy == "fractions":  # coca_caption.py:44 — [0.2, 0.5, 0.8]
        return [min(int(n_frames * p), n_frames - 1) for p in FRACTION_POINTS]
    if policy == "first_mid_last":  # macvidataset.py:29-42
        return [0, n_frames // 2, n_frames - 1]
    if policy == "stride":  # ocr_score.py:12-27 — every stride-th frame
        return list(range(0, n_frames, stride))
    raise ValueError(f"unknown sampling policy {policy!r}")


def sample_frames_udf(
    policy: str = "fractions",
    stride: int = 10,
    target_hw: tuple[int, int] | None = None,
):
    """Factory for the frame-sampling pandas UDF family (S14-S16): binary
    video content → array<binary> of sampled grayscale frames.  Iterator
    form so per-batch state (none here, a codec handle for real formats)
    initializes once per partition, not per row.  ``target_hw=(h, w)``
    resizes at decode (decord parity, macvid.py:165-173): at 100 TB the
    difference between shipping 1080p and 224×224 frames through Arrow is
    the job."""

    @pandas_udf(T.ArrayType(T.BinaryType()))
    def _sample(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for content in batches:
            out = []
            for data in content:
                info = _probe(data)
                if info is None:
                    out.append(None)
                    continue
                idx = _indices_for_policy(info["n_frames"], policy, stride)
                out.append(
                    _decode_frames(
                        data,
                        idx,
                        native_hw=(info["height"], info["width"]),
                        target_hw=target_hw,
                    )
                )
            yield pd.Series(out, dtype=object)

    return _sample


def with_sampled_frames(
    videos: DataFrame,
    policy: str = "fractions",
    stride: int = 10,
    target_hw: tuple[int, int] | None = None,
) -> DataFrame:
    """Adds ``frames`` with sampled frame payloads.  With ``target_hw`` the
    frames are ``(h, w)``-shaped at decode and the ``height``/``width``
    columns (when present) are overwritten to match — but ONLY on rows whose
    decode succeeded: failed rows keep their original metadata so the
    columns never claim a shape for a payload that does not exist."""
    out = videos.withColumn(
        "frames", sample_frames_udf(policy, stride, target_hw)(F.col("content"))
    )
    if target_hw is not None:
        th, tw = target_hw
        decoded = F.col("frames").isNotNull()
        if "height" in out.columns:
            out = out.withColumn(
                "height",
                F.when(decoded, F.lit(th)).otherwise(F.col("height")).cast("int"),
            )
        if "width" in out.columns:
            out = out.withColumn(
                "width",
                F.when(decoded, F.lit(tw)).otherwise(F.col("width")).cast("int"),
            )
    return out


# -- pure numeric kernels (the reference's published math) -------------------


def pixel_normalize(frame: np.ndarray) -> np.ndarray:
    """C11 — ``(x/255 − 0.5)·2`` (macvid.py:188)."""
    return (frame.astype(np.float64) / 255.0 - 0.5) * 2.0


def shoelace_area(points: np.ndarray) -> float:
    """C12 — polygon area via the shoelace formula (ocr_score.py:44-46)."""
    x, y = points[:, 0], points[:, 1]
    return 0.5 * abs(np.dot(x, np.roll(y, 1)) - np.dot(np.roll(x, 1), y))


def ocr_area_score(
    horizontal_boxes: list[list[float]],
    free_boxes: list[list[list[float]]],
    frame_w: int,
    frame_h: int,
    n_frames: int,
) -> float:
    """A3/M5 — normalized text-area score (ocr_score.py:29-49): sum of
    axis-aligned box areas ``(x1−x0)·(y1−y0)`` plus shoelace areas of free
    quads, normalized by ``w·h·num_frames``."""
    total = 0.0
    for box in horizontal_boxes or []:
        x0, x1, y0, y1 = box
        total += (x1 - x0) * (y1 - y0)
    for quad in free_boxes or []:
        total += shoelace_area(np.asarray(quad, dtype=np.float64))
    denom = float(frame_w) * float(frame_h) * float(n_frames)
    return total / denom if denom else 0.0


def motion_magnitude(frames: list[np.ndarray]) -> float:
    """A2/M6 — mean motion magnitude over consecutive frames: the
    mean-|MV| aggregate of extract_mvs.c:46-90,202 computed on pixel deltas
    (the side-data MV extraction is codec-internal; the aggregate is what
    the reference publishes)."""
    if len(frames) < 2:
        return 0.0
    acc, cnt = 0.0, 0
    for a, b in zip(frames[:-1], frames[1:]):
        acc += float(np.abs(b.astype(np.float64) - a.astype(np.float64)).mean())
        cnt += 1
    return acc / cnt


# -- scorer stubs (M3-M9) ----------------------------------------------------


def _frames_to_arrays(frames: list[bytes], h: int, w: int) -> list[np.ndarray]:
    return [np.frombuffer(f, dtype=np.uint8).reshape(h, w) for f in frames]


def aesthetic_scores(frames: list[np.ndarray]) -> list[float]:
    """M3 STUB — CLIP-ViT embedding + MLP regressor replaced by a
    deterministic kernel on normalized pixels; real adapter would lazy-load
    the checkpoint once per executor (aesthetic_score.py:25-67,116-132).
    Returns one score in [0,10] per sampled frame, like the reference's
    ``optimal_score`` array."""
    return [5.0 + 5.0 * float(pixel_normalize(f).mean()) for f in frames]


def imaging_quality_score(frames: list[np.ndarray]) -> float:
    """M4 STUB — MUSIQ per-frame score, mean over frames
    (imaging_quality.py:85-90): stub maps pixel std to [0,100]."""
    if not frames:
        return 0.0
    scores = [min(100.0, float(f.astype(np.float64).std()) * 4.0) for f in frames]
    return float(sum(scores) / len(scores))


def stub_ocr_boxes(frame: np.ndarray) -> tuple[list[list[float]], list[list[list[float]]]]:
    """M5 STUB detector — easyocr replaced by a deterministic box generator
    (seeded by frame content); the AREA MATH downstream is the real
    reference kernel."""
    h, w = frame.shape
    seed = int(frame[0, 0]) + int(frame[-1, -1]) * 256
    k = seed % 3
    horiz, free = [], []
    for i in range(k):
        x0 = (seed * (i + 1)) % max(1, w - 8)
        y0 = (seed * (i + 2)) % max(1, h - 6)
        horiz.append([float(x0), float(x0 + 8), float(y0), float(y0 + 6)])
    if seed % 5 == 0:
        free.append([[1.0, 1.0], [9.0, 2.0], [8.0, 7.0], [2.0, 6.0]])
    return horiz, free


def caption_text(frames: list[np.ndarray]) -> list[str]:
    """M7/M8 STUB — CoCa/LLaVA caption per frame: deterministic text derived
    from content stats, shaped like raw model output so the C5 cleanup
    expressions have something real to strip."""
    out = []
    for f in frames:
        level = int(f.mean() // 32)
        tag = hashlib.md5(f.tobytes()).hexdigest()[:8]
        out.append(f"<start_of_text>a scene at level {level} [{tag}] <end_of_text>junk")
    return out


# -- scorer UDF registry (instantiate_from_config analog) --------------------


def _scorer_udf(name: str, stub_kernel: Callable[[list[np.ndarray], int, int], object], ret_type):
    @pandas_udf(ret_type)
    def _udf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.Series]:
        # Iterator-of-batches form: kernel resolution happens HERE, once per
        # partition on the executor (SURVEY.md §4 "model state in UDFs") —
        # the real model adapter when its deps are importable on this worker
        # (model cached per Python worker process), the deterministic stub
        # otherwise.  Reused across all Arrow batches of the partition.
        from lvm_datapipe_spark.operators.model_adapters import resolve_kernel

        kernel = resolve_kernel(name, stub_kernel)
        for pdf in batches:
            out = []
            for frames, h, w in zip(pdf["frames"], pdf["height"], pdf["width"]):
                if frames is None or h is None:
                    out.append(None)
                    continue
                arrays = _frames_to_arrays(frames, int(h), int(w))
                out.append(kernel(arrays, int(h), int(w)))
            yield pd.Series(out, dtype=object)

    return _udf


def _aesthetic_kernel(frames, h, w):
    return aesthetic_scores(frames)


def _imaging_kernel(frames, h, w):
    return imaging_quality_score(frames)


def _ocr_kernel(frames, h, w):
    boxes = [stub_ocr_boxes(f) for f in frames]
    per_frame_h = [b[0] for b in boxes]
    per_frame_f = [b[1] for b in boxes]
    flat_h = [bx for fb in per_frame_h for bx in fb]
    flat_f = [q for fq in per_frame_f for q in fq]
    return ocr_area_score(flat_h, flat_f, w, h, len(frames))


def _motion_kernel(frames, h, w):
    return motion_magnitude(frames)


def _caption_kernel(frames, h, w):
    return caption_text(frames)


def _tiny_stub(frames, h, w):
    # the tiny adapters need only numpy, so resolve_kernel always picks the
    # real adapter; a None here (null rows) makes any accidental stub
    # fallback visible in tests.
    return None


SCORERS: dict[str, tuple[str, object]] = {
    # name -> (output column, (stub kernel, spark return type)); real model
    # adapters resolve per-executor via operators/model_adapters.ADAPTERS
    "aesthetic": ("optimal_score", (_aesthetic_kernel, T.ArrayType(T.DoubleType()))),
    "imaging_quality": ("imaging_quality", (_imaging_kernel, T.DoubleType())),
    "ocr": ("ocr_score", (_ocr_kernel, T.DoubleType())),
    "motion": ("of_score", (_motion_kernel, T.DoubleType())),
    "caption": ("frame_caption_raw", (_caption_kernel, T.ArrayType(T.StringType()))),
    "caption_llava": (
        "frame_caption_llava_raw",
        (_caption_kernel, T.ArrayType(T.StringType())),
    ),
    # numpy-only executable model heads — the scorers whose REAL adapters
    # (not stubs) run in this container; golden-tested end-to-end.  One per
    # reference scorer family shape: per-frame score array (M3) and
    # mean-over-frames scalar (M4).
    "tiny_aesthetic": (
        "tiny_aesthetic_score",
        (_tiny_stub, T.ArrayType(T.DoubleType())),
    ),
    "tiny_imaging_quality": (
        "tiny_imaging_quality_score",
        (_tiny_stub, T.DoubleType()),
    ),
    # ... and the generation-family shape (M7/M8): per-frame caption strings
    # from a real greedy autoregressive decode loop
    "tiny_caption": (
        "tiny_caption_raw",
        (_tiny_stub, T.ArrayType(T.StringType())),
    ),
}


def apply_scorer(df: DataFrame, scorer: str) -> DataFrame:
    """Run a registered scorer over a frames column; appends the scorer's
    output column (null where decode failed).  The UDF consumes a struct of
    (frames, height, width) so one Arrow transfer carries everything."""
    out_col, (kernel, ret_type) = SCORERS[scorer]
    udf = _scorer_udf(scorer, kernel, ret_type)
    return df.withColumn(out_col, udf(F.struct("frames", "height", "width")))
