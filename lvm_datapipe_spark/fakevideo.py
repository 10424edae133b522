"""Deterministic in-repo "video codec" for tests and stub decoding.

The container ships no cv2/decord/ffmpeg, so the media operators' decode step
is pluggable (see operators/media.py): real codecs are tried behind an
import-guard, and this format — magic ``FVID``, a fixed header, then raw
8-bit grayscale frames — is the deterministic fallback that keeps the whole
Spark pipeline (binary column → pandas UDF → frames → scores) real and
testable end-to-end.

Layout (little-endian):
    magic   4s   b"FVID"
    height  u16
    width   u16
    fps     f32
    n       u32  frame count
    frames  n * height * width bytes (grayscale, row-major)

Synthetic videos have piecewise-constant brightness segments (+ small
deterministic noise), so a content-delta scene detector recovers the segment
boundaries exactly — the fake analog of PySceneDetect's ContentDetector
(reference: evaluations/scene_cut.py:191).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

MAGIC = b"FVID"
_HEADER = struct.Struct("<4sHHfI")


@dataclass
class FakeVideo:
    height: int
    width: int
    fps: float
    frames: np.ndarray  # (n, h, w) uint8

    @property
    def n_frames(self) -> int:
        return int(self.frames.shape[0])

    @property
    def duration_s(self) -> float:
        return self.n_frames / self.fps


def encode(video: FakeVideo) -> bytes:
    header = _HEADER.pack(MAGIC, video.height, video.width, video.fps, video.n_frames)
    return header + video.frames.astype(np.uint8).tobytes()


def probe(data: bytes) -> dict:
    """Header-only parse — the ffprobe analog (utils/utils.py:8-15)."""
    magic, h, w, fps, n = _HEADER.unpack_from(data, 0)
    if magic != MAGIC:
        raise ValueError("not a FVID payload")
    return {
        "height": int(h),
        "width": int(w),
        "fps": float(fps),
        "n_frames": int(n),
        "duration_s": float(n / fps),
    }


def decode(data: bytes) -> FakeVideo:
    magic, h, w, fps, n = _HEADER.unpack_from(data, 0)
    if magic != MAGIC:
        raise ValueError("not a FVID payload")
    body = np.frombuffer(data, dtype=np.uint8, offset=_HEADER.size, count=n * h * w)
    return FakeVideo(int(h), int(w), float(fps), body.reshape(n, h, w).copy())


def cut(data: bytes, start: int, end: int) -> bytes:
    """Frames ``[start, end)`` (``0 <= start <= end <= n``) as their own
    FVID payload, sliced out of the frame bytes without decoding —
    byte-identical to ``encode`` of the decoded frame slice (the in-engine
    clip split)."""
    magic, h, w, fps, _ = _HEADER.unpack_from(data, 0)
    if magic != MAGIC:
        raise ValueError("not a FVID payload")
    frame_sz = h * w
    body = data[_HEADER.size + start * frame_sz : _HEADER.size + end * frame_sz]
    return _HEADER.pack(MAGIC, h, w, fps, end - start) + bytes(body)


def decode_frames(data: bytes, indices: list[int]) -> list[bytes]:
    """Random access to specific frames without materializing all of them —
    the cv2 CAP_PROP_POS_FRAMES-seek analog (data_schema/macvidataset.py:29-42).
    Out-of-range indices are clamped like cv2's last-frame behavior."""
    magic, h, w, fps, n = _HEADER.unpack_from(data, 0)
    if magic != MAGIC:
        raise ValueError("not a FVID payload")
    frame_sz = h * w
    out = []
    for i in indices:
        i = min(max(int(i), 0), n - 1)
        start = _HEADER.size + i * frame_sz
        out.append(bytes(data[start : start + frame_sz]))
    return out


def is_fvid(data: bytes) -> bool:
    return len(data) >= _HEADER.size and data[:4] == MAGIC


def generate(
    video_id: str,
    n_scenes: int | None = None,
    height: int = 24,
    width: int = 32,
) -> FakeVideo:
    """Deterministic synthetic 25 fps video: seeded by video_id, 1-6 scenes
    of 12-75 frames each, per-scene base brightness far enough apart that
    the content detector finds exactly the scene boundaries."""
    seed = abs(hash_str(video_id)) % (2**31)
    rng = np.random.default_rng(seed)
    if n_scenes is None:
        n_scenes = int(rng.integers(1, 7))
    segments = []
    levels = rng.permutation(np.linspace(30, 220, 8))[:n_scenes]
    for s in range(n_scenes):
        length = int(rng.integers(12, 76))
        base = float(levels[s])
        noise = rng.integers(-3, 4, size=(length, height, width))
        seg = np.clip(base + noise, 0, 255).astype(np.uint8)
        segments.append(seg)
    return FakeVideo(height, width, 25.0, np.concatenate(segments, axis=0))


def hash_str(s: str) -> int:
    """Stable string hash (python's builtin hash is salted per process)."""
    h = 2166136261
    for ch in s.encode():
        h = ((h ^ ch) * 16777619) & 0xFFFFFFFF
    return h


def write_corpus(out_dir: str, video_ids: list[str]) -> list[str]:
    """Materialize a deterministic corpus of .fvid files; returns paths."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for vid in video_ids:
        p = os.path.join(out_dir, f"{vid}.fvid")
        with open(p, "wb") as f:
            f.write(encode(generate(vid)))
        paths.append(p)
    return paths
