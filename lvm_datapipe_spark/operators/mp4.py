"""Pure-Python ISO-BMFF (MP4/MOV) container probe — the real-codec half of
S17 (`/root/reference/evaluations/scene_cut.py:28-34` runs ffprobe for
[height, width]; `/root/reference/utils/utils.py:8-15` greps the same from
cv2).  No third-party deps: the container ships neither ffprobe nor cv2, but
an MP4 header is just a box tree, so resolution / frame count / fps /
duration come from walking `moov` — a header-only parse over the first bytes,
never a full decode.

Box layout parsed (ISO/IEC 14496-12):

    ftyp
    moov
      mvhd                  — movie timescale + duration (fallback)
      trak
        tkhd                — track width/height (16.16 fixed point)
        mdia
          mdhd              — media timescale + duration
          hdlr              — handler: 'vide' marks the video track
          minf/stbl
            stsd            — sample description: codec fourcc + coded w/h
            stts            — time-to-sample: n_frames = Σ sample_count

When the `ffprobe` binary IS present (real clusters), :func:`ffprobe_probe`
shells out exactly like the reference; :func:`probe_mp4` stays the no-dep
fallback.  Both return the media layer's probe dict shape
(height, width, fps, n_frames, duration_s).
"""

from __future__ import annotations

import json
import shutil
import struct
import subprocess
import tempfile
from collections.abc import Iterator

_MP4_BRANDS = (b"ftyp", b"moov", b"styp", b"free", b"skip", b"wide", b"mdat")


def is_mp4(data: bytes | None) -> bool:
    """Cheap sniff: ISO-BMFF files open with a box whose type is one of the
    well-known top-level fourccs (almost always `ftyp`)."""
    return (
        data is not None
        and len(data) >= 12
        and data[4:8] in _MP4_BRANDS
    )


def _boxes(data: bytes, start: int, end: int) -> Iterator[tuple[bytes, int, int]]:
    """Yield (fourcc, payload_start, payload_end) for each box in [start, end);
    tolerates truncated tails (header-only probes may not have the full file)."""
    pos = start
    while pos + 8 <= end:
        size = struct.unpack_from(">I", data, pos)[0]
        fourcc = data[pos + 4 : pos + 8]
        header = 8
        if size == 1:  # 64-bit largesize
            if pos + 16 > end:
                return
            size = struct.unpack_from(">Q", data, pos + 8)[0]
            header = 16
        elif size == 0:  # box extends to end of file
            size = end - pos
        if size < header:
            return
        payload_start = pos + header
        payload_end = min(pos + size, end)
        yield fourcc, payload_start, payload_end
        pos += size


def _find(data: bytes, start: int, end: int, fourcc: bytes) -> tuple[int, int] | None:
    for fc, s, e in _boxes(data, start, end):
        if fc == fourcc:
            return s, e
    return None


def _full_box(data: bytes, start: int) -> tuple[int, int]:
    """(version, flags) of a FullBox; payload fields follow at start+4."""
    version = data[start]
    flags = int.from_bytes(data[start + 1 : start + 4], "big")
    return version, flags


def _parse_mdhd(data: bytes, s: int, e: int) -> tuple[int, int] | None:
    version, _ = _full_box(data, s)
    if version == 1:
        if s + 4 + 8 + 8 + 4 + 8 > e:
            return None
        timescale = struct.unpack_from(">I", data, s + 20)[0]
        duration = struct.unpack_from(">Q", data, s + 24)[0]
    else:
        if s + 4 + 4 + 4 + 4 + 4 > e:
            return None
        timescale = struct.unpack_from(">I", data, s + 12)[0]
        duration = struct.unpack_from(">I", data, s + 16)[0]
    return timescale, duration


def _parse_tkhd_dims(data: bytes, s: int, e: int) -> tuple[float, float] | None:
    version, _ = _full_box(data, s)
    # after version/flags: times+id+reserved+duration (v0: 4+4+4+4+4, v1:
    # 8+8+4+4+8), then reserved(8) layer(2) alt(2) volume(2) reserved(2)
    # matrix(36), width(4) height(4) as 16.16 fixed point
    fixed = s + 4 + (32 if version == 1 else 20) + 8 + 2 + 2 + 2 + 2 + 36
    if fixed + 8 > e:
        return None
    width = struct.unpack_from(">I", data, fixed)[0] / 65536.0
    height = struct.unpack_from(">I", data, fixed + 4)[0] / 65536.0
    return width, height


def _parse_stsd_dims(data: bytes, s: int, e: int) -> tuple[int, int] | None:
    """Coded width/height from the first sample entry (VisualSampleEntry:
    fourcc + 6 reserved + 2 data_ref + 16 predefined/reserved + w(2) h(2))."""
    if s + 8 > e:
        return None
    for _fc, es, ee in _boxes(data, s + 8, e):
        off = es + 6 + 2 + 2 + 2 + 12
        if off + 4 > ee:
            return None
        w = struct.unpack_from(">H", data, off)[0]
        h = struct.unpack_from(">H", data, off + 2)[0]
        return w, h
    return None


def _parse_stts_frames(data: bytes, s: int, e: int) -> int | None:
    if s + 8 > e:
        return None
    n_entries = struct.unpack_from(">I", data, s + 4)[0]
    total = 0
    pos = s + 8
    for _ in range(n_entries):
        if pos + 8 > e:
            return None
        count = struct.unpack_from(">I", data, pos)[0]
        total += count
        pos += 8
    return total


def probe_mp4(data: bytes) -> dict | None:
    """Header-only MP4 probe → {height, width, fps, n_frames, duration_s}
    (the media layer's probe shape).  Returns None when no parseable video track is
    found — callers null the row (F4/F5 semantics)."""
    if not is_mp4(data):
        return None
    moov = _find(data, 0, len(data), b"moov")
    if moov is None:
        return None
    ms, me = moov
    for fc, ts_, te in _boxes(data, ms, me):
        if fc != b"trak":
            continue
        mdia = _find(data, ts_, te, b"mdia")
        if mdia is None:
            continue
        hdlr = _find(data, mdia[0], mdia[1], b"hdlr")
        if hdlr is None or data[hdlr[0] + 8 : hdlr[0] + 12] != b"vide":
            continue
        mdhd = _find(data, mdia[0], mdia[1], b"mdhd")
        tkhd = _find(data, ts_, te, b"tkhd")
        minf = _find(data, mdia[0], mdia[1], b"minf")
        stbl = _find(data, minf[0], minf[1], b"stbl") if minf else None
        stts = _find(data, stbl[0], stbl[1], b"stts") if stbl else None
        stsd = _find(data, stbl[0], stbl[1], b"stsd") if stbl else None

        dims = _parse_stsd_dims(data, *stsd) if stsd else None
        if dims is None and tkhd is not None:
            fdims = _parse_tkhd_dims(data, *tkhd)
            dims = (int(round(fdims[0])), int(round(fdims[1]))) if fdims else None
        if dims is None:
            continue
        width, height = int(dims[0]), int(dims[1])

        duration_s = None
        if mdhd is not None:
            td = _parse_mdhd(data, *mdhd)
            if td and td[0]:
                duration_s = td[1] / td[0]
        n_frames = _parse_stts_frames(data, *stts) if stts else None
        fps = (
            n_frames / duration_s
            if n_frames is not None and duration_s
            else None
        )
        return {
            "height": height,
            "width": width,
            "fps": float(fps) if fps is not None else None,
            "n_frames": int(n_frames) if n_frames is not None else None,
            "duration_s": float(duration_s) if duration_s is not None else None,
        }
    return None


def have_ffprobe() -> bool:
    return shutil.which("ffprobe") is not None


def ffprobe_probe(data: bytes) -> dict | None:
    """Real-cluster probe: shell out to ffprobe exactly like the reference
    (`scene_cut.py:28-34` parses `-show_streams -print_format json`).

    Returns None when the binary is absent.
    """
    if not have_ffprobe():
        return None
    with tempfile.NamedTemporaryFile(suffix=".mp4") as tmp:
        tmp.write(data)
        tmp.flush()
        out = subprocess.run(
            [
                "ffprobe", "-v", "error", "-select_streams", "v:0",
                "-show_streams", "-print_format", "json", tmp.name,
            ],
            capture_output=True, text=True, check=True,
        ).stdout
    try:
        streams = json.loads(out).get("streams") or []
    except (ValueError, AttributeError):
        return None
    if not streams:
        return None
    s = streams[0]

    def _rate(expr):
        try:
            num, _, den = str(expr).partition("/")
            return float(num) / float(den or 1)
        except (ValueError, ZeroDivisionError):
            return None

    duration = float(s["duration"]) if "duration" in s else None
    n_frames = int(s["nb_frames"]) if "nb_frames" in s else None
    fps = _rate(s.get("avg_frame_rate")) or _rate(s.get("r_frame_rate"))
    return {
        "height": int(s["height"]) if "height" in s else None,
        "width": int(s["width"]) if "width" in s else None,
        "fps": fps,
        "n_frames": n_frames,
        "duration_s": duration,
    }
