"""End-to-end media pipeline tests (SURVEY.md §5 plan items 3+4): synthetic
videos → scene cut → frame sampling → scorer stubs → snapshot/resume,
asserting the reference's invariants (count consistency, duration
completeness, clip-id format)."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from lvm_datapipe_spark import fakevideo
from lvm_datapipe_spark.functions.strings import clean_caption
from lvm_datapipe_spark.operators import media, scenecut
from lvm_datapipe_spark.plans import pipeline
from lvm_datapipe_spark.sources.video import scan_video_dir

N_VIDEOS = 10


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("videos")
    fakevideo.write_corpus(str(d), [f"vid_{i:05d}" for i in range(N_VIDEOS)])
    (d / "notes.txt").write_text("not a video")  # S2 must exclude
    return str(d)


@pytest.fixture(scope="module")
def videos(spark, corpus_dir):
    df = scan_video_dir(spark, corpus_dir).cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def clips(spark, videos):
    df = scenecut.scene_cut(videos).cache()
    yield df
    df.unpersist()


# -- codec ------------------------------------------------------------------


def test_fakevideo_roundtrip():
    v = fakevideo.generate("vid_test", n_scenes=2)
    data = fakevideo.encode(v)
    info = fakevideo.probe(data)
    assert info["n_frames"] == v.n_frames and info["fps"] == v.fps
    back = fakevideo.decode(data)
    assert np.array_equal(back.frames, v.frames)
    frames = fakevideo.decode_frames(data, [0, v.n_frames - 1, 10**9])
    assert frames[1] == frames[2]  # out-of-range clamps to last (cv2 behavior)


def test_detect_scene_bounds_exact():
    segs = [np.full((5, 4, 4), 40, np.uint8), np.full((7, 4, 4), 200, np.uint8)]
    v = fakevideo.FakeVideo(4, 4, 25.0, np.concatenate(segs))
    bounds = scenecut.detect_scene_bounds(v.frames, v.fps, threshold=30.0)
    assert bounds == [(0, 5, 0.0, 0.2), (5, 12, 0.2, 12 / 25.0)]


# -- scan + scene cut -------------------------------------------------------


def test_scan_excludes_non_videos(videos):
    paths = [r.path for r in videos.select("path").collect()]
    assert len(paths) == N_VIDEOS
    assert all(p.endswith(".fvid") for p in paths)


def test_scene_cut_invariants(spark, videos, clips):
    rows = clips.collect()
    # count consistency (A8): clips == sum of per-video scenes
    total_scenes = sum(
        len(fakevideo.probe(r.content) and scenecut.detect_scene_bounds(
            fakevideo.decode(r.content).frames, 25.0, 30.0))
        for r in videos.collect()
    )
    assert len(rows) == total_scenes
    # clip_id format (C1): video_id + 7-digit zero-padded index
    for r in rows:
        assert r.clip_id == f"{r.video_id}_{r.clip_index:07d}"
    # duration completeness (A1): every video's clips sum to its duration
    per_video = (
        clips.groupBy("video_id").agg(F.sum("clip_duration").alias("total")).collect()
    )
    durations = {
        r.path.split("/")[-1][:-5]: fakevideo.probe(r.content)["duration_s"]
        for r in videos.collect()
    }
    for r in per_video:
        assert abs(durations[r.video_id] - r.total) < 1e-6
    # clip payloads decode to exactly the scene's frame span
    for r in rows[:5]:
        v = fakevideo.decode(r.clip_content)
        assert v.n_frames == r.end_frame - r.start_frame


def test_scene_cut_null_on_corrupt(spark):
    bad = spark.createDataFrame([("x.fvid", bytearray(b"JUNKJUNKJUNK"))], ["path", "content"])
    out = scenecut.detect_scenes(bad)
    assert out.filter(F.col("scenes").isNotNull()).count() == 0


SCENE_CUT_SCHEMA = [
    ("video_id", "string", True),
    ("video_path", "string", True),
    ("clip_id", "string", False),
    ("clip_index", "int", False),
    ("start_frame", "int", True),
    ("end_frame", "int", True),
    ("start_s", "double", True),
    ("end_s", "double", True),
    ("clip_duration", "double", True),
    ("clip_content", "binary", True),
    ("height", "int", True),
    ("width", "int", True),
    ("n_frames", "int", True),
]


def test_scene_cut_matches_reference_cut(spark, tmp_path):
    """The one-pass cut gives exactly the rows of a driver-side reference —
    detect_scene_bounds per decoded video, clips numbered in start-frame
    order, each clip re-encoded from its frame slice and probed — over a
    corpus with a truncated .fvid (no clips), a single-scene video and
    multi-scene videos.  Its plan reads the corpus once, with no exchange,
    window or join."""
    d = tmp_path / "cut_corpus"
    d.mkdir()
    scenes = {"single": 1, "multi_a": 4, "multi_b": 6}
    for name, n in scenes.items():
        (d / f"{name}.fvid").write_bytes(fakevideo.encode(fakevideo.generate(name, n)))
    truncated = fakevideo.encode(fakevideo.generate("truncated", 3))[:-100]
    (d / "truncated.fvid").write_bytes(truncated)
    videos = scan_video_dir(spark, str(d))

    expected = []
    for r in videos.collect():
        try:
            v = fakevideo.decode(bytes(r.content))
        except ValueError:
            continue
        stem = r.path.rsplit("/", 1)[-1][: -len(".fvid")]
        bounds = scenecut.detect_scene_bounds(v.frames, v.fps, scenecut.DEFAULT_THRESHOLD)
        for i, (s, e, start_s, end_s) in enumerate(bounds):
            clip = fakevideo.encode(fakevideo.FakeVideo(v.height, v.width, v.fps, v.frames[s:e]))
            expected.append((stem, r.path, f"{stem}_{i:07d}", i, s, e, start_s, end_s,
                             end_s - start_s, clip, v.height, v.width, e - s))
    per_video = {}
    for row in expected:
        per_video[row[0]] = per_video.get(row[0], 0) + 1
    # the corpus is what the docstring says (adjacent generated scenes may
    # merge when their brightness levels sit within the threshold)
    assert set(per_video) == set(scenes) and per_video["single"] == 1
    assert per_video["multi_a"] > 1 and per_video["multi_b"] > 1

    got = scenecut.scene_cut(videos)
    assert [(f.name, f.dataType.simpleString(), f.nullable)
            for f in got.schema.fields] == SCENE_CUT_SCHEMA
    rows = sorted(
        (tuple(bytes(x) if isinstance(x, bytearray) else x for x in r) for r in got.collect()),
        key=lambda t: (t[0], t[3]),
    )
    assert rows == sorted(expected, key=lambda t: (t[0], t[3]))

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1 and plan.count("ArrowEvalPython") == 1
    for op in ("Exchange", "Window", "Join"):
        assert op not in plan, plan


def test_fakevideo_cut_equals_encoded_frame_slice():
    v = fakevideo.generate("cut_me", n_scenes=3)
    data = fakevideo.encode(v)
    for s, e in [(0, v.n_frames), (0, 1), (5, 17), (v.n_frames - 1, v.n_frames), (4, 4)]:
        ref = fakevideo.encode(fakevideo.FakeVideo(v.height, v.width, v.fps, v.frames[s:e]))
        assert fakevideo.cut(data, s, e) == ref
    with pytest.raises(ValueError):
        fakevideo.cut(b"JUNK" + data[4:], 0, 1)


# -- frame sampling + scorers ----------------------------------------------


@pytest.fixture(scope="module")
def scored_input(clips):
    # height/width/n_frames: scene_cut's media._probe of each clip
    return clips.select(
        "clip_id", F.col("clip_content").alias("content"), "height", "width", "n_frames"
    ).cache()


def test_sampling_policies(scored_input):
    fr = media.with_sampled_frames(scored_input, policy="fractions")
    row = fr.select("n_frames", "frames").first()
    assert len(row.frames) == 3  # [0.2, 0.5, 0.8]
    fml = media.with_sampled_frames(scored_input, policy="first_mid_last").first()
    assert len(fml.frames) == 3
    st = media.with_sampled_frames(scored_input, policy="stride", stride=10)
    r = st.select("n_frames", "frames").first()
    assert len(r.frames) == (r.n_frames + 9) // 10


def test_sampling_resize_at_decode(scored_input):
    """Decord-parity target_hw: frames come out of the decoder already at
    (h, w) — exact nearest-neighbor of the native frame — and the
    height/width columns follow so scorers reshape correctly."""
    import numpy as np

    native = scored_input.select("content", "height", "width").first()
    out = media.with_sampled_frames(
        scored_input, policy="first_mid_last", target_hw=(24, 32)
    )
    row = out.select("frames", "height", "width").first()
    assert (row.height, row.width) == (24, 32)
    assert all(len(f) == 24 * 32 for f in row.frames)

    full = media.with_sampled_frames(
        scored_input, policy="first_mid_last"
    ).select("frames").first()
    want = media._resize_nn(
        np.frombuffer(full.frames[0], dtype=np.uint8).reshape(
            native.height, native.width
        ),
        24,
        32,
    ).tobytes()
    assert bytes(row.frames[0]) == want


def test_sampling_resize_preserves_metadata_on_failed_rows(spark):
    """target_hw must not stamp (h, w) onto rows whose decode FAILED — the
    frames column is null there and the original metadata must survive."""
    df = spark.createDataFrame(
        [("bad", bytearray(b"\x00not-a-video"), 480, 640)],
        "clip_id string, content binary, height int, width int",
    )
    row = (
        media.with_sampled_frames(df, policy="first_mid_last", target_hw=(24, 32))
        .select("frames", "height", "width")
        .first()
    )
    assert row.frames is None
    assert (row.height, row.width) == (480, 640)


def test_scorers(scored_input):
    df = media.with_sampled_frames(scored_input, policy="fractions")
    for name in ("aesthetic", "imaging_quality", "ocr", "motion", "caption"):
        df = media.apply_scorer(df, name)
    row = df.first()
    assert len(row.optimal_score) == 3 and all(0 <= s <= 10 for s in row.optimal_score)
    assert 0.0 <= row.imaging_quality <= 100.0
    assert row.ocr_score >= 0.0
    assert row.of_score >= 0.0  # within-scene motion is small but nonnegative
    assert len(row.frame_caption_raw) == 3
    # C5 cleanup strips the generation markers
    cleaned = (
        df.select(clean_caption(F.col("frame_caption_raw")[0]).alias("c")).first().c
    )
    assert "<start_of_text>" not in cleaned and "<end_of_text>" not in cleaned


def test_decode_failure_yields_null_row(spark):
    df = spark.createDataFrame(
        [("good.fvid", fakevideo.encode(fakevideo.generate("ok"))), ("bad.fvid", bytearray(b"XXXX"))],
        ["path", "content"],
    )
    sampled = media.with_sampled_frames(df)
    assert sampled.filter(F.col("frames").isNotNull()).count() == 1


def test_kernel_math():
    # shoelace on a unit square
    sq = np.array([[0, 0], [1, 0], [1, 1], [0, 1]], float)
    assert media.shoelace_area(sq) == 1.0
    # ocr area normalization: one 8x6 box on a 32x24 frame, 2 frames
    s = media.ocr_area_score([[0.0, 8.0, 0.0, 6.0]], [], 32, 24, 2)
    assert s == (8 * 6) / (32 * 24 * 2)
    # motion magnitude of constant frames is 0
    f = [np.zeros((4, 4)), np.zeros((4, 4))]
    assert media.motion_magnitude(f) == 0.0
    assert media.pixel_normalize(np.array([[255]])).item() == 1.0
    assert media.pixel_normalize(np.array([[0]])).item() == -1.0


# -- pipeline orchestration --------------------------------------------------


def test_run_stage_resume(spark, scored_input):
    def scorer(df):
        return media.apply_scorer(
            media.with_sampled_frames(df), "imaging_quality"
        ).drop("frames")

    snap = pipeline.run_stage(scored_input, scorer, "imaging_quality")
    assert snap.filter(F.col("imaging_quality").isNull()).count() == 0
    first = {r.clip_id: r.imaging_quality for r in snap.collect()}
    # second run: everything done -> scorer untouched rows pass through
    snap2 = pipeline.run_stage(snap, scorer, "imaging_quality")
    second = {r.clip_id: r.imaging_quality for r in snap2.collect()}
    assert first == second


# -- real-container (ISO-BMFF) probe + cv2 adapter ---------------------------


def _mp4_fixture(
    width: int = 64,
    height: int = 48,
    n_frames: int = 30,
    fps: float = 10.0,
    codec: bytes = b"avc1",
) -> bytes:
    """Hand-assemble a structurally valid ISO-BMFF file (ftyp + moov box tree
    + empty mdat) with the given video geometry — a REAL container any
    ffprobe would read; no encoder ships here.  Not decodable (no coded
    samples), which is exactly the F4 null-row case for the decode path."""

    def box(fourcc: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + fourcc + payload

    def full(fourcc: bytes, version: int, flags: int, payload: bytes) -> bytes:
        return box(fourcc, bytes([version]) + flags.to_bytes(3, "big") + payload)

    timescale = 1000
    duration = int(n_frames / fps * timescale)
    delta = int(timescale / fps)

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    mvhd = full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">iH", 0x00010000, 0x0100) + b"\x00" * 10
        + struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24 + struct.pack(">I", 2),
    )
    tkhd = full(
        b"tkhd", 0, 7,
        struct.pack(">IIIII", 0, 0, 1, 0, duration) + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", width << 16, height << 16),
    )
    mdhd = full(
        b"mdhd", 0, 0, struct.pack(">IIII", 0, 0, timescale, duration) + struct.pack(">HH", 0x55C4, 0)
    )
    hdlr = full(b"hdlr", 0, 0, struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"VideoHandler\x00")
    # VisualSampleEntry: 6 reserved + data_ref_index + 16 predefined + w + h
    sample_entry = box(
        codec,
        b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 16
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + struct.pack(">I", 0) + struct.pack(">H", 1)
        + b"\x00" * 32 + struct.pack(">Hh", 0x18, -1),
    )
    stsd = full(b"stsd", 0, 0, struct.pack(">I", 1) + sample_entry)
    stts = full(b"stts", 0, 0, struct.pack(">III", 1, n_frames, delta))
    stsc = full(b"stsc", 0, 0, struct.pack(">I", 0))
    stsz = full(b"stsz", 0, 0, struct.pack(">II", 0, 0))
    stco = full(b"stco", 0, 0, struct.pack(">I", 0))
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
    vmhd = full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    dref = full(b"dref", 0, 0, struct.pack(">I", 1) + full(b"url ", 0, 1, b""))
    dinf = box(b"dinf", dref)
    minf = box(b"minf", vmhd + dinf + stbl)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    trak = box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + trak)
    mdat = box(b"mdat", b"")
    return ftyp + moov + mdat


def test_mp4_probe_roundtrip():
    from lvm_datapipe_spark.operators import mp4

    data = _mp4_fixture(width=128, height=72, n_frames=250, fps=25.0)
    got = mp4.probe_mp4(data)
    assert got == {
        "height": 72, "width": 128, "fps": 25.0, "n_frames": 250, "duration_s": 10.0,
    }


def test_mp4_probe_rejects_garbage_and_truncation():
    from lvm_datapipe_spark.operators import mp4

    assert mp4.probe_mp4(b"not a container at all") is None
    data = _mp4_fixture()
    assert mp4.is_mp4(data[:40])  # sniff passes on the ftyp header...
    assert mp4.probe_mp4(data[:40]) is None  # ...but no moov -> None


def test_probe_reads_real_mp4_container():
    # the format-dispatching probe scenecut runs on every clip
    got = media._probe(_mp4_fixture(width=64, height=48, n_frames=30, fps=10.0))
    assert got == {
        "height": 48, "width": 64, "fps": 10.0, "n_frames": 30, "duration_s": 3.0,
    }
    assert media._probe(b"garbage") is None


def test_mp4_decode_without_cv2_yields_null_row(spark):
    # probe succeeds on the container, but with no codec lib installed the
    # decode falls to the cv2 ImportError guard -> frames column is NULL (F4)
    from lvm_datapipe_spark.operators.media import with_sampled_frames

    df = spark.createDataFrame([("a.mp4", _mp4_fixture())], ["path", "content"])
    row = with_sampled_frames(df).collect()[0]
    assert row.frames is None


def test_cv2_adapter_with_injected_module(monkeypatch):
    """Drive the real cv2 adapter code path (seek via CAP_PROP_POS_FRAMES,
    grayscale convert, byte packing) through an injected fake module — the
    container ships no cv2, but the adapter must be exercised, not dead."""
    import sys
    import types

    import numpy as np

    from lvm_datapipe_spark.operators import media

    calls = {"seeks": [], "released": False}

    class _FakeCap:
        def __init__(self, path):
            self.pos = 0

        def set(self, prop, val):
            assert prop == 99  # CAP_PROP_POS_FRAMES routed through
            calls["seeks"].append(int(val))
            self.pos = int(val)

        def read(self):
            return True, np.full((48, 64, 3), self.pos % 256, dtype=np.uint8)

        def release(self):
            calls["released"] = True

    fake = types.ModuleType("cv2")
    fake.VideoCapture = _FakeCap
    fake.CAP_PROP_POS_FRAMES = 99
    fake.COLOR_BGR2GRAY = 6
    fake.cvtColor = lambda f, code: f[:, :, 0]
    monkeypatch.setitem(sys.modules, "cv2", fake)

    out = media._decode_frames(_mp4_fixture(), [0, 5, 7])
    assert calls["seeks"] == [0, 5, 7] and calls["released"]
    assert len(out) == 3 and all(len(f) == 48 * 64 for f in out)
    assert out[1] == bytes([5]) * (48 * 64)

    # resize-at-decode flows through the cv2 adapter too
    resized = media._decode_frames(_mp4_fixture(), [3], target_hw=(12, 16))
    assert len(resized) == 1 and len(resized[0]) == 12 * 16
    assert resized[0] == bytes([3]) * (12 * 16)  # constant frame survives nn


# -- M1 real adapter (PySceneDetect) and decoders, driven via injection ------


def test_pyscenedetect_adapter_call_sequence_and_conversion():
    """Adapter must follow the reference call sequence (open_video ->
    SceneManager -> add_detector(ContentDetector(threshold)) -> detect ->
    get_scene_list) and convert FrameTimecode pairs to the analog's tuple
    shape."""
    import types

    from lvm_datapipe_spark.operators import scenecut as SC

    calls = []

    class _TC:
        def __init__(self, frames, fps):
            self.f, self.fps = frames, fps

        def get_frames(self):
            return self.f

        def get_seconds(self):
            return self.f / self.fps

    class _Manager:
        def __init__(self):
            calls.append("SceneManager")

        def add_detector(self, det):
            calls.append(("add_detector", det))

        def detect_scenes(self, video):
            calls.append(("detect_scenes", video))

        def get_scene_list(self):
            return [(_TC(0, 10.0), _TC(25, 10.0)), (_TC(25, 10.0), _TC(40, 10.0))]

    fake = types.ModuleType("scenedetect")
    fake.open_video = lambda path: f"video:{path}"
    fake.SceneManager = _Manager
    fake.ContentDetector = lambda threshold: ("ContentDetector", threshold)
    out = SC.pyscenedetect_bounds(b"fakebytes", threshold=27.0, scenedetect_mod=fake)
    assert out == [(0, 25, 0.0, 2.5), (25, 40, 2.5, 4.0)]
    assert ("add_detector", ("ContentDetector", 27.0)) in calls


def test_detect_one_null_for_real_container_without_pyscenedetect():
    from lvm_datapipe_spark.operators import mp4
    from lvm_datapipe_spark.operators import scenecut as SC

    assert SC.have_pyscenedetect() is False  # not shipped in this container
    assert SC._detect_one(_mp4_fixture(), 30.0) is None
    assert SC._detect_one(None, 30.0) is None


def test_decord_adapter_with_injected_module(monkeypatch):
    """Decord path (the reference's decoder): batched get_batch access at
    NATIVE resolution, the shared deterministic _resize_nn post-decode, and
    ROUNDED BT.601 grayscale — installing decord must not change a single
    frame byte relative to the cv2/FVID paths."""
    import sys
    import types

    import numpy as np

    from lvm_datapipe_spark.operators import media

    seen = {}

    class _Batch:
        def __init__(self, arr):
            self.arr = arr

        def asnumpy(self):
            return self.arr

    class _VideoReader:
        def __init__(self, fobj, **kwargs):
            seen["kwargs"] = kwargs

        def get_batch(self, indices):
            seen["indices"] = list(indices)
            arr = np.zeros((len(indices), 48, 64, 3), dtype=np.uint8)
            arr[..., 0] = 100  # R
            arr[..., 1] = 50   # G
            arr[..., 2] = 205  # B -> luminance 82.62: rint=83, trunc=82
            return _Batch(arr)

    fake = types.ModuleType("decord")
    fake.__spec__ = __import__("importlib.machinery", fromlist=["ModuleSpec"]).ModuleSpec(
        "decord", None
    )
    fake.VideoReader = _VideoReader
    monkeypatch.setitem(sys.modules, "decord", fake)

    out = media._decode_frames(_mp4_fixture(), [0, 5], target_hw=(24, 32))
    # bit-identity: the codec decodes NATIVE (no resize kwargs); resize is
    # the shared _resize_nn, luminance is rounded not truncated
    assert seen["kwargs"] == {}
    assert seen["indices"] == [0, 5]
    want = round(0.299 * 100 + 0.587 * 50 + 0.114 * 205)  # BT.601, rounded
    assert len(out) == 2 and all(len(f) == 24 * 32 for f in out)
    assert out[0] == bytes([want]) * (24 * 32)
