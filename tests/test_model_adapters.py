"""Contract tests for the real model adapters (M3-M8): registry resolution,
stub fallback, and — for the one adapter drivable without torch — numeric
agreement with the reference area math through an injected fake easyocr."""

from __future__ import annotations

import importlib.machinery
import sys
import types

import numpy as np
import pandas as pd
import pytest

from lvm_datapipe_spark.operators import media
from lvm_datapipe_spark.operators import model_adapters as MA


def test_every_adapter_maps_to_a_registered_scorer():
    assert set(MA.ADAPTERS) <= set(media.SCORERS)


def test_adapters_unavailable_in_this_container():
    # the environment ships no torch/easyocr/open_clip/transformers — every
    # model-dep adapter must report unavailable rather than blow up; the
    # numpy-only tiny_* heads are the deliberate exceptions
    for name, cls in MA.ADAPTERS.items():
        if cls in (
            MA.TinyAestheticAdapter,
            MA.TinyImagingQualityAdapter,
            MA.TinyCaptionAdapter,
        ):
            assert cls.available() is True
        else:
            assert cls.available() is False, name


def test_resolve_falls_back_to_stub_when_deps_absent():
    def stub(frames, h, w):
        return 1.0

    assert MA.resolve_kernel("ocr", stub) is stub
    assert MA.resolve_kernel("aesthetic", stub) is stub
    assert MA.resolve_kernel("motion", stub) is stub  # no adapter registered


def _fake_module(name: str) -> types.ModuleType:
    mod = types.ModuleType(name)
    mod.__spec__ = importlib.machinery.ModuleSpec(name, None)
    return mod


@pytest.fixture
def fake_easyocr(monkeypatch):
    """easyocr stand-in whose detect() returns fixed boxes in the reference's
    shapes (one horizontal_list + one free_list per image,
    ocr_score.py:34-36)."""
    fake = _fake_module("easyocr")

    class Reader:
        def __init__(self, langs, gpu=False):
            self.langs = langs

        def detect(self, img):
            horizontal = [[[2.0, 10.0, 3.0, 9.0]]]  # [x0, x1, y0, y1]
            free = [[[[1.0, 1.0], [5.0, 1.0], [5.0, 4.0], [1.0, 4.0]]]]
            return horizontal, free

    fake.Reader = Reader
    monkeypatch.setitem(sys.modules, "easyocr", fake)
    # class-level model cache must not leak a Reader across tests
    monkeypatch.setattr(MA.OcrAdapter, "_model", None)
    monkeypatch.setattr(MA.OcrAdapter, "_loaded", False)
    return fake


def test_resolve_returns_real_adapter_when_deps_exist(fake_easyocr):
    kernel = MA.resolve_kernel("ocr", lambda f, h, w: 0.0)
    assert isinstance(kernel, MA.OcrAdapter)


def test_ocr_adapter_matches_reference_area_math(fake_easyocr):
    """Adapter output = the reference formula over the detector's boxes:
    axis-aligned (x1-x0)(y1-y0) + shoelace quad area, normalized by
    w*h*n_frames — same kernel the stub uses, same scalar type."""
    frames = [np.zeros((48, 64), dtype=np.uint8)] * 2
    got = MA.OcrAdapter()(frames, 48, 64)
    # per frame: 8*6 axis-aligned + 4*3 quad = 60; two frames -> 120
    want = 120.0 / (64.0 * 48.0 * 2)
    assert got == pytest.approx(want)
    assert isinstance(got, float)  # same Spark type as the stub (double)


def test_ocr_adapter_caches_model_per_process(fake_easyocr):
    a, b = MA.OcrAdapter(), MA.OcrAdapter()
    m1 = a.model()
    m2 = b.model()
    assert m1 is m2  # one Reader per executor python worker


def test_stub_and_adapter_signatures_interchangeable(fake_easyocr):
    """apply_scorer's UDF calls kernel(frames, h, w) — both callables must
    accept the exact same signature."""
    frames = [np.zeros((8, 8), dtype=np.uint8)]
    stub_out = media._ocr_kernel(frames, 8, 8)
    adapter_out = MA.OcrAdapter()(frames, 8, 8)
    assert isinstance(stub_out, float) and isinstance(adapter_out, float)


# -- TinyAestheticAdapter: the one model head that EXECUTES here -------------


def test_tiny_aesthetic_adapter_available_and_resolves_real():
    assert MA.TinyAestheticAdapter.available() is True
    kernel = MA.resolve_kernel("tiny_aesthetic", media._tiny_stub)
    assert isinstance(kernel, MA.TinyAestheticAdapter)


def test_tiny_aesthetic_model_cached_per_process():
    a = MA.TinyAestheticAdapter.model()
    b = MA.TinyAestheticAdapter.model()
    assert a is b  # lazy class-level singleton, loaded once per worker


def test_tiny_aesthetic_end_to_end_through_spark(spark):
    """Full path: uint8 frames -> Spark apply_scorer
    -> TinyAestheticAdapter.score on the executor -> exact golden match
    against the same adapter run driver-side (fixed seeded weights, pure
    float64 math — bit-identical across the Arrow boundary)."""
    rng = np.random.default_rng(7)
    frames = [rng.integers(0, 256, size=(12, 16), dtype=np.uint8) for _ in range(3)]
    df = spark.createDataFrame(
        [
            ("clip0", [bytearray(f.tobytes()) for f in frames], 12, 16),
            ("failed", None, None, None),  # F4 null-row semantics
        ],
        "clip_id string, frames array<binary>, height int, width int",
    )
    rows = {
        r.clip_id: r.tiny_aesthetic_score
        for r in media.apply_scorer(df, "tiny_aesthetic").collect()
    }
    expected = MA.TinyAestheticAdapter().score(frames, 12, 16)
    assert rows["clip0"] == expected  # exact, not approx
    assert rows["failed"] is None


# -- TinyImagingQualityAdapter: the M4-family executable head ----------------


def test_tiny_imaging_adapter_available_and_resolves_real():
    assert MA.TinyImagingQualityAdapter.available() is True
    kernel = MA.resolve_kernel("tiny_imaging_quality", media._tiny_stub)
    assert isinstance(kernel, MA.TinyImagingQualityAdapter)


def test_tiny_imaging_mean_over_frames_contract():
    # the M4 contract (imaging_quality.py:85-90): clip score == mean of the
    # per-frame forwards; empty frame list scores 0.0
    rng = np.random.default_rng(11)
    frames = [rng.integers(0, 256, size=(8, 8), dtype=np.uint8) for _ in range(4)]
    a = MA.TinyImagingQualityAdapter()
    per_frame = [a.score([f], 8, 8) for f in frames]
    assert a.score(frames, 8, 8) == pytest.approx(sum(per_frame) / 4, abs=1e-12)
    assert a.score([], 8, 8) == 0.0


def test_tiny_imaging_end_to_end_through_spark(spark):
    """Full path: uint8 frames -> Spark apply_scorer
    -> TinyImagingQualityAdapter.score on the executor -> exact golden
    match against the same adapter run driver-side (fixed seeded weights,
    pure float64 math — bit-identical across the Arrow boundary)."""
    rng = np.random.default_rng(13)
    frames = [rng.integers(0, 256, size=(12, 16), dtype=np.uint8) for _ in range(3)]
    df = spark.createDataFrame(
        [
            ("clip0", [bytearray(f.tobytes()) for f in frames], 12, 16),
            ("failed", None, None, None),  # F4 null-row semantics
        ],
        "clip_id string, frames array<binary>, height int, width int",
    )
    rows = {
        r.clip_id: r.tiny_imaging_quality_score
        for r in media.apply_scorer(df, "tiny_imaging_quality").collect()
    }
    expected = MA.TinyImagingQualityAdapter().score(frames, 12, 16)
    assert rows["clip0"] == expected  # exact, not approx
    assert rows["failed"] is None


def test_tiny_caption_adapter_available_and_resolves_real():
    assert MA.TinyCaptionAdapter.available() is True
    kernel = MA.resolve_kernel("tiny_caption", media._tiny_stub)
    assert isinstance(kernel, MA.TinyCaptionAdapter)


def test_tiny_caption_greedy_decode_is_deterministic_and_terminates():
    a = MA.TinyCaptionAdapter()
    rng = np.random.default_rng(3)
    frames = [rng.integers(0, 256, size=(10, 14), dtype=np.uint8) for _ in range(4)]
    caps1 = a.score(frames, 10, 14)
    caps2 = a.score(frames, 10, 14)
    assert caps1 == caps2  # greedy decode: bit-deterministic
    for c in caps1:
        words = c.split()
        assert len(words) <= MA.TinyCaptionAdapter.MAX_LEN
        assert all(w in MA.TinyCaptionAdapter.VOCAB for w in words)
    # different content -> (at least some) different captions
    assert len(set(caps1)) > 1


def test_tiny_caption_end_to_end_through_spark(spark):
    """Generation-family twin of the tiny_aesthetic golden test: uint8
    frames -> apply_scorer -> the REAL autoregressive generate loop on the
    executor -> exact string match vs the driver-side run."""
    rng = np.random.default_rng(9)
    frames = [rng.integers(0, 256, size=(12, 16), dtype=np.uint8) for _ in range(3)]
    df = spark.createDataFrame(
        [
            ("clip0", [bytearray(f.tobytes()) for f in frames], 12, 16),
            ("failed", None, None, None),
        ],
        "clip_id string, frames array<binary>, height int, width int",
    )
    rows = {
        r.clip_id: r.tiny_caption_raw
        for r in media.apply_scorer(df, "tiny_caption").collect()
    }
    expected = MA.TinyCaptionAdapter().score(frames, 12, 16)
    assert rows["clip0"] == expected  # exact strings
    assert rows["failed"] is None


# --- M3 numeric fidelity vs the SHIPPED public LAION checkpoint (r6) --------

AESTHETIC_PTH = (
    "/root/reference/models/improved-aesthetic-predictor/"
    "sac+logos+ava1-l14-linearMSE.pth"
)

_has_weights = pytest.mark.skipif(
    not __import__("os").path.exists(AESTHETIC_PTH),
    reason="public aesthetic checkpoint not present",
)


@_has_weights
def test_aesthetic_checkpoint_loads_all_five_layer_shapes():
    # torch-free load of the real torch zip checkpoint: every Linear of the
    # published 768->1024->128->64->16->1 head must come back with exactly
    # its documented shape (aesthetic_score.py:31-45)
    from lvm_datapipe_spark.operators import checkpoints as C

    sd = C.load_state_dict(AESTHETIC_PTH)
    want = {}
    for name, (o, i) in zip(C.AESTHETIC_LAYERS, C.AESTHETIC_SHAPES):
        want[f"{name}.weight"] = (o, i)
        want[f"{name}.bias"] = (o,)
    assert {k: v.shape for k, v in sd.items()} == want
    assert all(v.dtype == np.float32 for v in sd.values())
    # real trained weights, not zeros/garbage
    assert all(np.isfinite(v).all() and np.abs(v).max() > 0 for v in sd.values())


@_has_weights
def test_aesthetic_mlp_golden_forward_matches_hand_computation():
    from lvm_datapipe_spark.operators.checkpoints import AestheticMLP, load_state_dict

    sd = load_state_dict(AESTHETIC_PTH)
    mlp = AestheticMLP(sd)
    rng = np.random.default_rng(7)
    emb = rng.standard_normal(768).astype(np.float32)
    emb /= np.linalg.norm(emb)

    # independent hand computation: explicit per-layer float64 affine chain
    x = emb.astype(np.float64)
    for name in ("layers.0", "layers.2", "layers.4", "layers.6", "layers.7"):
        w = sd[f"{name}.weight"].astype(np.float64)
        b = sd[f"{name}.bias"].astype(np.float64)
        x = w @ x + b
    got = float(mlp.forward(emb)[0])
    assert abs(got - float(x[0])) < 1e-3  # float32 gemm vs float64 chain

    # pinned goldens: a regression in the loader's offset/stride/layer
    # mapping would shift these by whole units, not 1e-3
    assert abs(got - 5.240217) < 1e-3
    uniform = np.full(768, 1.0 / np.sqrt(768), dtype=np.float32)
    assert abs(float(mlp.forward(uniform)[0]) - 4.883285) < 1e-3
    # scores land in the head's native 1-10 aesthetic range
    assert 1.0 < got < 10.0


@_has_weights
def test_aesthetic_mlp_batch_forward_matches_single(spark):
    # the (n, 768) path an Arrow batch would take agrees with row-at-a-time
    # forwards to float32 gemm tolerance, and the head is usable from a
    # pandas UDF over an embedding column end-to-end
    from lvm_datapipe_spark.operators.checkpoints import AestheticMLP

    mlp = AestheticMLP.load(AESTHETIC_PTH)
    rng = np.random.default_rng(11)
    embs = rng.standard_normal((6, 768)).astype(np.float32)
    embs /= np.linalg.norm(embs, axis=1, keepdims=True)
    batch = mlp.forward(embs)
    singles = np.array([mlp.forward(e)[0] for e in embs])
    assert np.allclose(batch, singles, atol=1e-4)

    from pyspark.sql import functions as F

    @F.pandas_udf("float")
    def aesthetic(col: pd.Series) -> pd.Series:
        m = AestheticMLP.load(AESTHETIC_PTH)
        arr = np.stack(col.to_numpy())
        return pd.Series(m.forward(arr))

    df = spark.createDataFrame(
        [(i, [float(v) for v in e]) for i, e in enumerate(embs)],
        "id int, emb array<float>",
    )
    rows = df.select("id", aesthetic("emb").alias("score")).collect()
    got = {r["id"]: r["score"] for r in rows}
    for i, s in enumerate(singles):
        assert abs(got[i] - float(s)) < 1e-3


def test_state_dict_unpickler_rejects_arbitrary_globals(tmp_path):
    # the allow-list must block non-state-dict pickles (e.g. os.system
    # payloads) instead of executing them
    import pickle
    import zipfile

    p = tmp_path / "evil.pth"
    with zipfile.ZipFile(p, "w") as zf:
        zf.writestr(
            "archive/data.pkl", pickle.dumps(__import__("os").system)
        )
    from lvm_datapipe_spark.operators.checkpoints import load_state_dict

    with pytest.raises(pickle.UnpicklingError, match="disallowed"):
        load_state_dict(str(p))


# --- M3 through the REGISTRY, torch-free (r7: one head, pluggable embedder) --

GOLDEN_EMBEDDER = (
    __import__("os").path.join(__import__("os").path.dirname(__file__),
                               "golden_clip_embedder.py") + ":embed"
)


@_has_weights
def test_aesthetic_adapter_available_only_with_head_weights(monkeypatch):
    # no weights env -> unavailable even with an embedder (never score with
    # a random-init head); weights + embedder -> available with NO torch
    monkeypatch.delenv(MA.AESTHETIC_WEIGHTS_ENV, raising=False)
    monkeypatch.setenv(MA.AESTHETIC_EMBEDDER_ENV, GOLDEN_EMBEDDER)
    assert MA.AestheticAdapter.available() is False
    monkeypatch.setenv(MA.AESTHETIC_WEIGHTS_ENV, AESTHETIC_PTH)
    assert MA.AestheticAdapter.available() is True
    assert "torch" not in sys.modules


@_has_weights
def test_aesthetic_adapter_golden_forward_driver_side(monkeypatch):
    # resolve_kernel must hand back the REAL adapter, and its score() —
    # embedder -> the reference's normalized() -> the validated numpy head —
    # must reproduce the pinned goldens even though the fake embedder
    # returns 3x-scaled features (normalization is the adapter's job)
    monkeypatch.setenv(MA.AESTHETIC_WEIGHTS_ENV, AESTHETIC_PTH)
    monkeypatch.setenv(MA.AESTHETIC_EMBEDDER_ENV, GOLDEN_EMBEDDER)
    MA.AestheticAdapter._loaded = False
    MA.AestheticAdapter._model = None
    try:
        kernel = MA.resolve_kernel("aesthetic", lambda f, h, w: None)
        assert isinstance(kernel, MA.AestheticAdapter)
        f_even = np.full((8, 8), 2, dtype=np.uint8)
        f_odd = np.full((8, 8), 3, dtype=np.uint8)
        scores = kernel([f_even, f_odd], 8, 8)
        assert abs(scores[0] - 5.240217) < 1e-3
        assert abs(scores[1] - 4.883285) < 1e-3
        assert "torch" not in sys.modules
    finally:
        MA.AestheticAdapter._loaded = False
        MA.AestheticAdapter._model = None


@_has_weights
def test_aesthetic_registry_golden_forward_e2e_without_torch(spark):
    # the full M3 path the driver contract exercises: binary frames ->
    # media.apply_scorer(df, "aesthetic") -> executor-side resolve_kernel
    # picks the REAL adapter (env shipped to the python workers via
    # sc.environment, captured at UDF wrap time) -> real public LAION head
    # -> the pinned golden scores come back through Arrow.  No torch
    # anywhere; a null frames row still yields null.
    sc = spark.sparkContext
    sc.environment[MA.AESTHETIC_WEIGHTS_ENV] = AESTHETIC_PTH
    sc.environment[MA.AESTHETIC_EMBEDDER_ENV] = GOLDEN_EMBEDDER
    try:
        f_even = np.full((8, 8), 2, dtype=np.uint8)
        f_odd = np.full((8, 8), 3, dtype=np.uint8)
        df = spark.createDataFrame(
            [
                ("clip0",
                 [bytearray(f_even.tobytes()), bytearray(f_odd.tobytes())],
                 8, 8),
                ("failed", None, None, None),
            ],
            "clip_id string, frames array<binary>, height int, width int",
        )
        rows = {r.clip_id: r.optimal_score
                for r in media.apply_scorer(df, "aesthetic").collect()}
        assert abs(rows["clip0"][0] - 5.240217) < 1e-3
        assert abs(rows["clip0"][1] - 4.883285) < 1e-3
        assert rows["failed"] is None
    finally:
        del sc.environment[MA.AESTHETIC_WEIGHTS_ENV]
        del sc.environment[MA.AESTHETIC_EMBEDDER_ENV]


# --- MUSIQ preprocessing contract (M4's input side, torch-free) --------------


def test_musiq_preprocess_none_mode_is_exactly_div255():
    from lvm_datapipe_spark.operators import checkpoints as C

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(100, 140, 3), dtype=np.uint8)
    out = C.musiq_preprocess(img, "None")
    assert out.shape == (3, 100, 140) and out.dtype == np.float32
    np.testing.assert_allclose(
        out, (img.astype(np.float32) / 255.0).transpose(2, 0, 1), atol=1e-7
    )


def test_musiq_preprocess_shorter_is_noop_at_or_below_512():
    # the reference resizes ONLY when min(h,w) > 512
    from lvm_datapipe_spark.operators import checkpoints as C

    img = np.full((512, 700), 77, dtype=np.uint8)
    out = C.musiq_preprocess(img, "shorter")
    assert out.shape == (3, 512, 700)
    np.testing.assert_allclose(out, np.full((3, 512, 700), 77 / 255.0), atol=1e-6)


@pytest.mark.slow  # >=7 s equivalence test (r11 tier split)
def test_musiq_preprocess_size_math_matches_reference_int_truncation():
    # 600x800: scale = 512/600; new size = (int(scale*600), int(scale*800))
    # = (512, 682) — truncating int() like imaging_quality.py:52, not round
    from lvm_datapipe_spark.operators import checkpoints as C

    img = np.zeros((600, 800), dtype=np.uint8)
    assert C.musiq_preprocess(img, "shorter").shape == (3, 512, 682)
    assert C.musiq_preprocess(img, "shorter_centercrop").shape == (3, 512, 512)
    # longer: scale = 512/800 -> (int(0.64*600), 512) = (384, 512)
    assert C.musiq_preprocess(img, "longer").shape == (3, 384, 512)
    # longer is a no-op when max side <= 512
    assert C.musiq_preprocess(np.zeros((300, 512), np.uint8), "longer").shape \
        == (3, 300, 512)


def test_musiq_preprocess_constant_and_ramp_through_bilinear():
    from lvm_datapipe_spark.operators import checkpoints as C

    # constants survive any resize exactly
    img = np.full((600, 900), 200, dtype=np.uint8)
    out = C.musiq_preprocess(img, "shorter")
    np.testing.assert_allclose(out, np.full_like(out, 200 / 255.0), atol=1e-5)

    # bilinear reproduces affine signals away from the clamped border
    w = C._resize_weights_linear(600, 512)
    ramp = np.arange(600, dtype=np.float64)
    down = w.astype(np.float64) @ ramp
    centers = (np.arange(512) + 0.5) * (600 / 512) - 0.5
    np.testing.assert_allclose(down[2:-2], centers[2:-2], atol=1e-6)

    # identity size -> identity matrix
    np.testing.assert_allclose(
        C._resize_weights_linear(64, 64), np.eye(64, dtype=np.float32), atol=0
    )


def test_musiq_preprocess_rejects_unknown_mode_and_stacks_grayscale():
    from lvm_datapipe_spark.operators import checkpoints as C

    with pytest.raises(ValueError, match="preprocess_mode"):
        C.musiq_preprocess(np.zeros((8, 8), np.uint8), "bogus")
    g = np.random.default_rng(1).integers(0, 256, size=(550, 620), dtype=np.uint8)
    rgb = np.stack([g, g, g], axis=-1)
    np.testing.assert_allclose(
        C.musiq_preprocess(g, "shorter"), C.musiq_preprocess(rgb, "shorter")
    )
