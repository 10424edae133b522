"""Real model adapters for the scorer registry (M3-M8) — lazy-init once per
executor, import-guarded, stub-compatible.

Each adapter mirrors one reference model stage:

- ``AestheticAdapter``   — CLIP ViT-L/14 image embedding, L2-normalized, fed
  to the LAION MLP regressor (``/root/reference/evaluations/aesthetic_score.py:25-67``,
  inference loop ``:116-132``); one score per sampled frame.
- ``ImagingQualityAdapter`` — MUSIQ transformer per frame, mean over frames
  (``/root/reference/evaluations/imaging_quality.py:70-95``).
- ``OcrAdapter``         — easyocr ``reader.detect`` boxes per frame
  (``/root/reference/evaluations/ocr_score.py:29-49``); the downstream AREA
  MATH is the in-repo :func:`~lvm_datapipe_spark.operators.media.ocr_area_score`
  kernel (already the reference's published formula).
- ``CocaCaptionAdapter`` — open_clip CoCa ``generate`` per frame
  (``/root/reference/evaluations/coca_caption.py:75-101``).
- ``LlavaCaptionAdapter``— LLaVA conditional generation per frame
  (``/root/reference/evaluations/llava_caption.py:77-152``).

None of the model deps ship in this container, so ``available()`` is False
everywhere here and :func:`resolve_kernel` falls back to the deterministic
stubs in ``operators/media.py`` — but the adapter classes are real, loadable
code: on a cluster with the deps installed the registry resolves them
automatically and the models initialize ONCE PER EXECUTOR (class-level cache
inside the long-lived Python worker), not per row or per batch — the Spark
analog of the reference's one-model-per-process pattern.

Adapters receive grayscale uint8 frames (H, W).  Models wanting RGB get a
channel-stacked view — scores then reflect luminance only, which is the
correct contract for this pipeline's frame columns; swap the decode to RGB
at the sampling layer if full color fidelity is needed.
"""

from __future__ import annotations

import importlib.util
from typing import Any, ClassVar

import numpy as np


class ScorerAdapter:
    """Base adapter: subclasses declare ``requires`` (importable module
    names) and implement ``_load`` + ``score``.  The loaded model handle is
    cached on the CLASS, so every task on the same executor reuses one
    instance (lazy singleton per Python worker)."""

    requires: ClassVar[tuple[str, ...]] = ()
    _model: ClassVar[Any] = None
    _loaded: ClassVar[bool] = False

    @classmethod
    def available(cls) -> bool:
        return all(importlib.util.find_spec(m) is not None for m in cls.requires)

    @classmethod
    def model(cls):
        if not cls._loaded:
            cls._model = cls._load()
            cls._loaded = True
        return cls._model

    @classmethod
    def _load(cls):  # pragma: no cover — needs the model deps
        raise NotImplementedError

    def __call__(self, frames: list[np.ndarray], h: int, w: int):
        return self.score(frames, h, w)

    def score(self, frames: list[np.ndarray], h: int, w: int):  # pragma: no cover
        raise NotImplementedError


def _gray_to_rgb(frame: np.ndarray) -> np.ndarray:
    return np.stack([frame, frame, frame], axis=-1)


#: path to the public LAION aesthetic checkpoint
#: (sac+logos+ava1-l14-linearMSE.pth); the head is REQUIRED — the reference
#: always torch.load()s it (aesthetic_score.py:100-102).  Loaded here via the
#: torch-free checkpoints.load_state_dict, so the head runs identically with
#: or without torch on the worker.
AESTHETIC_WEIGHTS_ENV = "LVM_AESTHETIC_WEIGHTS"

#: optional embedding-stage override: "pkg.module:attr" or "/abs/file.py:attr"
#: naming a callable (frames: list[(H,W) uint8], h, w) -> (n, 768) float
#: CLIP-space image features, NOT yet L2-normalized (the adapter applies the
#: reference's normalized() itself).  Lets a worker without torch (or with an
#: ONNX/TensorRT CLIP export) still run the REAL validated head; also how the
#: test suite drives a golden forward through the registry torch-free.
AESTHETIC_EMBEDDER_ENV = "LVM_AESTHETIC_EMBEDDER"


def _resolve_embedder_spec(spec: str):
    """Import the embedder callable named by AESTHETIC_EMBEDDER_ENV."""
    import importlib
    import importlib.util

    path, attr = spec.rsplit(":", 1)
    if path.endswith(".py"):
        mspec = importlib.util.spec_from_file_location("_lvm_aesthetic_embedder", path)
        mod = importlib.util.module_from_spec(mspec)
        mspec.loader.exec_module(mod)
    else:
        mod = importlib.import_module(path)
    return getattr(mod, attr)


class AestheticAdapter(ScorerAdapter):
    """M3 — CLIP+MLP aesthetic predictor; output matches the stub: one float
    per frame (the reference's ``optimal_score`` array,
    aesthetic_score.py:130-132).

    The head is ALWAYS :class:`~lvm_datapipe_spark.operators.checkpoints.
    AestheticMLP` — the single numpy implementation whose numeric fidelity is
    golden-forward-validated against the shipped public checkpoint in
    tests/test_model_adapters.py (no parallel torch Sequential to drift).
    The embedding stage is torch CLIP ViT-L/14 by default, or any callable
    named by AESTHETIC_EMBEDDER_ENV; either way the adapter itself applies
    the reference's normalized() (aesthetic_score.py:69-75, L2 along the
    feature axis) before the head."""

    requires = ("torch", "clip")

    @classmethod
    def available(cls) -> bool:
        import os

        wpath = os.environ.get(AESTHETIC_WEIGHTS_ENV)
        if not wpath or not os.path.exists(wpath):
            return False  # no head weights -> stub (never random-init scores)
        if os.environ.get(AESTHETIC_EMBEDDER_ENV):
            return True  # custom embedding stage + torch-free head
        return super().available()

    @classmethod
    def _load(cls):
        import os

        from lvm_datapipe_spark.operators.checkpoints import AestheticMLP

        head = AestheticMLP.load(os.environ[AESTHETIC_WEIGHTS_ENV])
        spec = os.environ.get(AESTHETIC_EMBEDDER_ENV)
        if spec:
            return _resolve_embedder_spec(spec), head
        return cls._torch_clip_embedder(), head

    @staticmethod
    def _torch_clip_embedder():  # pragma: no cover — needs torch+clip
        import clip
        import torch
        from PIL import Image

        device = "cuda" if torch.cuda.is_available() else "cpu"
        clip_model, preprocess = clip.load("ViT-L/14", device=device)

        def embed(frames, h, w):
            with torch.no_grad():
                imgs = torch.stack(
                    [preprocess(Image.fromarray(_gray_to_rgb(f))) for f in frames]
                ).to(device)
                return clip_model.encode_image(imgs).cpu().numpy()

        return embed

    def score(self, frames, h, w):
        embedder, head = self.model()
        feats = np.asarray(embedder(frames, h, w), dtype=np.float32)
        # the reference's normalized() (aesthetic_score.py:69-75)
        feats = feats / np.linalg.norm(feats, axis=-1, keepdims=True)
        return [float(s) for s in head.forward(feats)]


class ImagingQualityAdapter(ScorerAdapter):
    """M4 — MUSIQ mean-over-frames (imaging_quality.py:85-90); output
    matches the stub: one double per clip.  The INPUT side runs the
    torch-free :func:`~lvm_datapipe_spark.operators.checkpoints.
    musiq_preprocess` (the reference's ``transform()``, contract-tested in
    tests/test_model_adapters.py), so preprocessing fidelity does not
    depend on the unexecutable model forward; ``preprocess_mode`` mirrors
    the reference CLI's and defaults to its ``shorter``."""

    requires = ("torch", "pyiqa")
    preprocess_mode: ClassVar[str] = "shorter"

    @classmethod
    def _load(cls):  # pragma: no cover — needs torch+pyiqa
        import pyiqa
        import torch

        device = "cuda" if torch.cuda.is_available() else "cpu"
        return pyiqa.create_metric("musiq", device=device)

    def score(self, frames, h, w):  # pragma: no cover — needs torch+pyiqa
        import torch

        from lvm_datapipe_spark.operators.checkpoints import musiq_preprocess

        metric = self.model()
        if not frames:
            return 0.0
        acc = 0.0
        with torch.no_grad():
            for f in frames:
                arr = musiq_preprocess(f, self.preprocess_mode)
                t = torch.from_numpy(arr).unsqueeze(0)
                acc += float(metric(t))  # per-frame forward, :86-88
        return acc / len(frames)


class OcrAdapter(ScorerAdapter):
    """M5 — easyocr detector + the reference's area formula.  The geometry
    math is shared with the stub (media.ocr_area_score), so adapter and stub
    differ ONLY in where boxes come from; output: one double per clip."""

    requires = ("easyocr",)

    @classmethod
    def _load(cls):  # pragma: no cover — needs easyocr
        import easyocr

        return easyocr.Reader(["en"], gpu=False)

    def score(self, frames, h, w):
        from lvm_datapipe_spark.operators.media import ocr_area_score

        reader = self.model()
        flat_h: list[list[float]] = []
        flat_f: list[list[list[float]]] = []
        for f in frames:
            horizontal_list, free_list = reader.detect(_gray_to_rgb(f))
            # reader.detect returns one list per image (ocr_score.py:34-36)
            for box in horizontal_list[0]:
                if box != []:
                    # easyocr order [x0, x1, y0, y1] — ocr_score.py:38-41
                    flat_h.append([float(v) for v in box])
            for quad in free_list[0]:
                if quad != []:
                    flat_f.append([[float(x), float(y)] for x, y in quad])
        return ocr_area_score(flat_h, flat_f, w, h, len(frames))


class CocaCaptionAdapter(ScorerAdapter):
    """M7 — CoCa caption per frame (coca_caption.py:75-101); output matches
    the stub: array<string>, raw model text (C5 cleanup runs downstream)."""

    requires = ("torch", "open_clip")

    @classmethod
    def _load(cls):  # pragma: no cover — needs open_clip
        import open_clip
        import torch

        device = "cuda" if torch.cuda.is_available() else "cpu"
        model, _, transform = open_clip.create_model_and_transforms(
            "coca_ViT-L-14", pretrained="mscoco_finetuned_laion2B-s13B-b90k"
        )
        return device, model.to(device).eval(), transform, open_clip

    def score(self, frames, h, w):  # pragma: no cover — needs open_clip
        import torch
        from PIL import Image

        device, model, transform, open_clip = self.model()
        out = []
        with torch.no_grad():
            for f in frames:
                img = transform(Image.fromarray(_gray_to_rgb(f))).unsqueeze(0).to(device)
                generated = model.generate(img)  # coca_caption.py:94-97
                out.append(open_clip.decode(generated[0]))
        return out


class LlavaCaptionAdapter(ScorerAdapter):
    """M8 — LLaVA caption per frame (llava_caption.py:77-152); output
    matches the stub: array<string>."""

    requires = ("torch", "transformers")

    @classmethod
    def _load(cls):  # pragma: no cover — needs transformers
        import torch
        from transformers import AutoProcessor, LlavaForConditionalGeneration

        device = "cuda" if torch.cuda.is_available() else "cpu"
        name = "llava-hf/llava-1.5-7b-hf"
        processor = AutoProcessor.from_pretrained(name)
        model = LlavaForConditionalGeneration.from_pretrained(
            name, torch_dtype=torch.float16 if device == "cuda" else torch.float32
        ).to(device).eval()
        return device, processor, model

    def score(self, frames, h, w):  # pragma: no cover — needs transformers
        import torch
        from PIL import Image

        device, processor, model = self.model()
        # the reference's conv-template render (llava_caption.py:111-129),
        # golden-tested torch-free in functions/prompts.py; the HF processor
        # splices the image tokens
        from lvm_datapipe_spark.functions.prompts import LLAVA_CAPTION_PROMPT

        out = []
        with torch.no_grad():
            for f in frames:
                inputs = processor(
                    text=LLAVA_CAPTION_PROMPT, images=Image.fromarray(_gray_to_rgb(f)),
                    return_tensors="pt",
                ).to(device)
                ids = model.generate(**inputs, max_new_tokens=64)
                out.append(processor.decode(ids[0], skip_special_tokens=True))
        return out


class TinyAestheticAdapter(ScorerAdapter):
    """An EXECUTABLE model head: the same adapter machinery as
    ``AestheticAdapter`` (``available()``/``model()``/``score()``, lazy
    class-level singleton per executor) with the CLIP backbone replaced by
    an 8-dim handcrafted feature embedding and the LAION head replaced by a
    REAL 2-layer numpy MLP with fixed seeded weights.  Mirrors the
    reference stage shape (``aesthetic_score.py:25-67,116-132``: embed →
    L2-normalize → MLP → one float per frame) while needing only numpy, so
    the full registry → resolve_kernel → score path runs end-to-end in this
    container and is golden-tested through ``apply_scorer`` on real decoded
    PNG frames (no ``pragma: no cover`` anywhere in this class)."""

    requires = ("numpy",)

    @classmethod
    def _load(cls):
        rng = np.random.default_rng(20260813)
        return (
            rng.standard_normal((16, 8)),
            rng.standard_normal(16),
            rng.standard_normal((1, 16)),
            rng.standard_normal(1),
        )

    @staticmethod
    def embed(frame: np.ndarray) -> np.ndarray:
        """Deterministic luminance features standing in for the CLIP
        embedding, L2-normalized like the reference's ``normalized()``."""
        f = frame.astype(np.float64) / 255.0
        gy = float(np.abs(np.diff(f, axis=0)).mean()) if f.shape[0] > 1 else 0.0
        gx = float(np.abs(np.diff(f, axis=1)).mean()) if f.shape[1] > 1 else 0.0
        feats = np.array(
            [
                float(f.mean()),
                float(f.std()),
                gx,
                gy,
                float((f > 0.5).mean()),
                float(f.min()),
                float(f.max()),
                1.0,
            ]
        )
        n = float(np.linalg.norm(feats))
        return feats / n if n else feats

    def score(self, frames: list[np.ndarray], h: int, w: int) -> list[float]:
        w1, b1, w2, b2 = self.model()
        out = []
        for f in frames:
            hid = np.maximum(w1 @ self.embed(f) + b1, 0.0)  # ReLU
            out.append((w2 @ hid + b2).item())
        return out


class TinyImagingQualityAdapter(ScorerAdapter):
    """The SECOND executable model head, extending the ``TinyAestheticAdapter``
    pattern to the imaging-quality (M4) scorer family: the MUSIQ transformer
    is replaced by a 4×4 patch-mean feature grid (the multi-scale patch
    embedding shape MUSIQ rests on, collapsed to its deterministic core) fed
    to a REAL seeded 2-layer numpy MLP, and the clip score is the mean of
    per-frame forwards — exactly the reference's accumulate-then-divide
    contract (``/root/reference/evaluations/imaging_quality.py:70-95``:
    per-frame ``iqa_metric(...)`` forward, ``acc/len(images)``).  Output
    shape matches ``ImagingQualityAdapter`` and the M4 stub: ONE double per
    clip.  Needs only numpy, so the registry → resolve → score path runs
    end-to-end in this container (no ``pragma: no cover`` anywhere)."""

    requires = ("numpy",)

    @classmethod
    def _load(cls):
        rng = np.random.default_rng(20260814)
        return (
            rng.standard_normal((8, 16)),
            rng.standard_normal(8),
            rng.standard_normal((1, 8)),
            rng.standard_normal(1),
        )

    @staticmethod
    def embed(frame: np.ndarray) -> np.ndarray:
        """4×4 grid of patch means in [0,1] — a 16-dim deterministic stand-in
        for MUSIQ's multi-scale patch embedding."""
        f = frame.astype(np.float64) / 255.0
        h, w = f.shape
        rows = np.linspace(0, h, 5).astype(int)
        cols = np.linspace(0, w, 5).astype(int)
        feats = [
            float(f[rows[i]:max(rows[i + 1], rows[i] + 1),
                    cols[j]:max(cols[j + 1], cols[j] + 1)].mean())
            for i in range(4)
            for j in range(4)
        ]
        return np.asarray(feats)

    def score(self, frames: list[np.ndarray], h: int, w: int) -> float:
        if not frames:
            return 0.0
        w1, b1, w2, b2 = self.model()
        acc = 0.0
        for f in frames:  # per-frame forward, then acc/len — :85-90
            hid = np.maximum(w1 @ self.embed(f) + b1, 0.0)  # ReLU
            acc += (w2 @ hid + b2).item()
        return acc / len(frames)


class TinyCaptionAdapter(ScorerAdapter):
    """The THIRD executable model head, extending the Tiny* pattern to the
    GENERATION family (M7/M8): a real greedy autoregressive decode loop —
    the control flow ``model.generate`` runs inside CoCa/LLaVA
    (``/root/reference/evaluations/coca_caption.py:94-97``,
    ``llava_caption.py:143-150``) — over a seeded numpy language head.
    Per frame: image features condition the initial hidden state, then
    each step computes logits, takes the argmax (greedy; ties break to
    the lowest token id, so decoding is fully deterministic), feeds the
    chosen token's embedding back through a tanh recurrence, and stops at
    <eos> or the length cap.  Output shape matches ``CocaCaptionAdapter``
    and the M7 stub: one caption STRING per frame (C5 cleanup runs
    downstream).  Needs only numpy — the registry → resolve → score path,
    including the token-by-token loop, executes end-to-end in this
    container (no ``pragma: no cover`` anywhere)."""

    requires = ("numpy",)

    #: token 0 is <eos>; captions are words 1..N joined by spaces
    VOCAB = (
        "<eos>", "a", "bright", "dark", "flat", "textured", "noisy",
        "smooth", "image", "frame", "with", "edges", "contrast", "detail",
    )
    MAX_LEN = 6
    DIM = 8

    @classmethod
    def _load(cls):
        rng = np.random.default_rng(20260815)
        v, d = len(cls.VOCAB), cls.DIM
        return (
            rng.standard_normal((d, 8)),    # W_img: image feats -> h0
            rng.standard_normal((v, d)),    # W_out: hidden -> logits
            rng.standard_normal(v),         # b_out
            rng.standard_normal((d, d)),    # W_h: recurrence
            rng.standard_normal((v, d)),    # E: token embeddings
        )

    def _generate(self, feats: np.ndarray) -> str:
        w_img, w_out, b_out, w_h, emb = self.model()
        h = np.tanh(w_img @ feats)
        words: list[str] = []
        for _ in range(self.MAX_LEN):
            logits = w_out @ h + b_out
            nxt = int(np.argmax(logits))  # greedy; np.argmax -> lowest index tie-break
            if nxt == 0:  # <eos>
                break
            words.append(self.VOCAB[nxt])
            h = np.tanh(w_h @ h + emb[nxt])
        return " ".join(words)

    def score(self, frames: list[np.ndarray], h: int, w: int) -> list[str]:
        return [self._generate(TinyAestheticAdapter.embed(f)) for f in frames]


#: scorer name -> adapter class; names match media.SCORERS keys.  "caption"
#: prefers CoCa (the reference's default frame captioner); LLaVA is reachable
#: as the explicit "caption_llava" scorer variant.
ADAPTERS: dict[str, type[ScorerAdapter]] = {
    "aesthetic": AestheticAdapter,
    "imaging_quality": ImagingQualityAdapter,
    "ocr": OcrAdapter,
    "caption": CocaCaptionAdapter,
    "caption_llava": LlavaCaptionAdapter,
    "tiny_aesthetic": TinyAestheticAdapter,
    "tiny_imaging_quality": TinyImagingQualityAdapter,
    "tiny_caption": TinyCaptionAdapter,
}


def resolve_kernel(name: str, stub_kernel):
    """Registry resolution: the real adapter when its deps are importable on
    this worker, else the deterministic stub.  Called lazily INSIDE the UDF
    (executor-side), so a heterogeneous cluster resolves per worker."""
    adapter_cls = ADAPTERS.get(name)
    if adapter_cls is not None and adapter_cls.available():
        return adapter_cls()
    return stub_kernel
