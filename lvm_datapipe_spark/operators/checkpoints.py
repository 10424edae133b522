"""Torch-free reader for torch zip checkpoints + the numpy aesthetic MLP.

The torch checkpoint container is a PUBLIC documented format: a zip holding
``<prefix>/data.pkl`` (a protocol-2 pickle of the state dict whose tensors
are ``torch._utils._rebuild_tensor_v2`` calls referencing persistent-id
storages) and one raw little-endian buffer per storage under
``<prefix>/data/<key>``.  Reading it needs only ``zipfile`` + a restricted
``pickle.Unpickler`` — no torch — which lets this container validate the
M3 aesthetic head against the REAL public LAION checkpoint the reference
ships (``improved-aesthetic-predictor/sac+logos+ava1-l14-linearMSE.pth``)
even though torch is not installable here.

Security note: the unpickler is allow-listed — only the two rebuild
symbols a plain state dict needs resolve; anything else raises.  Never use
a general ``pickle.load`` on third-party checkpoints.

:class:`AestheticMLP` reproduces the reference head's forward
(``/root/reference/evaluations/aesthetic_score.py:25-49``): five Linear
layers 768→1024→128→64→16→1 with NO activations (the ReLUs are commented
out in the published model) and Dropout layers that are identity at eval —
so inference is exactly five affine maps in float32.
"""

from __future__ import annotations

import io
import pickle
import zipfile
from collections import OrderedDict

import numpy as np

_STORAGE_DTYPES = {
    "FloatStorage": np.float32,
    "DoubleStorage": np.float64,
    "HalfStorage": np.float16,
    "LongStorage": np.int64,
    "IntStorage": np.int32,
    "ShortStorage": np.int16,
    "CharStorage": np.int8,
    "ByteStorage": np.uint8,
    "BoolStorage": np.bool_,
}


def _rebuild_tensor_v2(storage, storage_offset, size, stride, *_ignored):
    """numpy stand-in for ``torch._utils._rebuild_tensor_v2``: view the flat
    storage at the given offset/shape/stride (stride is in ELEMENTS, like
    torch), then copy so the result owns its memory."""
    arr, itemsize = storage
    view = np.lib.stride_tricks.as_strided(
        arr[storage_offset:],
        shape=tuple(size),
        strides=tuple(s * itemsize for s in stride),
    )
    return np.array(view)


class _StateDictUnpickler(pickle.Unpickler):
    """Allow-listed unpickler for plain tensor state dicts."""

    def __init__(self, data: bytes, zf: zipfile.ZipFile, prefix: str):
        super().__init__(io.BytesIO(data))
        self._zf = zf
        self._prefix = prefix

    def find_class(self, module, name):
        if (module, name) == ("collections", "OrderedDict"):
            return OrderedDict
        if (module, name) == ("torch._utils", "_rebuild_tensor_v2"):
            return _rebuild_tensor_v2
        if module == "torch" and name in _STORAGE_DTYPES:
            return name  # dtype marker consumed in persistent_load
        raise pickle.UnpicklingError(
            f"state-dict checkpoint contains disallowed global {module}.{name}"
        )

    def persistent_load(self, pid):
        tag, storage_type, key, _device, _numel = pid
        if tag != "storage":  # pragma: no cover — malformed checkpoint
            raise pickle.UnpicklingError(f"unknown persistent id tag {tag!r}")
        dtype = np.dtype(_STORAGE_DTYPES[storage_type])
        raw = self._zf.read(f"{self._prefix}/data/{key}")
        return np.frombuffer(raw, dtype=dtype), dtype.itemsize


def load_state_dict(path: str) -> dict[str, np.ndarray]:
    """Read a torch zip checkpoint into {param name: numpy array}."""
    with zipfile.ZipFile(path) as zf:
        pkl = next(n for n in zf.namelist() if n.endswith("/data.pkl"))
        prefix = pkl.rsplit("/", 1)[0]
        state = _StateDictUnpickler(zf.read(pkl), zf, prefix).load()
    return {k: v for k, v in state.items() if isinstance(v, np.ndarray)}


#: the published LAION head's layer sizes (aesthetic_score.py:31-45); the
#: state-dict indices are the Sequential slots of its Linear layers
AESTHETIC_LAYERS = ("layers.0", "layers.2", "layers.4", "layers.6", "layers.7")
AESTHETIC_SHAPES = ((1024, 768), (128, 1024), (64, 128), (16, 64), (1, 16))


class AestheticMLP:
    """The LAION aesthetic head as five float32 affine maps (Dropout is
    identity at eval; the published model has no activations)."""

    def __init__(self, state: dict[str, np.ndarray]):
        self.params = []
        for name, shape in zip(AESTHETIC_LAYERS, AESTHETIC_SHAPES):
            w = state[f"{name}.weight"].astype(np.float32)
            b = state[f"{name}.bias"].astype(np.float32)
            if w.shape != shape or b.shape != (shape[0],):
                raise ValueError(
                    f"{name}: got {w.shape}/{b.shape}, want {shape}"
                )
            self.params.append((w, b))

    @classmethod
    def load(cls, path: str) -> "AestheticMLP":
        return cls(load_state_dict(path))

    def forward(self, emb: np.ndarray) -> np.ndarray:
        """emb: (768,) or (n, 768) L2-normalized CLIP embedding(s) →
        aesthetic score(s), float32 throughout like the torch eval path."""
        x = np.atleast_2d(np.asarray(emb, dtype=np.float32))
        for w, b in self.params:
            x = x @ w.T + b
        return x[:, 0]


# --- MUSIQ input-side contract (M4's preprocessing, torch-free) ------------


def _resize_weights_linear(in_size: int, out_size: int) -> np.ndarray:
    """(out, in) BILINEAR resampling matrix WITHOUT antialiasing — the
    behavior of torchvision's tensor-path Resize in the torchvision the
    reference runs (antialias defaults off for tensor inputs), i.e.
    fixed triangle kernel at (j+0.5)*scale-0.5 sample points with edge
    clamping (renormalization over in-bounds taps is equivalent)."""
    scale = in_size / out_size
    centers = (np.arange(out_size, dtype=np.float64) + 0.5) * scale - 0.5
    x = np.abs(np.arange(in_size, dtype=np.float64)[None, :] - centers[:, None])
    w = np.clip(1.0 - x, 0.0, None)
    return (w / w.sum(axis=1, keepdims=True)).astype(np.float32)


#: the reference's MUSIQ input cap (imaging_quality.py:48-68 ``transform``)
MUSIQ_MAX_SIDE = 512


def musiq_preprocess(frame: np.ndarray, mode: str = "shorter") -> np.ndarray:
    """The M4 input contract, torch-free: the reference's ``transform()``
    (imaging_quality.py:48-68) on one frame.  uint8 (H, W) grayscale or
    (H, W, 3) RGB → float32 CHW in [0, 1]:

    - ``shorter`` (the reference default): if min(h, w) > 512, bilinear
      resize by 512/min(h, w) to (int(scale*h), int(scale*w)) — note the
      reference's truncating ``int()``, not round;
    - ``shorter_centercrop``: ``shorter`` then CenterCrop(512);
    - ``longer``: if max(h, w) > 512, scale by 512/max(h, w);
    - ``None`` (the string): no resize;

    then divide by 255 exactly once, like the reference (which resizes the
    0..255-valued tensor and divides at the end)."""
    a = np.asarray(frame)
    if a.ndim == 2:
        a = np.stack([a, a, a], axis=-1)
    a = a.astype(np.float32)
    h, w = a.shape[:2]
    s = MUSIQ_MAX_SIDE
    if mode.startswith("shorter"):
        if min(h, w) > s:
            scale = s / min(h, w)
            nh, nw = int(scale * h), int(scale * w)
            a = np.einsum("oi,ijc->ojc", _resize_weights_linear(h, nh), a)
            a = np.einsum("oj,ijc->ioc", _resize_weights_linear(w, nw), a)
            h, w = nh, nw
        if mode == "shorter_centercrop":
            top = int(round((h - s) / 2.0))
            left = int(round((w - s) / 2.0))
            a = a[max(top, 0) : top + s, max(left, 0) : left + s]
    elif mode == "longer":
        if max(h, w) > s:
            scale = s / max(h, w)
            nh, nw = int(scale * h), int(scale * w)
            a = np.einsum("oi,ijc->ojc", _resize_weights_linear(h, nh), a)
            a = np.einsum("oj,ijc->ioc", _resize_weights_linear(w, nw), a)
    elif mode == "None":
        pass
    else:
        raise ValueError(f"unknown preprocess_mode {mode!r}")
    return np.ascontiguousarray((a / 255.0).transpose(2, 0, 1)).astype(np.float32)


