"""Golden tests for the M8 caption-model text side: LLaVA
conversation-template prompt assembly, torch-free, against literal
expected strings so any drift in the contract is loud.

Reference: ``evaluations/llava_caption.py:111-129`` (prompt)."""

from __future__ import annotations

from lvm_datapipe_spark.functions.prompts import (
    LLAVA_CAPTION_PROMPT,
    LLAVA_IMAGE_TURN,
)


# -- prompt assembly (llava_caption.py:111-129) ------------------------------


def test_image_turn_plain():
    assert LLAVA_IMAGE_TURN == "<image>\nplease describe this image"


def test_v1_prompt_golden():
    expect = (
        "A chat between a curious human and an artificial intelligence "
        "assistant. The assistant gives helpful, detailed, and polite "
        "answers to the human's questions. "
        "USER: <image>\nplease describe this image ASSISTANT:"
    )
    assert LLAVA_CAPTION_PROMPT == expect


# -- adapter wiring ----------------------------------------------------------


def test_llava_adapter_uses_template_prompt():
    """The M8 adapter's generation prompt is the v1 conv-template render —
    read from the source so the wiring can't silently regress to an ad-hoc
    string (the forward itself needs transformers and never runs here)."""
    import inspect

    from lvm_datapipe_spark.operators import model_adapters as MA

    src = inspect.getsource(MA.LlavaCaptionAdapter.score)
    assert "LLAVA_CAPTION_PROMPT" in src
