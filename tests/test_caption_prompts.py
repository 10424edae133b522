"""Golden tests for the M7/M8 caption-model text side: LLaVA
conversation-mode inference, conversation-template prompt assembly,
image-token splicing, and CoCa tokenize framing — all torch-free, against
literal expected strings/ids so any drift in the contracts is loud.

Reference: ``evaluations/llava_caption.py:77-92`` (conv mode), ``:111-135``
(prompt + tokenizer_image_token + stop string);
``evaluations/coca_caption.py:94-97`` (generate + decode)."""

from __future__ import annotations

import pytest

from lvm_datapipe_spark.functions.prompts import (
    IMAGE_TOKEN_INDEX,
    LLAVA_SYSTEM,
    coca_text_tokens,
    llava_caption_prompt,
    llava_conv_mode,
    llava_image_turn,
    llava_stop_str,
    tokenizer_image_token_ids,
)


# -- conv-mode inference (llava_caption.py:77-92) ----------------------------


@pytest.mark.parametrize(
    "name,mode",
    [
        ("llava-llama-2-13b-chat", "llava_llama_2"),
        ("llava-v1.6-mistral-7b", "mistral_instruct"),
        ("llava-v1.6-34b", "chatml_direct"),
        ("llava-v1.5-7b", "llava_v1"),
        ("LLaVA-v1.5-13B", "llava_v1"),
        ("llava-mpt-7b", "mpt"),
        ("llava-7b", "llava_v0"),
    ],
)
def test_conv_mode_inference(name, mode):
    assert llava_conv_mode(name) == mode


def test_conv_mode_precedence_llama2_beats_v1():
    # "llava-llama-2" checkpoints often also carry a v1 tag; the reference
    # checks llama-2 FIRST, so it must win
    assert llava_conv_mode("llava-v1.5-llama-2-13b") == "llava_llama_2"


# -- prompt assembly (llava_caption.py:111-129) ------------------------------


def test_image_turn_plain_and_im_start_end():
    assert llava_image_turn() == "<image>\nplease describe this image"
    assert (
        llava_image_turn(mm_use_im_start_end=True)
        == "<im_start><image><im_end>\nplease describe this image"
    )


def test_v1_prompt_golden():
    expect = (
        "A chat between a curious human and an artificial intelligence "
        "assistant. The assistant gives helpful, detailed, and polite "
        "answers to the human's questions. "
        "USER: <image>\nplease describe this image ASSISTANT:"
    )
    assert llava_caption_prompt("llava_v1") == expect


def test_v0_prompt_golden():
    expect = (
        LLAVA_SYSTEM
        + "###Human: <image>\nplease describe this image###Assistant:"
    )
    assert llava_caption_prompt("llava_v0") == expect


def test_prompt_custom_instruction():
    p = llava_caption_prompt("llava_v1", instruction="what color is the cat?")
    assert p.endswith("USER: <image>\nwhat color is the cat? ASSISTANT:")


def test_stop_strings():
    # TWO-separator style stops on sep2, SINGLE style on sep
    assert llava_stop_str("llava_v1") == "</s>"
    assert llava_stop_str("llava_v0") == "###"
    with pytest.raises(ValueError):
        llava_stop_str("mpt")


# -- tokenizer_image_token splice (llava.mm_utils) ---------------------------


def _fake_encode_with_bos(text):
    """Deterministic fake tokenizer: BOS=1 then one id per word (hashless:
    cumulative position is irrelevant, only the splice structure is under
    test)."""
    return [1] + [100 + len(w) for w in text.split()]


def test_image_token_splice_keeps_single_bos():
    prompt = "sys text <image>\nhello world"
    ids = tokenizer_image_token_ids(prompt, _fake_encode_with_bos, bos_id=1)
    left = _fake_encode_with_bos("sys text ")
    right = _fake_encode_with_bos("\nhello world")
    # single leading BOS, image index spliced once, the second chunk's
    # duplicate BOS stripped by the offset
    assert ids == left + [IMAGE_TOKEN_INDEX] + right[1:]
    assert ids.count(1) == 1
    assert ids.count(IMAGE_TOKEN_INDEX) == 1


def test_image_token_splice_no_bos_tokenizer():
    enc = lambda t: [100 + len(w) for w in t.split()]  # noqa: E731
    ids = tokenizer_image_token_ids("a <image> b", enc, bos_id=None)
    assert ids == enc("a ") + [IMAGE_TOKEN_INDEX] + enc(" b")


def test_image_token_splice_no_image():
    ids = tokenizer_image_token_ids("plain text", _fake_encode_with_bos, bos_id=1)
    assert ids == _fake_encode_with_bos("plain text")


def test_image_token_splice_two_images():
    enc = lambda t: [200] if t else []  # noqa: E731
    ids = tokenizer_image_token_ids("x<image>y<image>z", enc, bos_id=None)
    assert ids == [200, IMAGE_TOKEN_INDEX, 200, IMAGE_TOKEN_INDEX, 200]


def test_full_v1_prompt_splices_after_user_colon():
    """End-to-end: the v1 caption prompt tokenizes into
    [system+USER tokens] [IMAGE] [instruction+ASSISTANT tokens]."""
    prompt = llava_caption_prompt("llava_v1")
    ids = tokenizer_image_token_ids(prompt, _fake_encode_with_bos, bos_id=1)
    assert ids.count(IMAGE_TOKEN_INDEX) == 1
    i = ids.index(IMAGE_TOKEN_INDEX)
    assert i == len(_fake_encode_with_bos(prompt.split("<image>")[0]))


# -- CoCa tokenize framing (open_clip tokenize) ------------------------------


def test_coca_framing_golden():
    enc = lambda t: [10 + i for i, _ in enumerate(t.split())]  # noqa: E731
    ids = coca_text_tokens("Hello   WORLD", enc)
    # lowercased + whitespace-collapsed before encoding; SOT/EOT wrapped;
    # zero-padded to 77
    assert ids[:4] == [49406, 10, 11, 49407]
    assert ids[4:] == [0] * 73
    assert len(ids) == 77


def test_coca_framing_truncates_to_75_body_tokens():
    enc = lambda t: list(range(200))  # noqa: E731
    ids = coca_text_tokens("x", enc)
    assert len(ids) == 77
    assert ids[0] == 49406 and ids[76] == 49407
    assert ids[1:76] == list(range(75))


def test_coca_framing_canonicalization():
    seen = {}
    enc = lambda t: seen.setdefault("text", t) and [] or []  # noqa: E731
    coca_text_tokens("  A\tB\n\nC  ", enc)
    assert seen["text"] == "a b c"


# -- adapter wiring ----------------------------------------------------------


def test_llava_adapter_uses_template_prompt():
    """The M8 adapter's generation prompt is the v1 conv-template render —
    read from the source so the wiring can't silently regress to an ad-hoc
    string (the forward itself needs transformers and never runs here)."""
    import inspect

    from lvm_datapipe_spark.operators import model_adapters as MA

    src = inspect.getsource(MA.LlavaCaptionAdapter.score)
    assert "llava_caption_prompt" in src
