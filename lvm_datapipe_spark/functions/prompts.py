"""Caption-model TEXT-side contracts for M7 (CoCa) and M8 (LLaVA) —
pure-python, no model dependencies.

The caption adapters' real forwards need torch and the weights, but
everything BEFORE the forward is deterministic string/token plumbing and
deserves the same golden-test pinning the CLIP and MUSIQ image
preprocessing got:

* LLaVA: the conversation-mode inference rule and the conversation-template
  prompt assembly the reference drives generation with (the reference's
  ``evaluations/llava_caption.py:77-92`` infers the conv mode from the
  model name; ``:111-129`` appends the image-token user turn, an empty
  assistant turn, renders ``conv.get_prompt()`` and tokenizes it with
  ``tokenizer_image_token``).  The template constants below are the
  public LLaVA ``conversation.py`` definitions the reference imports.
  ``LlavaCaptionAdapter.score`` builds its prompt with
  ``llava_caption_prompt`` and tokenizes through the model's HF processor;
  the conv-mode rule, stop string and image-token splice are kept as the
  reference contract, golden-tested.
* CoCa: the open_clip tokenize framing — lowercase + whitespace collapse,
  truncate to context_len - 2, wrap in SOT/EOT, zero-pad — that feeds
  ``model.generate`` (the decode-side cleanup, ``split("<end_of_text>")``
  etc., is C5 — ``functions/strings.py``).

Every function takes the tokenizer as a plain ``encode_fn`` callable so the
contracts are executable (and golden-testable) with a deterministic fake in
place of the real BPE vocab.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
import re

#: llava.constants — the special tokens the prompt assembly interleaves
DEFAULT_IMAGE_TOKEN = "<image>"
DEFAULT_IM_START_TOKEN = "<im_start>"
DEFAULT_IM_END_TOKEN = "<im_end>"
IMAGE_TOKEN_INDEX = -200

#: llava.conversation — the v0/v1 templates share one system message
LLAVA_SYSTEM = (
    "A chat between a curious human and an artificial intelligence "
    "assistant. The assistant gives helpful, detailed, and polite answers "
    "to the human's questions."
)

#: the reference's caption instruction (llava_caption.py:111)
LLAVA_CAPTION_INSTRUCTION = "please describe this image"


def llava_conv_mode(model_name: str) -> str:
    """Conversation mode from the checkpoint name — the exact precedence
    chain of ``llava_caption.py:77-92`` (first match wins; note "v1.6-34b"
    must be tested before the plain "v1" substring)."""
    low = model_name.lower()
    if "llama-2" in low:
        return "llava_llama_2"
    if "mistral" in low:
        return "mistral_instruct"
    if "v1.6-34b" in low:
        return "chatml_direct"
    if "v1" in low:
        return "llava_v1"
    if "mpt" in low:
        return "mpt"
    return "llava_v0"


def llava_image_turn(
    instruction: str = LLAVA_CAPTION_INSTRUCTION,
    mm_use_im_start_end: bool = False,
) -> str:
    """The first-user-turn text with the image placeholder prepended
    (llava_caption.py:118-122): ``<image>\\n`` + instruction, or the
    ``<im_start><image><im_end>`` triple when the checkpoint was trained
    with explicit image delimiters."""
    if mm_use_im_start_end:
        return (
            DEFAULT_IM_START_TOKEN
            + DEFAULT_IMAGE_TOKEN
            + DEFAULT_IM_END_TOKEN
            + "\n"
            + instruction
        )
    return DEFAULT_IMAGE_TOKEN + "\n" + instruction


def llava_caption_prompt(
    conv_mode: str = "llava_v1",
    instruction: str = LLAVA_CAPTION_INSTRUCTION,
    mm_use_im_start_end: bool = False,
) -> str:
    """Render the single-round caption prompt exactly as
    ``conv.get_prompt()`` does after llava_caption.py:111-129 appends the
    image-bearing user turn and an empty assistant turn.

    * ``llava_v1`` — SeparatorStyle.TWO, seps ``(" ", "</s>")``, roles
      USER/ASSISTANT: ``{system} USER: {turn} ASSISTANT:`` (the empty
      assistant message renders as ``role + ":"`` with no separator).
    * ``llava_v0`` — SeparatorStyle.SINGLE, sep ``"###"``, roles
      Human/Assistant: ``{system}###Human: {turn}###Assistant:``.
    """
    turn = llava_image_turn(instruction, mm_use_im_start_end)
    if conv_mode == "llava_v1":
        return f"{LLAVA_SYSTEM} USER: {turn} ASSISTANT:"
    if conv_mode == "llava_v0":
        return f"{LLAVA_SYSTEM}###Human: {turn}###Assistant:"
    raise ValueError(f"unsupported conv_mode: {conv_mode}")


def llava_stop_str(conv_mode: str = "llava_v1") -> str:
    """Generation stop string (llava_caption.py:131): ``conv.sep2`` for the
    TWO-separator styles, ``conv.sep`` otherwise."""
    if conv_mode == "llava_v1":
        return "</s>"
    if conv_mode == "llava_v0":
        return "###"
    raise ValueError(f"unsupported conv_mode: {conv_mode}")


def tokenizer_image_token_ids(
    prompt: str,
    encode_fn: Callable[[str], Sequence[int]],
    image_token_index: int = IMAGE_TOKEN_INDEX,
    bos_id: int | None = None,
) -> list[int]:
    """``llava.mm_utils.tokenizer_image_token``: split the prompt on
    ``<image>``, tokenize each chunk independently, and splice the image
    placeholder id between chunks — keeping a single leading BOS when the
    tokenizer emits one per chunk (every chunk after the first has its
    duplicate BOS stripped by the offset)."""
    chunks = [list(encode_fn(c)) for c in prompt.split(DEFAULT_IMAGE_TOKEN)]
    offset = 0
    out: list[int] = []
    if chunks and chunks[0] and bos_id is not None and chunks[0][0] == bos_id:
        offset = 1
        out.append(chunks[0][0])
    sep = [image_token_index] * (offset + 1)
    spliced: list[list[int]] = []
    for i, c in enumerate(chunks):
        spliced.append(c)
        if i != len(chunks) - 1:
            spliced.append(sep)
    for x in spliced:
        out.extend(x[offset:])
    return out


_WS = re.compile(r"\s+")


def coca_text_tokens(
    text: str,
    encode_fn: Callable[[str], Sequence[int]],
    context_len: int = 77,
    sot: int = 49406,
    eot: int = 49407,
) -> list[int]:
    """open_clip ``tokenize`` framing for CoCa's text tower: whitespace
    collapse + lowercase (the SimpleTokenizer canonicalization), BPE via
    ``encode_fn``, truncate to ``context_len - 2``, wrap in SOT/EOT, and
    zero-pad to exactly ``context_len`` — the fixed-shape contract
    ``model.generate``'s text branch consumes.  (Decode-side cleanup of
    the generated ids is C5: ``strings.py`` splits at ``<end_of_text>``
    and strips ``<start_of_text>``, the exact coca_caption.py:97 chain.)"""
    clean = _WS.sub(" ", text).strip().lower()
    body = list(encode_fn(clean))[: context_len - 2]
    ids = [sot, *body, eot]
    return ids + [0] * (context_len - len(ids))
