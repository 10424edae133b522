"""Caption-model TEXT-side contract for M8 (LLaVA) — pure-python, no
model dependencies.

The caption adapter's real forward needs torch and the weights, but the
prompt it drives generation with is deterministic string plumbing: the
reference (``evaluations/llava_caption.py:111-129``) appends the
image-token user turn and an empty assistant turn and renders
``conv.get_prompt()``.  The template constants below are the public LLaVA
``conversation.py`` definitions the reference imports.
``LlavaCaptionAdapter.score`` builds its prompt with
``llava_caption_prompt`` and tokenizes through the model's HF processor.
"""

from __future__ import annotations

#: llava.constants — the image placeholder token
DEFAULT_IMAGE_TOKEN = "<image>"

#: llava.conversation — the v0/v1 templates share one system message
LLAVA_SYSTEM = (
    "A chat between a curious human and an artificial intelligence "
    "assistant. The assistant gives helpful, detailed, and polite answers "
    "to the human's questions."
)

#: the reference's caption instruction (llava_caption.py:111)
LLAVA_CAPTION_INSTRUCTION = "please describe this image"

#: the first user turn: the image placeholder, then the instruction
#: (llava_caption.py:118-122)
LLAVA_IMAGE_TURN = DEFAULT_IMAGE_TOKEN + "\n" + LLAVA_CAPTION_INSTRUCTION


def llava_caption_prompt(conv_mode: str = "llava_v1") -> str:
    """Render the single-round caption prompt exactly as
    ``conv.get_prompt()`` does after llava_caption.py:111-129 appends the
    image-bearing user turn and an empty assistant turn.

    * ``llava_v1`` — SeparatorStyle.TWO, seps ``(" ", "</s>")``, roles
      USER/ASSISTANT: ``{system} USER: {turn} ASSISTANT:`` (the empty
      assistant message renders as ``role + ":"`` with no separator).
    * ``llava_v0`` — SeparatorStyle.SINGLE, sep ``"###"``, roles
      Human/Assistant: ``{system}###Human: {turn}###Assistant:``.
    """
    if conv_mode == "llava_v1":
        return f"{LLAVA_SYSTEM} USER: {LLAVA_IMAGE_TURN} ASSISTANT:"
    if conv_mode == "llava_v0":
        return f"{LLAVA_SYSTEM}###Human: {LLAVA_IMAGE_TURN}###Assistant:"
    raise ValueError(f"unsupported conv_mode: {conv_mode}")


