"""Caption-model TEXT-side contract for M8 (LLaVA) — pure-python, no
model dependencies.

The caption adapter's real forward needs torch and the weights, but the
prompt it drives generation with is deterministic string plumbing: the
reference (``evaluations/llava_caption.py:111-129``) appends the
image-token user turn and an empty assistant turn and renders
``conv.get_prompt()``.  The template constants below are the public LLaVA
``conversation.py`` definitions the reference imports.
``LlavaCaptionAdapter.score`` drives generation with
``LLAVA_CAPTION_PROMPT`` and tokenizes through the model's HF processor.
"""

from __future__ import annotations

#: llava.constants — the image placeholder token
DEFAULT_IMAGE_TOKEN = "<image>"

#: llava.conversation — the v1 template's system message
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


#: the single-round caption prompt exactly as ``conv.get_prompt()``
#: renders it after llava_caption.py:111-129 appends the image-bearing user
#: turn and an empty assistant turn, in the reference's ``llava_v1`` mode:
#: SeparatorStyle.TWO, seps ``(" ", "</s>")``, roles USER/ASSISTANT (the
#: empty assistant message renders as ``role + ":"`` with no separator)
LLAVA_CAPTION_PROMPT = f"{LLAVA_SYSTEM} USER: {LLAVA_IMAGE_TURN} ASSISTANT:"
