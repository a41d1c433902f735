"""Filter predicates, the regex-template builder, and acceptance curves.

All pure Python; citations into /root/reference.
"""

from __future__ import annotations

import re

# base_corrector.py:124-125,243 — compiled classes
ALPHABET_RE = re.compile(r"[a-zA-ZＡ-Ｚａ-ｚ]")
CJK_RE = re.compile(r"[一-龥]")
DIGIT_RE = re.compile(r"[0-9]")
# base_corrector.py:109-119 — a position is suspect below this prob
PROB_THRESHOLD = 0.9
# bert_corrector.py:81-93 — the masked LM's sequence limit
MAX_SEQ_LENGTH = 64

# base_corrector.py:126-242 — the reference rejects BERT candidates that are
# traditional-Chinese chars via a ~8k-char regex class.  A frozenset member
# test is equivalent and faster; the set below is built from the same class
# programmatically at import (see assets/traditional.py).
from ..assets.traditional import TRADITIONAL_CHARS


def is_traditional(s: str) -> bool:
    """True iff the FIRST char is in the traditional set — the reference
    uses ``re.match`` (anchored at position 0), bert_corrector.py:105."""
    return bool(s) and s[0] in TRADITIONAL_CHARS


def find_err_pos_by_prob(prob, threshold: float = PROB_THRESHOLD) -> list[int]:
    """Positions whose per-char confidence is below threshold.

    Parity: base_corrector.py:109-119 —
    find_err_pos_by_prob([0.99,0.85,1.00,0.77]) == [1, 3].
    """
    if prob is None or len(prob) == 0:
        return []
    return [i for i, p in enumerate(prob) if p < threshold]


def do_correct_filter_keyword(text: str) -> bool:
    """Keyword-path correctability: >= 2 CJK chars (base_corrector.py:96-106)."""
    return len(CJK_RE.findall(text)) >= 2


def do_correct_filter_bert(text: str, max_seq_length: int = MAX_SEQ_LENGTH) -> bool:
    """BERT-path correctability (bert_corrector.py:81-93): no alphabet
    chars, >= 3 CJK chars, length <= max_seq_length - 2."""
    if ALPHABET_RE.search(text):
        return False
    if len(CJK_RE.findall(text)) < 3:
        return False
    if len(text) > max_seq_length - 2:
        return False
    return True


def regulation(text: str, errors) -> tuple[str, str]:
    """Build the anchored structural regex + the error-char string.

    Parity: keyword_corrector.py:124-146 runtime semantics — ``errors`` is a
    list of POSITIONS (as passed at keyword_corrector.py:70 from
    find_err_pos_by_prob).  The reference's own doctest at :132-135 shows a
    0/1 mask instead; that doctest contradicts the runtime call sites and is
    never executed, so position semantics are authoritative.

    regulation('宋还本全', [0, 3]) == ('^(.)还本(.)$', '宋全')
    """
    reg = list(text)
    error_chars = ""
    for err in errors:
        reg[err] = "(.)"
        error_chars += text[err]
    return "^" + "".join(reg) + "$", error_chars


def curve_02(confidence: float, similarity: float) -> bool:
    """FASPell CSD acceptance curve (bert_corrector.py:140-149):
    conf+sim >= 1 AND conf >= 0.05 AND sim >= 0.4."""
    return (
        confidence + similarity - 1 >= 0
        and confidence - 0.05 >= 0
        and similarity - 0.4 >= 0
    )


def check_candidate(original: str, corrected_to: str) -> bool:
    """Candidate sanity guard (bert_corrector.py:95-107): reject [UNK],
    WordPiece continuations (#), length mismatch, alphabet, traditional."""
    if corrected_to == "[UNK]":
        return False
    if "#" in corrected_to:
        return False
    if len(corrected_to) != len(original):
        return False
    if ALPHABET_RE.search(corrected_to):
        return False
    if is_traditional(corrected_to):
        return False
    return True


# bert_corrector.py:37-42 — digits mangle the masked LM, rewrite to CJK
# numerals pre-scoring.  str.translate == the reference's regex-sub table.
_DIGIT_TO_CJK = str.maketrans("1234567890", "一二三四五六七八九零")


def translate_digits(text: str) -> str:
    return text.translate(_DIGIT_TO_CJK)
