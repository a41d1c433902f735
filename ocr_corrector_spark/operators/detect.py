"""Error detection as native Catalyst expressions (operators F1-F3).

The reference runs these per row in Python (base_corrector.py:54-119);
here they are declarative column expressions that Catalyst keeps inside
whole-stage codegen.  The default pipeline computes only the
probs-threshold half natively (``err_prob_key``), so the wide ``probs``
array never crosses into Python; the eligibility filters F1/F2 run inside
its single correction UDF (functions/rules.do_correct_filter_*, the
Python twins of ``eligible_keyword`` / ``eligible_bert``), because they
apply to the EXTRACTED text, which only exists on the Python side.
``eligible_keyword`` / ``eligible_bert`` / ``err_positions`` stay as the
all-native form for callers that build their own detection columns.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.rules import MAX_SEQ_LENGTH, PROB_THRESHOLD

# base_corrector.py:125 — the CJK block's complement, for counting CJK chars
_NON_CJK_CLASS = "[^一-龥]"
# base_corrector.py:124 — ASCII + fullwidth alphabet
_ALPHABET_CLASS = "[a-zA-ZＡ-Ｚａ-ｚ]"


def cjk_count(col: Column) -> Column:
    """Number of CJK chars — len(re.findall(chinese, text)) equivalent."""
    return F.length(F.regexp_replace(col, _NON_CJK_CLASS, ""))


def eligible_keyword(text: Column) -> Column:
    """F1 (base_corrector.py:96-106): >= 2 CJK chars."""
    return cjk_count(text) >= 2


def eligible_bert(text: Column) -> Column:
    """F2 (bert_corrector.py:81-93)."""
    return (
        (~text.rlike(_ALPHABET_CLASS))
        & (cjk_count(text) >= 3)
        & (F.length(text) <= MAX_SEQ_LENGTH - 2)
    )


def err_positions(text: Column, probs: Column) -> Column:
    """F3 (base_corrector.py:75-86,109-119): indices with prob below
    ``PROB_THRESHOLD``; NULL probs → the non-prob path marks every
    position."""
    return err_from_key(text, err_prob_key(probs))


def err_prob_key(probs: Column) -> Column:
    """The probs-only factor of ``err_positions``: the sub-threshold index
    set for non-null probs (empty for empty probs), and NULL for null
    probs.  The key is text-extraction-independent, so the pipeline
    computes it natively on raw rows: it is the only detection input
    that crosses into the correction UDF, and the dedup plan's join key
    — orders of magnitude smaller than the probs array itself
    (plans/pipeline.py)."""
    empty = F.array().cast("array<int>")
    idx = F.sequence(F.lit(0), F.size(probs) - 1)
    # guard size==0: sequence(0,-1) would produce a DESCENDING range
    by_prob = F.when(
        F.size(probs) > 0,
        F.filter(idx, lambda i: F.element_at(probs, i + 1) < F.lit(PROB_THRESHOLD)),
    ).otherwise(empty)
    return F.when(probs.isNull(), F.lit(None).cast("array<int>")).otherwise(by_prob)


def err_from_key(text: Column, key: Column) -> Column:
    """Reconstruct ``err_positions`` from (text, err_prob_key): NULL key
    (null probs) → every position of ``text``; else the key itself."""
    empty = F.array().cast("array<int>")
    all_pos = F.when(
        F.length(text) > 0, F.sequence(F.lit(0), F.length(text) - 1)
    ).otherwise(empty)
    return F.when(key.isNull(), all_pos).otherwise(key)

