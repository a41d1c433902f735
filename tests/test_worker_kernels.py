"""The worker's correction kernels equal the reference kernels row by row
(no Spark: ``_Corrector`` is the worker-side object).

The worker searches keywords through ``FilteredIndex`` and memoizes
``shape_similarity``; the reference side is a plain ``BKTree`` and a fresh,
uncached ``CharSim`` — the pair the oracle uses."""

from __future__ import annotations

import string

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_corrector_spark.assets import KEYWORDS, build_char_meta
from ocr_corrector_spark.assets.scorer_table import SCORER_TABLE, topn_candidates
from ocr_corrector_spark.functions import BKTree, CharSim
from ocr_corrector_spark.functions.correct_kernels import (
    bert_correct_one,
    keyword_correct_one,
)
from ocr_corrector_spark.operators import correct
from ocr_corrector_spark.operators.correct import _char_sim, _Corrector, correction_config

_REF_TREE = BKTree(KEYWORDS)
_REF_KWSET = frozenset(_REF_TREE.words)
_REF_SIM = CharSim(build_char_meta())
_WORKER = _Corrector(correction_config())

# the keywords' and the scorer table's ideographs, plus 龘 (no char_meta)
CJK = "".join(
    sorted(c for c in set("".join(KEYWORDS)) | set(SCORER_TABLE) if "一" <= c <= "龥")
) + "宋全数大龘"
# punctuation and Latin (unknown to char_meta: their pairs raise
# ZeroDivisionError), digits, and astral-plane characters
ODD = "，。()/%" + string.ascii_letters[:6] + "0123456789" + "\U00020000\U0002a6d6"


@st.composite
def _row(draw):
    """``(text, err_pos, mode)``: a keyword, random text of up to 12
    characters, or CJK text of 62 or 63 characters (62 is the masked-LM
    limit), with 0–3 error positions that may hold any ``CJK + ODD``
    character."""
    kind = draw(st.sampled_from(["keyword", "random", "limit"]))
    if kind == "keyword":
        chars = list(draw(st.sampled_from(KEYWORDS)))
    elif kind == "limit":
        n = draw(st.sampled_from([62, 63]))
        chars = draw(st.lists(st.sampled_from(CJK), min_size=n, max_size=n))
    else:
        chars = draw(st.lists(st.sampled_from(CJK + ODD), min_size=1, max_size=12))
    errs = sorted(
        draw(st.sets(st.integers(0, len(chars) - 1), max_size=min(3, len(chars))))
    )
    for e in errs:
        chars[e] = draw(st.sampled_from(CJK + ODD))
    return "".join(chars), errs, draw(st.sampled_from([1, 2]))


def _reference(text: str, errs: list, mode: int) -> str:
    if mode == 1:
        return keyword_correct_one(text, errs, _REF_TREE, _REF_KWSET, _REF_SIM, 0.55)
    return bert_correct_one(text, errs, _REF_SIM, topn_candidates, 3)


@given(st.lists(_row(), min_size=1, max_size=20))
@settings(max_examples=300, deadline=None)
def test_worker_equals_reference_kernels(rows):
    texts, errs, modes = (list(c) for c in zip(*rows))
    out = _WORKER.correct_batch(texts, errs, modes)
    assert out == [_reference(*r) for r in rows]
    info = _char_sim().shape_similarity.cache_info()
    assert info.currsize <= info.maxsize


@pytest.mark.parametrize(
    "text, errs, mode",
    [
        ("未还本金a", [4], 2),  # Latin at the error position
        ("未还本金，", [4], 2),  # punctuation
        ("宋还本%", [0, 3], 1),  # keyword route, unknown origin char
        ("未还本金\U00020000", [4], 2),  # astral plane
    ],
)
def test_unknown_pair_passes_the_row_through(text, errs, mode):
    assert _WORKER.correct_batch([text], [errs], [mode]) == [text]
    assert _reference(text, errs, mode) == text


def test_memo_never_stores_a_raising_pair():
    sim = _char_sim().shape_similarity
    before = sim.cache_info().currsize
    for _ in range(3):
        with pytest.raises(ZeroDivisionError):
            sim("a", "b")
    assert sim.cache_info().currsize == before


def test_memo_is_bounded_and_answer_preserving(monkeypatch):
    monkeypatch.setattr(correct, "_SIM_CACHE_MAX", 8)
    _char_sim.cache_clear()
    try:
        sim = _char_sim().shape_similarity
        pairs = [(a, b) for a in CJK[:6] for b in CJK[:6]]
        for _ in range(2):  # the second pass finds every pair evicted
            for a, b in pairs:
                assert sim(a, b) == _REF_SIM.shape_similarity(a, b)
                info = sim.cache_info()
                assert info.currsize <= info.maxsize == 8
        assert info.currsize == 8
    finally:
        _char_sim.cache_clear()
