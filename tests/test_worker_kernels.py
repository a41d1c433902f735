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
    positional_candidates,
    regex_candidates,
)
from ocr_corrector_spark.functions.rules import do_correct_filter_bert, do_correct_filter_keyword
from ocr_corrector_spark.operators import correct
from ocr_corrector_spark.operators.correct import (
    _char_sim,
    _Corrector,
    correction_config,
    route_rows,
)

_REF_TREE = BKTree(KEYWORDS)
_REF_KWSET = frozenset(_REF_TREE.words)
_REF_SIM = CharSim(build_char_meta())
_WORKER = _Corrector(correction_config())

# the keywords' and the scorer table's ideographs, plus 龘 (no char_meta)
CJK = "".join(
    sorted(c for c in set("".join(KEYWORDS)) | set(SCORER_TABLE) if "一" <= c <= "龥")
) + "宋全数大龘"
# punctuation and Latin (unknown to char_meta: their pairs raise
# ZeroDivisionError), digits, astral-plane characters, and the regex
# metacharacters and newline that send the keyword route to its regex
ODD = (
    "，。()/%"
    + string.ascii_letters[:6]
    + "0123456789"
    + "\U00020000\U0002a6d6"
    + ".^$*+?{}[]\\|\n"
)


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


@pytest.mark.parametrize(
    "text, errs, mode",
    [
        ("宋还.全", [0, 1, 3], 1),  # '.' matches 本 as the reference regex does
        ("宋还本.", [0, 3], 1),  # a metacharacter at an error position
        ("宋还本全\n", [0, 3], 1),  # '$' also matches before a final newline
        ("宋还本全", [0, 3, 5], 1),  # positions past the end of the text
        ("宋还本全", [1, 2, 3, 7], 1),
        ("宋还本全", [3, 0], 1),  # unsorted
        ("宋还本全", [0, 0, 3], 1),  # repeated
        ("我爱北京大安门", [4, 9], 2),
        ("我爱北京大安门", [4, 4], 2),
    ],
)
def test_template_edge_cases_equal_the_reference(text, errs, mode):
    assert _WORKER.correct_batch([text], [errs], [mode]) == [_reference(text, errs, mode)]


def test_dot_in_the_text_matches_a_keyword_character():
    assert _reference("宋还.全", [0, 1, 3], 1) == "未还.金"


_TEMPLATE_CHARS = "未还本金宋全.$()\\\n"


@given(
    st.text(st.sampled_from(_TEMPLATE_CHARS), min_size=1, max_size=5),
    st.lists(st.integers(-1, 6), max_size=3),
    st.lists(st.text(st.sampled_from(_TEMPLATE_CHARS), max_size=6), max_size=6),
)
@settings(max_examples=500, deadline=None)
def test_positional_filter_equals_the_regex(text, errs, found):
    try:
        expected = regex_candidates(text, errs, found)
    except Exception as exc:  # an invalid template or position
        with pytest.raises(type(exc)):
            positional_candidates(text, errs, found)
    else:
        assert positional_candidates(text, errs, found) == expected


# the filters' class boundaries: around [一-龥], [a-zA-Z] and [Ａ-Ｚａ-ｚ]
_ROUTE_CHARS = (
    "\u4dff一中龥\u9fa6@AZ[`az{\uff20ＡＺ\uff3b\uff40ａｚ\uff5b 1\U00020000\ud800"
)


@given(
    st.lists(
        st.tuples(
            st.none() | st.text(st.sampled_from(_ROUTE_CHARS), max_size=64),
            st.none() | st.lists(st.integers(0, 3), max_size=2),
            st.sampled_from(["report", "doc", None]),
        ),
        max_size=8,
    )
)
@settings(max_examples=300, deadline=None)
def test_route_rows_equals_the_rule_filters(rows):
    texts, keys, bizes = (list(c) for c in zip(*rows)) if rows else ([], [], [])
    expected_modes, expected_errs = [], []
    for t, k, b in rows:
        mode, err = 0, None
        if t is not None and (
            do_correct_filter_keyword(t) if b == "report" else do_correct_filter_bert(t)
        ):
            err = list(range(len(t))) if k is None else k
            mode = (1 if b == "report" else 2) if err else 0
        expected_modes.append(mode)
        expected_errs.append(err)
    assert route_rows(texts, keys, bizes) == (expected_modes, expected_errs)


def test_decision_memo_is_bounded_and_never_stores_a_raising_pair(monkeypatch):
    monkeypatch.setattr(correct, "_DECISION_CACHE_MAX", 8)
    worker = _Corrector(correction_config())
    decide = worker.decide
    for _ in range(3):
        with pytest.raises(ZeroDivisionError):
            decide("a", "a")  # Latin has no char_meta
    assert decide.cache_info().currsize == 0
    texts = ["未还本金大安门广场"] * len(CJK)
    errs = [[i % 9] for i in range(len(CJK))]
    for _ in range(2):
        out = worker.correct_batch(
            [t[: e[0]] + c + t[e[0] + 1 :] for t, e, c in zip(texts, errs, CJK)],
            errs,
            [2] * len(CJK),
        )
        info = decide.cache_info()
        assert info.currsize <= info.maxsize == 8
    assert info.currsize == 8
    assert out == [
        _reference(t[: e[0]] + c + t[e[0] + 1 :], e, 2) for t, e, c in zip(texts, errs, CJK)
    ]


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
