"""Kernel goldens ported from the reference's executable doctests
(SURVEY.md §5.1) — the per-turn-equality contract at the function level.
Citations are file:line into /root/reference.
"""

import pytest

from ocr_corrector_spark.assets import KEYWORDS, build_char_meta
from ocr_corrector_spark.functions import (
    BKTree,
    CharSim,
    curve_02,
    edit_distance,
    find_err_pos_by_prob,
    regulation,
    translate_digits,
    check_candidate,
)


# --- edit distance: char_sim.py:58-66 doctests -----------------------------
@pytest.mark.parametrize(
    "a,b,d",
    [
        ("abcde", "avbcude", 2),
        (["至", "刂"], ["亻", "至", "刂"], 1),
        ("fang", "qwe", 4),
        ("fang", "hen", 3),
        ("", "abc", 3),
        ("abc", "abc", 0),
    ],
)
def test_edit_distance(a, b, d):
    assert edit_distance(a, b) == d


def test_edit_distance_canonical():
    # char_sim.py:91-96 — substitution cost 2
    assert edit_distance("abc", "axc", name="Canonical") == 2
    assert edit_distance("fang", "qwe", name="Canonical") == 7
    assert edit_distance("abcde", "avbcude", name="Canonical") == 2
    assert edit_distance("", "abc", name="Canonical") == 3


# --- char similarity: char_sim.py:238-247,313-324 doctests -----------------
@pytest.fixture(scope="module")
def char_sim():
    return CharSim(build_char_meta())


def test_decompose_text_goldens(char_sim):
    # char_sim.py:315-323 exact strings
    assert char_sim.decompose_text("宋还本金") == (
        "⿱⿱丶⿰丿乛⿻⿻一丨⿰丿㇏⿺⿱丶⿰㇇㇏⿱一⿻丨⿰丿㇏"
        "⿻⿻⿻一丨⿰丿㇏一⿱⿰丿㇏⿻⿱一⿱⿻一丨一⿰丶丿"
    )
    assert char_sim.decompose_text("未还本金") == (
        "⿻一⿻⿻一丨⿰丿㇏⿺⿱丶⿰㇇㇏⿱一⿻丨⿰丿㇏"
        "⿻⿻⿻一丨⿰丿㇏一⿱⿰丿㇏⿻⿱一⿱⿻一丨一⿰丶丿"
    )
    assert char_sim.decompose_text("牛") == "⿰丿⿻⿱一一丨"
    assert char_sim.decompose_text("午") == "⿱⿰丿一⿻一丨"


def test_shape_similarity_goldens(char_sim):
    # char_sim.py:242-247
    assert char_sim.shape_similarity("田", "由") == pytest.approx(0.8888888888888888)
    assert char_sim.shape_similarity("宋还本金", "未还本金") == pytest.approx(0.88)
    assert char_sim.shape_similarity("个处个业", "未还本金") == pytest.approx(
        0.30434782608695654
    )
    # Documented deviation (assets/char_meta.py): the reference's 牛/午
    # similarity doctest (0.8571..., char_sim.py:240-241) contradicts its own
    # decompose_text doctest strings (ed=4 → 1-4/7); we pin the decomposition
    # strings, so similarity is 1-4/7 here.
    assert char_sim.shape_similarity("牛", "午") == pytest.approx(1 - 4 / 7)


def test_shape_distance_goldens(char_sim):
    # char_sim.py:121-126 — min over all decomposition pairs
    assert char_sim.shape_distance("田", "由") == 1
    assert char_sim.shape_distance("牛", "午") == 1


def test_decompose_skips_unknown_chars(char_sim):
    # char_sim.py:327-328 silent skip; 龘 is deliberately absent
    assert char_sim.decompose_text("龘") == ""
    assert char_sim.decompose_text("牛龘") == "⿰丿⿻⿱一一丨"


def test_shape_similarity_unknown_both_raises(char_sim):
    # ZeroDivisionError parity → row-level exception pass-through upstream
    with pytest.raises(ZeroDivisionError):
        char_sim.shape_similarity("龘", "龖")


# --- BK-tree: BKtree.py:50-57 doctests --------------------------------------
@pytest.fixture(scope="module")
def tree():
    return BKTree(KEYWORDS)


def test_bktree_search_goldens(tree):
    assert tree.search("宋还本金", 1) == ["未还本金", "已还本金"]
    assert tree.search("数期大", 2) == ["逾期天"]


def test_bktree_search_radius_zero(tree):
    assert tree.search("未还本金", 0) == ["未还本金"]


def test_bktree_deterministic_rebuild():
    t1 = BKTree(KEYWORDS)
    t2 = BKTree(KEYWORDS)
    assert t1.search("宋还本金", 2) == t2.search("宋还本金", 2)


# --- regulation: keyword_corrector.py:124-146 (position semantics) ----------
def test_regulation():
    assert regulation("宋还本全", [0, 3]) == ("^(.)还本(.)$", "宋全")
    assert regulation("数期大", [0, 2]) == ("^(.)期(.)$", "数大")


# --- find_err_pos: base_corrector.py:109-119 --------------------------------
def test_find_err_pos():
    assert find_err_pos_by_prob([0.99, 0.85, 1.00, 0.77]) == [1, 3]
    assert find_err_pos_by_prob([]) == []
    assert find_err_pos_by_prob(None) == []
    assert find_err_pos_by_prob([0.95, 0.99]) == []


# --- curve_02: bert_corrector.py:140-149 -------------------------------------
@pytest.mark.parametrize(
    "conf,sim,ok",
    [
        (0.7, 0.4, True),       # boundary conf+sim == 1.1, sim == 0.4
        (0.6, 0.4, True),       # conf+sim == 1.0 exactly → accept (>= 0)
        (0.59, 0.4, False),     # conf+sim < 1
        (0.96, 0.39, False),    # sim < 0.4
        (0.04, 1.0, False),     # conf < 0.05
        (0.05, 0.95, True),     # conf == 0.05 exactly
    ],
)
def test_curve_02(conf, sim, ok):
    assert curve_02(conf, sim) is ok


# --- guards: bert_corrector.py:95-107 ----------------------------------------
def test_check_candidate():
    assert not check_candidate("暇", "[UNK]")
    assert not check_candidate("子", "##子")
    assert not check_candidate("术", "技术")     # length mismatch
    assert not check_candidate("大", "a")
    assert not check_candidate("万", "萬")       # traditional
    assert not check_candidate("苦", "著")       # 著 in traditional class (base_corrector.py:168)
    assert check_candidate("大", "天")
    assert check_candidate("白", "自")


# --- digit translate: bert_corrector.py:37-42 --------------------------------
def test_translate_digits():
    assert translate_digits("逾期31-60天") == "逾期三一-六零天"
    assert translate_digits("无数字") == "无数字"
