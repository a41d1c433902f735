"""Property-based kernel tests (hypothesis) — the invariants SURVEY.md §5
calls for, checked over generated inputs rather than fixtures only."""

import functools
import string

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_corrector_spark.assets import KEYWORDS, build_char_meta
from ocr_corrector_spark.functions import BKTree, CharSim, FilteredIndex, edit_distance
from ocr_corrector_spark.functions.correct_kernels import (
    bert_correct_one,
    keyword_correct_one,
)
from ocr_corrector_spark.functions.rules import find_err_pos_by_prob
from ocr_corrector_spark.functions.sentence_cut import cut_sentences
from ocr_corrector_spark.assets.scorer_table import topn_candidates
from ocr_corrector_spark.operators.correct import correct_arrow, correction_config
from ocr_corrector_spark.operators.extract import extract_any
from ocr_corrector_spark.oracle import BertOracle, KeywordOracle
from ocr_corrector_spark.sources.transcripts import CORPUS

CJK = "未还本金逾期天账户状态大安门白愿自数术个处业宋全已"
_char_sim = CharSim(build_char_meta())
_tree = BKTree(KEYWORDS)
_kwset = frozenset(_tree.words)

text_st = st.text(alphabet=CJK + string.ascii_lowercase + "0123456789，。", max_size=24)


@given(st.text(max_size=16), st.text(max_size=16))
@settings(max_examples=200, deadline=None)
def test_edit_distance_metric_properties(a, b):
    d = edit_distance(a, b)
    assert d == edit_distance(b, a)                       # symmetry
    assert d <= max(len(a), len(b))                       # upper bound
    assert (d == 0) == (a == b)                           # identity
    assert d >= abs(len(a) - len(b))                      # length bound


@given(st.text(alphabet=CJK, min_size=1, max_size=8), st.integers(0, 3))
@settings(max_examples=100, deadline=None)
def test_bktree_equals_bruteforce(word, d):
    got = sorted(_tree.search(word, d))
    brute = sorted(w for w in _tree.words if edit_distance(w, word) <= d)
    assert got == brute


# keyword lists: the shipped one, or random words over CJK, regex
# metacharacters and the shipped keywords' own characters
_KW_CHARS = CJK + "组合不含保证信用免担/()[].*+?^$|\\ "
_keywords_st = st.one_of(
    st.just(KEYWORDS),
    st.lists(st.text(alphabet=_KW_CHARS, max_size=10), max_size=40).map(
        lambda ws: ws + ["组合(不含保证)"]
    ),
)


@given(_keywords_st, st.data())
@settings(max_examples=300, deadline=None)
def test_filtered_index_equals_bktree_search_in_order(keywords, data):
    # the worker's filtered scan returns the tree search's exact list,
    # order included (test_bktree_equals_bruteforce compares sorted lists)
    tree = BKTree(keywords)
    edits = st.lists(st.tuples(st.integers(0, 12), st.text(_KW_CHARS + "龘a", max_size=2)))
    query = data.draw(
        st.one_of(
            # shares characters with the keywords
            st.text(alphabet="".join(tree.words), max_size=12),
            # a keyword with a few characters replaced, inserted or dropped
            st.tuples(st.sampled_from(tree.words), edits).map(lambda we: _edit(*we)),
            # characters no keyword uses
            st.text(alphabet="了是我你xz\U00020000", max_size=12),
        )
    )
    d = data.draw(st.integers(0, len(query) + 1))
    assert FilteredIndex(tree).search(query, d) == tree.search(query, d)


def _edit(word: str, edits) -> str:
    chars = list(word)
    for pos, repl in edits:
        pos = min(pos, len(chars))
        chars[pos : pos + 1] = list(repl)
    return "".join(chars)


@given(st.lists(st.floats(0, 1, allow_nan=False), max_size=20), st.floats(0.1, 1.0))
@settings(max_examples=100, deadline=None)
def test_find_err_pos_matches_definition(probs, thr):
    pos = find_err_pos_by_prob(probs, thr)
    assert pos == [i for i, p in enumerate(probs) if p < thr]
    assert pos == sorted(pos)


@given(text_st)
@settings(max_examples=150, deadline=None)
def test_correction_identity_without_errors(text):
    # no error positions → both kernels are the identity
    assert keyword_correct_one(text, [], _tree, _kwset, _char_sim, 0.55) == text
    assert bert_correct_one(text, [], _char_sim, topn_candidates) == text


@given(text_st, st.lists(st.integers(0, 30), max_size=5))
@settings(max_examples=200, deadline=None)
def test_correction_never_crashes_or_changes_length(text, errs):
    # out-of-range error positions, any text: row-level isolation must hold
    out_kw = keyword_correct_one(text, errs, _tree, _kwset, _char_sim, 0.55)
    out_b = bert_correct_one(text, errs, _char_sim, topn_candidates)
    assert isinstance(out_kw, str) and isinstance(out_b, str)
    # bert path substitutes 1:1 → length preserved (or untouched on error)
    assert len(out_b) == len(text)


@given(st.text(alphabet=CJK + "，。；？！“”", max_size=80))
@settings(max_examples=150, deadline=None)
def test_sentence_cut_lossless(line):
    # cutting never loses or reorders characters
    assert "".join(cut_sentences(line)) == line


@given(st.text(max_size=80), st.text(max_size=80))
@settings(max_examples=500, deadline=None)
def test_myers_equals_dp(a, b):
    from ocr_corrector_spark.functions.editdist import _dp_distance

    assert edit_distance(a, b) == _dp_distance(a, b)


# --- layout-extraction invariants (functions/layout_extract.py) -------------------

_box_st = st.tuples(
    st.integers(0, 1),                      # page
    st.integers(0, 50),                     # x0 slot
    st.integers(0, 50),                     # y0 slot
    st.sampled_from(["正文", "内容", "text", "数据块"]),
)


@given(st.lists(_box_st, min_size=1, max_size=12, unique_by=lambda b: (b[0], b[1], b[2])))
@settings(max_examples=150, deadline=None)
def test_xycut_emits_every_box_exactly_once(boxes):
    from ocr_corrector_spark.functions.layout_extract import Box, _xycut

    built = [
        Box(p, x * 12.0, y * 12.0, x * 12.0 + 10.0, y * 12.0 + 10.0, f"{t}#{i}")
        for i, (p, x, y, t) in enumerate(boxes)
    ]
    out = _xycut(built)
    # reading order is a PERMUTATION: nothing lost, nothing duplicated
    assert sorted(b.text for b in out) == sorted(b.text for b in built)


@given(st.lists(_box_st, min_size=1, max_size=10, unique_by=lambda b: (b[0], b[1], b[2])))
@settings(max_examples=100, deadline=None)
def test_layout_roundtrip_preserves_all_text(boxes):
    from ocr_corrector_spark.functions.layout_extract import (
        Box,
        extract_layout_content,
    )

    # mid-page boxes only (outside the decoration bands) and unique texts
    doc_lines = ["%LAYOUT v1"]
    texts = []
    for i, (p, x, y, t) in enumerate(boxes):
        text = f"{t}#{i}"
        texts.append(text)
        y0 = 200.0 + y * 6.0
        doc_lines.append(f"P{p} {x * 12.0} {y0} {x * 12.0 + 10.0} {y0 + 5.0} {text}")
    out = extract_layout_content("\n".join(doc_lines))
    assert sorted(out.split("\n")) == sorted(texts)


@given(
    st.text(alphabet=CJK + string.ascii_lowercase + "0123456789，。", max_size=80),
    st.lists(st.integers(0, 79), max_size=5),
)
@settings(max_examples=150, deadline=None)
def test_framed_scorer_equals_table_scorer(text, errs):
    """For ANY input (pure CJK, mixed, digits, punctuation) the framed
    backend with an empty context-bigram table equals the char-keyed
    scorer: aligned rows score identically by construction, and
    misaligned rows (multi-char wordpieces) fall back to the char-keyed
    path explicitly."""
    from ocr_corrector_spark.functions.correct_kernels import (
        bert_correct_one_framed,
    )
    from ocr_corrector_spark.functions.framed_scorer import FramedTableScorer

    errs = sorted({e for e in errs if e < len(text)})
    fs = FramedTableScorer(context_bigrams={})
    per_err = fs.score_sentences([text], [errs])[0]
    if per_err is None:
        framed_out = bert_correct_one(text, errs, _char_sim, topn_candidates)
    else:
        framed_out = bert_correct_one_framed(text, errs, _char_sim, per_err)
    table_out = bert_correct_one(text, errs, _char_sim, topn_candidates)
    assert framed_out == table_out


@functools.cache
def _lm():
    from ocr_corrector_spark.functions.numpy_lm import NumpyMaskedLM

    return NumpyMaskedLM.load()


@given(
    st.lists(
        st.tuples(
            st.text(alphabet=CJK + "abcXYZ0123456789\U00020000", max_size=70),
            st.lists(st.integers(0, 80), max_size=5).map(lambda e: sorted(set(e))),
        ),
        max_size=12,
    ),
    st.integers(1, 5),
)
@settings(max_examples=100, deadline=None)
def test_framed_batch_loop_is_row_independent(rows, batch_size):
    """The one batch loop both framed backends share: every sentence gets
    None or exactly one candidate list per error position (positions past
    the text included), and a batch scores each row exactly as a call on
    that row alone — batch size and neighbours never change a row."""
    from ocr_corrector_spark.functions.framed_scorer import FramedTableScorer
    from ocr_corrector_spark.functions.numpy_lm import NumpyLMScorer

    texts = [t for t, _ in rows]
    errs = [e for _, e in rows]
    for scorer in (
        FramedTableScorer(context_bigrams={}, batch_size=batch_size),
        NumpyLMScorer(model=_lm(), batch_size=batch_size),
    ):
        scored = scorer.score_sentences(texts, errs)
        assert len(scored) == len(texts)
        for per_err, e in zip(scored, errs):
            assert per_err is None or len(per_err) == len(e)
        alone = [scorer.score_sentences([t], [e])[0] for t, e in rows]
        assert scored == alone


_CORPUS_CHARS = "".join(sorted({ch for row in CORPUS for ch in row[0] + row[1]}))
_ROW_CHARS = _CORPUS_CHARS + "0123456789\U00020000\u0301abc XYZ"
_MARKUP = ["{}", "<p>{}</p>", "%LAYOUT v1\nP0 40 40 560 80 {}"]


@st.composite
def _crossing_rows(draw):
    """One Arrow batch of ``(text, probs, biz)``: null text, probs and biz;
    plain, HTML and %LAYOUT texts, at and past the masked-LM's 62
    characters; probs shorter and longer than the text, confident but at
    the error positions or drawn at random; rows repeated so that the
    worker's memo answers some."""
    base = []
    for _ in range(draw(st.integers(1, 6))):
        if draw(st.booleans()):  # noisy corpus texts, low at their errors
            parts = draw(st.lists(st.sampled_from(CORPUS), min_size=1, max_size=2))
            size = draw(st.none() | st.integers(60, 64))  # repeated to this size
            text, errs = "", set()
            while not text or size is not None and len(text) < size:
                for _, noisy, pos, _ in parts:
                    errs |= {len(text) + p for p in pos}
                    text += noisy
            text = text[:size]
        else:
            text = draw(
                st.none()
                | st.text(_ROW_CHARS, max_size=70)
                | st.text(_ROW_CHARS, min_size=60, max_size=70)
            )
            errs = draw(st.sets(st.integers(0, 70), max_size=3))
        n = max(len(text or "") + draw(st.integers(-3, 3)), 0)
        probs = draw(
            st.none()
            | st.just([0.56 if i in errs else 0.99 for i in range(n)])
            | st.lists(st.floats(0, 1), min_size=n, max_size=n)
        )
        if text is not None:
            text = draw(st.sampled_from(_MARKUP)).format(text)
        base.append((text, probs, draw(st.sampled_from(["report", "doc", None]))))
    picks = draw(st.lists(st.integers(0, len(base) - 1), max_size=2 * len(base)))
    return base + [base[i] for i in picks]


@functools.cache
def _oracles():
    return KeywordOracle(0.55), BertOracle()


@given(_crossing_rows())
@settings(max_examples=300, deadline=None)
def test_single_crossing_equals_the_oracle(rows):
    """``correct_arrow`` — the default plan's body, without Spark — gives
    each row, its nulls filled as ``unpack_result`` fills them,
    ``extract_any`` followed by the keyword oracle for ``report`` and the
    masked-LM oracle otherwise."""
    result = correct_arrow(
        correction_config(),
        pa.array([r[0] for r in rows], pa.string()),
        pa.array([r[1] for r in rows], pa.list_(pa.float64())),
        pa.array([r[2] for r in rows], pa.string()),
    )
    keyword, bert = _oracles()
    for (raw, probs, biz), got in zip(rows, result.to_pylist()):
        text = raw if got["text"] is None else got["text"]
        corrected = text if got["text_corrected"] is None else got["text_corrected"]
        want = extract_any(raw)
        oracle = keyword if biz == "report" else bert
        assert (text, corrected) == (
            want, None if want is None else oracle.correct_row(want, probs)
        ), (raw, probs, biz)
