"""The context-aware framed scorer backend (functions/framed_scorer.py):
T11/T12 wired into production scoring.

Covers the verdict-r01 'Done' contract: the bert_corrector doctest goldens
pass THROUGH the framed path, framing demonstrably shifts offsets by +2
and digit-translates the model input (masked_lm.py:251-302 semantics), the
empty-bigram backend equals the char-keyed table scorer, and a context
bigram re-ranks candidates in a way the char-keyed scorer cannot."""

import os

import pytest

from ocr_corrector_spark.assets.char_meta import build_char_meta
from ocr_corrector_spark.functions.charsim import CharSim
from ocr_corrector_spark.functions.correct_kernels import (
    bert_correct_one,
    bert_correct_one_framed,
)
from ocr_corrector_spark.functions.framed_scorer import FramedTableScorer
from ocr_corrector_spark.assets.scorer_table import topn_candidates
from ocr_corrector_spark.functions.tokenizer import (
    inverse_vocab,
    load_vocab,
    tokenize,
)


@pytest.fixture(scope="module")
def char_sim():
    return CharSim(build_char_meta())


def _framed_correct(texts, errs, char_sim, **kw):
    fs = FramedTableScorer(**kw)
    scored = fs.score_sentences(texts, errs)
    out = []
    for t, e, per_err in zip(texts, errs, scored):
        assert per_err is not None
        out.append(bert_correct_one_framed(t, e, char_sim, per_err))
    return out, fs


# --- goldens through the framed path -----------------------------------------
def test_bert_doctest_goldens_through_framed_path(char_sim):
    # bert_corrector.py:28-34 + README.md:17-27, scored via tokenize→frame
    texts = [
        "本着平等、白愿、诚信、互利的原则，一致同意本合同内容，并共同遵守。",
        "无效、重大暇疵或不符合乙方其他规定的债权资产，乙方有权拒绝，不子初始登",
        "我爱北京大安门",
    ]
    errs = [[5], [5, 31], [4]]
    out, _ = _framed_correct(texts, errs, char_sim)
    assert out == [
        "本着平等、自愿、诚信、互利的原则，一致同意本合同内容，并共同遵守。",
        "无效、重大瑕疵或不符合乙方其他规定的债权资产，乙方有权拒绝，不予初始登",
        "我爱北京天安门",
    ]


def test_framed_equals_table_scorer_with_empty_bigrams(char_sim):
    # with no context bigrams the framed backend must reduce bit-for-bit to
    # the char-keyed scorer — including guard rejections, unknown chars,
    # digits, and >3-error unmasked framing
    texts = [
        "本着平等、白愿、诚信、互利的原则",
        "一万个文本",
        "术语的文本",
        "国际电台苦名丰持人",
        "逾期3天要还",
        "错字很多的句子啊",
        "我爱北京大安门",
    ]
    errs = [[5], [1], [0], [4, 6], [2], [0, 2, 4, 6], [4]]
    framed_out, _ = _framed_correct(
        texts, errs, char_sim, context_bigrams={}
    )
    table_out = [
        bert_correct_one(t, e, char_sim, topn_candidates)
        for t, e in zip(texts, errs)
    ]
    assert framed_out == table_out


# --- context awareness --------------------------------------------------------
def test_context_bigram_reranks_candidate(char_sim):
    # 大 → 天 (conf .70) by default; the (太, 阳) bigram lifts 太 (.04 → .80)
    # above 天 ONLY when the right neighbour token is 阳 — the char-keyed
    # scorer cannot express this.
    texts = ["我爱大阳升起", "我爱北京大安门"]
    errs = [[2], [4]]
    out, _ = _framed_correct(texts, errs, char_sim)
    assert out == ["我爱太阳升起", "我爱北京天安门"]


# --- framing semantics pinned ------------------------------------------------
def test_frame_shift_and_digit_translate(char_sim):
    # masked_lm.py:251-302: [CLS] 。 prefix shifts offsets +2; T1 digit
    # translate happens BEFORE the model sees the text, so the frame holds
    # the CJK numeral, and <=3 errors → [MASK] substitution at e+2.
    fs = FramedTableScorer()
    fs.score_sentences(["白2愿意了"], [[0]])
    frame = fs.last_frames[0]
    assert frame[:2] == ["[CLS]", "。"]
    assert frame[2] == "[MASK]"  # error position 0 → framed index 2
    assert frame[3] == "二"  # '2' digit-translated in the model input
    assert frame[4:7] == ["愿", "意", "了"]
    assert len(frame) == 64 and frame[-1] == "[PAD]"


def test_more_than_max_mask_errors_keep_chars():
    # >3 errors → original chars stay in the frame (masked_lm.py:285-302)
    fs = FramedTableScorer()
    fs.score_sentences(["错字很多的句子"], [[0, 1, 2, 3]])
    frame = fs.last_frames[0]
    assert frame[2:6] == ["错", "字", "很", "多"]


def test_batching_pad_depad_roundtrip(char_sim):
    # batch_size 4 with ragged error counts: every sentence gets back
    # exactly its own number of per-error candidate lists
    # (masked_lm.py:400-447)
    texts = ["我爱北京大安门"] * 10
    errs = [[4], [4, 5], [], [0, 2, 4], [4], [1], [4, 5, 6], [], [4], [0]]
    fs = FramedTableScorer(batch_size=4, context_bigrams={})
    scored = fs.score_sentences(texts, errs)
    assert [len(s) for s in scored] == [len(e) for e in errs]
    # every non-empty candidate list is confidence-descending top-3
    for row in scored:
        for cands in row:
            confs = [c for _, c in cands]
            assert confs == sorted(confs, reverse=True)
            assert len(cands) <= 3


def test_misaligned_tokens_signal_fallback():
    # a latin word tokenizes to ONE token for 3 chars → positional error
    # indices are undefined → None (caller falls back to char-keyed path)
    fs = FramedTableScorer(vocab={"abc", "[UNK]", "大", "。"})
    scored = fs.score_sentences(["abc大"], [[0]])
    assert scored == [None]


def test_truncated_error_position_scores_context_free(char_sim):
    # error beyond max_seq_length-2: the position falls out of the model
    # window, so it is scored context-FREE — identical to the char-keyed
    # backend (production never reaches this: F2 rejects texts > 62 chars,
    # but the kernels must stay in parity when called directly)
    long_text = "的" * 62 + "白愿"
    fs = FramedTableScorer(context_bigrams={})
    scored = fs.score_sentences([long_text], [[62]])
    assert scored[0][0] == topn_candidates("白")
    framed_out = bert_correct_one_framed(long_text, [62], char_sim, scored[0])
    table_out = bert_correct_one(long_text, [62], char_sim, topn_candidates)
    assert framed_out == table_out == "的" * 62 + "自愿"


# --- vocab loader (tokenization.py:70-95 shape) -------------------------------
def test_load_vocab_order_and_inverse(tmp_path):
    p = tmp_path / "vocab.txt"
    p.write_text("[PAD]\n[UNK]\n[CLS]\n[SEP]\n[MASK]\n大\n安\n门\n##门\n大\n", encoding="utf-8")
    vocab = load_vocab(str(p))
    # reference shape (tokenization.py:70-82): id == line index; the
    # duplicate 大 at line 9 overwrites line 5's entry (ids never compact,
    # so every id still aligns with its checkpoint embedding row)
    assert list(vocab)[:5] == ["[PAD]", "[UNK]", "[CLS]", "[SEP]", "[MASK]"]
    assert vocab["大"] == 9 and vocab["##门"] == 8
    assert len(vocab) == 9
    inv = inverse_vocab(vocab)
    assert inv[9] == "大" and inv[0] == "[PAD]"
    assert 5 not in inv  # line 5's id was overwritten by the duplicate


def test_tokenize_through_loaded_vocab(tmp_path):
    p = tmp_path / "vocab.txt"
    p.write_text("\n".join(["[UNK]", "大", "安", "门"]) + "\n", encoding="utf-8")
    vocab = load_vocab(str(p))
    assert tokenize("大安门X", set(vocab)) == ["大", "安", "门", "[UNK]"]


# --- committed real-vocab WordPiece fixture (VERDICT r02 #9) -------------------
FIXTURE_VOCAB = os.path.join(os.path.dirname(__file__), "fixtures", "mini_vocab.txt")


def test_wordpiece_vocab_multi_char_pieces():
    """With a real vocab.txt containing multi-char wordpieces, tokenization
    does NOT degenerate to char-split: latin words merge into pieces."""
    vocab = load_vocab(FIXTURE_VOCAB)
    assert vocab["settle"] == 6 and vocab["##ment"] == 7  # line-index ids
    toks = tokenize("settlement还本金", set(vocab))
    assert toks == ["settle", "##ment", "还", "本", "金"]


def test_wordpiece_misalignment_falls_back_to_char_keyed(char_sim):
    """Multi-char pieces break the 1:1 token/char alignment, so the framed
    scorer signals None (framed_scorer.py misalignment path) and
    framed_score_rows falls back to the char-keyed kernel — same final
    correction as the table backend."""
    from ocr_corrector_spark.assets.scorer_table import topn_candidates
    from ocr_corrector_spark.functions.correct_kernels import bert_correct_one
    from ocr_corrector_spark.operators.correct import framed_score_rows

    text = "settlement大安门"  # err at index 10 (大)
    vocab = set(load_vocab(FIXTURE_VOCAB))
    fs = FramedTableScorer(vocab=vocab, context_bigrams={})
    assert fs.score_sentences([text], [[10]])[0] is None

    key = (2, text, (10,))
    out = framed_score_rows({key: (text, [10])}, fs, 3, char_sim, topn_candidates)
    want = bert_correct_one(text, [10], char_sim, topn_candidates)
    assert out[key] == want == "settlement天安门"


def test_wordpiece_aligned_cjk_still_framed(char_sim):
    """Pure-CJK text through the SAME loaded vocab stays 1:1 aligned, so
    the framed path (not the fallback) scores it."""
    from ocr_corrector_spark.assets.scorer_table import topn_candidates

    vocab = set(load_vocab(FIXTURE_VOCAB))
    fs = FramedTableScorer(vocab=vocab, context_bigrams={})
    scored = fs.score_sentences(["大安门"], [[0]])
    assert scored[0] is not None
    assert scored[0][0] == topn_candidates("大")
