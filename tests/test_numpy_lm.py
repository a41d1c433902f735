"""The committed pure-numpy masked LM (functions/numpy_lm.py): checkpoint
load, forward-pass determinism, the reference's bert_corrector doctest
goldens through the real forward pass, and the lm backend end-to-end in
the Spark pipeline."""

from __future__ import annotations

import numpy as np
import pytest

from ocr_corrector_spark.assets.char_meta import build_char_meta
from ocr_corrector_spark.functions.charsim import CharSim
from ocr_corrector_spark.functions.correct_kernels import bert_correct_one_framed
from ocr_corrector_spark.functions.numpy_lm import (
    DEFAULT_CHECKPOINT,
    NumpyLMScorer,
    NumpyMaskedLM,
)

# the reference's executable goldens: bert_corrector.py:28-34 doctest,
# README.md:17-27, masked_lm.py:450-458 smoke sentence
GOLDENS = [
    ("我爱北京大安门", [4], "我爱北京天安门"),
    (
        "本着平等、白愿、诚信、互利的原则，一致同意本合同内容，并共同遵守。",
        [5],
        "本着平等、自愿、诚信、互利的原则，一致同意本合同内容，并共同遵守。",
    ),
    (
        "无效、重大暇疵或不符合乙方其他规定的债权资产，乙方有权拒绝，不子初始登",
        [5, 31],
        "无效、重大瑕疵或不符合乙方其他规定的债权资产，乙方有权拒绝，不予初始登",
    ),
    # 苦 stays (model predicts the observed char → identity skip), 丰→主
    ("国际电台苦名丰持人", [4, 6], "国际电台苦名主持人"),
]


@pytest.fixture(scope="module")
def model():
    return NumpyMaskedLM.load(DEFAULT_CHECKPOINT)


@pytest.fixture(scope="module")
def char_sim():
    return CharSim(build_char_meta())


def test_checkpoint_loads_tied_shapes(model):
    # real checkpoint contract: tied output embedding, layernorm params
    V, d = model.p["E"].shape
    assert len(model.tokens) == V
    assert model.p["W1"].shape == (4 * d, model.p["W1"].shape[1])
    assert model.p["b_out"].shape == (V,)
    assert model.p["gamma"].shape == (d,)
    assert "[MASK]" in model.vocab and "[PAD]" in model.vocab


def test_forward_is_probability_and_deterministic(model):
    win = np.asarray([model.ids(["北", "京", "安", "门"])])
    p1 = model.forward(win)
    p2 = NumpyMaskedLM.load(DEFAULT_CHECKPOINT).forward(win)
    assert p1.shape == (1, len(model.tokens))
    assert abs(p1.sum() - 1.0) < 1e-9
    assert np.array_equal(p1, p2)  # load → forward is bit-stable
    top = model.topn(win, 3)[0]
    assert top[0][0] == "天" and top[0][1] > 0.5
    assert top[0][1] >= top[1][1] >= top[2][1]


@pytest.mark.parametrize("text,errs,want", GOLDENS)
def test_reference_goldens_through_lm(model, char_sim, text, errs, want):
    scorer = NumpyLMScorer(model=model)
    per_err = scorer.score_sentences([text], [errs])[0]
    assert per_err is not None and len(per_err) == len(errs)
    assert bert_correct_one_framed(text, errs, char_sim, per_err) == want


def test_lm_identity_on_correct_positions(model, char_sim):
    # masking a CORRECT char: the model predicts the char itself →
    # identical-candidate skip → text unchanged
    text = "本合同内容双方共同遵守"
    scorer = NumpyLMScorer(model=model)
    per_err = scorer.score_sentences([text], [[2]])[0]
    assert per_err[0][0][0] == text[2]
    assert bert_correct_one_framed(text, [2], char_sim, per_err) == text


def test_lm_misalignment_returns_none(model):
    # latin run collapses to one token → positional indices undefined →
    # None (the caller falls back to the char-keyed kernel)
    scorer = NumpyLMScorer(model=model)
    assert scorer.score_sentences(["abc还本金"], [[1]])[0] is None


def test_lm_batch_pad_depad(model):
    # batch with differing error counts: every sentence gets back exactly
    # its own number of per-error candidate lists (masked_lm.py:400-447)
    scorer = NumpyLMScorer(model=model, batch_size=2)
    texts = [g[0] for g in GOLDENS[:3]]
    errs = [g[1] for g in GOLDENS[:3]]
    out = scorer.score_sentences(texts, errs)
    assert [len(r) for r in out] == [1, 1, 2]


def test_pipeline_lm_backend_end_to_end(spark):
    """scorer_backend='lm' in the full Spark pipeline: every doc-path row
    of the synthetic table reaches its clean text — designed corrections
    apply through the real forward pass, digit/traditional/identity guards
    hold."""
    from pyspark.sql import functions as F

    from ocr_corrector_spark.operators.correct import correction_config
    from ocr_corrector_spark.plans.pipeline import correct_pipeline
    from ocr_corrector_spark.sources.transcripts import gen_transcripts

    df = gen_transcripts(spark, n_convs=80, keep_oracle_cols=True)
    out = correct_pipeline(
        df, spark, correction_config(scorer_backend="lm"), order_output=False
    )
    doc_wrong = out.filter(
        (F.col("tool") == "doc") & (F.col("text_corrected") != F.col("text_clean"))
    )
    assert doc_wrong.count() == 0
    # and it actually corrected something (not a pass-through run)
    changed = out.filter(
        (F.col("tool") == "doc") & (F.col("text_corrected") != F.col("text"))
    )
    assert changed.count() > 0
