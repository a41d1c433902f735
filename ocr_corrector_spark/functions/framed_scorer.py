"""Context-aware CandidateScorer backend over the T11/T12 framing path.

Round 1 implemented BERT tokenization (functions/tokenizer.py, reference
tokenization.py:107-308) and sentence framing/masking (masked_lm.py:251-302)
but nothing in the production scoring path consumed them — the scorer was
keyed on the bare observed char.  This module closes that gap: a scorer
backend that exercises the reference's full batch contract and is
context-AWARE, while staying deterministic (no model weights in this
sandbox; the pluggable-CandidateScorer design point, SURVEY.md §2f M4).

Reference contract replicated per batch:

* fixed-size batching — sentences are processed in ``batch_size`` groups
  (masked_lm.py:309-356 DataProcessor);
* per-batch pad width = max error count in the batch
  (masked_lm.py:233-234), with pad slots dropped on reassembly
  (masked_lm.py:400-447) — the pad/de-pad round trip is executed, not
  skipped, so the batch shapes match the reference;
* per sentence: tokenize the digit-translated text (T1 happens before the
  model in bert_corrector.py:37-42), frame as ``[CLS] 。 text 。 [SEP]``
  with error offsets shifted +2 and ``[MASK]`` substitution iff the
  sentence has <= ``max_mask_per_sentence`` errors (masked_lm.py:251-302);
* per error position: top-n ``(candidate, confidence)`` in confidence
  order — the shape find_topn_candidates returns (masked_lm.py:400-447).

The model stand-in scores a masked position from the confusion table keyed
by the char the mask replaced, then applies a deterministic context
adjustment: bigrams ``(left_token, candidate)`` / ``(candidate,
right_token)`` found in ``context_bigrams`` multiply the candidate's
confidence (capped < 1), re-ranking the top-n the accept loop sees — the
left/right tokens come from the FRAMED sequence, so digit-translated
numerals and ``[MASK]``/``[CLS]``/``。`` sentinels are visible context,
exactly as a masked LM would see them.  With an empty bigram table the
backend reduces bit-for-bit to the char-keyed table scorer
(tests/test_framed_scorer.py pins the equality over the full synthetic
table).
"""

from __future__ import annotations

from .rules import translate_digits
from .tokenizer import frame_sentence, tokenize

# Demo context bigrams (deterministic stand-in for contextual LM evidence):
# after 大→[天 .70, 太 .04, 犬 .02], the bigram (太, 阳) lifts 太 above 天 so
# 大阳 corrects to 太阳 while 大安门 still corrects to 天安门.
DEFAULT_CONTEXT_BIGRAMS: dict[tuple[str, str], float] = {
    ("太", "阳"): 20.0,
}

_CONF_CAP = 0.999999


class FramedTableScorer:
    """Batch scorer: ``score_sentences(texts, err_positions)`` returns, per
    sentence, a list (aligned with that sentence's error positions) of
    top-n ``(candidate, confidence)`` lists — or ``None`` for a sentence
    whose token stream does not align 1:1 with its char stream (the caller
    falls back to the char-keyed scorer; F2 filtering makes such rows rare
    in the production path).

    ``vocab=None`` builds a charset vocab per batch from the batch's own
    digit-translated texts (deterministic given the input), so WordPiece
    matching is exercised without an external vocab file; pass a
    ``load_vocab``-style mapping or set to use a real vocab.
    """

    def __init__(
        self,
        vocab=None,
        table=None,
        context_bigrams=None,
        topn: int = 3,
        max_seq_length: int = 64,
        batch_size: int = 16,
        max_mask_per_sentence: int = 3,
    ):
        from ..assets.scorer_table import SCORER_TABLE

        self.vocab = set(vocab) if vocab is not None else None
        self.table = dict(SCORER_TABLE) if table is None else dict(table)
        self.context_bigrams = (
            dict(DEFAULT_CONTEXT_BIGRAMS)
            if context_bigrams is None
            else dict(context_bigrams)
        )
        self.topn = topn
        self.max_seq_length = max_seq_length
        self.batch_size = batch_size
        self.max_mask = max_mask_per_sentence
        # introspection for tests: framed token sequences of the last batch
        self.last_frames: list[list[str]] = []

    def _batch_vocab(self, numfree_texts):
        if self.vocab is not None:
            return self.vocab
        from .tokenizer import build_vocab

        return build_vocab(numfree_texts)

    def score_sentences(self, texts, err_positions):
        out = []
        self.last_frames = []
        for b0 in range(0, len(texts), self.batch_size):  # A1 batching
            batch = list(zip(texts[b0 : b0 + self.batch_size],
                             err_positions[b0 : b0 + self.batch_size]))
            numfree = [translate_digits(t or "") for t, _ in batch]
            vocab = self._batch_vocab(numfree)
            # per-batch pad width = max errors in batch (masked_lm.py:233)
            pad_width = max((len(e) for _, e in batch), default=0)
            padded_rows = []
            for (text, errs), nf in zip(batch, numfree):
                errs = list(errs)
                try:
                    tokens = tokenize(nf, vocab)
                    if len(tokens) != len(nf):
                        # token/char misalignment (multi-char wordpieces) —
                        # positional error indices are undefined; signal
                        # fallback to the char-keyed path
                        padded_rows.append(None)
                        self.last_frames.append([])
                        continue
                    framed, _mask, shifted = frame_sentence(
                        tokens, errs, self.max_seq_length, self.max_mask
                    )
                    self.last_frames.append(framed)
                    cand_rows = []
                    for e, p in zip(errs, shifted):
                        if 0 <= p < min(len(framed), self.max_seq_length):
                            left = framed[p - 1] if p >= 1 else None
                            right = framed[p + 1] if p + 1 < len(framed) else None
                        else:
                            # position truncated out of the model window:
                            # context-free scoring — identical to the
                            # char-keyed backend for this position (the
                            # production F2 filter rejects texts longer than
                            # max_seq_length-2, so this is a kernel-level
                            # parity path, not a hot path)
                            left = right = None
                        # score the digit-translated OBSERVED char (nf[e]),
                        # exactly what bert_correct_one keys the table with —
                        # tokens[e] is lowercased/accent-stripped by
                        # basic_tokenize, so for latin/accented chars it can
                        # key the scorer table differently and break the
                        # documented framed==table equality
                        cand_rows.append(
                            self._score_position(nf[e], left, right)
                        )
                    # pad to batch width (dense-tensor shape) ...
                    padded_rows.append(
                        cand_rows + [[]] * (pad_width - len(cand_rows))
                    )
                except Exception:
                    # per-sentence isolation: any framing/scoring failure
                    # sends the row to the char-keyed fallback (which has
                    # its own row-level isolation)
                    padded_rows.append(None)
                    self.last_frames.append([])
            # ... and de-pad on reassembly (masked_lm.py:433-446)
            for (text, errs), row in zip(batch, padded_rows):
                out.append(None if row is None else row[: len(list(errs))])
        return out

    def _score_position(self, observed: str, left: str | None, right: str | None):
        from ..assets.scorer_table import default_candidates

        cands = self.table.get(observed)
        if cands is None:
            cands = default_candidates(observed)
        scored = []
        for cand, conf in cands:
            boost = self.context_bigrams.get((left, cand), 1.0) * (
                self.context_bigrams.get((cand, right), 1.0)
            )
            scored.append((cand, min(conf * boost, _CONF_CAP)))
        # stable sort: equal confidences keep table order, so an empty
        # bigram table reproduces the char-keyed scorer exactly
        scored.sort(key=lambda cp: -cp[1])
        return scored[: self.topn]


class MaskedLMScorer:
    """The TF-checkpoint backend slot (reference masked_lm.py M1/M2): the
    SAME ``score_sentences(texts, err_positions)`` contract as
    FramedTableScorer, backed by the reference's TF1 BERT checkpoint.

    NOTE: real masked-LM semantics — checkpoint load, forward pass, top-k
    at masked positions — ship TODAY in functions/numpy_lm.NumpyLMScorer
    (``scorer_backend="lm"``), a committed pure-numpy model; THIS class is
    only the slot for the reference's original 400MB TF checkpoint.
    Env-gated: neither a TF/torch runtime nor that external checkpoint
    (/root/reference README.md:71) exists in this sandbox, so construction
    raises NotImplementedError documenting the integration contract.  When
    a runtime is present, the wiring is:
    ``load_vocab(vocab_path)`` (tokenizer.py) → per sentence
    ``tokenize`` + ``frame_sentence`` (identical to FramedTableScorer, so
    the framing semantics stay pinned by the same tests) → dense
    ``[batch, max_seq_length]`` input-id/mask tensors → forward pass →
    gather error positions → top-n softmax → the per-error
    ``[(token, prob), ...]`` lists this module already returns.  The
    per-worker lazy-singleton pattern for the session/weights is
    operators/correct._Corrector.batch_scorer.
    """

    def __init__(
        self,
        checkpoint_dir: str,
        vocab_path: str,
        topn: int = 3,
        max_seq_length: int = 64,
        batch_size: int = 16,
    ):
        try:
            import tensorflow  # noqa: F401
        except ImportError as exc:
            raise NotImplementedError(
                "MaskedLMScorer requires a TF runtime and the reference's "
                "BERT-base-Chinese checkpoint (external downloads — "
                "reference README.md:71); in this sandbox the deterministic "
                "FramedTableScorer is the production backend.  See the class "
                "docstring for the integration contract."
            ) from exc
        raise NotImplementedError(
            "wire the TF graph per reference masked_lm.py:46-147"
        )
