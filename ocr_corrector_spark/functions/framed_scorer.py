"""Context-aware CandidateScorer backend over the T11/T12 framing path.

Round 1 implemented BERT tokenization (functions/tokenizer.py, reference
tokenization.py:107-308) and sentence framing/masking (masked_lm.py:251-302)
but nothing in the production scoring path consumed them — the scorer was
keyed on the bare observed char.  This module closes that gap: a scorer
backend that exercises the reference's full batch contract and is
context-AWARE, while staying deterministic (no model weights in this
sandbox; the pluggable-CandidateScorer design point, SURVEY.md §2f M4).

Reference contract replicated per batch, once, in ``FramedBatchScorer``
(this table scorer and functions/numpy_lm.NumpyLMScorer both run it):

* fixed-size batching — sentences are processed in ``batch_size`` groups
  (masked_lm.py:309-356 DataProcessor), and every sentence gets back
  exactly one candidate list per error position (masked_lm.py:400-447);
* per sentence: tokenize the digit-translated text (T1 happens before the
  model in bert_corrector.py:37-42), frame as ``[CLS] 。 text 。 [SEP]``
  with error offsets shifted +2 and ``[MASK]`` substitution iff the
  sentence has <= ``MAX_MASK_PER_SENTENCE`` errors (masked_lm.py:251-302);
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

from ..assets.scorer_table import DEFAULT_TOPN, SCORER_TABLE, default_candidates
from .rules import MAX_SEQ_LENGTH, translate_digits
from .tokenizer import frame_sentence, tokenize

# Demo context bigrams (deterministic stand-in for contextual LM evidence):
# after 大→[天 .70, 太 .04, 犬 .02], the bigram (太, 阳) lifts 太 above 天 so
# 大阳 corrects to 太阳 while 大安门 still corrects to 天安门.
DEFAULT_CONTEXT_BIGRAMS: dict[tuple[str, str], float] = {
    ("太", "阳"): 20.0,
}

_CONF_CAP = 0.999999
# masked_lm.py:251-302 — more errors than this leave the sentence unmasked
MAX_MASK_PER_SENTENCE = 3


class FramedBatchScorer:
    """The batch loop both framed backends share:
    ``score_sentences(texts, err_positions)`` returns, per sentence, a
    list (aligned with that sentence's error positions) of top-n
    ``(candidate, confidence)`` lists — or ``None`` for a sentence whose
    token stream does not align 1:1 with its char stream, or whose framing
    or scoring failed (the caller falls back to the char-keyed scorer; F2
    filtering makes such rows rare in the production path).

    Subclasses supply ``_vocab(numfree_texts)`` (the WordPiece vocab for
    one batch) and ``_score(slots)``: one result per slot, ``None`` for a
    slot that failed (which fails only its own sentence).  A slot is
    ``(numfree_text, err_pos, framed_tokens, at)``, where ``at`` is the
    error's index in ``framed_tokens``, or ``None`` when truncation put it
    outside the model window (score it context-free: the production F2
    filter rejects texts longer than MAX_SEQ_LENGTH-2, so this is a
    kernel-level parity path, not a hot path).

    The reference configuration's framing is fixed: ``DEFAULT_TOPN``
    candidates per error, a ``MAX_SEQ_LENGTH`` model window and
    ``MAX_MASK_PER_SENTENCE`` masks; only ``batch_size`` varies."""

    def __init__(self, batch_size: int = 16):
        self.batch_size = batch_size
        # introspection for tests: framed token sequences of the last call
        self.last_frames: list[list[str]] = []

    def _vocab(self, numfree_texts):
        raise NotImplementedError

    def _score(self, slots: list) -> list:
        raise NotImplementedError

    def _frame(self, numfree: str, errs, vocab) -> tuple[list, list | None]:
        """One sentence's framed tokens and slots; no slots (None) on
        token/char misalignment — multi-char wordpieces leave positional
        error indices undefined."""
        tokens = tokenize(numfree, vocab)
        if len(tokens) != len(numfree):
            return [], None
        errs = list(errs)
        framed, _mask, shifted = frame_sentence(
            tokens, errs, MAX_SEQ_LENGTH, MAX_MASK_PER_SENTENCE
        )
        window = min(len(framed), MAX_SEQ_LENGTH)
        return framed, [
            (numfree, e, framed, p if 0 <= p < window else None)
            for e, p in zip(errs, shifted)
        ]

    def score_sentences(self, texts, err_positions):
        out = []
        self.last_frames = []
        for b0 in range(0, len(texts), self.batch_size):  # A1 batching
            batch = slice(b0, b0 + self.batch_size)
            numfree = [translate_digits(t or "") for t in texts[batch]]
            vocab = self._vocab(numfree)
            rows = []
            for nf, errs in zip(numfree, err_positions[batch]):
                try:
                    framed, row = self._frame(nf, errs, vocab)
                except Exception:
                    # per-sentence isolation: the char-keyed fallback has
                    # its own row-level isolation
                    framed, row = [], None
                self.last_frames.append(framed)
                rows.append(row)
            slots = [s for row in rows if row is not None for s in row]
            scored = iter(self._score(slots) if slots else [])
            for row in rows:
                if row is not None:
                    row = [next(scored) for _ in row]
                    if any(c is None for c in row):
                        row = None
                out.append(row)
        return out


class FramedTableScorer(FramedBatchScorer):
    """The confusion table + context bigrams as the model stand-in, scored
    per slot.

    ``vocab=None`` builds a charset vocab per batch from the batch's own
    digit-translated texts (deterministic given the input), so WordPiece
    matching is exercised without an external vocab file; pass a
    ``load_vocab``-style mapping or set to use a real vocab.
    """

    def __init__(self, vocab=None, table=None, context_bigrams=None, batch_size: int = 16):
        super().__init__(batch_size)
        self.vocab = set(vocab) if vocab is not None else None
        self.table = dict(SCORER_TABLE) if table is None else dict(table)
        self.context_bigrams = (
            dict(DEFAULT_CONTEXT_BIGRAMS)
            if context_bigrams is None
            else dict(context_bigrams)
        )

    def _vocab(self, numfree_texts):
        if self.vocab is not None:
            return self.vocab
        from .tokenizer import build_vocab

        return build_vocab(numfree_texts)

    def _score(self, slots):
        out = []
        for numfree, e, framed, p in slots:
            left = right = None
            if p is not None:
                left = framed[p - 1] if p >= 1 else None
                right = framed[p + 1] if p + 1 < len(framed) else None
            try:
                # key the table with the digit-translated OBSERVED char
                # (numfree[e]), exactly as bert_correct_one does — the
                # token is lowercased/accent-stripped by basic_tokenize, so
                # for latin/accented chars it could key the table
                # differently and break the framed==table equality
                cands = self.table.get(numfree[e])
                if cands is None:
                    cands = default_candidates(numfree[e])
            except Exception:
                out.append(None)
                continue
            bigram = self.context_bigrams.get
            scored = [
                (c, min(conf * (bigram((left, c), 1.0) * bigram((c, right), 1.0)), _CONF_CAP))
                for c, conf in cands
            ]
            # stable sort: equal confidences keep table order, so an empty
            # bigram table reproduces the char-keyed scorer exactly
            scored.sort(key=lambda cp: -cp[1])
            out.append(scored[:DEFAULT_TOPN])
        return out
