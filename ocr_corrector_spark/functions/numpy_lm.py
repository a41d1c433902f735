"""Pure-numpy masked language model — the REAL M1/M2 backend.

The reference's heaviest operator is a TF1 BERT masked-LM that scores
candidate substitutions at masked error positions
(/root/reference/corrector/bert_modeling/masked_lm.py:46-147 graph,
:386-398 checkpoint load, :400-447 top-n reassembly).  Its 400MB
checkpoint is an external download and no TF runtime exists in this
sandbox — but nothing about *masked-LM semantics* requires TF: this
module implements real checkpoint-load + forward-pass + top-k with
nothing but numpy, over a tiny char-level model trained offline
(scripts/train_numpy_lm.py) on the synthetic corpus and committed as a
small ``.npz`` asset.

Architecture (a miniature of the reference LM head, masked_lm.py:149-193):

* char embedding table ``E`` (V x d);
* the masked position's +/-2 context window embeddings, concatenated
  (4d) — the mask itself never enters the features, exactly like a
  masked-LM objective;
* dense mixing layer ``tanh(x W1 + b1)`` (H) then transform
  ``(h W2 + b2)`` (d) + layer-norm — the reference head's
  dense+layernorm transform;
* logits = ``h E^T + b_out`` — output weights TIED to the input
  embedding, as in BERT's LM head;
* softmax → ``top_k`` (masked_lm.py:77 uses tf.nn.top_k; here a stable
  argsort slice with the same deterministic tie-break).

Training (offline, committed): Adam + cross-entropy over every char
position of the digit-translated clean corpus, with random window slots
replaced by ``[MASK]`` so the model stays usable when neighbouring error
positions are masked too (two errors within 2 chars, e.g. 苦名丰持人).
"""

from __future__ import annotations

import os

import numpy as np

from ..assets.scorer_table import DEFAULT_TOPN
from .framed_scorer import FramedBatchScorer

DEFAULT_CHECKPOINT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "assets",
    "numpy_lm.npz",
)

_WINDOW = (-2, -1, 1, 2)  # context offsets around the masked position


def _rows_matmul(x: np.ndarray, w: np.ndarray) -> np.ndarray:
    """``x @ w`` with a per-row result that does not depend on how many
    rows share the call: BLAS picks its kernel by matrix shape, so a row's
    last bits (and, at a tie, its top-k order) would depend on the rest of
    its batch; as a stack of (1, k) @ (k, m) products every row takes the
    same kernel at any n."""
    return (x[:, None, :] @ w)[:, 0, :]


class NumpyMaskedLM:
    """Weights + forward pass.  ``load``/``save`` are the checkpoint
    contract (np.savez round-trip, no pickle)."""

    def __init__(self, vocab: list[str], params: dict[str, np.ndarray]):
        self.tokens = list(vocab)
        self.vocab = {t: i for i, t in enumerate(self.tokens)}
        self.p = {k: np.asarray(v, dtype=np.float64) for k, v in params.items()}
        self.unk = self.vocab["[UNK]"]
        self.pad = self.vocab["[PAD]"]

    # --- checkpoint load/save (M2) ------------------------------------
    @classmethod
    def load(cls, path: str = DEFAULT_CHECKPOINT) -> "NumpyMaskedLM":
        with np.load(path, allow_pickle=False) as z:
            vocab = [str(t) for t in z["vocab"]]
            params = {k: z[k] for k in z.files if k != "vocab"}
        return cls(vocab, params)

    def save(self, path: str) -> None:
        np.savez(
            path,
            vocab=np.array(self.tokens, dtype="U16"),
            **{k: v.astype(np.float32) for k, v in self.p.items()},
        )

    # --- forward pass (M1) ---------------------------------------------
    def ids(self, tokens: list[str]) -> list[int]:
        return [self.vocab.get(t, self.unk) for t in tokens]

    def forward(self, windows: np.ndarray) -> np.ndarray:
        """``windows``: int array (n, 4) of context token ids →
        (n, V) softmax probabilities."""
        p = self.p
        x = p["E"][windows].reshape(windows.shape[0], -1)  # (n, 4d)
        h = np.tanh(_rows_matmul(x, p["W1"]) + p["b1"])  # (n, H)
        t = _rows_matmul(h, p["W2"]) + p["b2"]  # (n, d)
        mu = t.mean(axis=1, keepdims=True)
        sd = t.std(axis=1, keepdims=True) + 1e-6
        t = p["gamma"] * (t - mu) / sd + p["beta"]  # layer-norm
        logits = _rows_matmul(t, p["E"].T) + p["b_out"]  # tied output embedding
        logits -= logits.max(axis=1, keepdims=True)
        e = np.exp(logits)
        return e / e.sum(axis=1, keepdims=True)

    def topn(self, windows: np.ndarray, topn: int = 3) -> list[list[tuple[str, float]]]:
        """Per window, the top-n ``(token, prob)`` — probability
        descending, ties broken by token id (stable argsort over -prob,
        matching tf.nn.top_k's deterministic index order)."""
        probs = self.forward(windows)
        order = np.argsort(-probs, axis=1, kind="stable")[:, :topn]
        return [
            [(self.tokens[j], float(probs[i, j])) for j in order[i]]
            for i in range(windows.shape[0])
        ]


class NumpyLMScorer(FramedBatchScorer):
    """CandidateScorer backend over the committed numpy masked LM — the
    SAME ``score_sentences(texts, err_positions)`` contract and batch loop
    as FramedTableScorer (functions/framed_scorer.FramedBatchScorer:
    masked_lm.py:251-302 framing, :309-356 batching, :400-447 per-error
    top-n), with ONE dense forward pass per batch over every masked
    position's context window (the reference's dense-tensor batching).

    ``model``: a loaded NumpyMaskedLM (default: the committed checkpoint
    at ``DEFAULT_CHECKPOINT``, loaded here)."""

    def __init__(self, model: NumpyMaskedLM | None = None, batch_size: int = 16):
        super().__init__(batch_size)
        self.model = model if model is not None else NumpyMaskedLM.load()
        self.vocab_set = set(self.model.tokens)

    def _vocab(self, numfree_texts):
        return self.vocab_set

    def _score(self, slots):
        windows = [
            # truncated out of the model window: no context
            ["[PAD]"] * len(_WINDOW)
            if p is None
            else [framed[p + o] if 0 <= p + o < len(framed) else "[PAD]" for o in _WINDOW]
            for _nf, _e, framed, p in slots
        ]
        ids = np.asarray([self.model.ids(w) for w in windows], dtype=np.int64)
        return self.model.topn(ids, DEFAULT_TOPN)
