"""The per-worker row memo stays bounded, evicts oldest-first, and never
changes an answer (no Spark: ``_Corrector`` is the worker-side object)."""

from __future__ import annotations

import itertools

import pytest

from ocr_corrector_spark.operators import correct
from ocr_corrector_spark.operators.correct import _Corrector, correction_config

CAP = 5
CHARS = "宋未术朱末"


def _batches():
    """Batches of 3 distinct rows, one mode per batch (so memo insertion
    order is row order for every backend), then a replay of the first
    batches, whose keys have been evicted by then."""
    rows = [
        (f"{a}还本{b}", [0, 3], 1 + (i // 3) % 2)
        for i, (a, b) in enumerate(itertools.product(CHARS, "全金"))
    ]
    batches = [rows[i : i + 3] for i in range(0, len(rows), 3)]
    return batches + batches[:2]


@pytest.mark.parametrize("backend", ["table", "framed"])
def test_memo_is_bounded_fifo_and_answer_preserving(monkeypatch, backend):
    monkeypatch.setattr(correct, "_ROW_CACHE_MAX", CAP)
    cfg = correction_config(scorer_backend=backend)
    worker = _Corrector(cfg)
    fifo, evicted = [], 0  # model: insert on miss, drop the oldest past CAP
    for batch in _batches():
        texts, errs, modes = (list(c) for c in zip(*batch))
        out = worker.correct_batch(texts, errs, modes)
        assert out == _Corrector(cfg).correct_batch(texts, errs, modes)
        for t, e, m in batch:
            key = (m, t, tuple(e))
            if key not in fifo:
                fifo.append(key)
                if len(fifo) > CAP:
                    fifo.pop(0)
                    evicted += 1
        assert len(worker.memo) <= CAP
        assert list(worker.memo) == fifo
    assert evicted > CAP  # the replayed batches were recomputed, not hit
