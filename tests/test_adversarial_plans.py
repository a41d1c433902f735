"""Every plan equals the oracle per turn on adversarial rows.

The default plan, ``dedup_correction=True`` and ``fused_correct`` must each
give ``extract_any`` followed by ``oracle/reference_oracle.py`` for every
turn of a crafted frame: null and empty text, null probs, probs shorter
and longer than the text, astral-plane and combining characters, digits
at error positions, malformed ``%LAYOUT`` and HTML, and texts at and past
the 62-character masked-LM limit.  Every row recurs in each conversation,
so the workers' memo answers the repeats."""

from __future__ import annotations

import datetime as dt

from ocr_corrector_spark.operators.extract import extract_any
from ocr_corrector_spark.operators.fused import fused_correct
from ocr_corrector_spark.oracle import BertOracle, KeywordOracle
from ocr_corrector_spark.plans.pipeline import correct_pipeline
from ocr_corrector_spark.sources.transcripts import _HTML_PREFIX, _HTML_SUFFIX

N_CONVS = 5
ERR = 0.56  # the corpus' convention for a low-confidence character


def _probs(n: int, errs=(), extra: int = 0) -> list:
    """``n`` confident positions with ``errs`` low, plus ``extra`` low
    positions past the end of the text."""
    return [ERR if i in errs else 0.99 for i in range(n)] + [ERR] * extra


SENT = "我爱北京大安门"  # bert route: 大 → 天 at position 4
LONG = (SENT * 10)[:62]

# (text, tool, probs)
ROWS = [
    (None, "report", None),
    (None, "doc", [0.5]),
    ("", "report", None),
    ("", "doc", []),
    ("宋还本全", "report", None),  # keyword route, non-prob path
    ("宋还本全", "report", _probs(4, (0, 3))),
    (SENT, "doc", _probs(7, (4,))),
    (SENT, "doc", None),
    (SENT, None, _probs(7, (4,))),
    (SENT, "doc", [0.99, ERR]),  # probs shorter than the text
    (SENT, "doc", _probs(7, (4,), extra=2)),  # probs longer than the text
    ("宋还本全", "report", _probs(4, (0,), extra=3)),
    ("我爱\U00020000北京大安门", "doc", _probs(8, (2, 5))),  # astral plane
    ("宋还\U0002a6d6本全", "report", _probs(5, (0, 2))),
    ("我爱北京大安门\u0301", "doc", _probs(8, (4, 7))),  # combining accent
    ("宋\u0301还本全", "report", None),
    ("逾期3天要还", "doc", _probs(6, (2,))),  # digit at the error position
    ("宋还3全", "report", _probs(4, (0, 2))),
    ("第1期大安门", "doc", None),
    (LONG, "doc", _probs(62, (4, 61))),  # at the masked-LM limit
    (LONG + "门", "doc", _probs(63, (4, 62))),  # one past it
    (LONG, "doc", None),
    ("%LAYOUT v1\nP0 bad", "report", [0.5]),  # malformed %LAYOUT
    ("%LAYOUT", "doc", None),
    ("%LAYOUT v1\nP0 1 2 3", "report", None),
    ("%LAYOUT v1\nP0 40 40 560 80 " + SENT, "doc", _probs(7, (4,))),
    ("%LAYOUT v1\nP0 40 40 560 80 宋还本全\nP1 40 40 560 80 3", "report", None),
    ("<div><p>宋还本全", "report", None),  # malformed HTML
    ('<p class="x>' + SENT + "</p>", "doc", None),
    ("<<p>>" + SENT + "<//p>", "doc", _probs(9, (6,))),
    ("<p>" + SENT, "doc", _probs(7, (4,))),
    (_HTML_PREFIX + "宋还本全" + _HTML_SUFFIX, "report", None),
    (_HTML_PREFIX + SENT + _HTML_SUFFIX, "doc", _probs(7, (4,))),
    ("a < b 宋还本全", "report", None),
    ("%PDF-1.4 junk", "doc", [0.5]),
    ("%PDF-\ufffd宋还本全", "report", None),
]


def _frame(spark):
    t = dt.datetime(2026, 1, 1)
    rows = [
        (f"adv-{c}", i, "user", text, tool, t, probs)
        for c in range(N_CONVS)
        for i, (text, tool, probs) in enumerate(ROWS)
    ]
    schema = (
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp, probs array<double>"
    )
    return spark.createDataFrame(rows, schema)


def _expected() -> dict:
    kw, bert = KeywordOracle(similarity_threshold=0.55), BertOracle()
    out = {}
    for i, (raw, tool, probs) in enumerate(ROWS):
        text = extract_any(raw)
        oracle = kw if tool == "report" else bert
        corrected = None if text is None else oracle.correct_row(text, probs)
        for c in range(N_CONVS):
            out[(f"adv-{c}", i)] = (text, corrected)
    return out


def _per_turn(df) -> dict:
    rows = df.select("conv_id", "turn_idx", "text", "text_corrected").collect()
    assert len(rows) == N_CONVS * len(ROWS)
    return {(r.conv_id, r.turn_idx): (r.text, r.text_corrected) for r in rows}


def test_plans_equal_the_oracle_on_adversarial_rows(spark):
    df = _frame(spark).persist()
    try:
        expected = _expected()
        default = _per_turn(correct_pipeline(df, spark))
        dedup = _per_turn(correct_pipeline(df, spark, dedup_correction=True))
        fused = _per_turn(fused_correct(df, spark))
    finally:
        df.unpersist()
    for name, got in (("default", default), ("dedup", dedup), ("fused", fused)):
        wrong = {k: (v, expected[k]) for k, v in got.items() if v != expected[k]}
        assert not wrong, f"{name}: {len(wrong)} turns differ, e.g. {list(wrong.items())[:3]}"
    # both correction routes change turns, so the frame is not all pass-through
    changed = {
        tool for i, (_, tool, _) in enumerate(ROWS) if len(set(expected[("adv-0", i)])) > 1
    }
    assert {"report", "doc"} <= changed
