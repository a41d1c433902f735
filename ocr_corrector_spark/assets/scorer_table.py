"""Deterministic masked-LM stand-in: the confusion-table candidate scorer.

The reference's BERT path (SURVEY.md §2f) generates, per error position,
the masked-LM's top-n ``(token, prob)`` candidates
(/root/reference/corrector/bert_modeling/masked_lm.py:400-447, topn=3 per
config.json:17) and then applies guards + the FASPell curve
(bert_corrector.py:56-71).  The checkpoint is a 400MB external download
and TF1 is unavailable, so this engine defines a pluggable CandidateScorer
(operators/correct.py); the default implementation is this broadcastable
table keyed by the OBSERVED (digit-translated) character — the same
confusion-set idea the reference itself uses to create training data
(bert_modeling/create_data.py:79-160).

Entries are seeded so the reference's documented corrections reproduce
under curve_02 given assets/char_meta.py similarities, and include
negative candidates exercising every guard (bert_corrector.py:95-107):
``[UNK]``, a ``##``-continuation, a traditional char (萬 — which per the
reference's own traditional class ALSO covers 著, so the 苦→著 smoke-test
candidate at masked_lm.py:450-458 is produced by the scorer but rejected
by the corrector guard, in the reference exactly as here).
"""

DEFAULT_TOPN = 3

# char observed at an error position -> top-3 (candidate, confidence),
# confidence descending, mimicking find_topn_candidates' per-error output.
SCORER_TABLE: dict[str, list[tuple[str, float]]] = {
    # README.md:17-27 — 大安门(prob .56) → 天安门
    "大": [("天", 0.70), ("太", 0.04), ("犬", 0.02)],
    # README.md:29-38 + doctest bert_corrector.py:30-33 — 白愿 → 自愿
    "白": [("自", 0.75), ("百", 0.04), ("日", 0.02)],
    # doctest bert_corrector.py:31-34 — 暇疵 → 瑕疵; [UNK] guard first
    "暇": [("[UNK]", 0.50), ("瑕", 0.45), ("假", 0.03)],
    # doctest bert_corrector.py:31-34 — 不子 → 不予; ## guard first
    "子": [("##子", 0.50), ("予", 0.45), ("了", 0.02)],
    # smoke test masked_lm.py:450-458 — 苦名丰持人: 苦→著 proposed but 著 is
    # in the traditional rejection class (base_corrector.py:168) → rejected;
    # remaining candidates fail curve_02 → position passes through.
    "苦": [("著", 0.80), ("古", 0.04), ("若", 0.03)],
    # 丰→主 accepted (shape_similarity 0.714…)
    "丰": [("主", 0.70), ("年", 0.04), ("半", 0.02)],
    # traditional-guard fixture: 萬 rejected; 方 conf < 0.05 → curve reject
    "万": [("萬", 0.90), ("方", 0.03), ("乃", 0.01)],
    # multi-char candidate guard (len mismatch) then an accepted repair
    "术": [("技术", 0.60), ("未", 0.38), ("木", 0.01)],
}


def scorer_table_from_df(df) -> dict[str, list[tuple[str, float]]]:
    """Collect an offline-trained scorer table
    (operators/confusion.scorer_table_from_stats output:
    ``wrong_char, correct_char, prob, rk``) into the broadcastable dict the
    correction UDF consumes.  The table is top-n per char (n small), so the
    driver-side collect is bounded by the charset — the one legitimate
    collect in the scorer path."""
    rows = df.select("wrong_char", "correct_char", "prob", "rk").collect()
    by_char: dict[str, list[tuple[int, str, float]]] = {}
    for r in rows:
        by_char.setdefault(r.wrong_char, []).append(
            (int(r.rk), r.correct_char, float(r.prob))
        )
    return {
        ch: [(cand, prob) for _, cand, prob in sorted(entries)]
        for ch, entries in by_char.items()
    }


def default_candidates(char: str, topn: int = DEFAULT_TOPN) -> list[tuple[str, float]]:
    """Identity-dominant default for chars absent from a scorer table (no
    correction results: identical-candidate skip at bert_corrector.py:64-65,
    then conf < 0.05 curve rejects).  THE single definition — the framed
    and char-keyed scorers both reference it, and the framed==table
    equality contract depends on every path using the same values."""
    return [(char, 0.99), ("的", 0.004), ("一", 0.003)][:topn]


def topn_candidates(char: str, topn: int = DEFAULT_TOPN) -> list[tuple[str, float]]:
    """Top-n candidates for an observed char from the built-in table, with
    the identity-dominant default for unknown chars."""
    cands = SCORER_TABLE.get(char)
    if cands is None:
        return default_candidates(char, topn)
    return cands[:topn]
