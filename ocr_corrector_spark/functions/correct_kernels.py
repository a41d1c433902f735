"""Per-row correction kernels — the single source of truth for correction
semantics, shared by the Spark Arrow-UDF operators (operators/correct.py)
and the pure-Python batch oracle (oracle/reference_oracle.py).

Each kernel replicates one reference ``correct_all`` body including its
quirks (SURVEY.md §7 hard parts): candidate iteration order, first-wins
argmax ties, the BK distance cap, digit guards, and per-row exception
isolation (any error passes the row through unchanged —
keyword_corrector.py:102-106, bert_corrector.py:74-77).
"""

from __future__ import annotations

import re

from .bktree import BKTree
from .charsim import CharSim
from .rules import (
    DIGIT_RE,
    check_candidate,
    curve_02,
    regulation,
    translate_digits,
)


def keyword_correct_one(
    text: str,
    err_pos,
    tree: BKTree,
    keywords: frozenset,
    char_sim: CharSim,
    similarity_threshold: float,
    structural=None,
) -> str:
    """Keyword-path correction of one row.

    ``structural(text, err, found)``: the structural filter's candidate
    strings; ``None`` is ``regex_candidates``, the reference's.

    Parity: keyword_corrector.py:43-108 —
    correct_all(['宋还本全','数期大'], [[0,3],[0,2]]) == ['未还本金','逾期天'].
    """
    try:
        if text in keywords:  # exact-keyword skip (:52-55)
            return text

        err = list(err_pos)
        distance = len(err)  # BK radius = #errors, capped (:58-60)
        if distance == len(text):
            distance = len(text) - 1
        found = tree.search(text, distance)  # J1 (:62)
        if not found:
            return text

        origin = "".join(text[p] for p in err)  # T2's error chars (:70)
        candidates = (structural or regex_candidates)(text, err, found)  # T3 (:72-77)
        if not candidates:
            return text

        sims = [char_sim.shape_similarity(origin, c) for c in candidates]  # T5-T8
        best = max(sims)
        if best < similarity_threshold:  # J2 threshold (:88-91)
            return text

        substitution = list(candidates[sims.index(best)])  # first-wins argmax (:94)
        chars = list(text)
        for p in err:  # T4 substitute in err order (:96-97)
            chars[p] = substitution.pop(0)
        return "".join(chars)
    except Exception:
        return text  # row-level isolation (:102-106)


def regex_candidates(text: str, err: list, found) -> list:
    """T2 + T3 (keyword_corrector.py:70-77): the error characters of every
    keyword in ``found`` that matches ``text``'s anchored template."""
    pattern = re.compile(regulation(text, err)[0])
    candidates = []
    for kw in found:
        m = pattern.match(kw)
        if m:
            candidates.append("".join(m.group(i + 1) for i in range(len(err))))
    return candidates


# the characters that make a text's template more than literals and groups
_REGEX_META = re.compile(r"[.^$*+?{}\[\]\\|()\n]")


def positional_candidates(text: str, err: list, found) -> list:
    """``regex_candidates`` without building a regex: when ``text`` holds
    no regex metacharacter or newline and ``err`` is sorted, distinct and
    in range, its template matches a keyword exactly when the keyword
    equals ``text`` outside ``err``, holds no newline at ``err``, and is as
    long as ``text`` (or one longer, ending in the newline that ``$``
    matches before).  Any other row takes the regex."""
    n = len(text)
    if (
        _REGEX_META.search(text)
        or any(b <= a for a, b in zip(err, err[1:]))
        or (err and (err[0] < 0 or err[-1] >= n))
    ):
        return regex_candidates(text, err, found)
    bounds = list(zip([-1, *err], [*err, n]))
    candidates = []
    for kw in found:
        if len(kw) != n and not (len(kw) == n + 1 and kw[n] == "\n"):
            continue
        if all(kw[a + 1 : b] == text[a + 1 : b] for a, b in bounds):
            sub = "".join(kw[p] for p in err)
            if "\n" not in sub:
                candidates.append(sub)
    return candidates


def bert_correct_one(
    text: str,
    err_pos,
    char_sim: CharSim,
    scorer,
    topn: int = 3,
    decide=None,
) -> str:
    """BERT-path correction of one row with a pluggable candidate scorer.

    ``scorer(char) -> [(candidate, confidence), ...]`` stands in for the
    masked-LM top-n output (masked_lm.py:400-447); the detect → candidates
    → guard → curve-gated accept loop is bit-parity with
    bert_corrector.py:27-78 including the short-circuit ``break`` on first
    accepted candidate (:70-71) and the digit guard (:52-54).

    ``decide(original, observed)``: the accepted candidate for one error
    position, or ``None``; ``None`` is the reference's scan over
    ``scorer(observed)`` (``accepted_candidate``), and a memoized twin of
    it gives the same rows.
    """
    try:
        origin = list(text)
        for e in err_pos:
            if DIGIT_RE.match(origin[e]):  # never replace digits (:52-54)
                continue
            # T1 (:37-42): the text with digits as CJK numerals, read at e
            observed = translate_digits(text[e])
            if decide is None:
                pred = accepted_candidate(origin[e], scorer(observed), char_sim, topn)
            else:
                pred = decide(origin[e], observed)
            if pred is not None:
                origin[e] = pred
        return "".join(origin)
    except Exception:
        return text  # row-level isolation (:74-77)


def accepted_candidate(original: str, candidates, char_sim, topn) -> str | None:
    """The guard + curve-gated accept scan for one error position —
    bit-parity with bert_corrector.py:56-71 including the short-circuit
    ``break`` on first accepted candidate: the accepted candidate, or
    ``None``."""
    for pred, confidence in candidates[:topn]:
        similarity = char_sim.shape_similarity(pred, original)  # (:59)
        if original == pred:  # identical-candidate skip (:64-65)
            continue
        if not check_candidate(original, pred):  # F5/F6 guards (:66)
            continue
        if curve_02(confidence, similarity):  # J3 (:68-71)
            return pred
    return None


def bert_correct_one_framed(
    text: str,
    err_pos,
    char_sim: CharSim,
    per_err_candidates,
    topn: int = 3,
) -> str:
    """BERT-path correction fed by PRE-COMPUTED per-error candidate lists
    from the framed batch scorer (functions/framed_scorer.py — the
    tokenize → frame → score path, masked_lm.py:251-302,400-447).  Guards,
    curve gate and short-circuit semantics are shared with
    ``bert_correct_one`` via ``accepted_candidate``."""
    try:
        origin = list(text)
        for e, cands in zip(err_pos, per_err_candidates):
            if DIGIT_RE.match(origin[e]):  # never replace digits (:52-54)
                continue
            pred = accepted_candidate(origin[e], cands, char_sim, topn)
            if pred is not None:
                origin[e] = pred
        return "".join(origin)
    except Exception:
        return text  # row-level isolation (:74-77)
