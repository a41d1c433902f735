"""Levenshtein edit distance kernel.

Semantics parity: the reference's DP (``/root/reference/corrector/utils/
char_sim.py:57-98``, name='Levenshtein') computes standard Levenshtein —
its equal-char cell ``min(del+1, diag, ins+1)`` always resolves to ``diag``
because neighbouring cells differ by at most 1 — so we are free to use the
fastest available implementation.  Inside Spark SQL plans the native
``F.levenshtein`` is the same function (used by the SQL analogs); inside the
Arrow UDF kernels strings of up to 64 characters go through Myers'
bit-parallel algorithm and everything else through one two-row DP.

The 'Canonical' variant (substitution cost 2; same reference lines 91-96)
is kept for completeness — nothing in the reference's main path calls it.
"""

from __future__ import annotations


def _myers_levenshtein(a: str, b: str) -> int:
    """Myers' bit-parallel Levenshtein (Myers 1999, public algorithm):
    O(len(b)) word operations for patterns up to 64 chars — 20-50x the
    pure-Python DP on this engine's decomposition strings.  Caller
    guarantees 1 <= len(a) <= 64 and len(a) <= len(b)."""
    m = len(a)
    mask = (1 << m) - 1
    last = 1 << (m - 1)
    peq: dict[str, int] = {}
    for i, ch in enumerate(a):
        peq[ch] = peq.get(ch, 0) | (1 << i)
    vp = mask
    vn = 0
    dist = m
    get = peq.get
    for ch in b:
        eq = get(ch, 0)
        xv = eq | vn
        xh = (((eq & vp) + vp) ^ vp) | eq
        hp = vn | (~(xh | vp) & mask)
        hn = vp & xh
        if hp & last:
            dist += 1
        elif hn & last:
            dist -= 1
        hp = ((hp << 1) | 1) & mask
        hn = (hn << 1) & mask
        vp = hn | (~(xv | hp) & mask)
        vn = hp & xv
    return dist


def _dp_distance(a, b, sub_cost: int = 1) -> int:
    """Two-row DP over any two sequences; O(len(a)*len(b)) time,
    O(len(b)) space.  ``sub_cost`` 1 is Levenshtein, 2 is Canonical."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, start=1):
        cur = [i] + [0] * len(b)
        for j, cb in enumerate(b, start=1):
            cost = 0 if ca == cb else sub_cost
            cur[j] = min(prev[j] + 1, prev[j - 1] + cost, cur[j - 1] + 1)
        prev = cur
    return prev[-1]


def edit_distance(a, b, name: str = "Levenshtein") -> int:
    """Edit distance between two sequences (strings or lists of strings).

    Parity: ``char_sim.py:57-98`` doctests —
    edit_distance('abcde','avbcude') == 2; edit_distance('fang','qwe') == 4.
    """
    if name != "Levenshtein":
        # Canonical: substitution costs 2 (effectively LCS distance)
        return _dp_distance(a, b, 2)
    if isinstance(a, str) and isinstance(b, str):
        if a == b:
            return 0
        if len(a) > len(b):
            a, b = b, a
        if not a:
            return len(b)
        if len(a) <= 64:
            return _myers_levenshtein(a, b)
    # longer strings, and the list-of-tokens form (char_sim.py:61-62 doctest)
    return _dp_distance(a, b)
