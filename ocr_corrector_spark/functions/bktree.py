"""BK-tree fuzzy dictionary search.

Re-implements the metric-tree semantics of ``/root/reference/corrector/
utils/BKtree.py``: insert chains on distance-to-current (BKtree.py:32-46),
BFS search visits a child iff ``dist - d <= edge <= dist + d``
(BKtree.py:49-72), results in BFS visit order.

Canonical-order deviation (documented): the reference builds the tree by
iterating a Python ``set`` of dictionary lines (BKtree.py:75-84), so its
node layout — and therefore the ORDER of search results — is
nondeterministic across processes.  This engine builds from the word list
in its given (file) order, which makes both the tree and result order
deterministic and reproduces the reference's published doctest ordering
(``search('宋还本金',1) -> ['未还本金','已还本金']``, BKtree.py:50-57)
for the shipped dictionary.  Only result order is affected; the downstream
argmax (keyword_corrector.py:84-99) breaks ties by first occurrence.

Scale note: the dictionary is broadcast-sized (~100 words) and each
worker builds its own copy once.  ``BKTree.search`` is the oracle's
reference search (oracle/reference_oracle.py).  The worker searches
through ``FilteredIndex`` instead: a scan of the tree's words in the full
tree's breadth-first order that skips every word a cheap exact lower
bound already puts past the radius, and runs the edit distance only on
the rest — the same list as ``BKTree.search``, in the same order.
"""

from __future__ import annotations

from collections import Counter, deque

from .editdist import edit_distance


class _Node:
    __slots__ = ("word", "children")

    def __init__(self, word: str):
        self.word = word
        self.children: dict[int, _Node] = {}


class BKTree:
    def __init__(self, words, dist_func=edit_distance):
        self.dist_func = dist_func
        self.root: _Node | None = None
        # de-dup preserving first-seen order; drop empty lines like the
        # reference's .strip() pipeline leaves them (BKtree.py:77-80 keeps
        # '' in the set — harmless there; we drop for cleanliness)
        seen = set()
        self.words: list[str] = []
        for w in words:
            w = w.strip()
            if w and w not in seen:
                seen.add(w)
                self.words.append(w)
        for w in self.words:
            self._add(w)

    def _add(self, word: str) -> None:
        if self.root is None:
            self.root = _Node(word)
            return
        curr = self.root
        dist = self.dist_func(word, curr.word)
        while dist in curr.children:
            curr = curr.children[dist]
            dist = self.dist_func(word, curr.word)
        curr.children[dist] = _Node(word)

    def search(self, word: str, max_dist: int) -> list[str]:
        """All dictionary words within ``max_dist`` of ``word``, BFS order."""
        if self.root is None:
            return []
        found: list[str] = []
        queue = deque([self.root])
        dist_func = self.dist_func
        while queue:
            node = queue.popleft()
            dist = dist_func(node.word, word)
            if dist <= max_dist:
                found.append(node.word)
            lo, hi = dist - max_dist, dist + max_dist
            for edge, child in node.children.items():
                if lo <= edge <= hi:
                    queue.append(child)
        return found


class FilteredIndex:
    """``BKTree.search`` of a Levenshtein ``BKTree`` as a filtered scan.

    The words are held in breadth-first order of the full tree.  A search
    skips a word ``w`` when ``max(len(w), len(q)) - shared(w, q)`` exceeds
    the radius, where ``shared`` is the size of the multiset intersection
    of their characters, counted through a char → (word, count) index.
    That is a lower bound on the edit distance: an alignment matches at
    most ``shared`` pairs of equal characters, and every other character
    of the longer string costs at least one edit.  It also covers the
    difference in length.  Only the surviving words pay for a Levenshtein
    call.

    The result equals ``tree.search(q, d)`` in order as well as content:
    the tree search visits every word within the radius (its ancestors'
    edges pass the test by the triangle inequality), and a pruned
    breadth-first search visits nodes in the full tree's breadth-first
    order restricted to the visited ones.
    """

    def __init__(self, tree: BKTree):
        self.words = tree.words
        order: list[str] = []
        queue = deque([tree.root] if tree.root is not None else [])
        while queue:
            node = queue.popleft()
            order.append(node.word)
            queue.extend(node.children.values())
        self._order = order
        self._lens = [len(w) for w in order]
        postings: dict[str, list[tuple[int, int]]] = {}
        for i, w in enumerate(order):
            for ch, n in Counter(w).items():
                postings.setdefault(ch, []).append((i, n))
        self._postings = postings

    def search(self, word: str, max_dist: int) -> list[str]:
        """``BKTree.search(word, max_dist)`` of the tree this was built from."""
        if max_dist < 0:
            return []
        n = len(word)
        order, lens = self._order, self._lens
        # a word that shares no character with the query is at distance
        # max(len(w), n) >= n, so it can only pass when n <= max_dist
        shared = dict.fromkeys(range(len(order)), 0) if n <= max_dist else {}
        for ch, nq in Counter(word).items():
            for i, nw in self._postings.get(ch, ()):
                shared[i] = shared.get(i, 0) + (nw if nw < nq else nq)
        found = []
        for i in sorted(shared):  # breadth-first order of the full tree
            lw = lens[i]
            if (lw if lw > n else n) - shared[i] <= max_dist:
                w = order[i]
                if edit_distance(w, word) <= max_dist:
                    found.append(w)
        return found
