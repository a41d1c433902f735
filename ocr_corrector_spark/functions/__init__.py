"""Pure-Python kernels (no Spark imports). Each mirrors a reference behavior;
citations are ``file:line`` into /root/reference.
"""

from .editdist import edit_distance
from .charsim import CharSim, safe_encode_string
from .bktree import BKTree, FilteredIndex
from .rules import (
    regulation,
    curve_02,
    find_err_pos_by_prob,
    CJK_RE,
    ALPHABET_RE,
    DIGIT_RE,
    is_traditional,
    check_candidate,
    translate_digits,
)

__all__ = [
    "edit_distance",
    "CharSim",
    "safe_encode_string",
    "BKTree",
    "FilteredIndex",
    "regulation",
    "curve_02",
    "find_err_pos_by_prob",
    "CJK_RE",
    "ALPHABET_RE",
    "DIGIT_RE",
    "is_traditional",
    "check_candidate",
    "translate_digits",
]
