"""The correction operators and the one batch loop they share.

Design (SURVEY.md §2b F4, §4): NO split/merge of the DataFrame — the
reference partitions rows into correct/pass lists and re-inserts by index
(base_corrector.py:54-94); at 10^12-turn scale that positional identity is
replaced by the ``(conv_id, turn_idx)`` key and a single-pass
``CASE WHEN needs_correction THEN kernel(text) ELSE text END``.

Two UDFs call the same ``correct_batch`` loop:

* ``single_pass_udf`` — the default plan's ONE Python crossing
  (plans/pipeline.correct_pipeline): a scalar Arrow UDF over
  ``(text, probs, biz)`` that extracts, detects, tests eligibility and
  corrects, returning ``struct<text, corr_mode, text_corrected>``.  It
  works on whole batches, through Arrow buffers and numpy
  (``correct_arrow``): ``_err_keys`` thresholds ``probs`` over the list
  array's offsets, values and validity (the dedup plan passes its native
  ``err_prob_key`` column instead, which is taken as the key), the
  strings are decoded from their offsets and data buffers, and
  ``route_rows`` tests the eligibility filters over the batch's code
  points at once.  The result is assembled from buffers, with null for
  each string that did not change (``unpack_result`` fills them back),
  so that only changed strings get encoded.  The crossing never imports
  pandas: pyarrow's ``to_numpy`` and ``pa.array`` over Python objects
  would, at about 0.3 s and 38 MB per worker.  Its body is
  ``_Corrector.correct_rows``, which runs the distinct rows it has not
  seen through ``extract_any`` → ``route_rows`` → ``correct_batch``.
* ``with_dispatched_correction`` — a pandas UDF over a natively computed
  ``(text, err_pos, corr_mode)``, for callers that build their own
  detection columns (perfbench's layer ladder).

The engine reproduces one reference configuration: a keyword similarity
cut-off of ``KEYWORD_SIMILARITY`` over ``KEYWORDS``, top-``DEFAULT_TOPN``
candidates, and the committed LM checkpoint.  What the output depends on
besides the row and those constants is one hashable ``CorrectionConfig``
(``correction_config``: the scorer backend, its table and its bigrams),
broadcast to the workers; every entry point takes it as one ``cfg``
argument.  Each Python worker keeps state that survives across batches
and tasks:

* the keyword search index (functions/bktree.FilteredIndex — the
  BK-tree's search as a filtered scan with exact bounds) and the char
  similarity with a bounded memo on ``shape_similarity``
  (``_keyword_index`` and ``_char_sim``, shared by every config);
* one ``_Corrector`` per config (``_corrector``): the candidate scorer,
  the batch scorer, a bounded memo of the BERT route's decision per
  ``(original, observed)`` character pair, and a FIFO memo from the
  single crossing's input triple ``(text, err_prob_key, biz)`` to its
  output row — the identity the dedup plan (plans/pipeline.py) already
  relies on.  The memo is bounded by rows and by characters, and admits
  only a sample of fresh rows while nearly none repeat.

The keyword route matches its structural template by position
(functions/correct_kernels.positional_candidates) rather than compiling a
regex per row.  The oracle (oracle/reference_oracle.py) keeps the regex
and the uncached candidate scan, so the tests compare two
implementations.  The correction itself is embarrassingly parallel — no
shuffle.
"""

from __future__ import annotations

import functools
from collections import OrderedDict
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ..assets import DEFAULT_TOPN, KEYWORDS
from ..assets.scorer_table import SCORER_TABLE, default_candidates
from ..functions.bktree import BKTree, FilteredIndex
from ..functions.correct_kernels import (
    accepted_candidate,
    bert_correct_one,
    bert_correct_one_framed,
    keyword_correct_one,
    positional_candidates,
)
from ..functions.rules import MAX_SEQ_LENGTH, PROB_THRESHOLD
from .extract import extract_any

SCORER_BACKENDS = ("table", "framed", "lm")
# the keyword path's shape-similarity cut-off (config/config.json:8)
KEYWORD_SIMILARITY = 0.55
# the row memo's bounds: entries, and characters across each entry's
# input, extracted and corrected text
_ROW_CACHE_MAX = 200_000
_ROW_CACHE_CHARS = 8_000_000
# the row memo's admission: after every window of at least _MEMO_WINDOW
# lookups, a window where fewer than one lookup in _MEMO_COLD found its
# row computed already leaves the memo admitting only every _MEMO_SAMPLE-th
# fresh row, until a window repeats again
_MEMO_WINDOW = 8_192
_MEMO_COLD = 64
_MEMO_SAMPLE = 16
_SIM_CACHE_MAX = 65_536
_DECISION_CACHE_MAX = 65_536

RESULT_TYPE = StructType(
    [
        StructField("text", StringType()),
        StructField("corr_mode", IntegerType()),
        StructField("text_corrected", StringType()),
    ]
)
_RESULT_ARROW = pa.struct(
    [("text", pa.string()), ("corr_mode", pa.int32()), ("text_corrected", pa.string())]
)


@dataclass(frozen=True)
class CorrectionConfig:
    """Correction is a pure function of ``(mode, text, err_pos)`` given
    this config, so the config (held by value — collision-proof, no
    stale entries) keys the per-worker scorers and memo."""

    scorer_backend: str
    table: tuple  # sorted (char, candidates) items
    bigrams: tuple  # sorted ((left, right), boost) items


def correction_config(
    scorer_backend: str = "table",
    scorer_table: dict | None = None,
    context_bigrams: dict | None = None,
) -> CorrectionConfig:
    """The correction config every entry point takes as ``cfg``.

    ``scorer_backend`` (one of ``SCORER_BACKENDS``; anything else raises
    ``ValueError``): ``"table"`` (char-keyed confusion table, default),
    ``"framed"`` (functions/framed_scorer.py — tokenize → frame → score
    through the reference's batch contract, context-bigram aware), or
    ``"lm"`` (functions/numpy_lm.py — the committed pure-numpy masked LM
    at DEFAULT_CHECKPOINT: real checkpoint load + forward pass + top-k at
    the masked positions).  All are deterministic; framed with an empty
    bigram table equals table by construction (tests/test_framed_scorer.py).

    ``scorer_table``: override the built-in SCORER_TABLE with a plain dict
    ``char -> [(candidate, confidence), ...]`` — e.g. the output of the
    offline training loop (operators/confusion.scorer_table_from_stats via
    assets/scorer_table.scorer_table_from_df).

    ``context_bigrams``: the framed backend's bigram boosts (default: the
    demo DEFAULT_CONTEXT_BIGRAMS).

    The keyword path's similarity cut-off (``KEYWORD_SIMILARITY``), its
    dictionary (``KEYWORDS``) and the candidate count (``DEFAULT_TOPN``)
    are the reference configuration's constants, not settings."""
    if scorer_backend not in SCORER_BACKENDS:
        raise ValueError(
            f"scorer_backend must be one of {SCORER_BACKENDS}, got {scorer_backend!r}"
        )
    table = SCORER_TABLE if scorer_table is None else scorer_table
    bigrams = {}
    if scorer_backend == "framed":
        from ..functions.framed_scorer import DEFAULT_CONTEXT_BIGRAMS

        bigrams = DEFAULT_CONTEXT_BIGRAMS if context_bigrams is None else context_bigrams
    return CorrectionConfig(
        scorer_backend=scorer_backend,
        table=tuple(sorted((k, tuple(v)) for k, v in table.items())),
        bigrams=tuple(sorted(bigrams.items())),
    )


@functools.cache
def _char_sim():
    from ..assets.char_meta import build_char_meta
    from ..functions.charsim import CharSim

    char_sim = CharSim(build_char_meta())
    # one 48k-row unique_text input makes ~170k shape_similarity calls over
    # ~10k distinct pairs.  lru_cache stores no call that raises, so an
    # unknown pair still raises ZeroDivisionError and its row still passes
    # through.  The oracle builds its own uncached CharSim, so comparisons
    # against it stay differential.
    char_sim.shape_similarity = functools.lru_cache(maxsize=_SIM_CACHE_MAX)(
        char_sim.shape_similarity
    )
    return char_sim


def framed_score_rows(need: dict, fs, topn, char_sim, scorer) -> dict:
    """Score ``{row_key: (text, errs)}`` through a batch scorer ``fs``
    (a functions/framed_scorer.FramedBatchScorer — the tokenize → frame →
    batch score contract) with row-level fallback to the char-keyed kernel on
    misalignment/failure.  Returns ``{row_key: corrected_text}``."""
    keys = list(need)
    try:
        scored = fs.score_sentences(
            [need[k][0] for k in keys], [need[k][1] for k in keys]
        )
    except Exception:
        # batch-level failure (malformed custom table, ...): fall back to
        # the char-keyed path per row, which has row-level isolation
        scored = [None] * len(keys)
    out = {}
    for key, per_err in zip(keys, scored):
        t, e = need[key]
        if per_err is None:
            # misalignment/failure → char-keyed fallback
            out[key] = bert_correct_one(t, e, char_sim, scorer, topn)
        else:
            out[key] = bert_correct_one_framed(t, e, char_sim, per_err, topn)
    return out


@functools.cache
def _keyword_index():
    """This worker's keyword search index and its word set."""
    tree = FilteredIndex(BKTree(KEYWORDS))
    return tree, frozenset(tree.words)


class _Corrector:
    """One worker's scorers and row memo for one config."""

    def __init__(self, cfg: CorrectionConfig):
        self.cfg = cfg
        self.memo: OrderedDict = OrderedDict()
        self.memo_chars = 0  # _held_chars summed over the memo
        # the admission window: rows looked up, rows not computed fresh
        self.window_rows = self.window_repeats = 0
        self.sampling = False  # admit only every _MEMO_SAMPLE-th fresh row
        self.fresh_rows = 0  # fresh rows seen
        table = dict(cfg.table)

        def scorer(ch):
            cands = table.get(ch)
            if cands is None:
                # identity-dominant default; NOT topn_candidates, which
                # would leak the built-in table under a custom scorer_table
                return default_candidates(ch)
            return cands

        self.scorer = scorer
        # the BERT route's decision per (original, observed) character
        # pair; like _char_sim's memo, lru_cache stores no call that raises
        self.decide = functools.lru_cache(maxsize=_DECISION_CACHE_MAX)(self._decide)

    def _decide(self, original: str, observed: str) -> str | None:
        return accepted_candidate(original, self.scorer(observed), _char_sim(), DEFAULT_TOPN)

    @functools.cached_property
    def batch_scorer(self):
        """The framed / masked-LM batch scorer, built on first use (the LM
        checkpoint loads once per worker — the reference's per-session
        load, masked_lm.py:386-398, as an executor-side cache)."""
        cfg = self.cfg
        if cfg.scorer_backend == "lm":
            from ..functions.numpy_lm import NumpyLMScorer

            return NumpyLMScorer()
        from ..functions.framed_scorer import FramedTableScorer

        return FramedTableScorer(table=dict(cfg.table), context_bigrams=dict(cfg.bigrams))

    def correct_batch(self, texts: list, errs: list, modes: list) -> list:
        """Corrected text per row; ``modes`` 0 = pass-through, 1 = keyword
        path, 2 = bert path."""
        char_sim = _char_sim()
        scored: dict = {}
        if self.cfg.scorer_backend in ("framed", "lm"):
            # the bert rows go through the framing path as one batch
            # (A1 batching inside the batch scorer)
            need = {
                i: (t, list(e))
                for i, (t, e, m) in enumerate(zip(texts, errs, modes))
                if m == 2 and t is not None
            }
            if need:
                scored = framed_score_rows(
                    need, self.batch_scorer, DEFAULT_TOPN, char_sim, self.scorer
                )
        tree, kwset = _keyword_index()
        out = []
        for i, (t, e, m) in enumerate(zip(texts, errs, modes)):
            if t is None or m not in (1, 2):
                out.append(t)
            elif m == 1:
                out.append(
                    keyword_correct_one(
                        t, e, tree, kwset, char_sim, KEYWORD_SIMILARITY, positional_candidates
                    )
                )
            elif i in scored:
                out.append(scored[i])
            else:
                out.append(
                    bert_correct_one(t, e, char_sim, self.scorer, DEFAULT_TOPN, self.decide)
                )
        return out

    def correct_rows(self, texts: list, err_keys: list, bizes: list) -> list:
        """The single crossing's body: ``(text, corr_mode, text_corrected)``
        per input row ``(text, err_prob_key, biz)``, through this worker's
        memo on that triple.  Every hit is read before anything is
        inserted, so this batch's own misses cannot evict a row it still
        needs; the distinct misses then run through ``extract_any`` →
        ``route_rows`` → ``correct_batch`` once.

        The memo admits what repeats: while the last window's rows were
        nearly all fresh (no memo hit, no repeat within their batch), it
        admits only a sample of the fresh rows, so that a stream which
        starts repeating is seen to.  It is FIFO, bounded by entries and
        by characters; the answers never depend on what it holds."""
        memo = self.memo
        keys = [
            (t, None if k is None else tuple(k), b)
            for t, k, b in zip(texts, err_keys, bizes)
        ]
        rows = [memo.get(key) for key in keys]
        first: dict = {}  # each distinct missed key -> its first row index
        for i, (key, row) in enumerate(zip(keys, rows)):
            if row is None:
                first.setdefault(key, i)
        self.window_rows += len(keys)
        self.window_repeats += len(keys) - len(first)
        if self.window_rows >= _MEMO_WINDOW:
            self.sampling = self.window_repeats * _MEMO_COLD < self.window_rows
            self.window_rows = self.window_repeats = 0
        if not first:
            return rows
        idx = list(first.values())
        extracted = [extract_any(texts[i]) for i in idx]
        modes, errs = route_rows(
            extracted, [err_keys[i] for i in idx], [bizes[i] for i in idx]
        )
        corrected = self.correct_batch(extracted, errs, modes)
        fresh = dict(zip(first, zip(extracted, modes, corrected)))
        admitted = list(fresh.items())
        if self.sampling:  # the fresh rows numbered 0, S, 2S, ... in this worker
            admitted = admitted[-self.fresh_rows % _MEMO_SAMPLE :: _MEMO_SAMPLE]
        self.fresh_rows += len(fresh)
        for key, row in admitted:
            self._admit(key, row)
        return [fresh[key] if row is None else row for key, row in zip(keys, rows)]

    def _admit(self, key, row) -> None:
        """Insert one entry, first evicting the oldest ones past either
        bound; an entry larger than the character bound is not kept.  FIFO
        in O(1): on a plain dict next(iter(d)) walks past every hole that
        earlier pops left at the front of its entry table."""
        memo = self.memo
        chars = _held_chars(key, row)
        if chars > _ROW_CACHE_CHARS:
            return
        while memo and (
            len(memo) >= _ROW_CACHE_MAX or self.memo_chars + chars > _ROW_CACHE_CHARS
        ):
            self.memo_chars -= _held_chars(*memo.popitem(last=False))
        memo[key] = row
        self.memo_chars += chars


def _held_chars(key, row) -> int:
    """The characters of a memo entry's input, extracted and corrected
    text, each counted, also where two of them are one string."""
    return sum(len(s) for s in (key[0], row[0], row[2]) if s)


@functools.cache
def _corrector(cfg: CorrectionConfig) -> _Corrector:
    """This worker's ``_Corrector`` for ``cfg``.  The cache is module-global,
    so it survives across Arrow batches AND tasks in the same Python worker
    process (a closure dict would be re-deserialized fresh with every
    task's UDF command)."""
    return _Corrector(cfg)


def route_rows(texts: list, err_keys: list, bizes: list) -> tuple[list, list]:
    """Eligibility + dispatch per (extracted) row: ``(modes, errs)``.

    ``err_keys`` are operators/detect.err_prob_key values: the
    sub-threshold positions, or None for null probs (every position is
    suspect — the reference's non-prob path).  Biz ``report`` routes to
    the keyword corrector, anything else to bert (corrector/__init__.py:
    20-38).  A null text is never eligible.

    The filters (functions/rules.do_correct_filter_keyword / _bert) run
    over the batch at once: one UTF-32 encoding of the joined texts, and
    per-row counts from cumulative sums at the row boundaries."""
    present = [t for t in texts if t is not None]
    lens = np.fromiter(map(len, present), np.int64, len(present))
    cps = np.frombuffer("".join(present).encode("utf-32-le", "surrogatepass"), np.uint32)
    ends = np.cumsum(lens)

    def per_row(hit):
        total = np.concatenate(([0], np.cumsum(hit)))
        return total[ends] - total[ends - lens]

    cjk = per_row((cps >= 0x4E00) & (cps <= 0x9FA5))  # [一-龥]
    alpha = per_row(  # [a-zA-ZＡ-Ｚａ-ｚ]
        ((cps >= 0x61) & (cps <= 0x7A))
        | ((cps >= 0x41) & (cps <= 0x5A))
        | ((cps >= 0xFF21) & (cps <= 0xFF3A))
        | ((cps >= 0xFF41) & (cps <= 0xFF5A))
    )
    report = np.array([b == "report" for t, b in zip(texts, bizes) if t is not None], bool)
    eligible = np.where(
        report, cjk >= 2, (alpha == 0) & (cjk >= 3) & (lens <= MAX_SEQ_LENGTH - 2)
    ).tolist()
    modes, errs = [], []
    it = iter(eligible)
    for t, k, b in zip(texts, err_keys, bizes):
        mode, err = 0, None
        if t is not None and next(it):
            err = list(range(len(t))) if k is None else k
            if err:
                mode = 1 if b == "report" else 2
        modes.append(mode)
        errs.append(err)
    return modes, errs


def _valid(arr: pa.Array) -> np.ndarray | None:
    """Per-row validity of ``arr`` (honouring its offset) read from its
    bitmap, or None when no row is null."""
    if not arr.null_count:
        return None
    lo, n = arr.offset, len(arr)
    bits = np.frombuffer(arr.buffers()[0], np.uint8, (lo + n + 7) // 8 - lo // 8, lo // 8)
    return np.unpackbits(bits, bitorder="little")[lo % 8 : lo % 8 + n].view(bool)


def _offsets(arr: pa.Array) -> np.ndarray:
    """The ``len(arr) + 1`` offsets of a (large) string or list array into
    its data buffer or child array, as stored."""
    dtype = np.int64 if isinstance(arr, (pa.LargeStringArray, pa.LargeListArray)) else np.int32
    return np.frombuffer(arr.buffers()[1], dtype, len(arr) + 1, arr.offset * dtype().itemsize)


def _strings(arr: pa.Array) -> list:
    """``arr.to_pylist()`` of a string or large_string array, decoded from
    its buffers."""
    if not len(arr):
        return []
    offsets = _offsets(arr)
    lo = int(offsets[0])
    data = arr.buffers()[2]
    raw = b"" if data is None else bytes(memoryview(data)[lo : int(offsets[-1])])
    bounds = (offsets - lo).tolist()
    if raw.isascii():  # byte offsets are character offsets: one decode
        whole = raw.decode("ascii")
        out = [whole[a:b] for a, b in zip(bounds, bounds[1:])]
    else:
        out = [raw[a:b].decode() for a, b in zip(bounds, bounds[1:])]
    valid = _valid(arr)
    if valid is not None:
        out = [s if v else None for s, v in zip(out, valid.tolist())]
    return out


def _string_array(values: list) -> pa.Array:
    """``pa.array(values, pa.string())`` assembled from buffers: only the
    strings that are not None get encoded."""
    n = len(values)
    keep = [i for i, v in enumerate(values) if v is not None]
    data = [values[i].encode() for i in keep]
    lens = np.zeros(n, np.int32)
    lens[keep] = [len(d) for d in data]
    offsets = np.zeros(n + 1, np.int32)
    np.cumsum(lens, out=offsets[1:])
    bitmap = None
    if len(keep) < n:
        valid = np.zeros(n, bool)
        valid[keep] = True
        bitmap = pa.py_buffer(np.packbits(valid, bitorder="little"))
    buffers = [bitmap, pa.py_buffer(offsets), pa.py_buffer(b"".join(data))]
    return pa.Array.from_buffers(pa.string(), n, buffers, null_count=n - len(keep))


# numpy dtypes of Spark's Arrow floats by name; an integer's name is numpy's
_FLOATS = {"float": np.float32, "double": np.float64}


def _err_keys(col: pa.Array) -> list:
    """Memo keys from the correction UDF's second column, one per row: a
    tuple of positions, or None for a null array.  A ``probs`` column
    (list of float or double) gives operators/detect.err_prob_key's value:
    the positions whose value is below ``PROB_THRESHOLD``, compared in
    float64 as Spark compares ``element_at(probs, i + 1) < 0.9``.  A list
    of ints is taken as the key itself (the dedup plan's ``_errk``).  The
    values are read from the child array's buffers."""
    if not len(col):
        return []
    offsets = _offsets(col)
    lo, hi = int(offsets[0]), int(offsets[-1])
    starts = offsets - lo
    child = col.values.slice(lo, hi - lo)
    name = str(child.type)
    dtype = np.dtype(_FLOATS.get(name, name))
    values = np.frombuffer(child.buffers()[1], dtype, hi - lo, child.offset * dtype.itemsize)
    if name in _FLOATS:
        # NaN compares False, and so does a null element, as the null
        # comparison does in Spark's filter
        below = values.astype(np.float64) < PROB_THRESHOLD
        valid = _valid(child)
        if valid is not None:
            below &= valid
        pos = (np.arange(hi - lo) - np.repeat(starts[:-1], np.diff(starts)))[below]
        starts = np.concatenate(([0], np.cumsum(below)))[starts]
    else:
        pos = values
    flat, bounds = pos.tolist(), starts.tolist()
    keys = [tuple(flat[a:b]) for a, b in zip(bounds, bounds[1:])]
    valid = _valid(col)
    if valid is not None:
        keys = [k if v else None for k, v in zip(keys, valid.tolist())]
    return keys


def correct_arrow(
    cfg: CorrectionConfig, text: pa.Array, errs: pa.Array, biz: pa.Array
) -> pa.StructArray:
    """The single crossing's body on one Arrow batch: ``_err_keys`` and
    ``_strings`` read the columns from their buffers, the worker's
    ``_Corrector`` answers, and the result is assembled from buffers as
    ``_RESULT_ARROW``, with null for a ``text`` that extraction left
    unchanged and for a ``text_corrected`` equal to the extracted text
    (``unpack_result`` fills both back in).  No pandas is loaded:
    pyarrow's ``to_numpy`` and ``pa.array`` over Python objects import it."""
    texts = _strings(text)
    rows = _corrector(cfg).correct_rows(texts, _err_keys(errs), _strings(biz))
    extracted = [None if e == t else e for t, (e, _, _) in zip(texts, rows)]
    corrected = [None if c == e else c for e, _, c in rows]
    modes = np.fromiter((m for _, m, _ in rows), np.int32, len(rows))
    return pa.StructArray.from_arrays(
        [
            _string_array(extracted),
            pa.Array.from_buffers(pa.int32(), len(rows), [None, pa.py_buffer(modes)]),
            _string_array(corrected),
        ],
        fields=list(_RESULT_ARROW),
    )


def single_pass_udf(
    cfg: CorrectionConfig, spark: SparkSession | None = None, row_counter=None
):
    """The single-crossing scalar Arrow UDF
    ``(text, probs or err_prob_key, biz) → RESULT_TYPE``: extraction,
    eligibility and correction per batch, as ``pa.Array`` in and out
    through Arrow buffers and numpy (``correct_arrow``).  An unchanged
    ``text`` or ``text_corrected`` comes back null, so that only changed
    strings are encoded; read the result through ``unpack_result``.

    ``row_counter``: optional Spark accumulator; the UDF adds the batch
    size per invocation — tests use it to assert the expensive stage
    executes exactly once per row per job (no recompute from extra
    actions, no copy of the UDF per unpacked struct field)."""
    spark = spark or SparkSession.getActiveSession()
    bc_cfg = spark.sparkContext.broadcast(cfg)

    @F.arrow_udf(RESULT_TYPE)
    def correct_rows(text: pa.Array, errs: pa.Array, biz: pa.Array) -> pa.Array:
        if row_counter is not None:
            row_counter.add(len(text))
        return correct_arrow(bc_cfg.value, text, errs, biz)

    return correct_rows


def unpack_result(df: DataFrame, res_col: str) -> DataFrame:
    """Natively unpack the UDF's struct column: ``text`` is replaced in
    place by the extracted text, ``corr_mode`` and ``text_corrected`` are
    appended, ``res_col`` is dropped.  The struct holds null for a string
    that did not change, which ``coalesce`` fills: the extracted text from
    the input ``text``, ``text_corrected`` from the extracted text."""
    res = F.col(res_col)
    text = F.coalesce(res["text"], F.col("text"))
    cols = [
        text.alias(c) if c == "text" else F.col(c)
        for c in df.columns
        if c != res_col
    ]
    return df.select(
        *cols,
        res["corr_mode"].alias("corr_mode"),
        F.coalesce(res["text_corrected"], text).alias("text_corrected"),
    )


def with_dispatched_correction(
    df: DataFrame,
    cfg: CorrectionConfig | None = None,
    spark: SparkSession | None = None,
) -> DataFrame:
    """Correction with per-row corrector dispatch over native detection
    columns, as a Series→Series pandas UDF: adds ``text_corrected`` from
    ``(text, err_pos, corr_mode)``.

    ``corr_mode``: 0 = pass-through, 1 = keyword path, 2 = bert path — the
    Spark analog of the reference's biz_type registry
    (corrector/__init__.py:20-38) without per-row Python objects.
    ``cfg=None`` is ``correction_config()``."""
    # imported here, not at module level, so that the single crossing's
    # workers never load pandas; bound as a module global because
    # pandas_udf resolves the hints below against the module's globals
    global pd
    import pandas as pd
    spark = spark or SparkSession.getActiveSession()
    bc_cfg = spark.sparkContext.broadcast(cfg or correction_config())

    @F.pandas_udf(StringType())
    def correct_udf(text: pd.Series, err_pos: pd.Series, mode: pd.Series) -> pd.Series:
        # list iteration beats Series iteration (no per-element numpy boxing)
        return pd.Series(
            _corrector(bc_cfg.value).correct_batch(
                text.tolist(), err_pos.tolist(), mode.tolist()
            )
        )

    return df.withColumn(
        "text_corrected",
        correct_udf(F.col("text"), F.col("err_pos"), F.col("corr_mode")),
    )
