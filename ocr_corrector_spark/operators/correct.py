"""The correction operators and the one batch loop they share.

Design (SURVEY.md §2b F4, §4): NO split/merge of the DataFrame — the
reference partitions rows into correct/pass lists and re-inserts by index
(base_corrector.py:54-94); at 10^12-turn scale that positional identity is
replaced by the ``(conv_id, turn_idx)`` key and a single-pass
``CASE WHEN needs_correction THEN kernel(text) ELSE text END``.

Two operators call the same ``correct_batch`` loop:

* ``with_single_pass_correction`` — the default plan's ONE Python
  crossing: a scalar Arrow UDF over ``(text, err_prob_key, biz)`` that
  extracts, tests eligibility and corrects, returning
  ``struct<text, corr_mode, text_corrected>``.  The probs-threshold half
  of detection (operators/detect.err_prob_key) stays native, so the wide
  ``probs`` arrays and every other column stay in the JVM.
* ``with_dispatched_correction`` — a pandas UDF over a natively computed
  ``(text, err_pos, corr_mode)``, for callers that build their own
  detection columns (perfbench's layer ladder).

Everything the output depends on besides the row is one hashable
``CorrectionConfig`` (``correction_config``), broadcast to the workers;
every entry point takes it as one ``cfg`` argument.  Each Python worker keeps
one ``_Corrector`` per config and state that survives across batches and
tasks:

* the keyword search index (functions/bktree.FilteredIndex — the
  BK-tree's search as a filtered scan with exact bounds);
* the char similarity with a bounded memo on ``shape_similarity``
  (``_char_sim``, shared by every config);
* the candidate scorer;
* a row-result memo;
* an extraction memo on the raw text of document rows (``extract_batch``,
  shared by every config; plain rows bypass it).
The correction itself is embarrassingly parallel — no shuffle.
"""

from __future__ import annotations

import functools
from collections import OrderedDict
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ..assets import KEYWORDS
from ..assets.scorer_table import SCORER_TABLE, default_candidates
from ..functions.bktree import BKTree, FilteredIndex
from ..functions.correct_kernels import (
    bert_correct_one,
    bert_correct_one_framed,
    keyword_correct_one,
)
from ..functions.layout_extract import LAYOUT_MAGIC, PDF_MAGIC
from ..functions.rules import do_correct_filter_bert, do_correct_filter_keyword
from .detect import err_prob_key
from .extract import extract_any

SCORER_BACKENDS = ("table", "framed", "lm")
_ROW_CACHE_MAX = 200_000
_SIM_CACHE_MAX = 65_536
_EXTRACT_CACHE_MAX = 16_384
# per-worker state, keyed by config — module-global so it survives across
# Arrow batches AND tasks in the same Python worker process (a closure
# dict would be re-deserialized fresh with every task's UDF command)
_CORRECTORS: dict = {}

RESULT_TYPE = StructType(
    [
        StructField("text", StringType()),
        StructField("corr_mode", IntegerType()),
        StructField("text_corrected", StringType()),
    ]
)


@dataclass(frozen=True)
class CorrectionConfig:
    """Correction is a pure function of ``(mode, text, err_pos)`` given
    this config, so the config (held by value — collision-proof, no
    stale entries) keys the per-worker kernels and memo."""

    similarity_threshold: float
    topn: int
    keywords: tuple
    scorer_backend: str
    table: tuple  # sorted (char, candidates) items
    bigrams: tuple  # sorted ((left, right), boost) items
    lm_checkpoint: str | None


def correction_config(
    similarity_threshold: float = 0.55,
    topn: int = 3,
    keywords=KEYWORDS,
    scorer_backend: str = "table",
    scorer_table: dict | None = None,
    context_bigrams: dict | None = None,
    lm_checkpoint: str | None = None,
) -> CorrectionConfig:
    """The correction config every entry point takes as ``cfg``.

    ``similarity_threshold``: the keyword path's shape-similarity cut-off.

    ``scorer_backend`` (one of ``SCORER_BACKENDS``; anything else raises
    ``ValueError``): ``"table"`` (char-keyed confusion table, default),
    ``"framed"`` (functions/framed_scorer.py — tokenize → frame → score
    through the reference's batch contract, context-bigram aware), or
    ``"lm"`` (functions/numpy_lm.py — the committed pure-numpy masked LM:
    real checkpoint load + forward pass + top-k at the masked positions).
    All are deterministic; framed with an empty bigram table equals table
    by construction (tests/test_framed_scorer.py).

    ``scorer_table``: override the built-in SCORER_TABLE with a plain dict
    ``char -> [(candidate, confidence), ...]`` — e.g. the output of the
    offline training loop (operators/confusion.scorer_table_from_stats via
    assets/scorer_table.scorer_table_from_df).

    ``context_bigrams``: the framed backend's bigram boosts (default: the
    demo DEFAULT_CONTEXT_BIGRAMS).  ``lm_checkpoint``: ``.npz`` path for
    the lm backend (default: the committed assets/numpy_lm.npz)."""
    if scorer_backend not in SCORER_BACKENDS:
        raise ValueError(
            f"scorer_backend must be one of {SCORER_BACKENDS}, got {scorer_backend!r}"
        )
    table = SCORER_TABLE if scorer_table is None else scorer_table
    bigrams = {}
    if scorer_backend == "framed":
        from ..functions.framed_scorer import DEFAULT_CONTEXT_BIGRAMS

        bigrams = DEFAULT_CONTEXT_BIGRAMS if context_bigrams is None else context_bigrams
    if scorer_backend == "lm" and lm_checkpoint is None:
        from ..functions.numpy_lm import DEFAULT_CHECKPOINT

        lm_checkpoint = DEFAULT_CHECKPOINT
    return CorrectionConfig(
        similarity_threshold=similarity_threshold,
        topn=topn,
        keywords=tuple(keywords),
        scorer_backend=scorer_backend,
        table=tuple(sorted((k, tuple(v)) for k, v in table.items())),
        bigrams=tuple(sorted(bigrams.items())),
        lm_checkpoint=lm_checkpoint,
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


@functools.cache
def _extract_memo():
    # bounded in documents: full, it holds ~14 MB of ~280-character HTML
    # documents and their extractions, a small share of a worker's RSS.
    # About 68% of the document rows in a gen_transcripts table repeat.
    return functools.lru_cache(maxsize=_EXTRACT_CACHE_MAX)(extract_any)


def extract_batch(texts: list) -> list:
    """``extract_any`` per row, through this worker's extraction memo for
    the rows ``extract_any`` hands to an extractor (``%LAYOUT`` / ``%PDF-``
    documents and text containing ``<``).  Plain rows and nulls pass
    through without entering the memo."""
    memo = _extract_memo()
    return [
        memo(t)
        if t is not None and (t.startswith((LAYOUT_MAGIC, PDF_MAGIC)) or "<" in t)
        else t
        for t in texts
    ]


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


class _Corrector:
    """One worker's kernels and row memo for one config."""

    def __init__(self, cfg: CorrectionConfig):
        self.cfg = cfg
        self.char_sim = _char_sim()
        self.tree = FilteredIndex(BKTree(cfg.keywords))
        self.kwset = frozenset(self.tree.words)
        self.memo: OrderedDict = OrderedDict()
        table = dict(cfg.table)

        def scorer(ch):
            cands = table.get(ch)
            if cands is None:
                # identity-dominant default; NOT topn_candidates, which
                # would leak the built-in table under a custom scorer_table
                return default_candidates(ch, cfg.topn)
            return cands

        self.scorer = scorer

    @functools.cached_property
    def batch_scorer(self):
        """The framed / masked-LM batch scorer, built on first use (the LM
        checkpoint loads once per worker — the reference's per-session
        load, masked_lm.py:386-398, as an executor-side cache)."""
        cfg = self.cfg
        if cfg.scorer_backend == "lm":
            from ..functions.numpy_lm import NumpyLMScorer

            return NumpyLMScorer(checkpoint_path=cfg.lm_checkpoint, topn=cfg.topn)
        from ..functions.framed_scorer import FramedTableScorer

        return FramedTableScorer(
            table=dict(cfg.table), context_bigrams=dict(cfg.bigrams), topn=cfg.topn
        )

    def _remember(self, key, hit) -> None:
        # FIFO in O(1); on a plain dict next(iter(d)) walks past every hole
        # that earlier pops left at the front of its entry table
        if len(self.memo) >= _ROW_CACHE_MAX:
            self.memo.popitem(last=False)
        self.memo[key] = hit

    def correct_batch(self, texts: list, errs: list, modes: list) -> list:
        """Corrected text per row; ``modes`` 0 = pass-through, 1 = keyword
        path, 2 = bert path."""
        cfg, memo = self.cfg, self.memo
        # this batch's framed results, consulted BEFORE the memo: FIFO
        # eviction under _ROW_CACHE_MAX pressure can drop keys scored
        # earlier in the same batch, and falling through to the char-keyed
        # kernel would silently switch which backend scored the row — the
        # local dict makes eviction affect only reuse, never which backend
        # answers
        local: dict = {}
        if cfg.scorer_backend in ("framed", "lm"):
            # batch-score the uncached bert rows through the framing path
            # (A1 batching inside the batch scorer), deduped
            # by row key — repetitive boilerplate rows score once
            need = {}
            for t, e, m in zip(texts, errs, modes):
                if m == 2 and t is not None:
                    key = (2, t, tuple(e))
                    if key not in memo and key not in need:
                        need[key] = (t, list(e))
            if need:
                local = framed_score_rows(
                    need, self.batch_scorer, cfg.topn, self.char_sim, self.scorer
                )
                for key, hit in local.items():
                    self._remember(key, hit)
        out = []
        for t, e, m in zip(texts, errs, modes):
            if m not in (1, 2) or t is None:
                out.append(t)
                continue
            key = (m, t, tuple(e))
            hit = local.get(key)
            if hit is None:
                hit = memo.get(key)
            if hit is None:
                if m == 1:
                    hit = keyword_correct_one(
                        t, e, self.tree, self.kwset, self.char_sim,
                        cfg.similarity_threshold,
                    )
                else:
                    hit = bert_correct_one(t, e, self.char_sim, self.scorer, cfg.topn)
                self._remember(key, hit)
            out.append(hit)
        return out


def correct_batch(cfg: CorrectionConfig, texts: list, errs: list, modes: list) -> list:
    """THE correction batch loop, through this worker's memo for ``cfg``."""
    corrector = _CORRECTORS.get(cfg)
    if corrector is None:
        corrector = _CORRECTORS[cfg] = _Corrector(cfg)
    return corrector.correct_batch(texts, errs, modes)


def route_rows(texts: list, err_keys: list, bizes: list) -> tuple[list, list]:
    """Eligibility + dispatch per (extracted) row: ``(modes, errs)``.

    ``err_keys`` are operators/detect.err_prob_key values: the
    sub-threshold positions, or None for null probs (every position is
    suspect — the reference's non-prob path).  Biz ``report`` routes to
    the keyword corrector, anything else to bert (corrector/__init__.py:
    20-38).  A null text is never eligible."""
    modes, errs = [], []
    for t, k, b in zip(texts, err_keys, bizes):
        mode, err = 0, None
        if t is not None:
            report = b == "report"
            if do_correct_filter_keyword(t) if report else do_correct_filter_bert(t):
                err = list(range(len(t))) if k is None else k
                if err:
                    mode = 1 if report else 2
        modes.append(mode)
        errs.append(err)
    return modes, errs


def single_pass_udf(
    cfg: CorrectionConfig, spark: SparkSession | None = None, row_counter=None
):
    """The single-crossing scalar Arrow UDF
    ``(text, err_prob_key, biz) → RESULT_TYPE``: extraction, eligibility
    and correction per batch, as ``pa.Array`` in and out with no pandas
    conversion.

    ``row_counter``: optional Spark accumulator; the UDF adds the batch
    size per invocation — tests use it to assert the expensive stage
    executes exactly once per row per job (no recompute from extra
    actions, no copy of the UDF per unpacked struct field)."""
    spark = spark or SparkSession.getActiveSession()
    bc_cfg = spark.sparkContext.broadcast(cfg)

    @F.arrow_udf(RESULT_TYPE)
    def correct_rows(text: pa.Array, err_key: pa.Array, biz: pa.Array) -> pa.Array:
        if row_counter is not None:
            row_counter.add(len(text))
        texts = extract_batch(text.to_pylist())
        modes, errs = route_rows(texts, err_key.to_pylist(), biz.to_pylist())
        corrected = correct_batch(bc_cfg.value, texts, errs, modes)
        return pa.StructArray.from_arrays(
            [
                pa.array(texts, pa.string()),
                pa.array(modes, pa.int32()),
                pa.array(corrected, pa.string()),
            ],
            names=RESULT_TYPE.fieldNames(),
        )

    return correct_rows


def unpack_result(df: DataFrame, res_col: str) -> DataFrame:
    """Natively unpack the UDF's struct column: ``text`` is replaced in
    place by the extracted text, ``corr_mode`` and ``text_corrected`` are
    appended, ``res_col`` is dropped."""
    res = F.col(res_col)
    cols = [
        res["text"].alias(c) if c == "text" else F.col(c)
        for c in df.columns
        if c != res_col
    ]
    return df.select(
        *cols,
        res["corr_mode"].alias("corr_mode"),
        res["text_corrected"].alias("text_corrected"),
    )


def with_single_pass_correction(
    df: DataFrame,
    cfg: CorrectionConfig | None = None,
    spark: SparkSession | None = None,
    row_counter=None,
) -> DataFrame:
    """Extraction, detection and correction with ONE Python crossing.

    The probs-threshold half of detection runs natively
    (operators/detect.err_prob_key); only ``(text, err_prob_key, tool)``
    cross into the Arrow UDF — ``probs`` and every other column stay in
    the JVM.  Returns ``df`` with ``text`` rewritten by extraction and
    ``corr_mode`` (0 pass / 1 keyword / 2 bert) and ``text_corrected``
    appended.  ``cfg=None`` is ``correction_config()``."""
    correct_rows = single_pass_udf(cfg or correction_config(), spark, row_counter)
    out = df.withColumn(
        "_corr",
        correct_rows(F.col("text"), err_prob_key(F.col("probs")), F.col("tool")),
    )
    return unpack_result(out, "_corr")


def with_dispatched_correction(
    df: DataFrame,
    cfg: CorrectionConfig | None = None,
    spark: SparkSession | None = None,
    row_counter=None,
) -> DataFrame:
    """Correction with per-row corrector dispatch over native detection
    columns, as a Series→Series pandas UDF: adds ``text_corrected`` from
    ``(text, err_pos, corr_mode)``.

    ``corr_mode``: 0 = pass-through, 1 = keyword path, 2 = bert path — the
    Spark analog of the reference's biz_type registry
    (corrector/__init__.py:20-38) without per-row Python objects.
    ``cfg=None`` is ``correction_config()``."""
    spark = spark or SparkSession.getActiveSession()
    bc_cfg = spark.sparkContext.broadcast(cfg or correction_config())

    @F.pandas_udf(StringType())
    def correct_udf(text: pd.Series, err_pos: pd.Series, mode: pd.Series) -> pd.Series:
        if row_counter is not None:
            row_counter.add(len(text))
        # list iteration beats Series iteration (no per-element numpy boxing)
        return pd.Series(
            correct_batch(bc_cfg.value, text.tolist(), err_pos.tolist(), mode.tolist())
        )

    return df.withColumn(
        "text_corrected",
        correct_udf(F.col("text"), F.col("err_pos"), F.col("corr_mode")),
    )
