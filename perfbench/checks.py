"""Output checks.  Every timed rep collects its output's keys, one hash per
row and the sampled turns' text; a rep fails when the row count differs
from the input's, the keys are out of ``(conv_id, turn_idx)`` order, or a
sampled turn differs from ``extract_any`` + the pure-Python oracle."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_corrector_spark.functions.rules import (
    do_correct_filter_bert,
    do_correct_filter_keyword,
    find_err_pos_by_prob,
)
from ocr_corrector_spark.operators.extract import extract_any
from ocr_corrector_spark.oracle import BertOracle, KeywordOracle

from .inputs import raw_format, sample_flag, sampled


def collect_output(df: DataFrame, extra=()) -> pa.Table:
    """The benchmark's action: keys, a hash over every column, the sampled
    turns' text, and ``extra`` columns, collected in output order."""
    cols = [
        F.col("conv_id"),
        F.col("turn_idx"),
        F.xxhash64(*df.columns).alias("h"),
    ]
    if "text_corrected" in df.columns:
        flag = sample_flag()
        cols += [
            F.when(flag, F.col("text")).alias("s_text"),
            F.when(flag, F.col("text_corrected")).alias("s_corr"),
        ]
    return df.select(*cols, *extra).toArrow()


def checksum(table: pa.Table) -> int:
    return int(table.column("h").to_numpy().astype(np.uint64).sum(dtype=np.uint64))


class Oracle:
    """Expected ``(text, text_corrected)`` of the sampled turns of one
    input, with each turn's extraction format and correction route."""

    def __init__(self):
        self.keyword = KeywordOracle(similarity_threshold=0.55)
        self.bert = BertOracle()

    def expect(self, rows: list[dict]) -> dict:
        out = {}
        for r in rows:
            if not sampled(r["conv_id"], r["turn_idx"]):
                continue
            probs = r["probs"]
            text = extract_any(r["text"])
            if r["tool"] == "report":
                oracle, eligible = self.keyword, do_correct_filter_keyword(text)
            else:
                oracle, eligible = self.bert, do_correct_filter_bert(text)
            if not eligible or (probs is not None and not find_err_pos_by_prob(probs)):
                route = "pass"
            else:
                route = "keyword" if r["tool"] == "report" else "bert"
            out[(r["conv_id"], r["turn_idx"])] = {
                "raw": r["text"],
                "text": text,
                "corr": oracle.correct_row(text, probs),
                "probs": probs,
                "format": raw_format(r["text"]),
                "route": route,
            }
        return out


def coverage(expected: dict) -> dict:
    """Sampled turns per extraction format and per correction route."""
    cov: dict[str, int] = {}
    for e in expected.values():
        for k in ("format:" + e["format"], "route:" + e["route"]):
            cov[k] = cov.get(k, 0) + 1
    return cov


def problems(table: pa.Table, n_rows: int, expected: dict, ordered: bool = True) -> list[str]:
    """Everything wrong with one collected output; empty when it is right."""
    found = []
    if table.num_rows != n_rows:
        found.append(f"rows {table.num_rows} != input {n_rows}")
    keys = list(zip(table.column("conv_id").to_pylist(), table.column("turn_idx").to_pylist()))
    if ordered and any(a > b for a, b in zip(keys, keys[1:])):
        found.append("output not in (conv_id, turn_idx) order")
    seen, wrong = set(), []
    texts = table.column("s_text").to_pylist()
    corrs = table.column("s_corr").to_pylist()
    for key, text, corr in zip(keys, texts, corrs):
        want = expected.get(key)
        if want is None:
            continue
        seen.add(key)
        if (text, corr) != (want["text"], want["corr"]):
            wrong.append(f"{key}: got {corr!r}, oracle {want['corr']!r}")
    if wrong:
        found.append(f"{len(wrong)} sampled turns differ from the oracle, e.g. {wrong[:3]}")
    if len(seen) != len(expected):
        found.append(f"{len(expected) - len(seen)} sampled turns missing from output")
    return found
