"""Workload inputs: generated from the seed, written as parquet, and
fingerprinted so that a change to a generator shows up as an input change.

* ``dup_heavy`` is the package's own ``gen_transcripts`` table: about half
  the turns repeat a 14-row corpus, 1/5 are HTML, about 1/7 are
  ``%LAYOUT`` documents, and every 97th conversation has 200 turns.
* ``unique_text`` is generated here: every turn is distinct plain CJK
  text, every conversation has the same number of turns, keyword-route
  rows are short labels (half derived from ``KEYWORDS`` by substituting
  1-2 characters, so the BK-tree finds them; half random, so it does not)
  and masked-LM rows are at most 62 characters with 1-3 low-probability
  positions.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from ocr_corrector_spark.assets import KEYWORDS
from ocr_corrector_spark.assets.scorer_table import SCORER_TABLE
from ocr_corrector_spark.functions.html_extract import _HTML_HINT_RE
from ocr_corrector_spark.functions.layout_extract import LAYOUT_MAGIC
from ocr_corrector_spark.sources.formats import write_transcripts
from ocr_corrector_spark.sources.transcripts import gen_transcripts

# conversations per workload at scale 1.0: ~39k dup_heavy and 48k unique_text
# turns, so that a run stays near a minute when the host is slow
N_CONVS = {"dup_heavy": 6_000, "unique_text": 8_000}
UNIQUE_TURNS = 6
# one turn in SAMPLE_MOD is checked against the oracle
SAMPLE_MOD = 64

# every 21st unified ideograph: a fixed pool of ~1k characters, so the
# correction workers' per-character caches fill during the warm-up run
_CJK = [chr(c) for c in range(0x4E00, 0x9FA6, 21)]
_KW_LABELS = [k for k in KEYWORDS if len(k) >= 2]
_SCORED_CHARS = sorted(SCORER_TABLE)


def sample_flag() -> Column:
    key = F.concat_ws("/", F.col("conv_id"), F.col("turn_idx").cast("string"))
    return F.pmod(F.crc32(key), F.lit(SAMPLE_MOD)) == 0


def raw_format(text: str | None) -> str:
    """The extraction format a raw turn dispatches to (operators/extract)."""
    if text is None:
        return "plain"
    if text.startswith(LAYOUT_MAGIC):
        return "layout"
    # the HTML extractor's own test for markup
    return "html" if "<" in text and _HTML_HINT_RE.search(text) else "plain"


def write_input(spark: SparkSession, workload: str, seed: int, path: str, scale: float) -> None:
    n_convs = max(1, int(N_CONVS[workload] * scale))
    if workload == "dup_heavy":
        df = gen_transcripts(spark, n_convs=n_convs, seed=seed)
        write_transcripts(df.withColumn("ts", F.col("ts").cast("timestamp_ntz")), path)
    else:
        _write_unique_text(n_convs, seed, path, files=spark.sparkContext.defaultParallelism)


def _unique_row(rng: random.Random) -> tuple[str, str, list[int]]:
    if rng.random() < 1 / 3:
        if rng.random() < 0.5:
            chars = list(rng.choice(_KW_LABELS))
        else:
            chars = rng.choices(_CJK, k=rng.randint(2, 8))
        errs = sorted(rng.sample(range(len(chars)), rng.randint(1, 2)))
        for e in errs:
            chars[e] = rng.choice(_CJK)
        tool = "report"
    else:
        chars = rng.choices(_CJK, k=rng.randint(8, 62))
        errs = sorted(rng.sample(range(len(chars)), rng.randint(1, 3)))
        for e in errs:
            if rng.random() < 0.25:
                chars[e] = rng.choice(_SCORED_CHARS)
        tool = "doc"
    if rng.random() < 0.1:
        errs = []
    return "".join(chars), tool, errs


def _write_unique_text(n_convs: int, seed: int, path: str, files: int) -> None:
    rng = random.Random(seed)
    cols: dict[str, list] = {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts", "probs")}
    day0 = dt.datetime(2026, 1, 1)
    for c in range(n_convs):
        for t in range(UNIQUE_TURNS):
            text, tool, errs = _unique_row(rng)
            probs = [0.99] * len(text)
            for e in errs:
                probs[e] = 0.56
            cols["conv_id"].append(f"conv-{c:06d}")
            cols["turn_idx"].append(t)
            cols["role"].append(("user", "assistant", "tool")[t % 3])
            cols["text"].append(text)
            cols["tool"].append(tool)
            cols["ts"].append(day0 + dt.timedelta(days=c % 365, seconds=t))
            cols["probs"].append(probs)
    table = pa.table(
        {
            "conv_id": pa.array(cols["conv_id"], pa.string()),
            "turn_idx": pa.array(cols["turn_idx"], pa.int32()),
            "role": pa.array(cols["role"], pa.string()),
            "text": pa.array(cols["text"], pa.string()),
            "tool": pa.array(cols["tool"], pa.string()),
            "ts": pa.array(cols["ts"], pa.timestamp("us")),
            "probs": pa.array(cols["probs"], pa.list_(pa.float64())),
        }
    )
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


def read_rows(path: str) -> list[dict]:
    """The input's rows in this process (no Spark job).  Each row carries
    ``err``, its positions with probability below 0.9 (None for null
    probs); only sampled rows carry ``probs`` itself."""
    table = pq.read_table(path, columns=["conv_id", "turn_idx", "text", "tool", "probs"])
    probs = table.column("probs").combine_chunks()
    offsets = probs.offsets.to_numpy()
    values = probs.values.to_numpy(zero_copy_only=False)
    valid = probs.is_valid().to_numpy(zero_copy_only=False)
    low = np.flatnonzero(values < 0.9)
    low_row = np.searchsorted(offsets, low, side="right") - 1
    errs: list[list[int]] = [[] for _ in range(table.num_rows)]
    for r, i in zip(low_row.tolist(), (low - offsets[low_row]).tolist()):
        errs[r].append(i)
    rows = []
    columns = [table.column(c).to_pylist() for c in ("conv_id", "turn_idx", "text", "tool")]
    for i, (conv_id, turn_idx, text, tool) in enumerate(zip(*columns)):
        row = {"conv_id": conv_id, "turn_idx": turn_idx, "text": text, "tool": tool}
        row["err"] = tuple(errs[i]) if valid[i] else None
        if sampled(conv_id, turn_idx):
            row["probs"] = values[offsets[i] : offsets[i + 1]].tolist() if valid[i] else None
        rows.append(row)
    return rows


def sampled(conv_id: str, turn_idx: int) -> bool:
    """``sample_flag`` for one turn, in Python."""
    return zlib.crc32(f"{conv_id}/{turn_idx}".encode()) % SAMPLE_MOD == 0


def fingerprint(rows: list[dict]) -> dict:
    """Row count, characters, format mix, per-route distinct ratio of the
    correction key inputs (text + low-probability positions), and an
    order-independent hash of those inputs."""
    formats = {"html": 0, "layout": 0, "plain": 0}
    routed = {"keyword": [], "bert": []}
    chars = digest = 0
    for r in rows:
        text = r["text"]
        formats[raw_format(text)] += 1
        chars += len(text or "")
        routed["keyword" if r["tool"] == "report" else "bert"].append((text, r["err"]))
        row = repr((r["conv_id"], r["turn_idx"], text, r["tool"], r["err"])).encode()
        digest += int.from_bytes(hashlib.blake2b(row, digest_size=8).digest(), "little")
    return {
        "rows": len(rows),
        "chars": chars,
        "formats": formats,
        "distinct_ratio_by_tool": {
            k: round(len(set(v)) / len(v), 4) if v else None for k, v in routed.items()
        },
        "content_hash": f"{digest % 2**64:016x}",
    }
