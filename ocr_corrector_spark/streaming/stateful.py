"""The one custom stateful streaming operator: conversation assembly.

The batch engine reassembles turns with a salted shuffle + sort
(operators/reassemble.py); on an unbounded stream "the conversation is
complete" is itself a streaming question.  This operator implements it
with ``applyInPandasWithState`` (the Spark-idiomatic custom stateful
operator): per ``conv_id``, turns accumulate in state; when the event-time
watermark passes the conversation's last activity plus a session gap, the
assembled conversation is emitted in stable ``turn_idx`` order and the
state is dropped.

Semantics notes:

* state is bounded per conversation (arrays of turn index/text), and the
  session-gap timeout guarantees eventual emission + state cleanup — no
  unbounded state growth;
* turns arriving out of order within the gap are handled (sort on
  emission); duplicate turn_idx keeps the latest text (idempotent
  upstream redelivery);
* requires ``withWatermark`` on the event-time column ahead of the
  groupBy — enforced here.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("n_turns", IntegerType()),
        StructField("conversation", StringType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("turn_idxs", ArrayType(IntegerType())),
        StructField("texts", ArrayType(StringType())),
        StructField("max_ts_ms", LongType()),
    ]
)


def _assemble_fn(gap_ms: int, text_col: str, session_tz: str = "UTC"):
    def assemble(
        key: Tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            turn_idxs, texts, _ = state.get
            order = sorted(range(len(turn_idxs)), key=lambda i: turn_idxs[i])
            conversation = "\n".join(texts[i] for i in order)
            state.remove()
            yield pd.DataFrame(
                {
                    "conv_id": [key[0]],
                    "n_turns": [len(turn_idxs)],
                    "conversation": [conversation],
                }
            )
            return

        if state.exists:
            turn_idxs, texts, max_ts_ms = state.get
            turn_idxs, texts = list(turn_idxs), list(texts)
        else:
            turn_idxs, texts, max_ts_ms = [], [], 0
        by_idx = dict(zip(turn_idxs, texts))
        for pdf in pdfs:
            # applyInPandasWithState delivers tz-naive timestamps rendered
            # in spark.sql.session.timeZone, but setTimeoutTimestamp expects
            # UTC epoch ms — localize naive stamps to the session tz
            # (captured on the driver) and convert to UTC before the int64
            # cast, or the session-gap timeout skews by the tz offset.
            ts = pdf["ts"]
            if ts.dt.tz is None:
                ts = ts.dt.tz_localize(
                    session_tz, ambiguous="NaT", nonexistent="shift_forward"
                )
            ts = ts.dt.tz_convert("UTC")
            ts_ms = (ts.astype("int64") // 1_000_000).tolist()
            for idx, text, t in zip(pdf["turn_idx"], pdf[text_col], ts_ms):
                by_idx[int(idx)] = text  # latest wins on redelivery
                if t > max_ts_ms:
                    max_ts_ms = t
        state.update((list(by_idx.keys()), list(by_idx.values()), max_ts_ms))
        # emit once the watermark passes last activity + session gap
        state.setTimeoutTimestamp(max_ts_ms + gap_ms)
        return
        yield  # pragma: no cover - makes this a generator on the update path

    return assemble


def assemble_conversations(
    df: DataFrame,
    gap: str = "5 minutes",
    watermark_delay: str = "1 minute",
    text_col: str = "text_corrected",
) -> DataFrame:
    """Session-gap conversation assembly over a streaming DataFrame.

    ``df`` must carry (conv_id, turn_idx, ts, <text_col>).  Returns a
    stream of (conv_id, n_turns, conversation) rows, one per completed
    conversation, turns joined in turn_idx order.
    """
    gap_ms = _parse_ttl_ms(gap)
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    session_tz = (
        active.conf.get("spark.sql.session.timeZone", "UTC") if active else "UTC"
    )
    return (
        df.withWatermark("ts", watermark_delay)
        .groupBy("conv_id")
        .applyInPandasWithState(
            _assemble_fn(gap_ms, text_col, session_tz),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


_TTL_UNIT_MS = {
    "millisecond": 1, "milliseconds": 1, "ms": 1,
    "second": 1000, "seconds": 1000, "sec": 1000, "secs": 1000, "s": 1000,
    "minute": 60_000, "minutes": 60_000, "min": 60_000, "mins": 60_000,
    "hour": 3_600_000, "hours": 3_600_000, "h": 3_600_000,
    "day": 86_400_000, "days": 86_400_000, "d": 86_400_000,
}


def _parse_ttl_ms(ttl: str) -> int:
    """Parse a '<count> <unit>' interval (Spark CalendarInterval-style
    spelling, e.g. '90 seconds', '1 day') with a descriptive error instead
    of a bare ValueError/KeyError on unsupported input."""
    parts = ttl.split()
    if len(parts) == 2 and parts[0].lstrip("+").isdigit():
        unit = parts[1].lower()
        if unit in _TTL_UNIT_MS:
            return int(parts[0]) * _TTL_UNIT_MS[unit]
    raise ValueError(
        f"unsupported TTL interval {ttl!r}: expected '<count> <unit>' with "
        f"unit one of {sorted(set(_TTL_UNIT_MS))}"
    )

