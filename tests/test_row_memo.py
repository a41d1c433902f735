"""The correction UDF's per-worker memo answers as the unmemoized stages do,
computes each distinct input once, and stays bounded and FIFO (no Spark:
``_Corrector.correct_rows`` is the single crossing's body)."""

from __future__ import annotations

from unittest import mock

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from ocr_corrector_spark.operators import correct
from ocr_corrector_spark.operators.correct import _Corrector, correction_config, route_rows
from ocr_corrector_spark.operators.extract import extract_any

BACKENDS = ["table", "framed"]
CFGS = {b: correction_config(scorer_backend=b) for b in BACKENDS}
# correct_batch holds no memo, so one worker per backend is a fresh one
REFERENCE = {b: _Corrector(cfg) for b, cfg in CFGS.items()}

PLAIN = [
    None, "", "未还本金", "宋还本全", "术还本金", "大安门广场", "我爱北京大安门",
    "本着平等、自愿、诚信、互利的原则", "a > b", "%LAYOU", "x%PDF-1.4",
]
DOCS = [
    "a < b",  # contains '<' but no markup: the HTML extractor passes it through
    "<html><body><nav><a href='/'>home</a></nav><p>正文内容在此处</p></body></html>",
    "<div class='sidebar'>ads</div><p>主内容段落，足够长的正文文本</p><footer>©</footer>",
    "<div><p>未闭合的段落",  # malformed: unclosed tags
    "<p class=\"x>broken <b>粗体</p>",
    "<<p>>&amp;&#x4e2d;<//p>",
    "<html><body><p>宋还本全</p></body></html>",
    "%LAYOUT v1\nP0 40 40 560 80 标题\nP0 40 200 280 400 左栏\nP0 320 200 560 400 右栏",
    "%LAYOUT v1\nP0 1 2 3 4 hello world\nP1 5.5 6 7 8 第二页正文",
    "%LAYOUT v1\nP0 1 2 3 4 大安门广场",
    "%LAYOUT v1\nP0 not numbers here",  # malformed %LAYOUT: passes through
    "%LAYOUT",
    "%PDF-1.4\n1 0 obj << /Type /Catalog >> endobj",
    "%PDF-\ufffd中文",  # not latin-1 encodable
]
# err_prob_key values: None for null probs (every position suspect),
# [] for no sub-threshold position
ERR_KEYS = [None, [], [0], [0, 3], [4]]
TOOLS = ["report", "chat"]


@st.composite
def _doc(draw):
    """A fixed document, or a fresh one built around random text."""
    if draw(st.booleans()):
        return draw(st.sampled_from(DOCS))
    body = draw(st.text(st.sampled_from("未还本金正文<>/&;ab \n"), max_size=12))
    template = draw(
        st.sampled_from(["<p>{}</p>", "<div>{}", "%LAYOUT v1\nP0 1 2 3 4 {}", "%PDF-{}", "{}<br>"])
    )
    return template.format(body)


_ROW = st.tuples(
    st.one_of(st.sampled_from(PLAIN), _doc()),
    st.sampled_from(ERR_KEYS),
    st.sampled_from(TOOLS),
)
# batches share rows through the fixed pools, and a batch repeats its rows
_BATCHES = st.lists(
    st.lists(_ROW, min_size=1, max_size=8).map(lambda b: b + b[::2]),
    min_size=1,
    max_size=4,
)
A = ("宋还本全", [0, 3], "report")
B = ("大安门广场", [0], "chat")
C = ("<p>宋还本全</p>", None, "report")
D = ("%LAYOUT", [], "chat")


def _columns(batch):
    return [[row[i] for row in batch] for i in range(3)]


def _key(row):
    t, k, b = row
    return (t, None if k is None else tuple(k), b)


def _expected(backend, batch):
    texts, keys, tools = _columns(batch)
    extracted = [extract_any(t) for t in texts]
    modes, errs = route_rows(extracted, keys, tools)
    corrected = REFERENCE[backend].correct_batch(extracted, errs, modes)
    return list(zip(extracted, modes, corrected))


@pytest.mark.parametrize("backend", BACKENDS)
@given(batches=_BATCHES)
@settings(max_examples=100, deadline=None)
def test_memo_equals_the_stages_and_computes_each_triple_once(backend, batches):
    worker = _Corrector(CFGS[backend])
    with mock.patch.object(correct, "extract_any", side_effect=extract_any) as miss:
        for batch in batches:
            assert worker.correct_rows(*_columns(batch)) == _expected(backend, batch)
    distinct = list(dict.fromkeys(_key(r) for batch in batches for r in batch))
    assert miss.call_count == len(distinct)
    assert list(worker.memo) == distinct


@pytest.mark.parametrize("backend", BACKENDS)
@given(cap=st.integers(2, 5), batches=_BATCHES)
# the second batch's misses C, D evict its own leading hits A, B, which it
# repeats at its end
@example(cap=2, batches=[[A, B], [A, B, C, D, A, B]])
@settings(max_examples=100, deadline=None)
def test_memo_is_bounded_fifo_and_answer_preserving(backend, cap, batches):
    worker = _Corrector(CFGS[backend])
    fifo, misses = [], 0  # model: insert the batch's new keys, drop the oldest past cap
    with (
        mock.patch.object(correct, "_ROW_CACHE_MAX", cap),
        mock.patch.object(correct, "extract_any", side_effect=extract_any) as miss,
    ):
        for batch in batches * 2:  # the replay finds most rows evicted
            assert worker.correct_rows(*_columns(batch)) == _expected(backend, batch)
            new = [k for k in dict.fromkeys(map(_key, batch)) if k not in fifo]
            misses += len(new)
            fifo = (fifo + new)[-cap:]
            assert list(worker.memo) == fifo
            assert miss.call_count == misses


def _unique(n, start=0):
    """``n`` fresh bert-route rows."""
    return [("大安门广场" + chr(0x4E00 + i), [0], "chat") for i in range(start, start + n)]


def _admission(window=8, cold=4, sample=4):
    return mock.patch.multiple(correct, _MEMO_WINDOW=window, _MEMO_COLD=cold, _MEMO_SAMPLE=sample)


def test_a_stream_without_repeats_stops_filling_the_memo():
    worker = _Corrector(CFGS["table"])
    stream = _unique(40)
    with _admission():
        for i in range(0, 40, 4):
            batch = stream[i : i + 4]
            assert worker.correct_rows(*_columns(batch)) == _expected("table", batch)
    # the first window (8 rows, none repeated) closes with the second
    # batch: from that batch on, every 4th fresh row is admitted
    assert list(worker.memo) == [_key(r) for r in stream[:4] + stream[4::4]]
    assert worker.sampling


def test_a_stream_that_starts_repeating_is_admitted_again():
    worker = _Corrector(CFGS["table"])
    with _admission():
        for i in range(0, 16, 4):  # two windows without a repeat
            worker.correct_rows(*_columns(_unique(4, i)))
        assert worker.sampling
        # one window in which half the rows repeat within their batch
        for i in range(16, 24, 2):
            batch = _unique(2, i) * 2
            assert worker.correct_rows(*_columns(batch)) == _expected("table", batch)
        assert not worker.sampling
        size = len(worker.memo)
        fresh = _unique(4, 100)
        worker.correct_rows(*_columns(fresh))
    assert list(worker.memo)[size:] == [_key(r) for r in fresh]


@pytest.mark.parametrize("backend", BACKENDS)
@given(cap=st.integers(1, 60), batches=_BATCHES)
@settings(max_examples=100, deadline=None)
def test_the_character_bound_evicts_the_oldest_first(backend, cap, batches):
    worker = _Corrector(CFGS[backend])
    fifo: dict = {}  # model: key -> its characters, oldest first
    with mock.patch.object(correct, "_ROW_CACHE_CHARS", cap):
        for batch in batches * 2:
            expected = _expected(backend, batch)
            assert worker.correct_rows(*_columns(batch)) == expected
            # the batch's new keys, in order; one longer than cap is not kept
            new = {k: r for k, r in zip(map(_key, batch), expected) if k not in fifo}
            for key, row in new.items():
                chars = sum(len(s) for s in (key[0], row[0], row[2]) if s)
                if chars > cap:
                    continue
                while sum(fifo.values()) + chars > cap:
                    del fifo[next(iter(fifo))]
                fifo[key] = chars
            assert list(worker.memo) == list(fifo)
            assert worker.memo_chars == sum(fifo.values())


def test_a_repetitive_stream_keeps_admitting_every_row():
    """A dup_heavy-shaped stream (half the rows from a small pool, half
    fresh) under the real constants: every distinct row is computed once,
    as with a memo that admits all."""
    pool = [A, B, C, D, ("我爱北京大安门", [4], "doc"), ("逾期3天要还", [2], "doc")]
    rows = [pool[i % len(pool)] if i % 2 else _unique(1, i)[0] for i in range(3 * correct._MEMO_WINDOW)]
    worker = _Corrector(CFGS["table"])
    with mock.patch.object(correct, "extract_any", side_effect=extract_any) as miss:
        for i in range(0, len(rows), 2000):
            worker.correct_rows(*_columns(rows[i : i + 2000]))
    assert miss.call_count == len(set(map(_key, rows)))
    assert not worker.sampling
