"""The worker's extraction memo answers as ``extract_any`` does, holds only
document rows and stays bounded (no Spark: ``extract_batch`` is what the
single-crossing UDF calls per batch)."""

from __future__ import annotations

from unittest import mock

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_corrector_spark.operators import correct
from ocr_corrector_spark.operators.correct import _extract_memo, extract_batch
from ocr_corrector_spark.operators.extract import extract_any

PLAIN = [None, "", "未还本金", "本着平等、自愿、诚信、互利的原则", "a > b", "%LAYOU", "x%PDF-1.4"]
DOCS = [
    "a < b",  # contains '<' but no markup: the HTML extractor passes it through
    "<html><body><nav><a href='/'>home</a></nav><p>正文内容在此处</p></body></html>",
    "<div class='sidebar'>ads</div><p>主内容段落，足够长的正文文本</p><footer>©</footer>",
    "<div><p>未闭合的段落",  # malformed: unclosed tags
    "<p class=\"x>broken <b>粗体</p>",
    "<<p>>&amp;&#x4e2d;<//p>",
    "%LAYOUT v1\nP0 40 40 560 80 标题\nP0 40 200 280 400 左栏\nP0 320 200 560 400 右栏",
    "%LAYOUT v1\nP0 1 2 3 4 hello world\nP1 5.5 6 7 8 第二页正文",
    "%LAYOUT v1\nP0 not numbers here",  # malformed %LAYOUT: passes through
    "%LAYOUT",
    "%PDF-1.4\n1 0 obj << /Type /Catalog >> endobj",
    "%PDF-\ufffd中文",  # not latin-1 encodable
]


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


_ROW = st.one_of(st.sampled_from(PLAIN), _doc())
# batches share rows through the fixed pools, and a batch repeats its rows
_BATCHES = st.lists(
    st.lists(_ROW, min_size=1, max_size=8).map(lambda b: b + b[::2]),
    min_size=1,
    max_size=4,
)


@given(_BATCHES)
@settings(max_examples=200, deadline=None)
def test_memo_equals_extract_any_and_holds_only_documents(batches):
    _extract_memo.cache_clear()
    try:
        for batch in batches:
            assert extract_batch(batch) == [extract_any(t) for t in batch]
        docs = {t for b in batches for t in b if t not in PLAIN}
        info = _extract_memo().cache_info()
        # every distinct document misses once; no plain row is ever stored
        assert info.misses == info.currsize == len(docs)
    finally:
        _extract_memo.cache_clear()


@given(_BATCHES)
@settings(max_examples=100, deadline=None)
def test_memo_is_bounded_and_answer_preserving(batches):
    _extract_memo.cache_clear()
    try:
        with mock.patch.object(correct, "_EXTRACT_CACHE_MAX", 3):
            for _ in range(2):  # the replay finds most documents evicted
                for batch in batches:
                    assert extract_batch(batch) == [extract_any(t) for t in batch]
                    info = _extract_memo().cache_info()
                    assert info.currsize <= info.maxsize == 3
    finally:
        _extract_memo.cache_clear()
