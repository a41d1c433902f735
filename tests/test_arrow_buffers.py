"""The single crossing's Arrow helpers (operators/correct.py) read and build
arrays from their buffers as pyarrow's own conversions do (no Spark):
``_strings`` equals ``to_pylist``, ``_string_array`` equals ``pa.array``,
``_err_keys`` equals a key computed from ``to_pylist``, and
``correct_arrow``'s result, its nulls filled as ``unpack_result`` fills
them, equals the worker's answer."""

from __future__ import annotations

import math

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_corrector_spark.functions.rules import PROB_THRESHOLD
from ocr_corrector_spark.operators.correct import (
    _Corrector,
    _err_keys,
    _string_array,
    _strings,
    correct_arrow,
    correction_config,
)

# astral-plane, combining and multi-byte characters next to ASCII and CJK
_CHARS = st.sampled_from("ab <>/未还本金大安门é́ٓ\U0001F600\U00020000\x00")
_TEXT = st.one_of(st.none(), st.text(_CHARS, max_size=12))
_PROB = st.one_of(
    st.none(),
    st.sampled_from(
        [math.nan, math.inf, -math.inf, -0.0, 0.0, PROB_THRESHOLD,
         math.nextafter(PROB_THRESHOLD, 0.0), 0.56, 0.99]
    ),
    st.floats(allow_nan=True, allow_infinity=True, width=32),
)


@st.composite
def _sliced(draw, values, arrow_type):
    """An array of ``arrow_type`` from a drawn list, sliced at random."""
    items = draw(st.lists(values, max_size=12))
    arr = pa.array(items, arrow_type)
    start = draw(st.integers(0, len(items)))
    length = draw(st.integers(0, len(items) - start))
    return arr.slice(start, length)


def _key(probs, floats: bool):
    """The error key of one row, from Python values."""
    if probs is None:
        return None
    if not floats:
        return tuple(probs)
    return tuple(i for i, p in enumerate(probs) if p is not None and p < PROB_THRESHOLD)


@given(st.one_of(
    _sliced(_TEXT, pa.string()),
    _sliced(_TEXT, pa.large_string()),
))
@settings(max_examples=300, deadline=None)
def test_strings_equal_to_pylist(arr):
    assert _strings(arr) == arr.to_pylist()


@given(st.lists(_TEXT, max_size=12))
@settings(max_examples=300, deadline=None)
def test_string_array_equals_pa_array(values):
    built = _string_array(values)
    built.validate(full=True)
    assert built.equals(pa.array(values, pa.string()))
    assert built.to_pylist() == values


@given(st.one_of(
    _sliced(st.one_of(st.none(), st.lists(_PROB, max_size=8)), pa.list_(pa.float64())),
    _sliced(st.one_of(st.none(), st.lists(_PROB, max_size=8)), pa.list_(pa.float32())),
    _sliced(st.one_of(st.none(), st.lists(_PROB, max_size=8)), pa.large_list(pa.float64())),
    _sliced(
        st.one_of(st.none(), st.lists(st.integers(0, 2**31 - 1), max_size=8)),
        pa.list_(pa.int32()),
    ),
))
@settings(max_examples=300, deadline=None)
def test_err_keys_equal_keys_from_to_pylist(arr):
    floats = pa.types.is_floating(arr.type.value_type)
    assert _err_keys(arr) == [_key(v, floats) for v in arr.to_pylist()]


def test_err_keys_read_a_sliced_child():
    """A list array whose child array is itself a slice."""
    child = pa.array([0.1, 0.2, 0.95, None, 0.5, 0.99], pa.float64()).slice(2)
    arr = pa.ListArray.from_arrays(pa.array([0, 2, 2, 4], pa.int32()), child)
    assert _err_keys(arr) == [(), (), (0,)]
    assert _err_keys(arr.slice(2)) == [(0,)]


_ROWS = st.lists(
    st.tuples(
        st.one_of(
            _TEXT,
            st.sampled_from(
                ["宋还本全", "我爱北京大安门", "<p>宋还本全</p>", "%LAYOUT v1\nP0 1 2 3 4 大安门广场"]
            ),
        ),
        st.one_of(st.none(), st.lists(_PROB, max_size=8)),
        st.sampled_from(["report", "doc", None]),
    ),
    max_size=10,
)


@given(_ROWS, st.integers(0, 3))
@settings(max_examples=150, deadline=None)
def test_the_result_filled_equals_the_workers_answer(rows, start):
    cfg = correction_config()
    columns = [
        pa.array([r[0] for r in rows], pa.string()),
        pa.array([r[1] for r in rows], pa.list_(pa.float64())),
        pa.array([r[2] for r in rows], pa.string()),
    ]
    columns = [c.slice(min(start, len(rows))) for c in columns]
    result = correct_arrow(cfg, *columns)
    result.validate(full=True)
    assert result.type == pa.struct(
        [("text", pa.string()), ("corr_mode", pa.int32()), ("text_corrected", pa.string())]
    )
    texts = columns[0].to_pylist()
    expected = _Corrector(cfg).correct_rows(texts, _err_keys(columns[1]), columns[2].to_pylist())
    filled = []
    for raw, got in zip(texts, result.to_pylist()):
        text = raw if got["text"] is None else got["text"]
        corrected = text if got["text_corrected"] is None else got["text_corrected"]
        filled.append((text, got["corr_mode"], corrected))
        # only a changed string is carried
        assert (got["text"] is None) == (text == raw)
        assert (got["text_corrected"] is None) == (corrected == text)
    assert filled == expected
