"""Buffer-built Arrow columns equal what ``pa.array`` builds.

``functions/arrowcols.py`` replaces ``pa.array`` inside Python workers
(which imports pandas with pyarrow 16); each builder must produce the
identical array, down to UTF-8 byte offsets and validity bits.
"""

from array import array

import numpy as np
import pyarrow as pa
import pytest

from latex_ocr_spark.functions.arrowcols import ints, numpy_values, string_lists, strings
from latex_ocr_spark.functions.udfs import FAILED_TURN_SPAN_IDX, extract_spans_arrow

STRING_CASES = [
    ["x^2", "\\frac{a}{b}", "abc"],  # ASCII
    ["é", "ß + α", "x"],  # 2-byte UTF-8
    ["😀", "a𝔸b", "∑"],  # 4- and 3-byte UTF-8
    ["", "", "a", ""],  # empty strings
    [],  # empty batch
    [None, None],  # all null
    [None, "é", "", None, "😀x"],  # mixed null
    ["a"] * 7 + [None] + ["b"] * 9,  # validity spans bytes
]


def _check(got: pa.Array, values, typ):
    got.validate(full=True)
    want = pa.array(values, type=typ)
    assert got.equals(want), (got, want)
    assert got.null_count == want.null_count


@pytest.mark.parametrize("values", STRING_CASES)
def test_strings_match_pa_array(values):
    _check(strings(values), values, pa.string())


@pytest.mark.parametrize(
    "values",
    [
        [["a", "é"], [], ["😀", ""]],  # empty inner list
        [[], [], []],
        [],
        [["x"] * 3, ["ß"], [], ["a𝔸b", "c"]],
    ],
)
def test_string_lists_match_pa_array(values):
    _check(string_lists(values), values, pa.list_(pa.string()))


@pytest.mark.parametrize("code,typ", [("i", pa.int32()), ("q", pa.int64())])
@pytest.mark.parametrize(
    "values",
    [[], [0, 1, -5, 2**31 - 1], [None, None, None], [3, None, -1, None] * 5],
)
def test_ints_match_pa_array(code, typ, values):
    buf = array(code, [0 if v is None else v for v in values])
    valid = [v is not None for v in values]
    _check(ints(buf, valid), values, typ)


def test_ints_wrap_numpy_without_a_copy():
    vals = np.array([-1, 2**40], dtype=np.int64)
    got = ints(vals)
    _check(got, [-1, 2**40], pa.int64())
    assert got.buffers()[1].address == vals.ctypes.data


def test_numpy_values_honour_slice_offsets():
    lst = pa.array([[1, 2], [3], [4, 5, 6]], type=pa.list_(pa.int64()))[1:]
    assert numpy_values(lst.offsets, np.int32).tolist() == [2, 3, 6]
    assert numpy_values(lst.flatten(), np.int64).tolist() == [3, 4, 5, 6]


def test_extract_spans_arrow_casts_pass_through_columns():
    # a frame built from pandas sends turn_idx as int64; the output
    # schema (EXTRACTED_SCHEMA) is int32
    rb = pa.RecordBatch.from_arrays(
        [
            pa.array(["c1", "c2", "c3"]),
            pa.array([7, 8, 9], type=pa.int64()),
            pa.array(["a $x^2$ and $é$", None, "\\newcommand{\\a(}{x} $\\a($"]),
        ],
        names=["conv_id", "turn_idx", "text"],
    )
    (out,) = list(extract_spans_arrow(iter([rb])))
    assert out.schema.field("turn_idx").type == pa.int32()
    assert out.schema.field("conv_id").type == pa.string()
    rows = out.to_pylist()
    assert [(r["conv_id"], r["turn_idx"], r["span_idx"]) for r in rows] == [
        ("c1", 7, 0),
        ("c1", 7, 1),
        ("c3", 9, FAILED_TURN_SPAN_IDX),
    ]
    assert [r["raw_match"] for r in rows] == ["x^2", "é", ""]
