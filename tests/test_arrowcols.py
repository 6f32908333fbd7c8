"""Buffer-built Arrow columns equal what ``pa.array`` builds.

``functions/arrowcols.py`` replaces ``pa.array`` inside Python workers
(which imports pandas with pyarrow 16); each builder must produce the
identical array, down to UTF-8 byte offsets and validity bits.
"""

from array import array
from datetime import datetime, timezone
from zoneinfo import ZoneInfo

import numpy as np
import pyarrow as pa
import pytest

from pyspark.sql import types as T

from latex_ocr_spark.functions.arrowcols import (
    binaries,
    ints,
    lists,
    map_rows,
    numbers,
    numpy_values,
    string_lists,
    strings,
    timestamps,
)
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


@pytest.mark.parametrize(
    "values",
    [[], [b"\x00\xff", b"", b"png"], [None, b"a", None], [b""] * 3 + [None] + [b"xy"] * 9],
)
def test_binaries_match_pa_array(values):
    _check(binaries(values), values, pa.binary())


@pytest.mark.parametrize(
    "code,typ", [("i", pa.int32()), ("q", pa.int64()), ("d", pa.float64())]
)
@pytest.mark.parametrize("values", [[], [0, 1, -5, 2**31 - 1], [None, None], [3, None, -1] * 5])
def test_numbers_match_pa_array(code, typ, values):
    if code == "d":
        values = [None if v is None else v / 3 for v in values]
    _check(numbers(values, code), values, typ)


@pytest.mark.parametrize(
    "values,child,typ",
    [
        ([[1, 2], [], None, [2**40]], lambda v: numbers(v, "q"), pa.int64()),
        ([None, None], lambda v: numbers(v, "q"), pa.int64()),
        ([[0.5, 1 / 3], None, [], [2.0] * 9], lambda v: numbers(v, "d"), pa.float64()),
        ([["a", None], None, []], strings, pa.string()),
        ([], strings, pa.string()),
    ],
)
def test_lists_match_pa_array(values, child, typ):
    _check(lists(values, child), values, pa.list_(typ))


NAIVE = [
    datetime(2024, 12, 20, 0, 0),
    datetime(1969, 12, 31, 23, 59, 59, 999999),  # before the epoch
    datetime(2015, 11, 1, 1, 30),  # New York repeats this wall time
    datetime(2015, 3, 8, 12, 0),
    None,
]


def test_timestamps_of_naive_values_in_utc_match_pa_array():
    _check(timestamps(NAIVE, "UTC"), NAIVE, pa.timestamp("us", tz="UTC"))


def test_timestamps_read_a_naive_value_as_mapinpandas_reads_it():
    """A naive wall time is localized in the session zone with pandas'
    ``ambiguous=False`` (standard time), as pyspark converts a
    ``mapInPandas`` output column."""
    import pandas as pd

    zone = "America/New_York"
    got = timestamps(NAIVE, zone)
    localized = pd.Series(NAIVE[:-1]).dt.tz_localize(zone, ambiguous=False)
    want = [int(t.value // 1000) for t in localized] + [None]
    assert got.cast(pa.int64()).to_pylist() == want
    tz = ZoneInfo(zone)
    aware = [v.replace(tzinfo=tz, fold=1).astimezone(timezone.utc) if v else None for v in NAIVE]
    _check(got, aware, pa.timestamp("us", tz="UTC"))
    # an aware value keeps its own zone
    when = datetime(2020, 1, 1, tzinfo=timezone.utc)
    assert timestamps([when], zone).equals(timestamps([datetime(2020, 1, 1)], "UTC"))


class _Frame:
    """The parts of a DataFrame that ``map_rows`` reads; ``mapInArrow``
    hands back the worker function and the declared schema."""

    def __init__(self, schema):
        self.schema, self.columns = schema, schema.names

    def mapInArrow(self, fn, schema):
        return fn, schema


def _batch(ids, texts):
    return pa.RecordBatch.from_arrays(
        [pa.array(ids, pa.int64()), pa.array(texts, pa.string())], names=["id", "text"]
    )


def test_map_rows_takes_pass_through_columns_at_each_output_row():
    """Zero, one or several outputs per row; kept columns are a
    ``take`` at the source row, cast to a ``StructField``'s type; the
    row function is built once per task."""
    frame = _Frame(T.StructType([T.StructField("id", T.LongType()), T.StructField("text", T.StringType())]))
    built = []

    def make_row():
        built.append(1)
        return lambda text: [(w, len(w)) for w in (text or "").split()]

    fn, schema = map_rows(
        frame,
        make_row,
        ["text"],
        [T.StructField("word", T.StringType()), T.StructField("n", T.IntegerType())],
        keep=[T.StructField("id", T.IntegerType()), "text"],
    )
    assert schema.names == ["id", "text", "word", "n"]
    assert schema["id"].dataType == T.IntegerType()
    batches = [_batch([7, 8, 9], ["a bb", None, "é"]), _batch([], []), _batch([1], [""])]
    out = list(fn(iter(batches)))
    assert built == [1]
    assert [b.num_rows for b in out] == [3, 0, 0]
    for b in out:
        b.validate(full=True)
        assert b.schema.types == [pa.int32(), pa.string(), pa.string(), pa.int32()]
    assert out[0].to_pylist() == [
        {"id": 7, "text": "a bb", "word": "a", "n": 1},
        {"id": 7, "text": "a bb", "word": "bb", "n": 2},
        {"id": 9, "text": "é", "word": "é", "n": 1},
    ]


def test_map_rows_passes_a_one_to_one_batch_through_untouched():
    frame = _Frame(T.StructType([T.StructField("id", T.LongType()), T.StructField("text", T.StringType())]))
    fn, _ = map_rows(frame, lambda: lambda text: [(text is None,)], ["text"],
                     [T.StructField("null", T.IntegerType())])
    rb = _batch([1, 2], ["x", None])
    (out,) = fn(iter([rb]))
    assert out.column(0) is not None and out.column(0).equals(rb.column(0))
    assert out.column(0).buffers()[1].address == rb.column(0).buffers()[1].address
    assert out.column("null").to_pylist() == [0, 1]


def test_map_rows_refuses_a_type_it_cannot_build():
    frame = _Frame(T.StructType([T.StructField("id", T.LongType())]))
    with pytest.raises(TypeError, match="map<string,int>"):
        map_rows(frame, lambda: None, ["id"],
                 [T.StructField("m", T.MapType(T.StringType(), T.IntegerType()))])
