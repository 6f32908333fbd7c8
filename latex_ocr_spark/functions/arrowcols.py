"""Arrow columns built from buffers, for the bodies of Python workers.

With pyarrow 16, the first ``pa.array``/``pa.scalar`` on Python objects
in a process imports pandas (its array-like check asks the pandas
shim), and so do ``Array.to_numpy`` and ``np.asarray(<Arrow array>)``;
that costs each Spark Python worker ~35 MB it never uses.
``pa.Array.from_buffers`` over ``array``/``bytes`` memory, ``take``,
``cast``, ``is_null``, ``to_pylist``, ``np.frombuffer`` and
``numpy.packbits`` do not, so kernels read and build Arrow columns
through the helpers below, and per-row operators cross the batch
boundary through :func:`map_rows`.
"""

from __future__ import annotations

from array import array
from datetime import datetime, timedelta, timezone
from functools import partial
from itertools import accumulate, chain

import numpy as np
import pyarrow as pa

_INT_TYPES = {4: pa.int32(), 8: pa.int64()}
_NUMBER_TYPES = {"i": pa.int32(), "q": pa.int64(), "d": pa.float64()}
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
_MICROSECOND = timedelta(microseconds=1)


def _bitmap(valid):
    """Validity bitmap of a bool sequence (True = present), or None
    when every entry is present."""
    if valid is None or all(valid):
        return None
    return pa.py_buffer(np.packbits(np.asarray(valid, dtype=bool), bitorder="little"))


def _nulls_as(values, empty):
    """(validity or None, ``values`` with each ``None`` as ``empty``)."""
    if not any(v is None for v in values):
        return None, values
    return [v is not None for v in values], [empty if v is None else v for v in values]


def ints(values, valid=None) -> pa.Array:
    """int32/int64 array over a 4- or 8-byte ``array`` or 1-D numpy
    buffer, without a copy; slots with ``valid`` False are null."""
    return pa.Array.from_buffers(
        _INT_TYPES[values.itemsize], len(values), [_bitmap(valid), pa.py_buffer(values)]
    )


def numbers(values, code: str) -> pa.Array:
    """int32 (``code`` ``"i"``), int64 (``"q"``) or double (``"d"``)
    array of Python numbers, ``None`` = null."""
    valid, values = _nulls_as(values, 0)
    return pa.Array.from_buffers(
        _NUMBER_TYPES[code], len(values), [_bitmap(valid), pa.py_buffer(array(code, values))]
    )


def strings(values) -> pa.Array:
    """string array of ``str`` values, ``None`` = null.  Offsets count
    UTF-8 bytes."""
    valid, values = _nulls_as(values, "")
    data = "".join(values)
    if data.isascii():
        lens = map(len, values)
    else:  # str.isascii is O(1): only non-ASCII values are encoded
        lens = [len(v) if v.isascii() else len(v.encode()) for v in values]
    data = data.encode()
    # an int32 offset past 2 GiB raises OverflowError here
    offsets = array("i", list(accumulate(lens, initial=0)))
    return pa.Array.from_buffers(
        pa.string(), len(values), [_bitmap(valid), pa.py_buffer(offsets), pa.py_buffer(data)]
    )


def binaries(values) -> pa.Array:
    """binary array of ``bytes``-like values, ``None`` = null."""
    valid, values = _nulls_as(values, b"")
    offsets = array("i", list(accumulate(map(len, values), initial=0)))
    return pa.Array.from_buffers(
        pa.binary(),
        len(values),
        [_bitmap(valid), pa.py_buffer(offsets), pa.py_buffer(b"".join(values))],
    )


def lists(values, child) -> pa.Array:
    """list array of sequences, ``None`` = null; ``child`` builds the
    flattened values."""
    valid, values = _nulls_as(values, ())
    offsets = array("i", list(accumulate(map(len, values), initial=0)))
    flat = child(list(chain.from_iterable(values)))
    return pa.Array.from_buffers(
        pa.list_(flat.type),
        len(values),
        [_bitmap(valid), pa.py_buffer(offsets)],
        children=[flat],
    )


def string_lists(values) -> pa.Array:
    """list<string> array of lists of ``str``."""
    return lists(values, strings)


def timestamps(values, zone: str) -> pa.Array:
    """timestamp[us, UTC] array of datetimes, ``None`` = null.  A naive
    datetime is a wall time in the IANA zone ``zone``, read as
    ``mapInPandas`` reads one in the session zone: a wall time that a
    DST change repeats is taken in standard time (``fold=1``)."""
    from zoneinfo import ZoneInfo

    tz = ZoneInfo(zone)
    valid, values = _nulls_as(values, _EPOCH)
    micros = array(
        "q",
        [
            ((v if v.tzinfo else v.replace(tzinfo=tz, fold=1)) - _EPOCH) // _MICROSECOND
            for v in values
        ],
    )
    return pa.Array.from_buffers(
        pa.timestamp("us", tz="UTC"), len(values), [_bitmap(valid), pa.py_buffer(micros)]
    )


def numpy_values(arr: pa.Array, dtype) -> np.ndarray:
    """Read-only numpy view of a null-free fixed-width array's values,
    without a copy."""
    dtype = np.dtype(dtype)
    return np.frombuffer(arr.buffers()[1], dtype, len(arr), arr.offset * dtype.itemsize)


def _builder(dtype, zone):
    """The builder of a column of Spark type ``dtype`` from Python
    values."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.ArrayType):
        return partial(lists, child=_builder(dtype.elementType, zone))
    builders = {
        T.StringType: strings,
        T.BinaryType: binaries,
        T.IntegerType: partial(numbers, code="i"),
        T.LongType: partial(numbers, code="q"),
        T.DoubleType: partial(numbers, code="d"),
        T.TimestampType: partial(timestamps, zone=zone),
    }
    if type(dtype) not in builders:
        raise TypeError(f"map_rows builds no {dtype.simpleString()} column")
    return builders[type(dtype)]


def map_rows(df, make_row, inputs, outputs, keep=None):
    """``df`` through a per-row Python function, behind ``mapInArrow``.

    ``make_row()`` runs once per task and returns the row function.
    That is called with one row's values of the ``inputs`` columns
    (``to_pylist`` values: ``str``, ``bytes``, ``int``, ``list``,
    ``None``) and returns zero or more output tuples, one value per
    field of ``outputs``.  Each output column is built from buffers by
    its field's Spark type (string, binary, int, long, double, arrays of
    those, timestamp; a naive timestamp is read in the session zone of
    ``df``'s session when this is called).  The ``keep`` columns
    (default: every column of ``df``) pass through as a ``take`` at
    each output row's source row; a ``StructField`` in ``keep`` casts
    its column to the field's type and declares the field as given.

    The output schema is the ``keep`` fields, then ``outputs``.
    """
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    keep = [
        f if isinstance(f, T.StructField) else df.schema[f]
        for f in (df.columns if keep is None else keep)
    ]
    zone = None
    if any("timestamp" in f.dataType.simpleString() for f in outputs):
        zone = df.sparkSession.conf.get("spark.sql.session.timeZone")
    builders = [_builder(f.dataType, zone) for f in outputs]
    kept = [(f.name, to_arrow_type(f.dataType)) for f in keep]
    schema = T.StructType(keep + list(outputs))

    def run(batches):
        row = make_row()
        for rb in batches:
            src, out = array("q"), []
            columns = [rb.column(c).to_pylist() for c in inputs]
            for i, values in enumerate(zip(*columns)):
                for tup in row(*values):
                    src.append(i)
                    out.append(tup)
            idx = None if src == array("q", range(rb.num_rows)) else ints(src)
            passed = []
            for name, typ in kept:
                col = rb.column(name) if idx is None else rb.column(name).take(idx)
                passed.append(col if col.type == typ else col.cast(typ))
            built = zip(*out) if out else [()] * len(builders)
            yield pa.RecordBatch.from_arrays(
                passed + [b(list(v)) for b, v in zip(builders, built)], names=schema.names
            )

    return df.mapInArrow(run, schema=schema)
