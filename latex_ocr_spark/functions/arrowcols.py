"""Arrow columns built from buffers, for the bodies of Python workers.

With pyarrow 16, the first ``pa.array``/``pa.scalar`` on Python objects
in a process imports pandas (its array-like check asks the pandas
shim), and so do ``Array.to_numpy`` and ``np.asarray(<Arrow array>)``;
that costs each Spark Python worker ~35 MB it never uses.
``pa.Array.from_buffers`` over ``array``/``bytes`` memory, ``take``,
``cast``, ``is_null``, ``to_pylist``, ``np.frombuffer`` and
``numpy.packbits`` do not, so kernels read and build Arrow columns
through the helpers below.
"""

from __future__ import annotations

from array import array
from itertools import accumulate, chain

import numpy as np
import pyarrow as pa

_INT_TYPES = {4: pa.int32(), 8: pa.int64()}


def _bitmap(valid):
    """Validity bitmap of a bool sequence (True = present), or None
    when every entry is present."""
    if valid is None or all(valid):
        return None
    return pa.py_buffer(np.packbits(np.asarray(valid, dtype=bool), bitorder="little"))


def ints(values, valid=None) -> pa.Array:
    """int32/int64 array over a 4- or 8-byte ``array`` or 1-D numpy
    buffer, without a copy; slots with ``valid`` False are null."""
    return pa.Array.from_buffers(
        _INT_TYPES[values.itemsize], len(values), [_bitmap(valid), pa.py_buffer(values)]
    )


def strings(values) -> pa.Array:
    """string array of ``str`` values, ``None`` = null.  Offsets count
    UTF-8 bytes."""
    valid = None
    try:
        data = "".join(values)
    except TypeError:  # a None among the values
        valid = [v is not None for v in values]
        values = ["" if v is None else v for v in values]
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


def string_lists(values) -> pa.Array:
    """list<string> array of lists of ``str``."""
    offsets = array("i", list(accumulate(map(len, values), initial=0)))
    return pa.Array.from_buffers(
        pa.list_(pa.string()),
        len(values),
        [None, pa.py_buffer(offsets)],
        children=[strings(list(chain.from_iterable(values)))],
    )


def numpy_values(arr: pa.Array, dtype) -> np.ndarray:
    """Read-only numpy view of a null-free fixed-width array's values,
    without a copy."""
    dtype = np.dtype(dtype)
    return np.frombuffer(arr.buffers()[1], dtype, len(arr), arr.offset * dtype.itemsize)
