"""Python rows -> one Arrow array, built from column buffers.

The extraction UDF returns its batch as a ``pa.StructArray``. Building
it here, from ``array`` buffers and UTF-8 byte offsets, keeps pandas
out of the Python worker: in pyarrow 16 ``pa.array(<python list>)``
imports pandas (``_is_array_like`` asks ``pandas_api`` whether the list
is a pandas object), and so do ``from_pylist`` and ``from_pydict``.
Nothing in this module calls them.

Supported types are the ones a Spark schema of strings, ints, doubles,
arrays and structs maps to: ``string`` (nulls allowed), ``int32``,
``int64``, ``double``, ``list<...>`` and ``struct<...>``. A struct row
is a tuple in field order, a list row any sized iterable.
"""

from __future__ import annotations

from array import array
from collections.abc import Sequence
from itertools import accumulate, chain

import pyarrow as pa

# a string or list array addresses its values with int32 offsets
MAX_OFFSET = 2**31 - 1

_TYPECODES = {pa.int32(): "i", pa.int64(): "q", pa.float64(): "d"}


def _offsets(sizes) -> pa.Buffer:
    return pa.py_buffer(array("i", accumulate(sizes, initial=0)))


def _check_total(total: int, what: str) -> None:
    if total > MAX_OFFSET:
        raise OverflowError(
            f"{what}: {total} pass the int32 offset limit of {MAX_OFFSET}; "
            "split the batch"
        )


def _strings(values: Sequence) -> pa.Array:
    n = len(values)
    nulls = values.count(None)
    if nulls:
        validity = pa.py_buffer(
            int(
                "".join("0" if v is None else "1" for v in reversed(values)), 2
            ).to_bytes((n + 7) // 8, "little")
        )
        values = ["" if v is None else v for v in values]
    else:
        validity = None
    # a str has at most as many chars as UTF-8 bytes: a column past the
    # limit in chars is refused before its data is joined
    chars = sum(map(len, values))
    _check_total(chars, "string column UTF-8 bytes")
    data = "".join(values).encode()
    if len(data) == chars:  # all ASCII: each length is its UTF-8 size
        sizes = map(len, values)
    else:
        _check_total(len(data), "string column UTF-8 bytes")
        sizes = [len(v.encode()) for v in values]
    return pa.Array.from_buffers(
        pa.string(),
        n,
        [validity, _offsets(sizes), pa.py_buffer(data)],
        null_count=nulls,
    )


def column(values: Sequence, type_: pa.DataType) -> pa.Array:
    """An array of ``type_`` holding ``values``."""
    if type_ == pa.string():
        return _strings(values)
    n = len(values)
    code = _TYPECODES.get(type_)
    if code is not None:
        data = pa.py_buffer(array(code, values))
        return pa.Array.from_buffers(type_, n, [None, data])
    if pa.types.is_list(type_):
        sizes = [len(v) for v in values]
        _check_total(sum(sizes), "list column items")
        offsets = _offsets(sizes)
        items = column(list(chain.from_iterable(values)), type_.value_type)
        return pa.Array.from_buffers(type_, n, [None, offsets], children=[items])
    if pa.types.is_struct(type_):
        cols = zip(*values, strict=True) if n else [()] * type_.num_fields
        children = [column(c, f.type) for c, f in zip(cols, type_)]
        return pa.Array.from_buffers(type_, n, [None], children=children)
    raise TypeError(f"no buffer builder for {type_}")
