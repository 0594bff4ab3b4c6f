"""Arrow columns built from buffers, for the Python workers' output.

``pa.array`` converts Python objects through pyarrow's pandas shim, and
the first call imports pandas into the worker (≈28 MB each).  These
builders lay out the Arrow buffers themselves and hand them to
``pa.Array.from_buffers``, which imports nothing:

- strings and binaries: int32 offsets plus the joined bytes;
- fixed-width numbers: an ``array.array`` of the values;
- booleans and validity: LSB-first bitmaps, a validity bitmap only when
  a value is None;
- lists of structs: ``ListArray.from_arrays`` over a ``StructArray`` of
  built children.

Each builder gives the array ``pa.array(values, type)`` gives
(``tests/test_arrow_build.py`` pins it), except that an
aware ``datetime`` keeps its instant where ``pa.array`` keeps its wall
clock.
"""

from __future__ import annotations

from array import array
from datetime import datetime, timedelta, timezone
from itertools import accumulate

import pyarrow as pa

_TS_US = pa.timestamp("us", tz="UTC")
_TYPECODES = {pa.float64(): "d", pa.int32(): "i", pa.int64(): "q", _TS_US: "q"}
_VARWIDTH = (pa.string(), pa.binary())
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
_US = timedelta(microseconds=1)
_DIGITS = bytes.maketrans(b"\x00\x01", b"01")


def _bitmap(flags: bytes) -> pa.Buffer:
    """LSB-first bitmap of a bytes of 0/1 flags."""
    bits = int(flags.translate(_DIGITS)[::-1] or b"0", 2)
    return pa.py_buffer(bits.to_bytes((len(flags) + 7) // 8, "little"))


def _validity(values) -> tuple[pa.Buffer | None, int]:
    """(validity bitmap, null count); no bitmap when nothing is None."""
    if None not in values:
        return None, 0
    present = bytes(v is not None for v in values)
    return _bitmap(present), len(values) - sum(present)


def _offsets(lengths) -> array:
    out = array("i", [0])
    out.extend(accumulate(lengths))
    return out


def _varwidth(values, typ: pa.DataType) -> pa.Array:
    validity, nulls = _validity(values)
    text = typ == pa.string()
    if nulls:
        empty = "" if text else b""
        values = [empty if v is None else v for v in values]
    if text:
        joined = "".join(values)
        if joined.isascii():  # one encode; byte lengths are char lengths
            data = joined.encode("ascii")
        else:
            values = [v.encode() for v in values]
            data = b"".join(values)
    else:
        data = b"".join(values)
    offsets = _offsets(map(len, values))
    return pa.Array.from_buffers(
        typ,
        len(values),
        [validity, pa.py_buffer(offsets), pa.py_buffer(data)],
        null_count=nulls,
    )


def _micros(ts: datetime) -> int:
    # naive datetimes are UTC, as pa.array reads them
    return ((ts if ts.tzinfo else ts.replace(tzinfo=timezone.utc)) - _EPOCH) // _US


def column(values, typ: pa.DataType) -> pa.Array:
    """``values`` (a sequence of Python objects, None for null) as an
    Arrow array of ``typ``: string, binary, float64, int32, int64, bool
    or ``timestamp[us, tz=UTC]``."""
    if typ in _VARWIDTH:
        return _varwidth(values, typ)
    validity, nulls = _validity(values)
    if typ == pa.bool_():
        data = _bitmap(bytes(map(bool, values)))
    else:
        if typ == _TS_US:
            values = [0 if v is None else _micros(v) for v in values]
        elif nulls:
            values = [0 if v is None else v for v in values]
        data = pa.py_buffer(array(_TYPECODES[typ], values))
    return pa.Array.from_buffers(typ, len(values), [validity, data], null_count=nulls)


def list_of_structs(
    rows: list[list[tuple]], fields: list[tuple[str, pa.DataType]]
) -> pa.Array:
    """One list per element of ``rows``, each a list of tuples whose
    positions follow ``fields`` ``(name, type)``: the array
    ``pa.array`` gives for the matching lists of dicts."""
    flat = [t for items in rows for t in items]
    cols = list(zip(*flat)) if flat else [()] * len(fields)
    values = pa.StructArray.from_arrays(
        [column(c, t) for c, (_, t) in zip(cols, fields)],
        names=[name for name, _ in fields],
    )
    offsets = _offsets(map(len, rows))
    return pa.ListArray.from_arrays(
        pa.Array.from_buffers(pa.int32(), len(offsets), [None, pa.py_buffer(offsets)]),
        values,
    )
