"""Per-value binary decoders: the oracle for the columnar page decoder.

These are the decoders ``flaco_spark.sources.pgwire`` used before it
decoded whole pages into Arrow buffers: one Python call per value,
one Python object per value, then ``pa.array`` per column.  The
differential tests run them over the same wire bytes as
``pgwire._decode_page`` and require identical tables.  ``timetz`` was
a text-format column in that decoder; its binary oracle here is the
same per-value arithmetic.
"""

from __future__ import annotations

import struct
import uuid
from datetime import date, datetime, time, timedelta, timezone
from decimal import Decimal

import pyarrow as pa

from flaco_spark.errors import EngineError
from flaco_spark.sources.pgwire import arrow_schema_for, oid_type_name

_PG_EPOCH_ORD = date(2000, 1, 1).toordinal()
_PG_EPOCH_DT = datetime(2000, 1, 1)
_PG_EPOCH_DTZ = datetime(2000, 1, 1, tzinfo=timezone.utc)
_I64 = struct.Struct("!q")
_I32 = struct.Struct("!i")
_F4 = struct.Struct("!f")
_F8 = struct.Struct("!d")


def _bdec_int(b: bytes):
    return int.from_bytes(b, "big", signed=True)


def _bdec_oid(b: bytes):
    return int.from_bytes(b, "big", signed=False)


def _bdec_char(b: bytes):
    if not b:
        return 0
    v = b[0]
    return v if v < 128 else v - 256


def _bdec_numeric(b: bytes):
    nd, weight, sign, dscale = struct.unpack_from("!hhHH", b, 0)
    if sign in (0xC000, 0xD000, 0xF000):
        return None  # NaN / ±Infinity: DecimalType has neither
    if sign not in (0x0000, 0x4000):
        raise EngineError(f"unknown numeric sign word 0x{sign:04X}")
    digits = struct.unpack_from(f"!{nd}h", b, 8) if nd else ()
    num = 0
    for d in digits:
        num = num * 10000 + d
    shift = (weight + 1 - nd) * 4 + dscale
    if shift >= 0:
        unscaled = num * (10**shift)
    else:
        q, r = divmod(num, 10**-shift)
        if r:
            raise EngineError("numeric binary payload inconsistent with dscale")
        unscaled = q
    if sign == 0x4000:
        unscaled = -unscaled
    dsign, ddigits, _ = Decimal(unscaled).as_tuple()
    return Decimal((dsign, ddigits, -dscale))


def _bdec_date(b: bytes):
    days = _I32.unpack(b)[0]
    if days in (0x7FFFFFFF, -0x80000000):
        raise EngineError("unrepresentable DATE value (infinity)")
    return date.fromordinal(_PG_EPOCH_ORD + days)


def _bdec_timestamp(b: bytes):
    us = _I64.unpack(b)[0]
    if us in (0x7FFFFFFFFFFFFFFF, -0x8000000000000000):
        raise EngineError("unrepresentable TIMESTAMP value (infinity)")
    return _PG_EPOCH_DT + timedelta(microseconds=us)


def _bdec_timestamptz(b: bytes):
    us = _I64.unpack(b)[0]
    if us in (0x7FFFFFFFFFFFFFFF, -0x8000000000000000):
        raise EngineError("unrepresentable TIMESTAMPTZ value (infinity)")
    return _PG_EPOCH_DTZ + timedelta(microseconds=us)


def _time_of(us: int) -> time:
    s, us = divmod(us, 1_000_000)
    m, s = divmod(s, 60)
    h, m = divmod(m, 60)
    return time(h % 24, m, s, us)


def _bdec_time(b: bytes):
    return _time_of(_I64.unpack(b)[0])


def _bdec_timetz(b: bytes):
    us, zone = struct.unpack("!qi", b)  # zone: seconds west of UTC
    return _time_of(us + zone * 1_000_000)


def _bdec_interval(b: bytes):
    us, days, months = struct.unpack("!qii", b)
    if months:
        raise EngineError(
            "INTERVAL with year/month components has no exact "
            "DayTimeIntervalType mapping (binary months != 0)"
        )
    return timedelta(days=days, microseconds=us)


def _bdec_uuid(b: bytes):
    return str(uuid.UUID(bytes=bytes(b)))


def _bdec_jsonb(b: bytes):
    if not b or b[0] != 1:
        raise EngineError("unsupported jsonb binary version")
    return b[1:].decode("utf-8")


def _bdec_text(b: bytes):
    return b.decode("utf-8")


BIN_DECODERS = {
    "bool": lambda b: b[0] == 1,
    "bytea": bytes,
    '"char"': _bdec_char,
    "int2": _bdec_int,
    "int4": _bdec_int,
    "int8": _bdec_int,
    "oid": _bdec_oid,
    "float4": lambda b: _F4.unpack(b)[0],
    "float8": lambda b: _F8.unpack(b)[0],
    "numeric": _bdec_numeric,
    "uuid": _bdec_uuid,
    "date": _bdec_date,
    "time": _bdec_time,
    "timetz": _bdec_timetz,
    "timestamp": _bdec_timestamp,
    "timestamptz": _bdec_timestamptz,
    "interval": _bdec_interval,
    "jsonb": _bdec_jsonb,
    "text": _bdec_text,
    "varchar": _bdec_text,
    "bpchar": _bdec_text,
    "name": _bdec_text,
    "json": _bdec_text,
    "unknown": _bdec_text,
}


def _bdec_array(elem_name: str):
    elem_dec = BIN_DECODERS[elem_name]

    def dec(b: bytes):
        ndim, _hasnull, _elemoid = struct.unpack_from("!iii", b, 0)
        if ndim == 0:
            return []
        if ndim != 1:
            raise EngineError(f"only 1-D arrays supported (got ndim={ndim})")
        (n, _lbound) = struct.unpack_from("!ii", b, 12)
        out = []
        pos = 20
        for _ in range(n):
            (ln,) = struct.unpack_from("!i", b, pos)
            pos += 4
            if ln == -1:
                out.append(None)
            else:
                out.append(elem_dec(b[pos : pos + ln]))
                pos += ln
        return out

    return dec


def binary_decoder(type_name: str):
    if type_name.endswith("[]"):
        return _bdec_array(type_name[:-2])
    return BIN_DECODERS[type_name]


def decode_data_row(body: bytes, decoders: list) -> list:
    """One DataRow body → a list of decoded Python values."""
    (n,) = struct.unpack_from("!h", body, 0)
    out: list = []
    off = 2
    for i in range(n):
        (ln,) = struct.unpack_from("!i", body, off)
        off += 4
        if ln == -1:
            out.append(None)
        else:
            out.append(decoders[i](body[off : off + ln]))
            off += ln
    return out


def _time_to_micros(t):
    return ((t.hour * 60 + t.minute) * 60 + t.second) * 1_000_000 + t.microsecond


def rows_to_arrow(fields, pyrows, ds_safe: bool = False) -> pa.Table:
    """Decoded Python rows → a pyarrow Table typed per the OID map."""
    schema = arrow_schema_for(fields, ds_safe=ds_safe)
    columns = []
    for i, (_, oid) in enumerate(fields):
        vals = [row[i] for row in pyrows]
        if ds_safe and oid_type_name(oid) in ("time", "timetz"):
            vals = [None if v is None else _time_to_micros(v) for v in vals]
        columns.append(pa.array(vals, type=schema.field(i).type))
    return pa.Table.from_arrays(columns, schema=schema)


def decode_rows(page, starts, fields) -> list[list]:
    """Every DataRow of one page decoded per value into Python objects."""
    decoders = [binary_decoder(oid_type_name(oid)) for _, oid in fields]
    rows = []
    for s in starts:
        (length,) = _I32.unpack_from(page, s - 4)
        rows.append(decode_data_row(bytes(page[s : s - 4 + length]), decoders))
    return rows


def decode_page(page, starts, fields, ds_safe: bool = False) -> pa.Table:
    """The oracle's view of one page: every DataRow decoded per value."""
    return rows_to_arrow(fields, decode_rows(page, starts, fields), ds_safe=ds_safe)


def message(mtype: bytes, body: bytes = b"") -> bytes:
    """One backend message: type byte, length (counting itself), body."""
    return mtype + _I32.pack(len(body) + 4) + body


def data_row(row: list[bytes | None]) -> bytes:
    """A DataRow message of binary values (None = NULL)."""
    body = struct.pack("!h", len(row))
    for v in row:
        body += _I32.pack(-1) if v is None else _I32.pack(len(v)) + v
    return message(b"D", body)


def page_of(rows: list[list[bytes | None]]) -> tuple[bytearray, list[int]]:
    """A page as the wire delivers it: one DataRow per row of binary
    values (None = NULL), then PortalSuspended.  Returns the page and
    the offset of each DataRow body."""
    page = bytearray().join(data_row(row) for row in rows) + message(b"s")
    return page, walk_datarows(page)[0]


def walk_datarows(page, pos: int = 0) -> tuple[list[int], int]:
    """The framing walk of one Execute page, one message at a time, from
    the message at ``pos`` to the first PortalSuspended, CommandComplete
    or EmptyQuery: (offset of each DataRow body, end of that last
    message).  Every other message is stepped over."""
    starts = []
    while True:
        mtype, end = page[pos], pos + 1 + _I32.unpack_from(page, pos + 1)[0]
        if mtype == 0x44:
            starts.append(pos + 5)
        elif mtype in b"sCI":
            return starts, end
        pos = end
