"""Postgres COPY BINARY wire-format codec.

The reference's core I/O path is PG's binary COPY stream: the scanner
reads `COPY (SELECT ...) TO STDOUT (FORMAT binary)` (reference:
src/include/postgres_binary_reader.hpp ReadInteger/ReadBoolean/
ReadFloat/ReadDecimal/ReadDate/ReadTimestamp/ReadArray...) and bulk
load writes the same frames (reference: src/postgres_binary_copy.cpp
PostgresBinaryCopyFunction). The format itself is public PostgreSQL
documentation (sql-copy "Binary Format"): an 19-byte header
(signature + flags + extension length), then per tuple an int16 field
count and per field an int32 byte length (-1 = NULL) followed by the
type's binary *send* representation, then an int16 -1 trailer. All
integers are network byte order.

This module is pure Python + struct so it is unit-testable against
fixture bytes with no server. Its per-row BinaryCopyWriter/
BinaryCopyReader are the wire CONTRACT and the test oracle; the
runtime paths (the live scan, format="pg_binary" COPY, the DataSource
writer) run pgwire_vec's column-wise codec, which calls this module's
per-field codec only for the columns without a numpy kernel.
"""

from __future__ import annotations

import struct
from datetime import date, datetime, timedelta, timezone
from decimal import Decimal
from typing import Any, BinaryIO, Iterable, Iterator, Sequence

from . import types as pgt

SIGNATURE = b"PGCOPY\n\xff\r\n\x00"

_PG_EPOCH_ORD = date(2000, 1, 1).toordinal()
_PG_EPOCH_NAIVE = datetime(2000, 1, 1)
_PG_EPOCH_UTC = datetime(2000, 1, 1, tzinfo=timezone.utc)

# --------------------------------------------------------------- encode
def _enc_numeric(v: Decimal) -> bytes:
    """Decimal → PG numeric binary: int16 ndigits, weight, sign,
    dscale then base-10000 digits (reference binary_reader
    ReadDecimal's inverse; public wire layout)."""
    sign_code = 0x0000
    if v.is_nan():
        return struct.pack("!HhHH", 0, 0, 0xC000, 0)
    if v.is_infinite():
        # PG 14+ wire codes for numeric ±Infinity
        return struct.pack("!HhHH", 0, 0,
                           0xD000 if v > 0 else 0xF000, 0)
    if v < 0:
        sign_code = 0x4000
        v = -v
    sign, digits, exp = v.as_tuple()
    dscale = max(-exp, 0)
    # integer value = digits * 10^exp; regroup into base-10000 from the
    # decimal point: pad fractional part to a multiple of 4
    s = "".join(map(str, digits))
    if exp > 0:
        s += "0" * exp
        exp = 0
    int_len = len(s) + exp          # digits left of the decimal point
    if int_len <= 0:
        ip = ""
        frac = "0" * (-int_len) + s  # 0.0001 → frac "0001"
    else:
        ip = s[:int_len]
        frac = s[int_len:]
    # left-pad integer part to multiple of 4, right-pad fraction
    ip = ip.zfill((len(ip) + 3) // 4 * 4) if ip else ""
    frac = frac + "0" * (-len(frac) % 4) if frac else ""
    groups = [int(ip[i:i + 4]) for i in range(0, len(ip), 4)] + \
             [int(frac[i:i + 4]) for i in range(0, len(frac), 4)]
    weight = len(ip) // 4 - 1 if ip else -1
    # drop leading zero groups, shifting weight (0.00000001 → weight -2)
    while groups and groups[0] == 0 and len(groups) > 1:
        groups.pop(0)
        weight -= 1
    while groups and groups[-1] == 0 and len(groups) > 1:
        groups.pop()
    out = struct.pack("!HhHH", len(groups), weight, sign_code, dscale)
    return out + b"".join(struct.pack("!H", g) for g in groups)


def _enc_interval(v: timedelta) -> bytes:
    """timedelta → (usec int64, days int32, months int32)."""
    us = v.seconds * 1_000_000 + v.microseconds
    return struct.pack("!qii", us, v.days, 0)


def _pg_text(s: str, null_byte_replacement) -> bytes:
    """utf8-encode a PG-bound text value. PG rejects NUL bytes in
    varchar regardless of COPY format; mirror the reference's error
    unless pg_null_byte_replacement is set (reference:
    postgres_extension.cpp:179, attach_null_byte.test)."""
    if "\x00" in s:
        if null_byte_replacement is None:
            raise ValueError(
                "Postgres does not support NULL-bytes in VARCHAR "
                "values (set pg_null_byte_replacement to substitute)")
        s = s.replace("\x00", null_byte_replacement)
    return s.encode("utf-8")


def encode_field(oid: int, v: Any,
                 null_byte_replacement: str | None = None) -> bytes | None:
    """One value → its binary send representation (None = SQL NULL)."""
    if v is None:
        return None
    if oid == pgt.BOOLOID:
        return b"\x01" if v else b"\x00"
    if oid == pgt.INT2OID:
        return struct.pack("!h", v)
    if oid == pgt.INT4OID:
        return struct.pack("!i", v)
    if oid in (pgt.INT8OID, pgt.OIDOID):
        return struct.pack("!q", v)
    if oid == pgt.FLOAT4OID:
        return struct.pack("!f", v)
    if oid == pgt.FLOAT8OID:
        return struct.pack("!d", v)
    if oid == pgt.BYTEAOID:
        return bytes(v)
    if oid == pgt.DATEOID:
        return struct.pack("!i", v.toordinal() - _PG_EPOCH_ORD)
    if oid == pgt.TIMESTAMPOID:
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        delta = v - _PG_EPOCH_NAIVE
        # integer arithmetic: total_seconds() is a float and loses
        # microsecond precision ~100 years from the 2000 epoch
        return struct.pack(
            "!q", (delta.days * 86400 + delta.seconds) * 10**6
            + delta.microseconds)
    if oid == pgt.TIMESTAMPTZOID:
        if v.tzinfo is None:
            # engine contract: sessions are pinned UTC (get_spark /
            # tables.ensure_session_defaults), so naive datetimes
            # Spark hands per-row ARE UTC wall times; a non-UTC
            # session would need astimezone here first
            v = v.replace(tzinfo=timezone.utc)
        delta = v - _PG_EPOCH_UTC
        return struct.pack(
            "!q", (delta.days * 86400 + delta.seconds) * 10**6
            + delta.microseconds)
    if oid == pgt.NUMERICOID:
        return _enc_numeric(v if isinstance(v, Decimal) else Decimal(str(v)))
    if oid == pgt.INTERVALOID:
        return _enc_interval(v)
    if oid == pgt.UUIDOID:
        import uuid as _uuid
        return (v if isinstance(v, _uuid.UUID) else _uuid.UUID(str(v))).bytes
    if oid == pgt.JSONBOID:
        return b"\x01" + _pg_text(str(v), null_byte_replacement)
    # text family / fallbacks (json, inet, money… ship as their text form)
    return _pg_text(str(v), null_byte_replacement)


def encode_array(elem_oid: int, values: Sequence, ndim: int = 1,
                 null_byte_replacement: str | None = None) -> bytes:
    """N-D array → PG array binary: ndim, hasnull, elemtype, then one
    dim+lbound pair per dimension, then flattened row-major elements
    as int32 length + payload (decode_array's exact inverse; PG
    requires regular/rectangular arrays)."""
    dims = []
    v: Any = values
    for _ in range(ndim):
        dims.append(len(v))
        v = v[0] if len(v) else []
    flat = values
    for _ in range(ndim - 1):
        flat = [x for sub in flat for x in
                (sub if sub is not None else [])]
    hasnull = 1 if any(x is None for x in flat) else 0
    out = [struct.pack("!iii", ndim, hasnull, elem_oid)]
    for d in dims:
        out.append(struct.pack("!ii", d, 1))
    for x in flat:
        if x is None:
            out.append(struct.pack("!i", -1))
            continue
        p = encode_field(elem_oid, x, null_byte_replacement)
        out.append(struct.pack("!i", len(p)) + p)
    return b"".join(out)


class BinaryCopyWriter:
    """Emit one PGCOPY stream (reference: postgres_binary_copy.cpp)."""

    def __init__(self, oids: Sequence[int],
                 array_elem_oids: dict[int, int] | None = None,
                 array_ndims: dict[int, int] | None = None,
                 null_byte_replacement: str | None = None):
        self.oids = list(oids)
        self.array_elem = array_elem_oids or {}
        self.array_ndims = array_ndims or {}
        self.null_byte_replacement = null_byte_replacement

    def write(self, out: BinaryIO, rows: Iterable[Sequence]) -> int:
        out.write(SIGNATURE)
        out.write(struct.pack("!II", 0, 0))       # flags, extension len
        n = 0
        for row in rows:
            if len(row) != len(self.oids):
                # fail fast: zip-truncation would write fewer fields
                # than the declared count — a corrupt stream that only
                # misparses rows later
                raise ValueError(
                    f"row {n} has {len(row)} fields, schema has "
                    f"{len(self.oids)}")
            out.write(struct.pack("!h", len(self.oids)))
            for i, (oid, v) in enumerate(zip(self.oids, row)):
                if v is None:
                    out.write(struct.pack("!i", -1))
                    continue
                if i in self.array_elem:
                    payload = encode_array(self.array_elem[i], v,
                                           self.array_ndims.get(i, 1),
                                           self.null_byte_replacement)
                else:
                    payload = encode_field(oid, v,
                                           self.null_byte_replacement)
                out.write(struct.pack("!i", len(payload)))
                out.write(payload)
            n += 1
        out.write(struct.pack("!h", -1))          # trailer
        return n


# --------------------------------------------------------------- decode
def _dec_numeric(b: bytes) -> Decimal:
    ndigits, weight, sign, dscale = struct.unpack_from("!HhHH", b, 0)
    if sign == 0xC000:
        return Decimal("NaN")
    if sign == 0xD000:        # +Infinity (PG 14+ wire code)
        return Decimal("Infinity")
    if sign == 0xF000:        # -Infinity
        return Decimal("-Infinity")
    digits = struct.unpack_from(f"!{ndigits}H", b, 8)
    # exact integer accumulation + a context wide enough for any
    # value PG can send — the default 28-digit context silently
    # rounds (or raises on quantize) beyond 28 significant digits
    intval = 0
    for d in digits:
        intval = intval * 10000 + d
    from decimal import localcontext
    with localcontext() as ctx:
        ctx.prec = max(4 * ndigits + dscale + 10, 40)
        val = Decimal(intval).scaleb(4 * (weight - ndigits + 1))
        if sign == 0x4000:
            val = -val
        return val.quantize(Decimal(1).scaleb(-dscale)) if dscale else val


# range_send flags (PG rangetypes.h)
_RANGE_EMPTY, _RANGE_LB_INC, _RANGE_UB_INC = 0x01, 0x02, 0x04
_RANGE_LB_INF, _RANGE_UB_INF = 0x08, 0x10


def _range_bound_text(v: Any) -> str:
    """One range bound in PG's display form. range_out double-quotes
    a bound containing whitespace/comma/brackets — timestamps (with
    their space) are, dates/ints/decimals are not."""
    if isinstance(v, datetime):
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        if v.microsecond:
            s += f".{v.microsecond:06d}".rstrip("0")
        if v.tzinfo is not None:
            off = v.utcoffset()
            mins = int(off.total_seconds()) // 60
            sign = "+" if mins >= 0 else "-"
            h, m = divmod(abs(mins), 60)
            s += f"{sign}{h:02d}" + (f":{m:02d}" if m else "")
        return f'"{s}"'
    return str(v)


def _dec_range(oid: int, b: bytes) -> str:
    """Binary range send format → PG's canonical TEXT form, the
    reference's varchar mapping for every range type (reference:
    postgres_utils.cpp TypeToLogicalType range→varchar; test/sql/
    scanner/daterange_array.test pins the rendered form). Layout:
    flags byte, then for each present (non-infinite) bound an int32
    length + the SUBTYPE's send format."""
    flags = b[0]
    if flags & _RANGE_EMPTY:
        return "empty"
    sub = pgt.RANGE_SUBTYPE[oid]
    off = 1
    lo = hi = ""
    if not flags & _RANGE_LB_INF:
        (ln,) = struct.unpack_from("!i", b, off)
        off += 4
        lo = _range_bound_text(decode_field(sub, b[off:off + ln]))
        off += ln
    if not flags & _RANGE_UB_INF:
        (ln,) = struct.unpack_from("!i", b, off)
        off += 4
        hi = _range_bound_text(decode_field(sub, b[off:off + ln]))
    return (("[" if flags & _RANGE_LB_INC else "(") + lo + "," + hi
            + ("]" if flags & _RANGE_UB_INC else ")"))


def decode_field(oid: int, b: bytes) -> Any:
    """Binary send representation → python value (reference:
    postgres_binary_reader.hpp Read* per-OID dispatch)."""
    if oid in pgt.RANGE_SUBTYPE:
        return _dec_range(oid, b)
    if oid == pgt.BOOLOID:
        return b != b"\x00"
    if oid == pgt.INT2OID:
        return struct.unpack("!h", b)[0]
    if oid == pgt.INT4OID:
        return struct.unpack("!i", b)[0]
    if oid in (pgt.INT8OID, pgt.OIDOID):
        return struct.unpack("!q", b)[0]
    if oid == pgt.FLOAT4OID:
        return struct.unpack("!f", b)[0]
    if oid == pgt.FLOAT8OID:
        return struct.unpack("!d", b)[0]
    if oid == pgt.BYTEAOID:
        return b
    if oid == pgt.DATEOID:
        d = struct.unpack("!i", b)[0]
        # PG 'infinity'::date sentinels — clamp to Python's range
        if d == 0x7FFFFFFF:
            return date.max
        if d == -0x80000000:
            return date.min
        return date.fromordinal(d + _PG_EPOCH_ORD)
    if oid == pgt.TIMESTAMPOID:
        us = struct.unpack("!q", b)[0]
        if us == 0x7FFFFFFFFFFFFFFF:      # 'infinity'::timestamp
            return datetime.max
        if us == -0x8000000000000000:
            return datetime.min
        return _PG_EPOCH_NAIVE + timedelta(microseconds=us)
    if oid == pgt.TIMESTAMPTZOID:
        us = struct.unpack("!q", b)[0]
        if us == 0x7FFFFFFFFFFFFFFF:
            return datetime.max.replace(tzinfo=timezone.utc)
        if us == -0x8000000000000000:
            return datetime.min.replace(tzinfo=timezone.utc)
        return _PG_EPOCH_UTC + timedelta(microseconds=us)
    if oid == pgt.NUMERICOID:
        return _dec_numeric(b)
    if oid == pgt.INTERVALOID:
        us, days, months = struct.unpack("!qii", b)
        return timedelta(days=days + months * 30, microseconds=us)
    if oid == pgt.UUIDOID:
        import uuid as _uuid
        return str(_uuid.UUID(bytes=b))
    if oid == pgt.JSONBOID:
        return b[1:].decode("utf-8")              # strip version byte
    # built-in geometry (reference: postgres_binary_reader.hpp
    # ReadGeometry): point → {x,y}; line/circle = 3 doubles,
    # lseg/box = 4; path = closed-flag + count + points (flag
    # dropped, like the reference); polygon = count + points
    if oid == pgt.POINTOID:
        x, y = struct.unpack("!dd", b)
        return {"x": x, "y": y}
    if oid in (pgt.LINEOID, pgt.CIRCLEOID):
        return list(struct.unpack("!3d", b))
    if oid in (pgt.LSEGOID, pgt.BOXOID):
        return list(struct.unpack("!4d", b))
    if oid == pgt.PATHOID:
        (npts,) = struct.unpack_from("!i", b, 1)  # skip closed flag
        return list(struct.unpack_from(f"!{2 * npts}d", b, 5))
    if oid == pgt.POLYGONOID:
        (npts,) = struct.unpack_from("!i", b, 0)
        return list(struct.unpack_from(f"!{2 * npts}d", b, 4))
    return b.decode("utf-8")


def decode_array(b: bytes) -> list:
    ndim, _hasnull, elem_oid = struct.unpack_from("!iii", b, 0)
    off = 12
    dims = []
    for _ in range(ndim):
        d, _lb = struct.unpack_from("!ii", b, off)
        dims.append(d)
        off += 8
    flat = []
    total = 1
    for d in dims:
        total *= d
    for _ in range(total if ndim else 0):
        (ln,) = struct.unpack_from("!i", b, off)
        off += 4
        if ln == -1:
            flat.append(None)
        else:
            flat.append(decode_field(elem_oid, b[off:off + ln]))
            off += ln
    # reshape row-major for multi-dim (reference maps N-dim → nested lists)
    def reshape(vals, ds):
        if len(ds) <= 1:
            return list(vals)
        step = len(vals) // ds[0]
        return [reshape(vals[i * step:(i + 1) * step], ds[1:])
                for i in range(ds[0])]
    return reshape(flat, dims) if ndim > 1 else flat


class BinaryCopyReader:
    """Decode one PGCOPY stream into tuples (reference:
    postgres_binary_reader.hpp header/tuple/trailer loop). The test
    oracle of pgwire_vec.VectorBinaryCopyReader, which runtime paths
    use."""

    def __init__(self, oids: Sequence[int],
                 array_cols: set[int] | None = None):
        self.oids = list(oids)
        self.array_cols = array_cols or set()

    def read(self, stream: BinaryIO) -> Iterator[tuple]:
        def need(n: int) -> bytes:
            b = stream.read(n)
            if len(b) != n:
                raise ValueError("truncated PGCOPY stream")
            return b

        if need(len(SIGNATURE)) != SIGNATURE:
            raise ValueError("not a PGCOPY binary stream (bad signature)")
        _flags, ext = struct.unpack("!II", need(8))
        if ext:
            need(ext)                              # skip header extension
        while True:
            (nfields,) = struct.unpack("!h", need(2))
            if nfields == -1:                      # trailer
                return
            if nfields != len(self.oids):
                raise ValueError(
                    f"tuple has {nfields} fields, expected {len(self.oids)}")
            row = []
            for i in range(nfields):
                (ln,) = struct.unpack("!i", need(4))
                if ln == -1:
                    row.append(None)
                    continue
                payload = need(ln)
                if i in self.array_cols:
                    row.append(decode_array(payload))
                else:
                    row.append(decode_field(self.oids[i], payload))
            yield tuple(row)


class ChunkStream:
    """File-like `read(n)` over an iterator of byte chunks — adapts
    psycopg's `Copy` chunk iterator (and any other chunked source) to
    BinaryCopyReader's stream interface."""

    def __init__(self, chunks: Iterable[bytes]):
        self._it = iter(chunks)
        self._buf = bytearray()

    def read(self, n: int) -> bytes:
        while len(self._buf) < n:
            try:
                self._buf += bytes(next(self._it))
            except StopIteration:
                break
        out = bytes(self._buf[:n])
        del self._buf[:n]
        return out


# ------------------------------------------------- Spark-type bridging
def spark_field_oid(dt) -> int:
    """Spark DataType → the OID whose send format we emit for it."""
    from pyspark.sql import types as T
    if isinstance(dt, T.BooleanType):
        return pgt.BOOLOID
    if isinstance(dt, (T.ShortType, T.ByteType)):
        return pgt.INT2OID
    if isinstance(dt, T.IntegerType):
        return pgt.INT4OID
    if isinstance(dt, T.LongType):
        return pgt.INT8OID
    if isinstance(dt, T.FloatType):
        return pgt.FLOAT4OID
    if isinstance(dt, T.DoubleType):
        return pgt.FLOAT8OID
    if isinstance(dt, T.DecimalType):
        return pgt.NUMERICOID
    if isinstance(dt, T.BinaryType):
        return pgt.BYTEAOID
    if isinstance(dt, T.DateType):
        return pgt.DATEOID
    if isinstance(dt, T.TimestampNTZType):
        return pgt.TIMESTAMPOID
    if isinstance(dt, T.TimestampType):
        return pgt.TIMESTAMPTZOID
    if isinstance(dt, T.DayTimeIntervalType):
        return pgt.INTERVALOID
    return pgt.TEXTOID
