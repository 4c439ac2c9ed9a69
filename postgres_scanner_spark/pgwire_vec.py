"""Arrow-batch vectorized PGCOPY binary codec, both directions.

`pgwire.BinaryCopyWriter`/`BinaryCopyReader` are the fixture-tested
wire CONTRACT — per-row codecs whose bytes are pinned against recorded
PG frames, kept as test oracles. This module is the runtime path: it
encodes and decodes whole Arrow record batches with column-wise numpy
kernels (big-endian views, offset arithmetic, one gather/scatter per
column) instead of a Python loop with per-field struct dispatch.
`VectorBinaryCopyWriter` produces byte-identical streams and
`VectorBinaryCopyReader` Arrow-identical batches (pinned by
tests/test_pgwire.py::test_vectorized_*).

The reference's codec is vectorized C++ over DuckDB vectors
(reference: src/postgres_binary_copy.cpp PostgresBinaryCopyFunction —
column-at-a-time cast + append; src/include/postgres_binary_reader.hpp
— column-at-a-time decode into vectors); this is the Arrow/numpy
re-expression of the same design.

Layout per row: int16 field count, then per field int32 payload
length (-1 = NULL) + payload. Columns whose type has no numpy kernel
(decimal, interval, arrays, uuid, geometry, ranges…) fall back to the
scalar `pgwire` field codec for THAT COLUMN only and still flow
through the vectorized assembly, so a single exotic column doesn't
collapse the batch to the per-row codec.
"""

from __future__ import annotations

import struct
from functools import partial
from typing import BinaryIO, Iterable, Iterator

import numpy as np
import pyarrow as pa

from . import types as pgt
from .pgwire import (SIGNATURE, decode_array, decode_field, encode_array,
                     encode_field)

# 2000-01-01 (PG epoch) relative to the unix epoch
_PG_EPOCH_US = 946_684_800_000_000
_PG_EPOCH_DAYS = 10_957
# the OIDs whose binary send format IS the utf8 text
_TEXT_FAMILY = frozenset({pgt.TEXTOID, pgt.VARCHAROID, pgt.BPCHAROID,
                          pgt.NAMEOID, pgt.JSONOID, pgt.XMLOID,
                          pgt.CHAROID})


def _ints(arr, pa_type):
    """Null-safe integral numpy view: cast to the integral arrow type,
    zero-fill nulls (null rows are never written — the length prefix
    is -1 — so the filler just keeps the buffer integral: a to_numpy
    on a nullable int column would round-trip through float64 and
    corrupt int64 values beyond 2^53)."""
    a = arr.cast(pa_type)
    if a.null_count:
        a = a.fill_null(0)
    return a.to_numpy(zero_copy_only=False)


def _fixed_cols(arr, oid: int):
    """(width, big-endian word array) for arrow arrays with a
    fixed-width wire image, or None if unsupported. Words come back
    as '>iW' (or uint8 for bool) so the assembly can scatter each
    field as ONE word write through an overlapping strided view."""
    t = arr.type
    if oid == pgt.BOOLOID and pa.types.is_boolean(t):
        return 1, _ints(arr, pa.uint8()).astype(np.uint8)
    if oid == pgt.INT2OID and pa.types.is_int16(t):
        return 2, _ints(arr, pa.int16()).astype(">i2")
    if oid == pgt.INT4OID and pa.types.is_int32(t):
        return 4, _ints(arr, pa.int32()).astype(">i4")
    if oid in (pgt.INT8OID, pgt.OIDOID) and pa.types.is_int64(t):
        return 8, _ints(arr, pa.int64()).astype(">i8")
    if oid == pgt.FLOAT4OID and pa.types.is_float32(t):
        a = arr.fill_null(0.0) if arr.null_count else arr
        return 4, a.to_numpy(zero_copy_only=False).astype(">f4") \
            .view(">i4")
    if oid == pgt.FLOAT8OID and pa.types.is_float64(t):
        a = arr.fill_null(0.0) if arr.null_count else arr
        return 8, a.to_numpy(zero_copy_only=False).astype(">f8") \
            .view(">i8")
    if oid == pgt.DATEOID and pa.types.is_date32(t):
        days = _ints(arr, pa.int32()) - _PG_EPOCH_DAYS
        return 4, days.astype(">i4")
    if oid in (pgt.TIMESTAMPOID, pgt.TIMESTAMPTZOID) \
            and pa.types.is_timestamp(t) and t.unit == "us":
        # arrow micros are unix-epoch (tz-typed columns store UTC
        # micros, matching the scalar path's session-is-UTC contract)
        us = _ints(arr.cast(pa.timestamp("us")), pa.int64())
        return 8, (us - _PG_EPOCH_US).astype(">i8")
    return None


def _var_cols(arr, oid: int, null_byte_replacement=None):
    """(payload uint8[], starts int64[n], lens int64[n]) for arrow
    variable-width arrays whose wire image IS the arrow buffer
    (utf8 text family, bytea), or None."""
    t = arr.type
    # the arrow utf8 buffer IS the wire image only for the text
    # family; uuid (16 raw bytes) and jsonb (version-prefix byte)
    # re-encode their strings, so they take the scalar fallback
    # the utf8 fast path ships raw bytes labeled with the column's
    # OID — valid ONLY for the text family, whose binary send format
    # IS the utf8 text. Any other OID paired with a string Arrow
    # column (layout bug, direct-caller misuse) must take the scalar
    # fallback, which encodes per the OID or diverges loudly.
    utf8 = oid in _TEXT_FAMILY and (
        pa.types.is_string(t) or pa.types.is_large_string(t))
    rawb = oid == pgt.BYTEAOID and (
        pa.types.is_binary(t) or pa.types.is_large_binary(t))
    if not (utf8 or rawb):
        return None
    if pa.types.is_large_string(t) or pa.types.is_large_binary(t):
        odt = np.int64
    else:
        odt = np.int32
    bufs = arr.buffers()
    off = np.frombuffer(bufs[1], dtype=odt,
                        count=len(arr) + 1 + arr.offset)[arr.offset:]
    off = off.astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] else \
        np.empty(0, np.uint8)
    starts, lens = off[:-1], np.diff(off)
    if utf8 and len(off) > 1:
        # PG rejects NUL bytes in varchar: one numpy pass over JUST
        # this slice's byte range (a sliced arr's buffer is the whole
        # parent — bounding by the offsets avoids rescanning it per
        # chunk). NUL only ever encodes U+0000 in utf8. A column
        # containing one re-encodes via the scalar fallback, which
        # raises or substitutes per the policy.
        seg = data[off[0]:off[-1]]
        if seg.size and not seg.all():
            return None
    return data, starts, lens


def _fallback_col(arr, oid: int, elem_oid, ndim,
                  null_byte_replacement=None):
    """Scalar-encode one column (exotic wire types, or text columns
    carrying NUL bytes) into the same (payload, starts, lens) shape
    the vectorized assembly consumes."""
    pieces, lens = [], np.empty(len(arr), np.int64)
    for j, v in enumerate(arr.to_pylist()):
        if v is None:
            lens[j] = 0
            continue
        p = encode_array(elem_oid, v, ndim, null_byte_replacement) \
            if elem_oid is not None \
            else encode_field(oid, v, null_byte_replacement)
        pieces.append(p)
        lens[j] = len(p)
    payload = np.frombuffer(b"".join(pieces), dtype=np.uint8)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    return payload, starts, lens


def encode_batch(batch, oids, array_elem=None, array_ndims=None,
                 null_byte_replacement=None) -> bytes:
    """One Arrow RecordBatch → PGCOPY row bytes (no header/trailer)."""
    array_elem = array_elem or {}
    array_ndims = array_ndims or {}
    n = batch.num_rows
    if n == 0:
        return b""
    ncols = batch.num_columns
    # per column: payload length per row (-1 NULL) + a writer closure
    col_lens: list[np.ndarray] = []
    col_data: list[tuple] = []          # ("fixed", mat) | ("var", ...)
    for i in range(ncols):
        arr = batch.column(i).combine_chunks() \
            if hasattr(batch.column(i), "combine_chunks") \
            else batch.column(i)
        null = np.zeros(n, dtype=bool)
        if arr.null_count:
            null = np.asarray(arr.is_null())
        kind = None
        if i not in array_elem:
            kind = _fixed_cols(arr, oids[i])
        if kind is not None:
            w, mat = kind
            lens = np.full(n, w, dtype=np.int64)
            lens[null] = -1
            col_data.append(("fixed", w, mat, ~null))
        else:
            var = None if i in array_elem else \
                _var_cols(arr, oids[i], null_byte_replacement)
            if var is None:
                var = _fallback_col(arr, oids[i],
                                    array_elem.get(i),
                                    array_ndims.get(i, 1),
                                    null_byte_replacement)
            data, starts, lens = var
            lens = lens.copy()
            lens[null] = -1
            col_data.append(("var", data, starts, ~null))
        col_lens.append(lens)
    # row/field offsets
    pay = [np.maximum(L, 0) for L in col_lens]
    row_len = np.full(n, 2 + 4 * ncols, dtype=np.int64)
    for p in pay:
        row_len += p
    row_off = np.concatenate(([0], np.cumsum(row_len)))
    total = int(row_off[-1])
    out = np.empty(total, dtype=np.uint8)

    # overlapping byte-stride word views: ONE fancy-indexed write per
    # 2/4/8-byte field at arbitrary byte offsets (numpy handles the
    # unaligned element copies; distinct rows' fields never overlap)
    def oview(dtype: str, width: int):
        if total < width:
            return None
        return np.ndarray(shape=(total - width + 1,), dtype=dtype,
                          buffer=out.data, strides=(1,))

    o16, o32, o64 = oview(">i2", 2), oview(">i4", 4), oview(">i8", 8)
    o16[row_off[:-1]] = ncols           # int16 field count per row
    cur = row_off[:-1] + 2
    for i in range(ncols):
        lens = col_lens[i]
        spec = col_data[i]
        if spec[0] == "fixed":
            _, w, words, nn = spec
            if nn.all():
                o32[cur] = w            # constant length prefix
                dst = cur + 4
            else:
                o32[cur] = lens         # -1 on the null rows
                dst = cur[nn] + 4
                words = words[nn]
            if dst.size:
                if w == 8:
                    o64[dst] = words
                elif w == 4:
                    o32[dst] = words
                elif w == 2:
                    o16[dst] = words
                else:
                    out[dst] = words
        else:
            o32[cur] = lens
            _, data, starts, nn = spec
            seg = pay[i][nn]
            if seg.size and seg.sum():
                pstart = cur + 4
                dst = np.repeat(pstart[nn], seg)
                seg0 = np.concatenate(([0], np.cumsum(seg)[:-1]))
                intra = np.arange(seg.sum()) - np.repeat(seg0, seg)
                src = np.repeat(starts[nn], seg) + intra
                out[dst + intra] = data[src]
        cur = cur + 4 + pay[i]
    return out.tobytes()


class VectorBinaryCopyWriter:
    """Drop-in bulk counterpart of pgwire.BinaryCopyWriter: same
    constructor, but consumes Arrow record batches. Oversized batches
    are encoded in _CHUNK-row slices: the scatter-assembly working
    set then stays cache-resident (measured ~25% faster at 1M rows
    than single-slab encoding, and far steadier — no 100MB temp
    churn)."""

    _CHUNK = 65_536

    def __init__(self, oids, array_elem_oids=None, array_ndims=None,
                 null_byte_replacement=None):
        self.oids = list(oids)
        self.array_elem = array_elem_oids or {}
        self.array_ndims = array_ndims or {}
        self.null_byte_replacement = null_byte_replacement

    def write_batches(self, out: BinaryIO, batches: Iterable) -> int:
        out.write(SIGNATURE)
        out.write(struct.pack("!II", 0, 0))
        n = 0
        for b in batches:
            if b.num_columns != len(self.oids):
                raise ValueError(
                    f"batch has {b.num_columns} columns, schema has "
                    f"{len(self.oids)}")
            for s in range(0, b.num_rows, self._CHUNK):
                out.write(encode_batch(
                    b.slice(s, self._CHUNK), self.oids,
                    self.array_elem, self.array_ndims,
                    self.null_byte_replacement))
            n += b.num_rows
        out.write(struct.pack("!h", -1))
        return n


# --------------------------------------------------------------- decode
_H = struct.Struct("!h").unpack_from
_I = struct.Struct("!i").unpack_from
_II = struct.Struct("!II").unpack_from
_HEADER = len(SIGNATURE) + 8          # signature, flags, extension length
_TRAILER = b"\xff\xff"                # int16 -1
_WALK_BYTES = 1 << 22                 # unframed input gathered per walk

# Python's date/datetime range, as unix days / micros: the scalar
# decoder raises outside it (ValueError for dates, OverflowError for
# timestamps) and clamps PG's ±infinity sentinels to its ends
_DATE_MIN, _DATE_MAX = -719_162, 2_932_896
_TS_MIN, _TS_MAX = -62_135_596_800_000_000, 253_402_300_799_999_999
_I32_MAX, _I32_MIN = 0x7FFFFFFF, -0x80000000
_I64_MAX, _I64_MIN = 0x7FFFFFFFFFFFFFFF, -0x8000000000000000


def _dates(d):
    """PG days since 2000-01-01 → unix days, ±infinity clamped."""
    d = d.astype(np.int64)
    hi, lo = d == _I32_MAX, d == _I32_MIN
    out = d + _PG_EPOCH_DAYS
    out[hi], out[lo] = _DATE_MAX, _DATE_MIN
    if ((out < _DATE_MIN) | (out > _DATE_MAX)).any():
        raise ValueError("year is out of range")
    return out.astype(np.int32)


def _timestamps(us):
    """PG micros since 2000-01-01 → unix micros, ±infinity clamped
    (range-checked before the shift, which could overflow int64)."""
    us = us.astype(np.int64)
    hi, lo = us == _I64_MAX, us == _I64_MIN
    us = np.where(hi | lo, 0, us)
    if ((us < _TS_MIN - _PG_EPOCH_US) | (us > _TS_MAX - _PG_EPOCH_US)).any():
        raise OverflowError("date value out of range")
    out = us + _PG_EPOCH_US
    out[hi], out[lo] = _TS_MAX, _TS_MIN
    return out


# fixed-width wire images: OID → (width, big-endian dtype, arrow type,
# wire words → arrow data buffer)
_FIXED = {
    pgt.BOOLOID: (1, "u1", pa.bool_(),
                  lambda v: np.packbits(v != 0, bitorder="little")),
    pgt.INT2OID: (2, ">i2", pa.int16(), lambda v: v.astype(np.int16)),
    pgt.INT4OID: (4, ">i4", pa.int32(), lambda v: v.astype(np.int32)),
    pgt.INT8OID: (8, ">i8", pa.int64(), lambda v: v.astype(np.int64)),
    pgt.OIDOID: (8, ">i8", pa.int64(), lambda v: v.astype(np.int64)),
    pgt.FLOAT4OID: (4, ">f4", pa.float32(),
                    lambda v: v.astype(np.float32)),
    pgt.FLOAT8OID: (8, ">f8", pa.float64(),
                    lambda v: v.astype(np.float64)),
    pgt.DATEOID: (4, ">i4", pa.date32(), _dates),
    pgt.TIMESTAMPOID: (8, ">i8", pa.timestamp("us"), _timestamps),
    pgt.TIMESTAMPTZOID: (8, ">i8", pa.timestamp("us", tz="UTC"),
                         _timestamps),
}


def _header_len(buf, pos: int, end: int) -> int:
    """Length of the PGCOPY header at buf[pos:end] (signature, flags,
    header extension)."""
    k = min(len(SIGNATURE), end - pos)
    if bytes(buf[pos:pos + k]) != SIGNATURE[:k]:
        raise ValueError("not a PGCOPY binary stream (bad signature)")
    if end - pos < _HEADER:
        raise ValueError("truncated PGCOPY stream")
    _flags, ext = _II(buf, pos + len(SIGNATURE))
    if end - pos < _HEADER + ext:
        raise ValueError("truncated PGCOPY stream")
    return _HEADER + ext


def _walk_rows(buf, pos: int, ncols: int):
    """The length-word walk: (starts, ends, next pos, trailer seen) of
    the complete tuples in buf[pos:]. Used where the input carries no
    per-row framing (files, ragged chunk iterators)."""
    starts, ends, end = [], [], len(buf)
    while pos + 2 <= end:
        (nf,) = _H(buf, pos)
        if nf == -1:
            return starts, ends, pos + 2, True
        if nf != ncols:
            raise ValueError(f"tuple has {nf} fields, expected {ncols}")
        p = pos + 2
        for _ in range(nf):
            if p + 4 > end:
                return starts, ends, pos, False
            (ln,) = _I(buf, p)
            p += 4 + ln if ln > 0 else 4
        if p > end:
            break
        starts.append(pos)
        ends.append(p)
        pos = p
    return starts, ends, pos, False


def _words(u8, dtype: str, width: int):
    """Overlapping byte-stride view: element k is the big-endian word
    at byte offset k, so one fancy index gathers a field per row."""
    return np.ndarray(shape=(max(len(u8) - width + 1, 0),), dtype=dtype,
                      buffer=u8, strides=(1,))


def _validity(null):
    if not null.any():
        return None, 0
    return pa.py_buffer(np.packbits(~null, bitorder="little")), \
        int(null.sum())


class VectorBinaryCopyReader:
    """Column-wise PGCOPY decoder — the read-side mirror of
    VectorBinaryCopyWriter (reference: postgres_binary_reader.hpp,
    which decodes straight into DuckDB vectors). Yields Arrow record
    batches of at most _CHUNK rows typed to `to_arrow_schema(schema)`,
    Arrow-identical to the scalar `pgwire.BinaryCopyReader` rows run
    through PySpark's own row→Arrow converters.

    Per column: fixed-width types (bool, int2/4/8, float4/8, date,
    timestamp/tz) are one big-endian numpy gather; text and bytea are
    one Arrow `take` over the row buffer; every other wire type (and
    any OID whose natural Arrow type is not the schema's) decodes
    THAT COLUMN with the scalar `decode_field`/`decode_array` and
    PySpark's converter.

    Row offsets come from the input's framing when it has one — a
    pgclient COPY OUT delivers one CopyData message per row — and
    otherwise from a single length-word walk over the bytes."""

    _CHUNK = 65_536

    def __init__(self, oids, array_cols, schema):
        from pyspark.sql.conversion import LocalDataToArrowConversion
        from pyspark.sql.pandas.types import to_arrow_schema
        self.oids = list(oids)
        self.array_cols = set(array_cols or ())
        self.schema = to_arrow_schema(schema)
        if len(self.oids) != len(self.schema):
            raise ValueError(f"{len(self.oids)} OIDs for "
                             f"{len(self.schema)} schema fields")
        self._cols = []
        conv = LocalDataToArrowConversion._create_converter
        for i, (oid, f) in enumerate(zip(self.oids, schema.fields)):
            target = self.schema.field(i).type
            if i in self.array_cols:
                kind = (decode_array, conv(f.dataType))
            elif oid in _FIXED and _FIXED[oid][2] == target:
                kind = _FIXED[oid]
            elif (oid in _TEXT_FAMILY and target == pa.string()) or \
                    (oid == pgt.BYTEAOID and target == pa.binary()):
                kind = "var"
            else:
                kind = (partial(decode_field, oid), conv(f.dataType))
            self._cols.append((kind, target))

    # -- input framing
    def read(self, source) -> Iterator:
        """Decode one PGCOPY stream. `source` is a pgclient COPY OUT
        handle (framed: `blocks()` yields (buffer, row starts, row
        ends)) or an iterable of byte chunks split anywhere — psycopg's
        `Copy`, a list, or a file read in pieces."""
        if hasattr(source, "blocks"):
            spans = self._framed(source.blocks())
        else:
            spans = self._walked(source)
        for buf, starts, ends in spans:
            for s in range(0, len(starts), self._CHUNK):
                yield self._decode(buf, starts[s:s + self._CHUNK],
                                   ends[s:s + self._CHUNK])

    def _framed(self, blocks):
        """Row spans from CopyData framing: the header rides in the
        first message, the trailer is the last one."""
        header, trailer = True, False
        for buf, starts, ends in blocks:
            starts = np.asarray(starts, np.int64)
            ends = np.asarray(ends, np.int64)
            if header and len(starts):
                starts[0] += _header_len(buf, int(starts[0]), int(ends[0]))
                header = False
            if len(starts) and ends[-1] - starts[-1] == 2 and \
                    bytes(buf[ends[-1] - 2:ends[-1]]) == _TRAILER:
                trailer = True
                starts, ends = starts[:-1], ends[:-1]
            keep = starts < ends          # a header-only message
            if not keep.all():
                starts, ends = starts[keep], ends[keep]
            if len(starts):
                yield buf, starts, ends
        if not trailer:
            raise ValueError("truncated PGCOPY stream")

    def _walked(self, chunks):
        """Row spans from the length-word walk over arbitrary chunks,
        gathered _WALK_BYTES at a time."""
        it, tail, header, ncols = iter(chunks), b"", True, len(self.oids)
        while True:
            parts, size, more = [tail], len(tail), False
            for c in it:
                parts.append(c)
                size += len(c)
                if size >= max(_WALK_BYTES, 2 * len(tail)):
                    more = True
                    break
            buf = b"".join(parts)
            pos = 0
            if header:            # the first gather holds it: ≥ 4 MiB
                pos = _header_len(buf, 0, len(buf))
                header = False
            starts, ends, pos, done = _walk_rows(buf, pos, ncols)
            if starts:
                yield buf, np.array(starts, np.int64), \
                    np.array(ends, np.int64)
            if done:
                return
            if not more:
                raise ValueError("truncated PGCOPY stream")
            tail = buf[pos:]

    # -- column-wise decode
    def _decode(self, buf, starts, ends):
        u8 = np.frombuffer(buf, np.uint8)
        i16, i32 = _words(u8, ">i2", 2), _words(u8, ">i4", 4)
        nf = i16[starts]
        if (nf != len(self.oids)).any():
            bad = int(nf[nf != len(self.oids)][0])
            raise ValueError(
                f"tuple has {bad} fields, expected {len(self.oids)}")
        cur, cols = starts + 2, []
        for kind, target in self._cols:
            if (cur + 4 > ends).any():
                raise ValueError("truncated PGCOPY tuple")
            ln = i32[cur].astype(np.int64)
            pos = cur + 4
            null = ln < 0
            cur = pos + np.maximum(ln, 0)
            if (cur > ends).any() or (ln < -1).any():
                raise ValueError("corrupt PGCOPY field length")
            if kind == "var":
                col = self._var(buf, pos, ln, null, target)
            elif isinstance(kind[0], int):
                col = self._fixed(u8, pos, ln, null, kind)
            else:
                col = self._scalar(buf, pos, ln, null, kind, target)
            cols.append(col)
        if (cur != ends).any():
            raise ValueError("PGCOPY tuple longer than its fields")
        return pa.RecordBatch.from_arrays(cols, schema=self.schema)

    @staticmethod
    def _fixed(u8, pos, ln, null, kind):
        width, dtype, typ, convert = kind
        words = _words(u8, dtype, width)
        if null.any():
            ok = ~null
            if (ln[ok] != width).any():
                raise ValueError(f"{typ} field is not {width} bytes")
            vals = np.zeros(len(pos), dtype)
            vals[ok] = words[pos[ok]]
        else:
            if (ln != width).any():
                raise ValueError(f"{typ} field is not {width} bytes")
            vals = words[pos]
        validity, nulls = _validity(null)
        return pa.Array.from_buffers(
            typ, len(pos), [validity, pa.py_buffer(convert(vals))], nulls)

    @staticmethod
    def _var(buf, pos, ln, null, target):
        """text/bytea: a 2n-value binary array over the row buffer
        whose even values are the payloads (odd ones the bytes between
        them), then one `take` of the even values — Arrow copies the
        payloads out; casting to string validates the utf8."""
        n = len(pos)
        if not n:
            return pa.array([], target)
        off = np.empty(2 * n + 1, np.int64)
        off[0:2 * n:2] = pos
        off[1:2 * n:2] = pos + np.where(null, 0, ln)
        off[2 * n] = off[2 * n - 1]
        big = off[-1] > _I32_MAX
        both = pa.Array.from_buffers(
            pa.large_binary() if big else pa.binary(), 2 * n,
            [None, pa.py_buffer(off if big else off.astype(np.int32)),
             pa.py_buffer(buf)])
        idx = pa.array(np.arange(0, 2 * n, 2, dtype=np.int64),
                       mask=null if null.any() else None)
        return both.take(idx).cast(target)

    @staticmethod
    def _scalar(buf, pos, ln, null, kind, target):
        """Per-column fallback: scalar field decode plus PySpark's
        row→Arrow converter, exactly the tuple path's per-value work."""
        dec, conv = kind
        mv = memoryview(buf)
        vals = [conv(None if nl else dec(bytes(mv[p:p + n])))
                for p, n, nl in zip(pos.tolist(), ln.tolist(),
                                    null.tolist())]
        return pa.array(vals, target)
