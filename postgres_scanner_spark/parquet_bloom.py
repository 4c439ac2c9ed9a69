"""Parquet split-block Bloom filter (SBBF) reader.

Everything here is built from PUBLIC specifications only:

- The parquet footer and BloomFilterHeader are Thrift structs encoded
  with the Thrift COMPACT protocol (parquet-format/src/main/thrift/
  parquet.thrift); `bloom_filter_offset` / `bloom_filter_length` are
  ColumnMetaData fields 14 / 15.
- The filter itself is the split-block Bloom filter of
  parquet-format/BloomFilter.md: 32-byte blocks of eight 32-bit
  words, one bit per word selected by multiplying the low half of the
  key hash with eight published odd constants ("salts").
- The key hash is XXH64 (seed 0) of the column value's plain-encoded
  bytes (raw bytes for BYTE_ARRAY); XXH64 is Yann Collet's public
  algorithm (github.com/Cyan4717/xxHash spec).

pyarrow exposes neither the bloom offsets nor the bitsets (as of the
pinned build), and Spark's reader applies them only inside parquet-mr
— so a lakehouse planner that wants to SEE the pruning decision (the
way M11/M12 read zone maps) needs this 200-line reader. It is the
storage-side sibling of the engine-side Bloom idiom in
operators/dedup.py (D7) and streaming/events.py (E22).

Reference parity: duckdb/postgres_scanner has no bloom surface; the
reference point is parquet-format itself plus the ctid-split scan of
postgres_scanner.cpp:238 — point lookups there hit a remote btree,
here they hit footer blooms. Used by operators/multimodal.py (M13).
"""

from __future__ import annotations

import struct
from typing import BinaryIO

# ---------------------------------------------------------------------
# Thrift compact protocol (read-only, skip-capable subset).
# Wire type ids: 1/2 bool(true/false), 3 i8, 4 i16, 5 i32, 6 i64,
# 7 double, 8 binary/string, 9 list, 10 set, 11 map, 12 struct.
# ---------------------------------------------------------------------


def _varint(b: bytes, i: int) -> tuple[int, int]:
    x = s = 0
    while True:
        c = b[i]
        i += 1
        x |= (c & 0x7F) << s
        if not c & 0x80:
            return x, i
        s += 7


def _zigzag(b: bytes, i: int) -> tuple[int, int]:
    u, i = _varint(b, i)
    return (u >> 1) ^ -(u & 1), i


def _list_head(b: bytes, i: int) -> tuple[int, int, int]:
    h = b[i]
    i += 1
    n, t = h >> 4, h & 0xF
    if n == 15:
        n, i = _varint(b, i)
    return n, t, i


def _skip(b: bytes, i: int, t: int) -> int:
    if t in (1, 2):          # bool value lives in the field header
        return i
    if t == 3:
        return i + 1
    if t in (4, 5, 6):
        return _zigzag(b, i)[1]
    if t == 7:
        return i + 8
    if t == 8:
        n, i = _varint(b, i)
        return i + n
    if t in (9, 10):
        n, et, i = _list_head(b, i)
        if et in (1, 2):
            # bool LIST elements occupy one byte each (unlike struct
            # fields, where the value lives in the field header)
            return i + n
        for _ in range(n):
            i = _skip(b, i, et)
        return i
    if t == 11:
        n, i = _varint(b, i)
        if n == 0:
            return i
        kt, vt = b[i] >> 4, b[i] & 0xF
        i += 1
        for _ in range(n):
            i = _skip(b, i, kt)
            i = _skip(b, i, vt)
        return i
    if t == 12:
        return _skip_struct(b, i)
    raise ValueError(f"unknown thrift compact type {t}")


def _skip_struct(b: bytes, i: int) -> int:
    fid = 0
    while True:
        h = b[i]
        i += 1
        if h == 0:
            return i
        d, t = h >> 4, h & 0xF
        if d == 0:
            fid, i = _zigzag(b, i)
        else:
            fid += d
        i = _skip(b, i, t)


class _StructReader:
    """Iterate a compact-thrift struct's (field_id, wire_type) pairs;
    the caller either consumes the value via a typed reader or calls
    skip(). Position is exposed as .i so nested readers can resume."""

    def __init__(self, b: bytes, i: int) -> None:
        self.b, self.i, self.fid = b, i, 0

    def __iter__(self):
        return self

    def __next__(self) -> tuple[int, int]:
        h = self.b[self.i]
        self.i += 1
        if h == 0:
            raise StopIteration
        d, t = h >> 4, h & 0xF
        if d == 0:
            self.fid, self.i = _zigzag(self.b, self.i)
        else:
            self.fid += d
        return self.fid, t

    def int_val(self) -> int:
        v, self.i = _zigzag(self.b, self.i)
        return v

    def skip(self, t: int) -> None:
        self.i = _skip(self.b, self.i, t)


# ---------------------------------------------------------------------
# Footer walk: FileMetaData(4: row_groups) -> RowGroup(1: columns)
# -> ColumnChunk(3: meta_data | 4/5: offset_index off/len |
# 6/7: column_index off/len) -> ColumnMetaData(3: path_in_schema,
# 14: bloom_filter_offset, 15: bloom_filter_length).
# ---------------------------------------------------------------------


def _footer_chunks(path: str, meta: dict[tuple[int, int], str],
                   chunk: dict[tuple[int, int], str]) -> list[dict]:
    """One record per (row_group, column chunk) of the footer:
    `row_group`, the dotted `column` path, and each integer field of
    ColumnMetaData named in `meta` and of ColumnChunk named in `chunk`
    ({(field id, thrift type): key}; None when the writer emitted
    none). Reads ONLY the footer tail bytes."""
    with open(path, "rb") as f:
        f.seek(-8, 2)
        n, magic = struct.unpack("<I4s", f.read(8))
        if magic != b"PAR1":
            raise ValueError(f"{path}: not a parquet file")
        f.seek(-8 - n, 2)
        b = f.read(n)
    out: list[dict] = []
    top = _StructReader(b, 0)
    rg_no = 0
    for fid, t in top:
        if not (fid == 4 and t == 9):
            top.skip(t)
            continue
        n_rg, _et, top.i = _list_head(b, top.i)
        for _ in range(n_rg):
            rg = _StructReader(b, top.i)
            for fid2, t2 in rg:
                if not (fid2 == 1 and t2 == 9):
                    rg.skip(t2)
                    continue
                n_col, _ct, rg.i = _list_head(b, rg.i)
                for _c in range(n_col):
                    cc = _StructReader(b, rg.i)
                    rec = {"row_group": rg_no, "column": None,
                           **dict.fromkeys(meta.values()),
                           **dict.fromkeys(chunk.values())}
                    for fid3, t3 in cc:
                        if fid3 == 3 and t3 == 12:
                            cm = _StructReader(b, cc.i)
                            for fid4, t4 in cm:
                                if fid4 == 3 and t4 == 9:
                                    np_, _pt, cm.i = _list_head(b, cm.i)
                                    parts = []
                                    for _p in range(np_):
                                        ln, cm.i = _varint(b, cm.i)
                                        parts.append(
                                            b[cm.i:cm.i + ln].decode())
                                        cm.i += ln
                                    rec["column"] = ".".join(parts)
                                elif (fid4, t4) in meta:
                                    rec[meta[fid4, t4]] = cm.int_val()
                                else:
                                    cm.skip(t4)
                            cc.i = cm.i
                        elif (fid3, t3) in chunk:
                            rec[chunk[fid3, t3]] = cc.int_val()
                        else:
                            cc.skip(t3)
                    out.append(rec)
                    rg.i = cc.i
            top.i = rg.i
            rg_no += 1
    return out


def footer_bloom_index(path: str) -> list[dict]:
    """One entry per (row_group, column chunk): the column's dotted
    path plus every footer-index pointer the chunk carries — bloom
    filter, OffsetIndex, ColumnIndex offsets/lengths (None when the
    writer emitted none). Reads ONLY the footer tail bytes."""
    return _footer_chunks(
        path, {(14, 6): "bloom_offset", (15, 5): "bloom_length"},
        {(4, 6): "offset_index_offset", (5, 5): "offset_index_length",
         (6, 6): "column_index_offset", (7, 5): "column_index_length"})


def read_bloom_bitset(f: BinaryIO, offset: int,
                      length: int | None) -> bytes:
    """Parse the BloomFilterHeader (1: numBytes i32; 2/3/4: algorithm/
    hash/compression unions — validated present, then skipped) at
    `offset` and return the raw SBBF bitset that follows it."""
    f.seek(offset)
    if length is not None and length > 0:
        raw = f.read(length)
    else:
        # writers predating bloom_filter_length carry only the
        # offset: read a header-sized chunk first, then exactly the
        # bitset — a fixed 1MB cap would spuriously truncate bitsets
        # at parquet-mr's own 1MB default maximum
        raw = f.read(256)
    r = _StructReader(raw, 0)
    num_bytes = None
    seen = set()
    try:
        for fid, t in r:
            if fid == 1 and t == 5:
                num_bytes = r.int_val()
            else:
                seen.add(fid)
                r.skip(t)
    except IndexError:
        # header ran past the bytes we have: either the 256-byte
        # offset-only probe was too small for an oversized header, or
        # the file is EOF-truncated at `offset`
        raise ValueError(
            f"bloom header truncated at offset={offset}: parsed past "
            f"{len(raw)} available bytes (declared length={length})")
    if num_bytes is None or num_bytes <= 0 or num_bytes % 32:
        raise ValueError(f"bad bloom header numBytes={num_bytes}")
    if not {2, 3}.issubset(seen):
        raise ValueError("bloom header missing algorithm/hash unions")
    if length is not None and length > 0 and r.i + num_bytes > length:
        # never read past a writer-declared bloom_filter_length
        raise ValueError(
            f"bloom_filter_length={length} too small for header "
            f"({r.i} B) + bitset ({num_bytes} B) at offset={offset}")
    bitset = raw[r.i:r.i + num_bytes]
    if len(bitset) != num_bytes:
        # offset-only path: the header chunk covered the header but
        # not the whole bitset — fetch the remainder exactly
        f.seek(offset + r.i + len(bitset))
        bitset += f.read(num_bytes - len(bitset))
    if len(bitset) != num_bytes:
        raise ValueError("bloom bitset truncated")
    return bitset


# ---------------------------------------------------------------------
# XXH64 (seed 0) — the hash BloomFilter.md specifies.
# ---------------------------------------------------------------------

_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    11400714785074694791, 14029467366897019727, 1609587929392839161,
    9650029242287828579, 2870177450012600261)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    n, i = len(data), 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7)
             + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):   # mergeRound
            h ^= _round(0, v)
            h = (h * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        k = _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h ^ k, 27) * _P1 + _P4) & _M64
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


# ---------------------------------------------------------------------
# Split-block membership (BloomFilter.md block_check).
# ---------------------------------------------------------------------

_SALT = (0x47B6137B, 0x44974D91, 0x8824AD5B, 0xA2B7289D,
         0x705495C7, 0x2DF1424B, 0x9EFC4947, 0x5C6BFB31)


def sbbf_might_contain(bitset: bytes, h: int) -> bool:
    """True iff every one of the 8 salted bits is set in the block
    `((h >> 32) * n_blocks) >> 32` — no false negatives by
    construction; false positives at the writer's FPP."""
    n_blocks = len(bitset) // 32
    base = (((h >> 32) * n_blocks) >> 32) * 32
    x = h & 0xFFFFFFFF
    for j, salt in enumerate(_SALT):
        bit = ((x * salt) & 0xFFFFFFFF) >> 27
        w = int.from_bytes(bitset[base + 4 * j:base + 4 * j + 4],
                           "little")
        if not (w >> bit) & 1:
            return False
    return True


# ---------------------------------------------------------------------
# Page index (parquet-format PageIndex.md): per-column-chunk
# OffsetIndex (1: page_locations list<PageLocation{1: offset,
# 2: compressed_page_size, 3: first_row_index}>) and ColumnIndex
# (1: null_pages list<bool>, 2: min_values, 3: max_values
# list<binary> — PLAIN-encoded, 5: null_counts). These are the
# page-granularity zone maps Spark's writer emits by default; as
# with the blooms, pyarrow exposes neither structure.
# ---------------------------------------------------------------------


def read_offset_index(f: BinaryIO, offset: int,
                      length: int) -> list[dict]:
    """Page locations for one column chunk: the byte extent a
    range-reader would fetch per page, and each page's first row."""
    f.seek(offset)
    b = f.read(length)
    pages: list[dict] = []
    r = _StructReader(b, 0)
    for fid, t in r:
        if fid == 1 and t == 9:
            n, _et, r.i = _list_head(b, r.i)
            for _ in range(n):
                pl = _StructReader(b, r.i)
                rec = {"offset": None, "compressed_page_size": None,
                       "first_row_index": None}
                for fid2, t2 in pl:
                    if fid2 == 1 and t2 == 6:
                        rec["offset"] = pl.int_val()
                    elif fid2 == 2 and t2 == 5:
                        rec["compressed_page_size"] = pl.int_val()
                    elif fid2 == 3 and t2 == 6:
                        rec["first_row_index"] = pl.int_val()
                    else:
                        pl.skip(t2)
                pages.append(rec)
                r.i = pl.i
        else:
            r.skip(t)
    return pages


def read_column_index_int64(f: BinaryIO, offset: int, length: int
                            ) -> list[dict]:
    """Per-page zone maps for an INT64 column chunk: null_pages flag
    and min/max decoded from the 8-byte little-endian PLAIN values
    (INT64 stats are never truncated — truncation applies to
    BYTE_ARRAY only)."""
    f.seek(offset)
    b = f.read(length)
    nulls: list[bool] = []
    mins: list[int] = []
    maxs: list[int] = []
    r = _StructReader(b, 0)
    for fid, t in r:
        if fid == 1 and t == 9:           # null_pages: list<bool>
            n, _et, r.i = _list_head(b, r.i)
            for _ in range(n):
                nulls.append(b[r.i] == 1)
                r.i += 1
        elif fid in (2, 3) and t == 9:    # min_values / max_values
            n, _et, r.i = _list_head(b, r.i)
            vals = []
            for _ in range(n):
                ln, r.i = _varint(b, r.i)
                # a NULL PAGE's entry is an EMPTY byte array — decode
                # exactly ln bytes (a fixed 8-byte read would consume
                # the next entry's length prefix as data)
                vals.append(
                    int.from_bytes(b[r.i:r.i + ln], "little",
                                   signed=True) if ln == 8 else None)
                r.i += ln
            if fid == 2:
                mins = vals
            else:
                maxs = vals
        else:
            r.skip(t)
    return [{"page": i, "null_page": nulls[i] if nulls else False,
             "key_min": mins[i], "key_max": maxs[i]}
            for i in range(len(mins))]


# ---------------------------------------------------------------------
# Dictionary-page audit (parquet-format Encodings.md / parquet.thrift):
# ColumnMetaData (3: path_in_schema, 4: codec, 5: num_values,
# 9: data_page_offset, 11: dictionary_page_offset) and the PageHeader
# at that offset (1: type, 2/3: sizes, 7: DictionaryPageHeader
# {1: num_values, 2: encoding, 3: is_sorted}). pyarrow exposes the
# chunk's has_dictionary_page flag but NOT the dictionary ENTRY
# count — that lives only in the page header on disk.
# ---------------------------------------------------------------------


def footer_dict_index(path: str) -> list[dict]:
    """One entry per (row_group, column chunk): dotted column path,
    value count, codec, and the dictionary/data page offsets. Reads
    ONLY the footer tail bytes (the same walk as
    footer_bloom_index, different ColumnMetaData fields)."""
    return _footer_chunks(
        path, {(4, 5): "codec", (5, 6): "num_values",
               (9, 6): "data_page_offset",
               (11, 6): "dictionary_page_offset"}, {})


def read_dict_page_header(f: BinaryIO, offset: int) -> dict:
    """Parse the thrift-compact PageHeader at a chunk's
    dictionary_page_offset and return {type, uncompressed_size,
    compressed_size, num_values, encoding, is_sorted}. The header is
    stored UNCOMPRESSED even when the page body is codec-compressed,
    so the entry count costs a ~64-byte read, never a decompress.
    Raises if the page at the offset is not a DICTIONARY_PAGE (2) —
    a wrong offset must fail loudly, not count a data page's rows."""
    f.seek(offset)
    raw = f.read(512)
    r = _StructReader(raw, 0)
    out = {"type": None, "uncompressed_size": None,
           "compressed_size": None, "num_values": None,
           "encoding": None, "is_sorted": None}
    for fid, t in r:
        if fid == 1 and t == 5:
            out["type"] = r.int_val()
        elif fid == 2 and t == 5:
            out["uncompressed_size"] = r.int_val()
        elif fid == 3 and t == 5:
            out["compressed_size"] = r.int_val()
        elif fid == 7 and t == 12:
            dh = _StructReader(raw, r.i)
            for fid2, t2 in dh:
                if fid2 == 1 and t2 == 5:
                    out["num_values"] = dh.int_val()
                elif fid2 == 2 and t2 == 5:
                    out["encoding"] = dh.int_val()
                elif fid2 == 3 and t2 in (1, 2):
                    out["is_sorted"] = (t2 == 1)
                else:
                    dh.skip(t2)
            r.i = dh.i
        else:
            r.skip(t)
    if out["type"] != 2:
        raise ValueError(
            f"page at offset={offset} is type={out['type']}, "
            "not DICTIONARY_PAGE(2)")
    if out["num_values"] is None or out["num_values"] < 0:
        raise ValueError(f"bad dictionary num_values at {offset}")
    return out
