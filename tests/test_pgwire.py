"""PG COPY binary wire codec tests — fixture bytes are constructed
by hand from the public format spec (PostgreSQL docs, sql-copy
"Binary Format"), NOT via our own writer, so the reader is validated
against the wire contract rather than against itself. Round-trip
tests then pin writer ↔ reader consistency. Pure Python, no Spark.

Reference parity: src/include/postgres_binary_reader.hpp (field
decode), src/postgres_binary_copy.cpp (writer framing)."""

import io
import struct
from datetime import date, datetime, timedelta, timezone
from decimal import Decimal

import pytest

from postgres_scanner_spark import types as pgt
from postgres_scanner_spark.pgwire import (
    SIGNATURE, BinaryCopyReader, BinaryCopyWriter, decode_array,
    decode_field, encode_array, encode_field,
)


def _header(flags=0, ext=b""):
    return SIGNATURE + struct.pack("!II", flags, len(ext)) + ext


def _field(payload: bytes | None) -> bytes:
    if payload is None:
        return struct.pack("!i", -1)
    return struct.pack("!i", len(payload)) + payload


TRAILER = struct.pack("!h", -1)


def test_decode_fixture_stream_scalar_types():
    """A 2-row stream built field-by-field from the wire spec."""
    oids = [pgt.INT4OID, pgt.TEXTOID, pgt.FLOAT8OID, pgt.BOOLOID,
            pgt.DATEOID, pgt.NUMERICOID]
    days = date(2024, 1, 2).toordinal() - date(2000, 1, 1).toordinal()
    row1 = (struct.pack("!h", 6)
            + _field(struct.pack("!i", 42))
            + _field(b"hi")
            + _field(struct.pack("!d", 1.5))
            + _field(b"\x01")
            + _field(struct.pack("!i", days))
            # numeric 123.45: ndigits=2 weight=0 sign=+ dscale=2,
            # base-10000 digits [123, 4500]
            + _field(struct.pack("!HhHH", 2, 0, 0x0000, 2)
                     + struct.pack("!HH", 123, 4500)))
    row2 = (struct.pack("!h", 6)
            + _field(struct.pack("!i", -7))
            + _field(None)                       # NULL text
            + _field(struct.pack("!d", -0.25))
            + _field(b"\x00")
            + _field(None)
            + _field(struct.pack("!HhHH", 1, -1, 0x4000, 4)
                     + struct.pack("!H", 123)))  # -0.0123
    stream = io.BytesIO(_header() + row1 + row2 + TRAILER)
    rows = list(BinaryCopyReader(oids).read(stream))
    assert rows == [
        (42, "hi", 1.5, True, date(2024, 1, 2), Decimal("123.45")),
        (-7, None, -0.25, False, None, Decimal("-0.0123")),
    ]


def test_decode_skips_header_extension():
    oids = [pgt.INT2OID]
    body = struct.pack("!h", 1) + _field(struct.pack("!h", 9))
    stream = io.BytesIO(_header(ext=b"\xde\xad") + body + TRAILER)
    assert list(BinaryCopyReader(oids).read(stream)) == [(9,)]


def test_decode_rejects_bad_signature():
    with pytest.raises(ValueError, match="signature"):
        list(BinaryCopyReader([pgt.INT4OID]).read(
            io.BytesIO(b"NOTPGCOPY\x00\x00" + TRAILER)))


def test_decode_rejects_truncation():
    oids = [pgt.INT4OID]
    good = _header() + struct.pack("!h", 1) + _field(struct.pack("!i", 1))
    with pytest.raises(ValueError, match="truncated"):
        list(BinaryCopyReader(oids).read(io.BytesIO(good)))  # no trailer


def test_timestamp_decode_is_pg_epoch_microseconds():
    # 2004-10-19 10:23:54 UTC = 150273834000000 us after 2000-01-01
    us = int((datetime(2004, 10, 19, 10, 23, 54)
              - datetime(2000, 1, 1)).total_seconds() * 1e6)
    v = decode_field(pgt.TIMESTAMPOID, struct.pack("!q", us))
    assert v == datetime(2004, 10, 19, 10, 23, 54)
    vtz = decode_field(pgt.TIMESTAMPTZOID, struct.pack("!q", us))
    assert vtz == datetime(2004, 10, 19, 10, 23, 54, tzinfo=timezone.utc)


def test_array_decode_1d_and_2d():
    # [10, NULL, 30] as int4[]
    b = (struct.pack("!iii", 1, 1, pgt.INT4OID)
         + struct.pack("!ii", 3, 1)
         + _field(struct.pack("!i", 10)) + _field(None)
         + _field(struct.pack("!i", 30)))
    assert decode_array(b) == [10, None, 30]
    # [[1,2],[3,4]] as int4[][] (reference:
    # attach_existing_multidimensional_array.test)
    b2 = (struct.pack("!iii", 2, 0, pgt.INT4OID)
          + struct.pack("!ii", 2, 1) + struct.pack("!ii", 2, 1)
          + b"".join(_field(struct.pack("!i", v)) for v in (1, 2, 3, 4)))
    assert decode_array(b2) == [[1, 2], [3, 4]]


def test_numeric_encode_matches_spec_fixture():
    assert encode_field(pgt.NUMERICOID, Decimal("123.45")) == \
        struct.pack("!HhHH", 2, 0, 0x0000, 2) + struct.pack("!HH", 123, 4500)


@pytest.mark.parametrize("v", [
    "0", "1", "-1", "123.45", "-0.0123", "99999999.9999", "10000",
    "0.0001", "12345678901234.567", "2",
])
def test_numeric_roundtrip(v):
    d = Decimal(v)
    assert decode_field(pgt.NUMERICOID,
                        encode_field(pgt.NUMERICOID, d)) == d


def test_writer_reader_roundtrip_all_types():
    oids = [pgt.INT8OID, pgt.TEXTOID, pgt.FLOAT4OID, pgt.BOOLOID,
            pgt.DATEOID, pgt.TIMESTAMPOID, pgt.NUMERICOID, pgt.BYTEAOID]
    rows = [
        (1, "alpha", 1.5, True, date(2020, 5, 17),
         datetime(2021, 6, 1, 12, 30, 0), Decimal("42.42"), b"\x00\x01"),
        (2, None, None, False, None, None, None, None),
        (-3, "nul-byte-free", -2.25, None, date(1999, 12, 31),
         datetime(1969, 7, 20, 20, 17, 40), Decimal("-0.5"), b""),
    ]
    buf = io.BytesIO()
    n = BinaryCopyWriter(oids).write(buf, rows)
    assert n == 3
    buf.seek(0)
    out = list(BinaryCopyReader(oids).read(buf))
    assert out == rows


def test_array_roundtrip_through_writer():
    oids = [pgt.INT4OID, pgt.TEXTOID]
    rows = [(1, ["a", None, "c"]), (2, [])]
    buf = io.BytesIO()
    BinaryCopyWriter(oids, array_elem_oids={1: pgt.TEXTOID}).write(buf, rows)
    buf.seek(0)
    out = list(BinaryCopyReader(oids, array_cols={1}).read(buf))
    assert out == rows


def test_interval_roundtrip():
    v = timedelta(days=3, hours=4, minutes=5, seconds=6, microseconds=7)
    b = encode_field(pgt.INTERVALOID, v)
    assert struct.unpack("!qii", b) == (
        (4 * 3600 + 5 * 60 + 6) * 1_000_000 + 7, 3, 0)
    assert decode_field(pgt.INTERVALOID, b) == v


def test_uuid_roundtrip():
    u = "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11"
    b = encode_field(pgt.UUIDOID, u)
    assert len(b) == 16
    assert decode_field(pgt.UUIDOID, b) == u


# ---------------- Spark-level pg_binary COPY round-trip ----------------
def test_copy_pg_binary_roundtrip(spark, tmp_path):
    """copy_to/copy_from with format='pg_binary': real PGCOPY streams,
    one per partition, decoded back distributed (reference:
    postgres_binary_copy.cpp + postgres_copy_from.cpp)."""
    import glob
    from datetime import date, datetime
    from decimal import Decimal
    from pyspark.sql import types as T
    from postgres_scanner_spark.copyio import copy_from, copy_to
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("price", T.DecimalType(10, 2)),
        T.StructField("day", T.DateType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
    ])
    rows = [
        (1, "a", Decimal("1.50"), date(2024, 1, 2),
         datetime(2024, 1, 2, 3, 4, 5), ["x", "y"]),
        (2, None, Decimal("-7.25"), None, None, []),
        (3, "c", None, date(1999, 12, 31),
         datetime(1970, 1, 1, 0, 0, 1), None),
    ]
    df = spark.createDataFrame(rows, schema).repartition(3)
    out = str(tmp_path / "pgcopy_out")
    copy_to(df, out, format="pg_binary")
    parts = glob.glob(out + "/*.pgcopy")
    assert len(parts) == 3                      # one stream per partition
    with open(parts[0], "rb") as fh:
        assert fh.read(11) == b"PGCOPY\n\xff\r\n\x00"
    back = copy_from(spark, out, format="pg_binary", schema=schema)
    assert back.schema == schema
    got = sorted([tuple(r) for r in back.collect()])
    assert got == sorted(rows, key=lambda r: r[0])


def test_copy_pg_binary_roundtrip_nulls_nested_and_empty(spark, tmp_path):
    """copy_to → copy_from through the column-wise codec both ways:
    NULLs in every column, numeric, array<array<int>>, timestamps
    (naive and UTC) across several part files — and a zero-partition
    frame, whose directory holds one header+trailer stream."""
    import glob
    from pyspark.sql import types as T
    from postgres_scanner_spark.copyio import copy_from, copy_to
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("n", T.DecimalType(18, 4)),
        T.StructField("grid", T.ArrayType(T.ArrayType(T.IntegerType()))),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("tz", T.TimestampType()),
        T.StructField("s", T.StringType()),
        T.StructField("f", T.FloatType()),
    ])
    rows = [(i, None if i % 3 == 0
             else (Decimal(i) / 7).quantize(Decimal("0.0001")),
             None if i % 4 == 0 else [[i, i + 1], [i + 2, i + 3]],
             None if i % 5 == 0 else datetime(1999, 12, 31, 23, 59, 59, i),
             None if i % 6 == 0 else datetime(2024, 2, 29, 12, 0, i % 60,
                                              tzinfo=timezone.utc),
             None if i % 2 == 0 else "ü" * (i % 9),
             None if i % 7 == 0 else i / 8)
            for i in range(60)]
    df = spark.createDataFrame(rows, schema).repartition(4)
    out = str(tmp_path / "nested")
    copy_to(df, out, format="pg_binary")
    assert len(glob.glob(out + "/*.pgcopy")) == 4
    back = copy_from(spark, out, format="pg_binary", schema=schema)
    assert back.schema == schema
    assert sorted(back.collect()) == sorted(df.collect())
    empty = str(tmp_path / "empty")
    none = spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)
    assert none.rdd.getNumPartitions() == 0
    copy_to(none, empty, format="pg_binary")
    assert len(glob.glob(empty + "/*.pgcopy")) == 1
    back = copy_from(spark, empty, format="pg_binary", schema=schema)
    assert back.schema == schema and back.count() == 0


def test_copy_pg_binary_requires_schema(spark, tmp_path):
    from postgres_scanner_spark.copyio import copy_from
    with pytest.raises(ValueError, match="schema"):
        copy_from(spark, str(tmp_path), format="pg_binary")


def test_timestamp_microsecond_precision_far_from_epoch():
    """total_seconds()-based encoding drifted ±1us beyond ~2100;
    integer arithmetic must round-trip exactly at any date."""
    from datetime import datetime
    from postgres_scanner_spark import pgwire
    from postgres_scanner_spark import types as pgt
    for dt in (datetime(2290, 1, 1, 0, 0, 0, 1),
               datetime(2150, 6, 5, 12, 34, 56, 789123),
               datetime(1890, 2, 3, 4, 5, 6, 7),
               datetime(2000, 1, 1, 0, 0, 0, 0)):
        b = pgwire.encode_field(pgt.TIMESTAMPOID, dt)
        assert pgwire.decode_field(pgt.TIMESTAMPOID, b) == dt, dt


def test_numeric_infinity_wire_codes():
    """PG 14+ numeric ±Infinity: 0xD000/0xF000 — must round-trip, not
    silently decode as 0."""
    from decimal import Decimal
    from postgres_scanner_spark import pgwire
    from postgres_scanner_spark import types as pgt
    for v in (Decimal("Infinity"), Decimal("-Infinity")):
        b = pgwire.encode_field(pgt.NUMERICOID, v)
        assert pgwire.decode_field(pgt.NUMERICOID, b) == v
    import struct
    raw = struct.pack("!HhHH", 0, 0, 0xD000, 0)
    assert pgwire.decode_field(pgt.NUMERICOID, raw) == Decimal("Infinity")


def test_numeric_wide_precision_roundtrip():
    """38-digit decimals (legal DecimalType(38,0) / PG numeric) must
    survive the wire bit-for-bit — the default 28-digit context
    silently rounded them."""
    from decimal import Decimal
    from postgres_scanner_spark import pgwire
    from postgres_scanner_spark import types as pgt
    for v in (Decimal("12345678901234567890123456789012345678"),
              Decimal("123456789012345678.90123456789012345678"),
              Decimal("-0.00000000000000000000000000000000000001")):
        b = pgwire.encode_field(pgt.NUMERICOID, v)
        assert pgwire.decode_field(pgt.NUMERICOID, b) == v, v


def test_datetime_infinity_sentinels():
    """PG 'infinity' timestamps/dates decode to Python's max/min
    instead of raising OverflowError mid-scan."""
    import struct
    from datetime import date, datetime
    from postgres_scanner_spark import pgwire
    from postgres_scanner_spark import types as pgt
    assert pgwire.decode_field(
        pgt.TIMESTAMPOID, struct.pack("!q", 0x7FFFFFFFFFFFFFFF)) \
        == datetime.max
    assert pgwire.decode_field(
        pgt.DATEOID, struct.pack("!i", 0x7FFFFFFF)) == date.max
    assert pgwire.decode_field(
        pgt.DATEOID, struct.pack("!i", -0x80000000)) == date.min


def test_writer_rejects_short_rows():
    import io
    import pytest as _pytest
    from postgres_scanner_spark import pgwire
    from postgres_scanner_spark import types as pgt
    w = pgwire.BinaryCopyWriter([pgt.INT4OID, pgt.TEXTOID])
    with _pytest.raises(ValueError, match="has 1 fields"):
        w.write(io.BytesIO(), [(1,)])


def test_multidim_array_roundtrip():
    """2-D arrays emit genuine ndim=2 frames (not text-serialized
    inner lists) and decode back to nested lists."""
    from postgres_scanner_spark import pgwire
    from postgres_scanner_spark import types as pgt
    payload = pgwire.encode_array(pgt.INT4OID, [[1, 2, 3], [4, 5, 6]],
                                  ndim=2)
    assert pgwire.decode_array(payload) == [[1, 2, 3], [4, 5, 6]]


def test_geometry_decode_fixture_bytes():
    """Geometry wire fixtures built from the PG send functions' layout
    (reference: postgres_binary_reader.hpp ReadGeometry): point = 2
    float8s → {x,y}; line/circle = 3; lseg/box = 4; path = closed flag
    + count + points (flag dropped); polygon = count + points."""
    assert decode_field(pgt.POINTOID, struct.pack("!dd", 1.0, 2.0)) == \
        {"x": 1.0, "y": 2.0}
    assert decode_field(pgt.LINEOID, struct.pack("!3d", 1.0, -1.0, 0.5)) == \
        [1.0, -1.0, 0.5]
    assert decode_field(pgt.CIRCLEOID, struct.pack("!3d", 0.0, 0.0, 2.5)) == \
        [0.0, 0.0, 2.5]
    assert decode_field(pgt.LSEGOID,
                        struct.pack("!4d", 0.0, 0.0, 1.0, 1.0)) == \
        [0.0, 0.0, 1.0, 1.0]
    assert decode_field(pgt.BOXOID,
                        struct.pack("!4d", 2.0, 2.0, 0.0, 0.0)) == \
        [2.0, 2.0, 0.0, 0.0]
    path = struct.pack("!bi", 1, 2) + struct.pack("!4d", 0., 0., 3., 4.)
    assert decode_field(pgt.PATHOID, path) == [0.0, 0.0, 3.0, 4.0]
    poly = struct.pack("!i", 3) + struct.pack("!6d", 0., 0., 1., 0., 0., 1.)
    assert decode_field(pgt.POLYGONOID, poly) == \
        [0.0, 0.0, 1.0, 0.0, 0.0, 1.0]


def test_geometry_spark_type_mapping():
    from postgres_scanner_spark.types import pg_type_to_spark
    from pyspark.sql import types as T
    pt = pg_type_to_spark("point")
    assert isinstance(pt, T.StructType)
    assert [f.name for f in pt.fields] == ["x", "y"]
    for name in ("line", "lseg", "box", "path", "polygon", "circle"):
        dt = pg_type_to_spark(name)
        assert dt == T.ArrayType(T.DoubleType()), name


# ---- property: arbitrary rows survive the wire at any chunking ------
from hypothesis import given, settings, strategies as st  # noqa: E402

from postgres_scanner_spark.pgwire import ChunkStream  # noqa: E402

_cell = st.one_of(
    st.none(),
    st.integers(-2**63, 2**63 - 1),
)
_text_cell = st.one_of(
    st.none(),
    st.text(max_size=40).filter(lambda s: "\x00" not in s),
)
_float_cell = st.one_of(
    st.none(), st.floats(allow_nan=False, width=64))
_bytes_cell = st.one_of(st.none(), st.binary(max_size=40))


@settings(max_examples=60, deadline=None)
@given(rows=st.lists(st.tuples(_cell, _text_cell, _float_cell,
                               _bytes_cell), max_size=15),
       chunk=st.integers(1, 23))
def test_stream_roundtrip_property(rows, chunk):
    """Any (int8, text, float8, bytea) row set must survive
    write → ragged ChunkStream reassembly → read bit-exactly —
    hypothesis covers NULL patterns, empty strings/bytes, negative
    zero, full-range ints, and pathological chunk boundaries the
    fixture tests cannot enumerate."""
    oids = [pgt.INT8OID, pgt.TEXTOID, pgt.FLOAT8OID, pgt.BYTEAOID]
    buf = io.BytesIO()
    n = BinaryCopyWriter(oids).write(buf, rows)
    assert n == len(rows)
    data = buf.getvalue()
    chunks = [data[i:i + chunk] for i in range(0, len(data), chunk)]
    out = list(BinaryCopyReader(oids).read(ChunkStream(iter(chunks))))
    assert out == rows


# ----------------------------------------------------- vectorized codec
def _vec_oids():
    return [pgt.INT4OID, pgt.INT2OID, pgt.INT8OID, pgt.FLOAT4OID,
            pgt.FLOAT8OID, pgt.BOOLOID, pgt.TEXTOID, pgt.BYTEAOID,
            pgt.DATEOID, pgt.TIMESTAMPOID, pgt.NUMERICOID, 0]


def test_vectorized_writer_byte_identical_full_matrix():
    """The Arrow-vectorized bulk encoder (pgwire_vec) must emit the
    EXACT stream the fixture-tested scalar writer emits — pgwire is
    the wire contract, pgwire_vec only the throughput path — across
    every wire type family including NULL rows, -0.0, infinities,
    unicode, empty strings/bytes, decimals (per-column scalar
    fallback) and int arrays (encode_array fallback)."""
    import datetime as dt
    from decimal import Decimal

    import pyarrow as pa

    from postgres_scanner_spark.pgwire_vec import VectorBinaryCopyWriter

    rows = [
        (1, 32000, 123456789012345678, 1.5, 2.25, True, "héllo",
         b"\x00\xff", dt.date(2024, 2, 29),
         dt.datetime(2024, 1, 2, 3, 4, 5, 123456),
         Decimal("12345.67"), [1, 2, None]),
        (None,) * 12,
        (-7, -5, -2**62, -0.0, float("inf"), False, "", b"",
         dt.date(1999, 12, 31),
         dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
         Decimal("-0.01"), []),
    ]
    arrays = [pa.array([r[i] for r in rows], t) for i, t in enumerate([
        pa.int32(), pa.int16(), pa.int64(), pa.float32(), pa.float64(),
        pa.bool_(), pa.string(), pa.binary(), pa.date32(),
        pa.timestamp("us"), pa.decimal128(10, 2),
        pa.list_(pa.int32())])]
    batch = pa.record_batch(arrays, names=[f"c{i}" for i in range(12)])
    oids, ae, nd = _vec_oids(), {11: pgt.INT4OID}, {11: 1}
    b1, b2 = io.BytesIO(), io.BytesIO()
    assert BinaryCopyWriter(oids, ae, nd).write(b1, rows) == 3
    assert VectorBinaryCopyWriter(oids, ae, nd).write_batches(
        b2, [batch]) == 3
    assert b1.getvalue() == b2.getvalue()
    # and the stream decodes back through the contract reader
    out = list(BinaryCopyReader(oids, {11}).read(
        io.BytesIO(b2.getvalue())))
    assert out[1] == (None,) * 12


_date_cell = st.one_of(
    st.none(),
    st.dates(min_value=__import__("datetime").date(1, 1, 1),
             max_value=__import__("datetime").date(9999, 12, 31)))
_ts_cell = st.one_of(
    st.none(),
    st.datetimes(
        min_value=__import__("datetime").datetime(1, 1, 1),
        max_value=__import__("datetime").datetime(9999, 12, 31)))
_dec_cell = st.one_of(
    st.none(),
    st.decimals(allow_nan=False, allow_infinity=False,
                min_value=-10**16, max_value=10**16, places=4))


@settings(max_examples=40, deadline=None)
@given(rows=st.lists(st.tuples(_cell, _text_cell, _float_cell,
                               _bytes_cell, _date_cell, _ts_cell,
                               _dec_cell), max_size=20),
       chunk=st.integers(1, 7))
def test_vectorized_writer_property(rows, chunk):
    """Property: for any (int8, text, float8, bytea, date, timestamp,
    numeric) row set and any internal batch slicing, vectorized bytes
    == scalar bytes — the full-range dates/timestamps cover the PG
    epoch offsets, numeric covers the per-column scalar fallback."""
    import pyarrow as pa

    from postgres_scanner_spark.pgwire_vec import VectorBinaryCopyWriter

    oids = [pgt.INT8OID, pgt.TEXTOID, pgt.FLOAT8OID, pgt.BYTEAOID,
            pgt.DATEOID, pgt.TIMESTAMPOID, pgt.NUMERICOID]
    batch = pa.record_batch(
        [pa.array([r[0] for r in rows], pa.int64()),
         pa.array([r[1] for r in rows], pa.string()),
         pa.array([r[2] for r in rows], pa.float64()),
         pa.array([r[3] for r in rows], pa.binary()),
         pa.array([r[4] for r in rows], pa.date32()),
         pa.array([r[5] for r in rows], pa.timestamp("us")),
         pa.array([r[6] for r in rows], pa.decimal128(21, 4))],
        names=list("abcdefg"))
    b1, b2 = io.BytesIO(), io.BytesIO()
    BinaryCopyWriter(oids).write(b1, rows)
    w = VectorBinaryCopyWriter(oids)
    w._CHUNK = chunk          # force mid-stream slice boundaries
    w.write_batches(b2, [batch])
    assert b1.getvalue() == b2.getvalue()


def test_vectorized_writer_uuid_jsonb_reencode():
    """uuid and jsonb STRING columns must not ship raw utf8: uuid
    sends 16 raw bytes, jsonb prepends the version-1 byte — the
    vectorized writer must route both through the scalar fallback
    and stay byte-identical to the contract writer."""
    import uuid as _uuid

    import pyarrow as pa

    from postgres_scanner_spark.pgwire_vec import VectorBinaryCopyWriter

    u = "bd132f35-1a2b-4c5d-8e9f-001122334455"
    rows = [(u, '{"a": 1}'), (None, None),
            (str(_uuid.UUID(int=0)), "[]")]
    batch = pa.record_batch(
        [pa.array([r[0] for r in rows], pa.string()),
         pa.array([r[1] for r in rows], pa.string())],
        names=["u", "j"])
    oids = [pgt.UUIDOID, pgt.JSONBOID]
    b1, b2 = io.BytesIO(), io.BytesIO()
    BinaryCopyWriter(oids).write(b1, rows)
    VectorBinaryCopyWriter(oids).write_batches(b2, [batch])
    assert b1.getvalue() == b2.getvalue()
    # and the uuid field really is 16 bytes on the wire, not 36
    assert bytes.fromhex("00000010bd132f35") in b1.getvalue()


def test_null_byte_policy_both_codecs():
    """reference: attach_null_byte.test — PG rejects NUL bytes in
    varchar values: both codecs raise the reference's error by
    default, and substitute when pg_null_byte_replacement is given
    (here passed explicitly; the writers wire it from SETTINGS).
    Byte-identity must hold between the codecs under substitution."""
    import pyarrow as pa

    from postgres_scanner_spark.pgwire_vec import VectorBinaryCopyWriter

    rows = [("\x00",), ("FF\x00FF",), ("clean",), (None,)]
    batch = pa.record_batch(
        [pa.array([r[0] for r in rows], pa.string())], names=["s"])
    oids = [pgt.TEXTOID]
    with pytest.raises(ValueError, match="NULL-bytes in VARCHAR"):
        BinaryCopyWriter(oids).write(io.BytesIO(), rows)
    with pytest.raises(ValueError, match="NULL-bytes in VARCHAR"):
        VectorBinaryCopyWriter(oids).write_batches(io.BytesIO(), [batch])
    b1, b2 = io.BytesIO(), io.BytesIO()
    BinaryCopyWriter(oids, null_byte_replacement="").write(b1, rows)
    VectorBinaryCopyWriter(
        oids, null_byte_replacement="").write_batches(b2, [batch])
    assert b1.getvalue() == b2.getvalue()
    out = list(BinaryCopyReader(oids).read(io.BytesIO(b1.getvalue())))
    assert out == [("",), ("FFFF",), ("clean",), (None,)]
    # array elements are covered too
    with pytest.raises(ValueError, match="NULL-bytes"):
        encode_array(pgt.TEXTOID, ["ok", "b\x00ad"])
    assert encode_array(pgt.TEXTOID, ["b\x00ad"],
                        null_byte_replacement="_") == \
        encode_array(pgt.TEXTOID, ["b_ad"])



# ------------------------------------------- vectorized reader identity
import pyarrow as pa  # noqa: E402
import pyarrow.compute as pc  # noqa: E402
from pyspark.sql import types as T  # noqa: E402


def _copy_out(data: bytes, nblocks: int = 3):
    """`data` as the pgclient COPY OUT framing delivers it: one
    CopyData message per tuple, the header riding in the first and
    the trailer its own message, grouped into about `nblocks` blocks
    of (buffer, payload starts, payload ends)."""
    hdr = len(SIGNATURE) + 8 + struct.unpack_from("!I", data, 15)[0]
    rows, pos = [], hdr
    while struct.unpack_from("!h", data, pos)[0] != -1:
        p = pos + 2
        for _ in range(struct.unpack_from("!h", data, pos)[0]):
            p += 4 + max(struct.unpack_from("!i", data, p)[0], 0)
        rows.append((pos, p))
        pos = p
    if rows:
        msgs = [data[:rows[0][1]]] + [data[a:b] for a, b in rows[1:]] \
            + [data[pos:pos + 2]]
    else:
        msgs = [data[:pos + 2]]
    step = max(1, -(-len(msgs) // nblocks))
    blocks = []
    for b in range(0, len(msgs), step):
        buf, starts, ends = bytearray(), [], []
        for m in msgs[b:b + step]:
            buf += b"d" + struct.pack("!I", len(m) + 4)
            starts.append(len(buf))
            buf += m
            ends.append(len(buf))
        blocks.append((buf, starts, ends))

    class _Copy:
        def blocks(self):
            return iter(blocks)
    return _Copy()


def _oracle(oids, array_cols, schema, data: bytes) -> pa.Table:
    """What the tuple path produced: scalar BinaryCopyReader rows
    through PySpark's own DataSource row→Arrow conversion."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.worker.plan_data_source_read import (
        records_to_arrow_batches,
    )
    rows = BinaryCopyReader(oids, array_cols).read(io.BytesIO(data))
    return pa.Table.from_batches(
        list(records_to_arrow_batches(rows, 10_000, schema, None)),
        to_arrow_schema(schema))


def _float_bits(col):
    """(NaN mask, bit pattern with NaNs zeroed): Arrow's equals() says
    NaN != NaN and -0.0 == 0.0; identity needs neither."""
    col = col.combine_chunks()
    nan = pc.is_nan(col)
    width = pa.int32() if col.type == pa.float32() else pa.int64()
    return nan, pc.if_else(nan, pa.scalar(0, col.type), col).view(width)


def assert_arrow_identical(got, want: pa.Table) -> None:
    """`got` (record batches) holds exactly `want`'s schema and
    values, float bits included (nested floats by their repr, which
    is exact and tells NaN and -0.0 apart)."""
    got = pa.Table.from_batches(list(got), want.schema)
    assert got.schema == want.schema
    for g, w in zip(got.columns, want.columns):
        if pa.types.is_floating(g.type):
            (gn, gb), (wn, wb) = _float_bits(g), _float_bits(w)
            assert gn.equals(wn) and gb.equals(wb), (g, w)
        elif pa.types.is_nested(g.type):
            assert repr(g.to_pylist()) == repr(w.to_pylist()), (g, w)
        else:
            assert g.equals(w), (g, w)


def _check_vector(oids, array_cols, schema, data: bytes):
    """The vectorized reader on `data` — whole, ragged 5-byte chunks,
    a file read in pieces, and pgclient framing — against the scalar
    oracle."""
    from postgres_scanner_spark.pgwire_vec import VectorBinaryCopyReader
    want = _oracle(oids, array_cols, schema, data)
    r = VectorBinaryCopyReader(oids, array_cols, schema)
    assert_arrow_identical(r.read([data]), want)
    assert_arrow_identical(
        r.read([data[i:i + 5] for i in range(0, len(data), 5)]), want)
    fh = io.BytesIO(data)
    assert_arrow_identical(r.read(iter(lambda: fh.read(64), b"")), want)
    assert_arrow_identical(r.read(_copy_out(data)), want)


def _st(*fields):
    return T.StructType([T.StructField(f"c{i}", t)
                         for i, t in enumerate(fields)])


def _fixture_streams():
    """(name, oids, array_cols, schema, stream) for every fixture
    family above: hand-built wire bytes and writer round trips."""
    days = date(2024, 1, 2).toordinal() - date(2000, 1, 1).toordinal()
    scalar = (struct.pack("!h", 6) + _field(struct.pack("!i", 42))
              + _field(b"hi") + _field(struct.pack("!d", 1.5))
              + _field(b"\x01") + _field(struct.pack("!i", days))
              + _field(struct.pack("!HhHH", 2, 0, 0, 2)
                       + struct.pack("!HH", 123, 4500))
              + struct.pack("!h", 6) + _field(struct.pack("!i", -7))
              + _field(None) + _field(struct.pack("!d", -0.25))
              + _field(b"\x00") + _field(None)
              + _field(struct.pack("!HhHH", 1, -1, 0x4000, 4)
                       + struct.pack("!H", 123)))
    yield ("scalar_types",
           [pgt.INT4OID, pgt.TEXTOID, pgt.FLOAT8OID, pgt.BOOLOID,
            pgt.DATEOID, pgt.NUMERICOID], set(),
           _st(T.IntegerType(), T.StringType(), T.DoubleType(),
               T.BooleanType(), T.DateType(), T.DecimalType(10, 4)),
           _header() + scalar + TRAILER)
    yield ("header_extension", [pgt.INT2OID], set(), _st(T.ShortType()),
           _header(ext=b"\xde\xad") + struct.pack("!h", 1)
           + _field(struct.pack("!h", 9)) + TRAILER)
    yield ("empty", [pgt.INT4OID, pgt.TEXTOID], set(),
           _st(T.IntegerType(), T.StringType()), _header() + TRAILER)
    geo = (struct.pack("!h", 3) + _field(struct.pack("!dd", 1.0, 2.0))
           + _field(struct.pack("!4d", 2.0, 2.0, 0.0, 0.0))
           + _field(struct.pack("!bi", 1, 2)
                    + struct.pack("!4d", 0., 0., 3., 4.)))
    point = T.StructType([T.StructField("x", T.DoubleType()),
                          T.StructField("y", T.DoubleType())])
    yield ("geometry", [pgt.POINTOID, pgt.BOXOID, pgt.PATHOID], set(),
           _st(point, T.ArrayType(T.DoubleType()),
               T.ArrayType(T.DoubleType())),
           _header() + geo + TRAILER)
    cases = [
        ("all_types",
         [pgt.INT8OID, pgt.TEXTOID, pgt.FLOAT4OID, pgt.BOOLOID,
          pgt.DATEOID, pgt.TIMESTAMPOID, pgt.NUMERICOID, pgt.BYTEAOID],
         {}, {},
         _st(T.LongType(), T.StringType(), T.FloatType(), T.BooleanType(),
             T.DateType(), T.TimestampNTZType(), T.DecimalType(10, 2),
             T.BinaryType()),
         [(1, "alpha", 1.5, True, date(2020, 5, 17),
           datetime(2021, 6, 1, 12, 30, 0), Decimal("42.42"), b"\x00\x01"),
          (2, None, None, False, None, None, None, None),
          (-3, "héllo", -2.25, None, date(1999, 12, 31),
           datetime(1969, 7, 20, 20, 17, 40), Decimal("-0.5"), b"")]),
        ("arrays", [pgt.INT4OID, 0], {1: pgt.TEXTOID}, {},
         _st(T.IntegerType(), T.ArrayType(T.StringType())),
         [(1, ["a", None, "c"]), (2, []), (3, None)]),
        ("multidim", [0], {0: pgt.INT4OID}, {0: 2},
         _st(T.ArrayType(T.ArrayType(T.IntegerType()))),
         [([[1, 2, 3], [4, 5, 6]],), (None,)]),
        ("interval_uuid_tz", [pgt.INTERVALOID, pgt.UUIDOID,
                              pgt.TIMESTAMPTZOID], {}, {},
         _st(T.DayTimeIntervalType(), T.StringType(), T.TimestampType()),
         [(timedelta(days=3, microseconds=7),
           "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11",
           datetime(2004, 10, 19, 10, 23, 54, tzinfo=timezone.utc)),
          (None, None, None)]),
        ("numeric_wide", [pgt.NUMERICOID], {}, {},
         _st(T.DecimalType(38, 0)),
         [(Decimal("12345678901234567890123456789012345678"),),
          (Decimal("NaN"),), (None,)]),
    ]
    for name, oids, elem, ndims, schema, rows in cases:
        buf = io.BytesIO()
        BinaryCopyWriter(oids, elem, ndims).write(buf, rows)
        yield name, oids, set(elem), schema, buf.getvalue()
    sentinels = b"".join(
        struct.pack("!h", 3) + _field(struct.pack("!i", d))
        + _field(struct.pack("!q", t)) + _field(struct.pack("!q", t))
        for d, t in ((0x7FFFFFFF, 0x7FFFFFFFFFFFFFFF),
                     (-0x80000000, -0x8000000000000000)))
    yield ("infinity_sentinels",
           [pgt.DATEOID, pgt.TIMESTAMPOID, pgt.TIMESTAMPTZOID], set(),
           _st(T.DateType(), T.TimestampNTZType(), T.TimestampType()),
           _header() + sentinels + TRAILER)


@pytest.mark.parametrize(
    "oids,array_cols,schema,data",
    [f[1:] for f in _fixture_streams()],
    ids=[f[0] for f in _fixture_streams()])
def test_vector_reader_matches_scalar_oracle_on_fixtures(
        oids, array_cols, schema, data):
    """VectorBinaryCopyReader is Arrow-identical to the scalar
    BinaryCopyReader + PySpark's converters on every fixture family —
    whole streams, ragged chunks and pgclient per-row framing."""
    _check_vector(oids, array_cols, schema, data)


def test_vector_reader_rejects_what_the_scalar_reader_rejects():
    """Bad signature, a missing trailer (unframed or framed), a wrong
    field count, a wrong fixed-width length, a message holding two
    rows and a date beyond Python's range all raise, never decode."""
    from postgres_scanner_spark.pgwire_vec import VectorBinaryCopyReader
    r = VectorBinaryCopyReader([pgt.INT4OID], set(), _st(T.IntegerType()))
    good = _header() + struct.pack("!h", 1) + _field(struct.pack("!i", 1))
    with pytest.raises(ValueError, match="signature"):
        list(r.read([b"NOTPGCOPY\x00\x00" + TRAILER]))
    with pytest.raises(ValueError, match="truncated"):
        list(r.read([good]))                       # no trailer
    head, trailer = _copy_out(good + TRAILER, nblocks=2).blocks()

    class _NoTrailer:                 # CopyDone without the trailer
        def blocks(self):
            return iter([head])
    with pytest.raises(ValueError, match="truncated"):
        list(r.read(_NoTrailer()))
    with pytest.raises(ValueError, match="2 fields, expected 1"):
        list(r.read([_header() + struct.pack("!h", 2) + _field(b"")
                     + _field(b"") + TRAILER]))
    with pytest.raises(ValueError, match="4 bytes"):
        list(r.read([_header() + struct.pack("!h", 1) + _field(b"\x01")
                     + TRAILER]))
    row = struct.pack("!h", 1) + _field(struct.pack("!i", 2))
    buf = bytearray(_header() + row + row + TRAILER)

    class _TwoRowsOneMessage:
        def blocks(self):
            return iter([(buf, [0, len(buf) - 2], [len(buf) - 2, len(buf)])])
    with pytest.raises(ValueError, match="longer than its fields"):
        list(r.read(_TwoRowsOneMessage()))
    for oid, typ, word, exc in (
            (pgt.DATEOID, T.DateType(), struct.pack("!i", 3_000_000),
             ValueError),                                # year 10213
            (pgt.TIMESTAMPOID, T.TimestampNTZType(),
             struct.pack("!q", 2 ** 62), OverflowError)):
        far = _header() + struct.pack("!h", 1) + _field(word) + TRAILER
        with pytest.raises(exc, match="out of range"):
            list(BinaryCopyReader([oid]).read(io.BytesIO(far)))
        with pytest.raises(exc, match="out of range"):
            list(VectorBinaryCopyReader([oid], set(), _st(typ)).read([far]))


# ---- fuzz: random typed frames, vector reader == scalar oracle -------
_EPOCH_ORD = date(2000, 1, 1).toordinal()
_EPOCH_US = (datetime(2000, 1, 1) - datetime(1, 1, 1)) // timedelta(
    microseconds=1)
_MAX_US = (datetime.max - datetime(1, 1, 1)) // timedelta(microseconds=1)


def _pack(fmt):
    return lambda v: struct.pack(fmt, v)


_floats32 = st.one_of(
    st.floats(width=32).map(_pack("!f")),
    st.binary(min_size=4, max_size=4))            # any bit pattern
_floats64 = st.one_of(
    st.sampled_from([0.0, -0.0, float("inf"), float("-inf"),
                     float("nan")]).map(_pack("!d")),
    st.floats().map(_pack("!d")),
    st.binary(min_size=8, max_size=8))
_days = st.one_of(st.sampled_from([0x7FFFFFFF, -0x80000000]),
                  st.integers(1 - _EPOCH_ORD,
                              date.max.toordinal() - _EPOCH_ORD))
_micros = st.one_of(
    st.sampled_from([0x7FFFFFFFFFFFFFFF, -0x8000000000000000]),
    st.integers(-_EPOCH_US, _MAX_US - _EPOCH_US))
_text = st.text(st.characters(blacklist_categories=("Cs",)), max_size=12)


def _range_payload(lo_hi_flags):
    lo, hi, flags = lo_hi_flags
    out = bytes([flags])
    if not flags & 0x09:                      # not empty, lower finite
        out += struct.pack("!ii", 4, lo)
    if not flags & 0x11:                      # not empty, upper finite
        out += struct.pack("!ii", 4, hi)
    return out


# name → (oid, array col?, Spark type, non-null payload strategy)
_FUZZ_COLS = {
    "bool": (pgt.BOOLOID, False, T.BooleanType(),
             st.sampled_from([b"\x00", b"\x01", b"\x07"])),
    "int2": (pgt.INT2OID, False, T.ShortType(),
             st.integers(-2**15, 2**15 - 1).map(_pack("!h"))),
    "int4": (pgt.INT4OID, False, T.IntegerType(),
             st.integers(-2**31, 2**31 - 1).map(_pack("!i"))),
    "int8": (pgt.INT8OID, False, T.LongType(),
             st.integers(-2**63, 2**63 - 1).map(_pack("!q"))),
    "float4": (pgt.FLOAT4OID, False, T.FloatType(), _floats32),
    "float8": (pgt.FLOAT8OID, False, T.DoubleType(), _floats64),
    "date": (pgt.DATEOID, False, T.DateType(), _days.map(_pack("!i"))),
    "ts": (pgt.TIMESTAMPOID, False, T.TimestampNTZType(),
           _micros.map(_pack("!q"))),
    "tstz": (pgt.TIMESTAMPTZOID, False, T.TimestampType(),
             _micros.map(_pack("!q"))),
    "text": (pgt.TEXTOID, False, T.StringType(),
             _text.map(lambda s: s.encode())),
    "bytea": (pgt.BYTEAOID, False, T.BinaryType(), st.binary(max_size=12)),
    "numeric": (pgt.NUMERICOID, False, T.DecimalType(18, 4),
                st.one_of(st.just(Decimal("NaN")), st.decimals(
                    allow_nan=False, allow_infinity=False, places=4,
                    min_value=-10**13, max_value=10**13)).map(
                    lambda d: encode_field(pgt.NUMERICOID, d))),
    "interval": (pgt.INTERVALOID, False, T.DayTimeIntervalType(),
                 st.tuples(st.integers(-10**12, 10**12),
                           st.integers(-10**5, 10**5),
                           st.integers(-100, 100)).map(
                     lambda t: struct.pack("!qii", *t))),
    "uuid": (pgt.UUIDOID, False, T.StringType(),
             st.binary(min_size=16, max_size=16)),
    "jsonb": (pgt.JSONBOID, False, T.StringType(),
              _text.map(lambda s: b"\x01" + s.encode())),
    "int4[]": (0, True, T.ArrayType(T.IntegerType()),
               st.lists(st.one_of(st.none(), st.integers(-9, 9)),
                        max_size=4).map(
                   lambda v: encode_array(pgt.INT4OID, v))),
    "int4[][]": (0, True, T.ArrayType(T.ArrayType(T.IntegerType())),
                 st.integers(0, 3).flatmap(lambda w: st.lists(
                     st.lists(st.integers(-9, 9), min_size=w, max_size=w),
                     min_size=1, max_size=3)).map(
                     lambda v: encode_array(pgt.INT4OID, v, ndim=2))),
    "point": (pgt.POINTOID, False, T.StructType(
                  [T.StructField("x", T.DoubleType()),
                   T.StructField("y", T.DoubleType())]),
              st.tuples(st.floats(), st.floats()).map(
                  lambda t: struct.pack("!dd", *t))),
    "box": (pgt.BOXOID, False, T.ArrayType(T.DoubleType()),
            st.tuples(*[st.floats(allow_nan=False)] * 4).map(
                lambda t: struct.pack("!4d", *t))),
    "int4range": (pgt.INT4RANGEOID, False, T.StringType(),
                  st.tuples(st.integers(-99, 99), st.integers(-99, 99),
                            st.sampled_from([0x01, 0x02, 0x06, 0x08,
                                             0x10, 0x18, 0x00])).map(
                      _range_payload)),
}


@st.composite
def _typed_frames(draw):
    names = draw(st.lists(st.sampled_from(sorted(_FUZZ_COLS)),
                          min_size=1, max_size=5))
    cols = [_FUZZ_COLS[n] for n in names]
    rows = draw(st.lists(st.tuples(*[
        st.one_of(st.none(), payload) for _, _, _, payload in cols]),
        max_size=12))
    data = _header() + b"".join(
        struct.pack("!h", len(cols)) + b"".join(map(_field, row))
        for row in rows) + TRAILER
    cuts = sorted(draw(st.lists(st.integers(0, len(data)), max_size=6)))
    chunks = [data[a:b] for a, b in zip([0] + cuts, cuts + [len(data)])]
    return ([oid for oid, _, _, _ in cols],
            {i for i, c in enumerate(cols) if c[1]},
            _st(*[t for _, _, t, _ in cols]), data, chunks)


@settings(max_examples=80, deadline=None)
@given(frame=_typed_frames(), nblocks=st.integers(1, 4))
def test_vector_reader_fuzz_matches_scalar_oracle(frame, nblocks):
    """Random typed frames over every fast-path OID plus the scalar
    fallbacks (numeric, interval, uuid, jsonb, 1-D/2-D arrays,
    geometry, ranges): NULLs in any column, ±infinity date/timestamp
    sentinels, NaN/-0.0/any float bits, empty and non-ASCII text,
    ragged chunk splits and per-row framing in 1-4 blocks. The
    vectorized reader must equal the scalar reader + PySpark's
    converters, schema and float bits included."""
    from postgres_scanner_spark.pgwire_vec import VectorBinaryCopyReader
    oids, array_cols, schema, data, chunks = frame
    want = _oracle(oids, array_cols, schema, data)
    r = VectorBinaryCopyReader(oids, array_cols, schema)
    assert_arrow_identical(r.read(chunks), want)
    assert_arrow_identical(r.read(_copy_out(data, nblocks)), want)
