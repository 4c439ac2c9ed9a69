"""Multimodal binary-column operators (SURVEY.md §2 M1-M8).

Treats media as opaque `binary` columns with typed metadata, the way
a 100 TB training-data lake stores images/audio/video next to text.
Heavy codec libraries aren't in this container, so M1/M2's decode
kernel is a clearly-marked deterministic stub; M3 (image headers) and
M4 (RIFF/WAV + PCM) are REAL parsers over the raw bytes. The
Spark-side plumbing is real everywhere: binary schema, Arrow-batched
mapInPandas with explicit output schemas, per-batch vectorized
processing. Every op carries a FULL cross-engine SQL oracle — the
corpora are synthesized so byte-level results are SQL-expressible.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..runtime import det_round

FRAME_BYTES = 64      # fake "frame" size for M2
FRAME_STRIDE = 4      # sample every 4th frame


def _binary_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text encoded to a binary payload + typed metadata —
    the schema a real image/audio column would carry."""
    from .. import tables
    tables.ensure_session_defaults(spark)
    d = tables.load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.length("text").alias("n_bytes"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


_M1_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("checksum", T.StringType()),
    T.StructField("byte_mean", T.DoubleType()),
    T.StructField("mime", T.StringType()),
])

# The payload is encode(text, UTF-8) and the corpus is pure ASCII, so
# every byte-level feature the mapInPandas kernel computes is also
# SQL-expressible (bytes == codepoints) — giving the Arrow plumbing a
# FULL cross-engine oracle instead of a rows-only check.
_M1_SQL = """
SELECT doc_id, strlen(text) AS n_bytes, md5(text) AS checksum,
       list_avg(list_transform(range(strlen(text)),
                               i -> ord(text[i+1]))) AS byte_mean,
       'text/plain' AS mime
FROM documents ORDER BY doc_id
"""


def m1_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary column → per-item features via Arrow-batched
    mapInPandas. Batch shape: whole partitions stream through in
    pandas chunks; no per-row Python overhead beyond the stub."""
    corpus = _binary_corpus(spark, sf_dir)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # self-contained closure: executors may not have the package
        # on sys.path (cloudpickle must serialize everything by value)
        import hashlib

        def stub(payload):
            arr = bytearray(payload)
            return {
                "n_bytes": len(arr),
                "checksum": hashlib.md5(bytes(payload)).hexdigest(),
                "byte_mean": (sum(arr) / len(arr)) if arr else 0.0,
            }

        for pdf in batches:
            feats = pdf["payload"].map(stub)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "n_bytes": [f["n_bytes"] for f in feats],
                "checksum": [f["checksum"] for f in feats],
                "byte_mean": [f["byte_mean"] for f in feats],
                "mime": [m["mime"] for m in pdf["meta"]],
            })

    return (
        corpus.mapInPandas(decode, schema=_M1_SCHEMA)
        .orderBy("doc_id")
    )


_M2_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("frame_idx", T.LongType()),
    T.StructField("frame_len", T.LongType()),
    T.StructField("frame_checksum", T.StringType()),
])

_M2_SQL = f"""
WITH f AS (
  SELECT doc_id, text,
         unnest(range(0, CAST(ceil(strlen(text) / {FRAME_BYTES}.0)
                              AS BIGINT), {FRAME_STRIDE})) AS frame_idx
  FROM documents)
SELECT doc_id, frame_idx,
       strlen(substr(text, frame_idx * {FRAME_BYTES} + 1,
                     {FRAME_BYTES})) AS frame_len,
       md5(substr(text, frame_idx * {FRAME_BYTES} + 1,
                  {FRAME_BYTES})) AS frame_checksum
FROM f ORDER BY doc_id, frame_idx
"""


def m2_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over a binary 'video' column: split payload
    into FRAME_BYTES frames, keep every FRAME_STRIDE-th, emit one row
    per sampled frame (fan-out inside mapInPandas — the decode stub
    stands in for an actual frame decoder)."""
    corpus = _binary_corpus(spark, sf_dir)

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "frame_len": [],
                    "frame_checksum": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = (len(payload) + FRAME_BYTES - 1) // FRAME_BYTES
                for i in range(0, n_frames, FRAME_STRIDE):
                    frame = payload[i * FRAME_BYTES:(i + 1) * FRAME_BYTES]
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(i)
                    rows["frame_len"].append(len(frame))
                    rows["frame_checksum"].append(
                        hashlib.md5(frame).hexdigest())
            yield pd.DataFrame(rows)

    return (
        corpus.mapInPandas(sample, schema=_M2_SCHEMA)
        .orderBy("doc_id", "frame_idx")
    )


_M3_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("width", T.LongType()),
    T.StructField("height", T.LongType()),
])


def m3_image_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL (non-stub) multimodal kernel: sniff image format and parse
    width/height straight out of the binary header — PNG (IHDR,
    big-endian), GIF (logical screen, little-endian), BMP
    (BITMAPINFOHEADER, little-endian) — no codec library needed.

    The corpus is synthesized: each doc gets a valid header whose
    dimensions derive from doc_id, so the parser's output has a FULL
    SQL oracle (the decoder must invert the encoder bit-for-bit).
    Encoder and decoder are separate Arrow-batched mapInPandas stages,
    the exact shape a real decode-and-extract pipeline has at 100 TB.
    """
    from .. import tables
    tables.ensure_session_defaults(spark)
    base = tables.load(spark, sf_dir, "documents").select("doc_id")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        def mk(doc_id: int) -> bytes:
            w = 100 + doc_id % 900
            h = 50 + doc_id % 500
            v = doc_id % 3
            if v == 0:      # PNG: signature + IHDR chunk
                return (b"\x89PNG\r\n\x1a\n"
                        + struct.pack(">I", 13) + b"IHDR"
                        + struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00")
            if v == 1:      # GIF: header + logical screen descriptor
                return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00"
            # BMP: file header (14B) + BITMAPINFOHEADER prefix
            return (b"BM" + struct.pack("<IHHI", 70, 0, 0, 54)
                    + struct.pack("<IiiHH", 40, w, h, 1, 24))

        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": [mk(int(d)) for d in pdf["doc_id"]],
            })

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        def parse(payload: bytes):
            if payload[:8] == b"\x89PNG\r\n\x1a\n":
                w, h = struct.unpack(">II", payload[16:24])
                return "png", w, h
            if payload[:6] in (b"GIF87a", b"GIF89a"):
                w, h = struct.unpack("<HH", payload[6:10])
                return "gif", w, h
            if payload[:2] == b"BM":
                w, h = struct.unpack("<ii", payload[18:26])
                return "bmp", w, abs(h)
            return "unknown", 0, 0

        for pdf in batches:
            parsed = [parse(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "fmt": [p[0] for p in parsed],
                "width": [p[1] for p in parsed],
                "height": [p[2] for p in parsed],
            })

    enc_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ])
    return (
        base.mapInPandas(encode, schema=enc_schema)
        .mapInPandas(decode, schema=_M3_SCHEMA)
        .orderBy("doc_id")
    )


_M3_SQL = """
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
            ELSE 'bmp' END AS fmt,
       100 + doc_id % 900 AS width,
       50 + doc_id % 500 AS height
FROM documents ORDER BY doc_id
"""


_M4_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("sample_rate", T.LongType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("peak", T.LongType()),
    T.StructField("rms", T.DoubleType()),
])


def m4_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio kernel: build a valid 16-bit mono RIFF/WAV per doc,
    then parse the header (sample rate, bit depth) and the PCM data
    chunk from the raw bytes — no audio library — and compute
    per-clip features (peak amplitude, RMS energy).

    Samples derive deterministically from doc_id, so the decoder's
    output has a FULL SQL oracle (it must invert the encoder exactly:
    header fields bit-for-bit, PCM via the same formula). RMS sums
    squares in exact int64 before the single double division+sqrt, so
    both engines produce identical doubles. Same two-stage Arrow
    mapInPandas shape a 100 TB audio lake uses: decode streams
    batch-at-a-time, features stay vectorized per batch."""
    from .. import tables
    tables.ensure_session_defaults(spark)
    base = tables.load(spark, sf_dir, "documents").select("doc_id")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        def mk(doc_id: int) -> bytes:
            n = 64 + doc_id % 64
            pcm = b"".join(
                struct.pack("<h", (doc_id * 31 + i * 17) % 2048 - 1024)
                for i in range(n))
            sr = 8000
            hdr = (b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
                   + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sr,
                                           sr * 2, 2, 16)
                   + b"data" + struct.pack("<I", len(pcm)))
            return hdr + pcm

        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": [mk(int(d)) for d in pdf["doc_id"]],
            })

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        def parse(payload: bytes):
            assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
            (_sz, _fmt, _ch, sr, _bps, _align, bits) = struct.unpack(
                "<IHHIIHH", payload[16:36])
            (data_len,) = struct.unpack("<I", payload[40:44])
            n = data_len // (bits // 8)
            xs = struct.unpack(f"<{n}h", payload[44:44 + data_len])
            sq = sum(x * x for x in xs)          # exact int64 sum
            rms = (sq / n) ** 0.5 if n else 0.0
            return sr, n, max(abs(x) for x in xs) if xs else 0, rms

        for pdf in batches:
            parsed = [parse(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "sample_rate": [p[0] for p in parsed],
                "n_samples": [p[1] for p in parsed],
                "peak": [p[2] for p in parsed],
                "rms": [math.floor(p[3] * 1e6 + 0.5) / 1e6
                        for p in parsed],
            })

    enc_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ])
    return (
        base.mapInPandas(encode, schema=enc_schema)
        .mapInPandas(features, schema=_M4_SCHEMA)
        .orderBy("doc_id")
    )


_M4_SQL = """
WITH s AS (
  SELECT doc_id, 64 + doc_id % 64 AS n,
         list_transform(range(64 + doc_id % 64),
                        i -> (doc_id * 31 + i * 17) % 2048 - 1024) AS xs
  FROM documents)
SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples,
       CAST(list_max(list_transform(xs, x -> abs(x))) AS BIGINT) AS peak,
       FLOOR(sqrt(CAST(list_sum(list_transform(xs, x -> x * x)) AS DOUBLE)
                  / n) * 1000000.0 + 0.5) / 1000000.0 AS rms
FROM s ORDER BY doc_id
"""


_M5_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("container", T.StringType()),
    T.StructField("brand", T.StringType()),
    T.StructField("meta_val", T.LongType()),
])


def m5_video_container(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container kernel: sniff MP4 (ftyp box — size +
    major brand + minor version, big-endian) vs AVI (RIFF chunk —
    little-endian size + 'AVI ' fourcc) straight from the leading
    bytes, no codec library. Same encoder→decoder mapInPandas chain
    as M3/M4 with a full SQL oracle over the generating formulas:
    the parser must invert the writer bit-for-bit."""
    from .. import tables
    tables.ensure_session_defaults(spark)
    base = tables.load(spark, sf_dir, "documents").select("doc_id")
    brands = ["isom", "mp42", "avc1"]

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        def mk(doc_id: int) -> bytes:
            if doc_id % 2 == 0:   # MP4: ftyp box
                brand = brands[doc_id % 3]
                minor = doc_id % 1000
                return (struct.pack(">I", 16) + b"ftyp"
                        + brand.encode() + struct.pack(">I", minor))
            size = 2048 + doc_id % 4096   # AVI: RIFF header
            return b"RIFF" + struct.pack("<I", size) + b"AVI " + b"LIST"

        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": [mk(int(d)) for d in pdf["doc_id"]],
            })

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        def parse(b: bytes):
            if b[4:8] == b"ftyp":
                return ("mp4", b[8:12].decode("ascii"),
                        struct.unpack(">I", b[12:16])[0])
            if b[:4] == b"RIFF" and b[8:12] == b"AVI ":
                return ("avi", "AVI ", struct.unpack("<I", b[4:8])[0])
            return ("unknown", "", 0)

        for pdf in batches:
            parsed = [parse(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "container": [p[0] for p in parsed],
                "brand": [p[1] for p in parsed],
                "meta_val": [p[2] for p in parsed],
            })

    enc_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ])
    return (
        base.mapInPandas(encode, schema=enc_schema)
        .mapInPandas(decode, schema=_M5_SCHEMA)
        .orderBy("doc_id")
    )


_M5_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'avi' END AS container,
       CASE WHEN doc_id % 2 = 0
            THEN ['isom', 'mp42', 'avc1'][CAST(doc_id % 3 AS INT) + 1]
            ELSE 'AVI ' END AS brand,
       CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 1000
                 ELSE 2048 + doc_id % 4096 END AS BIGINT) AS meta_val
FROM documents ORDER BY doc_id
"""


_M6_DOCS_PER_SHARD = 16

_M6_SCHEMA = T.StructType([
    T.StructField("shard_id", T.LongType()),
    T.StructField("member_name", T.StringType()),
    T.StructField("size", T.LongType()),
    T.StructField("data_offset", T.LongType()),
    T.StructField("checksum_ok", T.BooleanType()),
])


def m6_tar_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style tar sharding: pack documents into POSIX ustar
    shards (the standard container for multimodal training corpora),
    then parse the raw tar bytes back into a member manifest — name,
    size, byte offset of each member's data, and a recomputed header
    checksum — WITHOUT tarfile on the read side, walking 512-byte
    blocks by hand the way a random-access shard reader must.

    Scale design (100 TB): sharding is applyInPandas per shard key —
    each shard builds on one executor from its own partition's docs,
    no driver involvement; shard size is bounded by the grouping key
    (doc_id // 16 here, a byte-budget in production). The manifest
    parse is mapInPandas over opaque binary — shards never shuffle.
    The manifest is what an index-based reader (offset + size) seeks
    by, so the offsets carry a full SQL oracle derived from the ustar
    block arithmetic (header 512B + data padded to 512B).
    """
    from .. import tables
    tables.ensure_session_defaults(spark)
    base = (tables.load(spark, sf_dir, "documents")
            .select("doc_id", "text",
                    (F.col("doc_id") / _M6_DOCS_PER_SHARD)
                    .cast("long").alias("shard_id")))

    def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        import io
        import tarfile
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w",
                          format=tarfile.USTAR_FORMAT) as tar:
            for row in pdf.sort_values("doc_id").itertuples():
                data = str(row.text).encode("utf-8")
                ti = tarfile.TarInfo(name=f"{int(row.doc_id):012d}.txt")
                ti.size = len(data)
                ti.mtime = 0
                ti.uid = ti.gid = 0
                ti.uname = ti.gname = ""
                tar.addfile(ti, io.BytesIO(data))
        return pd.DataFrame({"shard_id": [int(pdf["shard_id"].iloc[0])],
                             "tar": [buf.getvalue()]})

    shard_schema = T.StructType([
        T.StructField("shard_id", T.LongType()),
        T.StructField("tar", T.BinaryType()),
    ])

    def parse_manifest(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def walk(shard_id: int, blob: bytes):
            off = 0
            while off + 512 <= len(blob):
                hdr = blob[off:off + 512]
                if hdr == b"\0" * 512:
                    break
                name = hdr[0:100].split(b"\0", 1)[0].decode("utf-8")
                size = int(hdr[124:136].split(b"\0", 1)[0] or b"0", 8)
                stored_ck = int(hdr[148:156].split(b"\0", 1)[0].strip()
                                or b"0", 8)
                calc_ck = sum(hdr[:148]) + 8 * 0x20 + sum(hdr[156:])
                yield (shard_id, name, size, off + 512,
                       stored_ck == calc_ck)
                off += 512 + ((size + 511) // 512) * 512

        for pdf in batches:
            rows = [r for sid, blob in zip(pdf["shard_id"], pdf["tar"])
                    for r in walk(int(sid), bytes(blob))]
            yield pd.DataFrame(rows, columns=[
                "shard_id", "member_name", "size", "data_offset",
                "checksum_ok"])

    return (
        base.groupBy("shard_id").applyInPandas(build_shard,
                                               schema=shard_schema)
        .mapInPandas(parse_manifest, schema=_M6_SCHEMA)
        .orderBy("shard_id", "member_name")
    )


_M6_SQL = f"""
WITH m AS (
  SELECT CAST(doc_id // {_M6_DOCS_PER_SHARD} AS BIGINT) AS shard_id,
         printf('%012d', doc_id) || '.txt' AS member_name,
         CAST(strlen(text) AS BIGINT) AS size,
         doc_id
  FROM documents)
SELECT shard_id, member_name, size,
       CAST(COALESCE(SUM(512 + 512 * CAST(ceil(size / 512.0) AS BIGINT))
            OVER (PARTITION BY shard_id ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + 512 AS BIGINT) AS data_offset,
       TRUE AS checksum_ok
FROM m ORDER BY shard_id, member_name
"""


_M7_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("dtype", T.StringType()),
    T.StructField("n_elems", T.LongType()),
    T.StructField("header_len", T.IntegerType()),
    T.StructField("val_sum", T.DoubleType()),
])


def m7_npy_tensor_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NPY tensor container: embeddings serialize to REAL .npy v1.0
    byte streams (numpy writes them — the format training pipelines
    actually ship tensors in), and a hand-rolled parser reads the
    magic, version, little-endian header length, the header dict
    (descr / fortran_order / shape), and the raw float32 payload —
    WITHOUT numpy on the read side, the way a streaming shard reader
    validates tensors. The positional left-to-right float fold gives
    the payload a full cross-engine oracle (decode must invert
    encode bit-for-bit; float32→double is exact).
    """
    from .. import tables
    tables.ensure_session_defaults(spark)
    base = tables.load(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import numpy as np

        def mk(vec) -> bytes:
            buf = io.BytesIO()
            np.save(buf, np.asarray(list(vec), dtype="<f4"))
            return buf.getvalue()

        for pdf in batches:
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"],
                "payload": [mk(v) for v in pdf["embedding"]],
            })

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re
        import struct

        def parse(b: bytes):
            assert b[:6] == b"\x93NUMPY", "bad magic"
            major, minor = b[6], b[7]
            assert (major, minor) == (1, 0), "unexpected version"
            (hlen,) = struct.unpack("<H", b[8:10])
            header = b[10:10 + hlen].decode("latin-1")
            descr = re.search(r"'descr':\s*'([^']+)'", header).group(1)
            shape = tuple(int(x) for x in re.findall(
                r"\d+", re.search(r"'shape':\s*\(([^)]*)\)",
                                  header).group(1)))
            n = 1
            for d in shape:
                n *= d
            data = b[10 + hlen:]
            vals = struct.unpack(f"<{n}f", data[:4 * n])
            s = 0.0
            for v in vals:
                s += float(v)
            return descr, n, hlen, math.floor(s * 1e5 + 0.5) / 1e5

        for pdf in batches:
            parsed = [parse(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"],
                "dtype": [p[0] for p in parsed],
                "n_elems": [p[1] for p in parsed],
                "header_len": [p[2] for p in parsed],
                "val_sum": [p[3] for p in parsed],
            })

    enc_schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ])
    return (
        base.mapInPandas(encode, schema=enc_schema)
        .mapInPandas(decode, schema=_M7_SCHEMA)
        .orderBy("vec_id")
    )


def _npy_header_len() -> int:
    """Header length the RUNNING numpy emits for a small 1-D <f4
    array — derived from an actual np.save rather than pinned: the
    npy v1.0 spec only requires 16-byte alignment, and numpy moved to
    64-byte padding (header_len 118) in 1.22; deriving keeps the M7
    oracle honest under either alignment. The value is shape-digit
    stable: the dict text (~61 chars + shape digits) pads to the same
    boundary for any realistic 1-D length."""
    import io
    import struct

    import numpy as np
    buf = io.BytesIO()
    np.save(buf, np.zeros(8, dtype="<f4"))
    return struct.unpack("<H", buf.getvalue()[8:10])[0]


def _m7_sql() -> str:
    return f"""
SELECT vec_id, '<f4' AS dtype,
       CAST(len(embedding) AS BIGINT) AS n_elems,
       CAST({_npy_header_len()} AS INT) AS header_len,
       FLOOR(list_sum(list_transform(embedding,
             v -> CAST(v AS DOUBLE))) * 100000.0 + 0.5) / 100000.0
         AS val_sum
FROM embeddings ORDER BY vec_id
"""


_M8_SCHEMA = T.StructType([
    T.StructField("shard_id", T.LongType()),
    T.StructField("doc_id", T.LongType()),
    T.StructField("line_offset", T.LongType()),
    T.StructField("line_len", T.LongType()),
    T.StructField("n_chars_parsed", T.LongType()),
])


def m8_jsonl_shard_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL shard codec — the text-corpus counterpart of M6's tar
    shards: documents pack into newline-delimited JSON shard blobs
    (applyInPandas per shard), and the decoder walks the raw bytes
    recording each line's byte offset and length, then json-parses
    the line to recover the document — the offset manifest is what a
    random-access JSONL reader (seek + read line) indexes by.

    The encoder emits a CANONICAL json form (fixed key order, no
    escapes — the corpus is ASCII with no quotes/backslashes), so
    line lengths and offsets are pure arithmetic over n_chars and the
    decimal width of doc_id: a full cross-engine SQL oracle."""
    from .. import tables
    tables.ensure_session_defaults(spark)
    base = (tables.load(spark, sf_dir, "documents")
            .select("doc_id", "text",
                    (F.col("doc_id") / _M6_DOCS_PER_SHARD)
                    .cast("long").alias("shard_id")))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        lines = [
            ('{"doc_id": %d, "text": "%s"}' % (int(r.doc_id),
                                               r.text)).encode()
            for r in pdf.sort_values("doc_id").itertuples()]
        return pd.DataFrame({
            "shard_id": [int(pdf["shard_id"].iloc[0])],
            "blob": [b"\n".join(lines) + b"\n"],
        })

    blob_schema = T.StructType([
        T.StructField("shard_id", T.LongType()),
        T.StructField("blob", T.BinaryType()),
    ])

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import json

        def walk(shard_id: int, blob: bytes):
            off = 0
            for line in blob.split(b"\n"):
                if not line:
                    continue
                doc = json.loads(line)
                yield (shard_id, doc["doc_id"], off, len(line),
                       len(doc["text"]))
                off += len(line) + 1

        for pdf in batches:
            rows = [r for sid, blob in zip(pdf["shard_id"], pdf["blob"])
                    for r in walk(int(sid), bytes(blob))]
            yield pd.DataFrame(rows, columns=[
                "shard_id", "doc_id", "line_offset", "line_len",
                "n_chars_parsed"])

    return (
        base.groupBy("shard_id").applyInPandas(build, schema=blob_schema)
        .mapInPandas(parse, schema=_M8_SCHEMA)
        .orderBy("shard_id", "doc_id")
    )


# line = {"doc_id": N, "text": "..."} → 24 fixed chars + digits + text
_M8_SQL = f"""
WITH m AS (
  SELECT CAST(doc_id // {_M6_DOCS_PER_SHARD} AS BIGINT) AS shard_id,
         doc_id,
         CAST(24 + strlen(CAST(doc_id AS VARCHAR)) + strlen(text)
              AS BIGINT) AS line_len,
         CAST(strlen(text) AS BIGINT) AS n_chars_parsed
  FROM documents)
SELECT shard_id, doc_id,
       CAST(COALESCE(SUM(line_len + 1)
            OVER (PARTITION BY shard_id ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS line_offset,
       line_len, n_chars_parsed
FROM m ORDER BY shard_id, doc_id
"""


# ---- M9: WebDataset shard repack plan --------------------------------
_M9_SHARD_BYTES = 64 * 1024   # target bytes per output shard
_M9_BUCKET = 256              # doc_id range per parallel cumsum bucket


def m9_shard_repack_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-sharding plan for a WebDataset-style tar corpus: assign
    members (in doc_id order) to fixed-byte-budget output shards by
    GLOBAL byte offset — shard_id = floor(exclusive_prefix_bytes /
    budget), the deterministic repack every multimodal pipeline runs
    when upstream shards are skewed (M6 writes them; this plans the
    rebalance). Member cost is the ustar footprint: 512B header +
    data padded to 512B.

    Scale design (100 TB): a naive plan is ONE global cumsum — a
    single-partition window, the exact scale-killer x6 documents.
    Here the prefix sum is hierarchical: (1) per-bucket exclusive
    cumsum, windows partitioned on doc_id-range buckets and fully
    parallel; (2) bucket totals — a tiny aggregate (|buckets| rows,
    data-volume / bucket-span) — get their own exclusive cumsum and
    broadcast back as offsets; (3) global_prefix = bucket_offset +
    local_prefix. Identical to the global window by associativity of
    +, which is exactly what the single-window oracle checks."""
    from .. import tables
    from ..hier import hier_cumsum
    tables.ensure_session_defaults(spark)
    d = tables.load(spark, sf_dir, "documents")
    member = d.select(
        "doc_id", (F.col("doc_id") / _M9_BUCKET).cast("long").alias("bkt"),
        (F.lit(512) + 512 * F.ceil(F.octet_length("text") / 512.0)
         .cast("long")).alias("bytes"))
    planned = (hier_cumsum(member, [], ["doc_id"], "bkt", "bytes",
                           inclusive=False, out_col="prefix")
               .select("doc_id", "bytes",
                       (F.col("prefix") / _M9_SHARD_BYTES)
                       .cast("long").alias("shard_id")))
    return (planned.groupBy("shard_id")
            .agg(F.count("*").cast("long").alias("n_members"),
                 F.sum("bytes").cast("long").alias("shard_bytes"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc"))
            .withColumn("utilization",
                        det_round(F.col("shard_bytes")
                                  / float(_M9_SHARD_BYTES), 4))
            .orderBy("shard_id"))


_M9_SQL = f"""
WITH member AS (
  SELECT doc_id,
         512 + 512 * CAST(ceil(strlen(text) / 512.0) AS BIGINT) AS bytes
  FROM documents),
planned AS (
  SELECT doc_id, bytes,
         CAST(COALESCE(SUM(bytes) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              // {_M9_SHARD_BYTES} AS BIGINT) AS shard_id
  FROM member)
SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(bytes) AS BIGINT) AS shard_bytes,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
       FLOOR((SUM(bytes) / {_M9_SHARD_BYTES}.0) * 10000.0 + 0.5) / 10000.0 AS utilization
FROM planned GROUP BY shard_id ORDER BY shard_id
"""


# ---- M10: WebDataset SAMPLE-grouped shards ---------------------------
_M10_DOCS_PER_SHARD = 8


def m10_webdataset_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True WebDataset layout: a SAMPLE is several members sharing a
    basename ({id}.txt text, {id}.json metadata, {id}.vec float32
    embedding when one exists) packed adjacently in the tar — the
    multi-modality grouping m6's one-member-per-doc shards don't
    exercise, and the layout every multimodal dataloader expects.
    Shards build per group on executors (applyInPandas), parse back
    blind via the 512-byte ustar walk (m6's parser), and the member
    manifest re-groups by basename into per-sample completeness rows
    (a sample is complete iff all 3 modalities are present — vectors
    exist only where embeddings has a matching id).

    Scale: the doc⟷embedding join keys on the id (co-partitionable);
    shard build and parse are executor-local over binary; nothing
    but the manifest (rows ∝ samples) ever shuffles. Oracle: the
    ustar size arithmetic and modality presence are pure SQL over
    text/lang/embedding lengths; checksum validation rides every
    parsed member (checksums_ok must be TRUE — pins the round-trip).
    """
    import json as _json
    import struct as _struct
    from .. import tables
    tables.ensure_session_defaults(spark)
    d = tables.load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang")
    e = tables.load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding")
    base = (d.join(e, "doc_id", "left")
            .withColumn("shard_id", (F.col("doc_id")
                                     / _M10_DOCS_PER_SHARD)
                        .cast("long")))

    def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        import io
        import tarfile
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w",
                          format=tarfile.USTAR_FORMAT) as tar:
            for row in pdf.sort_values("doc_id").itertuples():
                stem = f"{int(row.doc_id):012d}"
                members = [
                    (f"{stem}.json", _json.dumps(
                        {"doc_id": int(row.doc_id), "lang": row.lang},
                        separators=(",", ":")).encode()),
                    (f"{stem}.txt", str(row.text).encode("utf-8")),
                ]
                if row.embedding is not None:
                    members.append((f"{stem}.vec", b"".join(
                        _struct.pack("<f", float(v))
                        for v in row.embedding)))
                for name, data in members:
                    ti = tarfile.TarInfo(name=name)
                    ti.size = len(data)
                    ti.mtime = 0
                    ti.uid = ti.gid = 0
                    ti.uname = ti.gname = ""
                    tar.addfile(ti, io.BytesIO(data))
        return pd.DataFrame({"shard_id": [int(pdf["shard_id"].iloc[0])],
                             "tar": [buf.getvalue()]})

    shard_schema = T.StructType([
        T.StructField("shard_id", T.LongType()),
        T.StructField("tar", T.BinaryType()),
    ])

    def parse_manifest(batches: Iterator[pd.DataFrame]
                       ) -> Iterator[pd.DataFrame]:
        def walk(shard_id: int, blob: bytes):
            off = 0
            while off + 512 <= len(blob):
                hdr = blob[off:off + 512]
                if hdr == b"\0" * 512:
                    break
                name = hdr[0:100].split(b"\0", 1)[0].decode("utf-8")
                size = int(hdr[124:136].split(b"\0", 1)[0] or b"0", 8)
                stored = int(hdr[148:156].split(b"\0", 1)[0].strip()
                             or b"0", 8)
                calc = sum(hdr[:148]) + 8 * 0x20 + sum(hdr[156:])
                yield (shard_id, name, size, stored == calc)
                off += 512 + ((size + 511) // 512) * 512

        for pdf in batches:
            rows = [r for sid, blob in zip(pdf["shard_id"], pdf["tar"])
                    for r in walk(int(sid), bytes(blob))]
            yield pd.DataFrame(rows, columns=[
                "shard_id", "member_name", "size", "checksum_ok"])

    manifest_schema = T.StructType([
        T.StructField("shard_id", T.LongType()),
        T.StructField("member_name", T.StringType()),
        T.StructField("size", T.LongType()),
        T.StructField("checksum_ok", T.BooleanType()),
    ])
    manifest = (base.groupBy("shard_id")
                .applyInPandas(build_shard, schema=shard_schema)
                .mapInPandas(parse_manifest, schema=manifest_schema))
    return (manifest
            .withColumn("doc_id",
                        F.substring("member_name", 1, 12).cast("bigint"))
            .groupBy("shard_id", "doc_id")
            .agg(F.count("*").cast("long").alias("n_members"),
                 F.sum("size").cast("long").alias("sample_bytes"),
                 F.min("checksum_ok").alias("checksums_ok"))
            .withColumn("complete", F.col("n_members") == 3)
            .orderBy("doc_id"))


_M10_SQL = f"""
WITH base AS (
  SELECT d.doc_id,
         CAST(d.doc_id // {_M10_DOCS_PER_SHARD} AS BIGINT) AS shard_id,
         CAST(strlen(d.text) AS BIGINT) AS txt_size,
         CAST(strlen('{{"doc_id":' || d.doc_id || ',"lang":"' || d.lang
              || '"}}') AS BIGINT) AS json_size,
         CASE WHEN e.vec_id IS NOT NULL
              THEN CAST(4 * len(e.embedding) AS BIGINT) END AS vec_size
  FROM documents d LEFT JOIN embeddings e ON e.vec_id = d.doc_id)
SELECT shard_id, doc_id,
       CAST(2 + CASE WHEN vec_size IS NULL THEN 0 ELSE 1 END AS BIGINT)
         AS n_members,
       txt_size + json_size + COALESCE(vec_size, 0) AS sample_bytes,
       TRUE AS checksums_ok,
       vec_size IS NOT NULL AS complete
FROM base ORDER BY doc_id
"""


# ---- M11: parquet footer manifest (lakehouse compaction input) -------
_M11_TABLES = (("documents", "doc_id"), ("events", "event_id"),
               ("lineitem", "l_orderkey"))


def m11_parquet_footer_manifest(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Row-group manifest read from the parquet FOOTERS, executor-
    side — the input a lakehouse compaction/pruning planner consumes
    (which files are runt-sized, what each row group's zone map
    covers) without touching data pages. File paths parallelize over
    executors via mapInPandas; each task opens only the footer of
    its files (OS reads the tail bytes — at 100 TB this is the
    manifest scan that costs MBs, not TBs).

    The oracle is STRONG despite footers being binary: the footer's
    aggregated row count and key-column statistics (min/max/
    null-count folded across every row group) must equal the SQL
    aggregates over the same rows — so the oracle cross-checks that
    the zone maps the planner would prune on are the truth, at ANY
    row-group layout. (Round 9: the previous per-row-group output
    hardcoded rg_id=0 in the oracle and could never pass on the
    multi-row-group sf1 files; per-RG granularity stays covered by
    M12, which stages files with a KNOWN group layout and reads
    groups selectively. The footer parse below still walks every
    row group — the fold across groups is exactly the planner's
    file-level pruning summary, and the sf1 gate run over 59 row
    groups is the multi-RG proof.)"""
    import os
    from .. import tables
    tables.ensure_session_defaults(spark)
    files = spark.createDataFrame(
        [(t, k, os.path.join(sf_dir, f"{t}.parquet"))
         for t, k in _M11_TABLES], "tbl STRING, key STRING, path STRING")

    def read_footers(batches: Iterator[pd.DataFrame]
                     ) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                md = pq.ParquetFile(r.path).metadata
                ci = md.schema.to_arrow_schema().get_field_index(r.key)
                n_rows = kmin = kmax = None
                nulls = 0
                n_rows = 0
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    st = rg.column(ci).statistics
                    n_rows += rg.num_rows
                    nulls += int(st.null_count)
                    kmin = (int(st.min) if kmin is None
                            else min(kmin, int(st.min)))
                    kmax = (int(st.max) if kmax is None
                            else max(kmax, int(st.max)))
                rows.append((r.tbl, md.num_row_groups, n_rows,
                             kmin, kmax, nulls))
            yield pd.DataFrame(rows, columns=[
                "tbl", "n_row_groups", "n_rows", "key_min", "key_max",
                "key_nulls"])

    schema = T.StructType([
        T.StructField("tbl", T.StringType()),
        T.StructField("n_row_groups", T.IntegerType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("key_min", T.LongType()),
        T.StructField("key_max", T.LongType()),
        T.StructField("key_nulls", T.LongType()),
    ])
    return (files.repartition(len(_M11_TABLES))
            .mapInPandas(read_footers, schema=schema)
            .select("tbl", "n_rows", "key_min", "key_max", "key_nulls")
            .orderBy("tbl"))


_M11_SQL = " UNION ALL ".join(
    f"""SELECT '{t}' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN({k}) AS BIGINT) AS key_min,
       CAST(MAX({k}) AS BIGINT) AS key_max,
       CAST(SUM(CASE WHEN {k} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS key_nulls
FROM {t}""" for t, k in _M11_TABLES
) + " ORDER BY tbl"


# ---- M12: zone-map pruned row-group scan (the planner M11 feeds) -----
# Rows per staged row group: max(_M12_RG_ROWS, n // _M12_MAX_GROUPS).
# The floor keeps driver-SF output byte-identical (500 docs → 8
# groups of 64); the ceiling on GROUP COUNT is what scales — a flat
# 64 would stage 50M sf10 docs as 780k row groups (a pathological
# footer no lakehouse writes, and each selected-group read would
# re-parse it). Derived-from-data per the PLANS.md standing rule;
# the oracle uses the identical GREATEST() formula.
_M12_RG_ROWS = 64
_M12_MAX_GROUPS = 512


def m12_pruned_rowgroup_scan(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """The CONSUMER of M11's zone maps: plan a key-range probe
    (doc_id ∈ [mx//4, mx//2 + mx//8]) against per-row-group
    min/max statistics, then READ ONLY the selected row groups —
    the I/O path a lakehouse point/range query takes. Emits one row
    per row group: its zone map, whether the planner selected it,
    and (for selected groups only) the matched-row count and key sum
    from the pruned read — unselected groups are provably
    untouched (their counts come from zone-map soundness, not I/O).

    The probe runs against a STAGED copy of documents re-written
    sorted-by-key with _M12_RG_ROWS rows per row group (driver
    testdata is one group per file, which makes pruning
    all-or-nothing; at scale the layout already exists — it is the
    lakehouse's sort-partitioned table, this stage just recreates it
    locally). Deterministic boundaries (groups of exactly
    _M12_RG_ROWS rows in key order) are what give the oracle full
    arithmetic reconstruction: rank // _M12_RG_ROWS is the row's
    group.

    Scale: the footer scan reads MBs of tails (M11's argument); the
    pruned read's I/O is proportional to SELECTED groups — the whole
    point; both fan out over executors via mapInPandas. Reference:
    the ctid-range split of postgres_scanner.cpp:238 is this same
    plan with pages for row groups."""
    import hashlib
    import os
    from .. import tables
    from ..runtime import scratch_persist
    tables.ensure_session_defaults(spark)
    import pyarrow.parquet as pq
    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    # footer-only row count → data-derived rows-per-group (bounded
    # group count; floor keeps driver-SF layouts byte-identical)
    n_src = pq.ParquetFile(src).metadata.num_rows
    rg_rows = max(_M12_RG_ROWS, n_src // _M12_MAX_GROUPS)
    key = f"v2:{src}:{st.st_mtime_ns}:{st.st_size}:{rg_rows}"
    stage = os.path.join(
        "/tmp", "pg_spark_rgstage_"
        + hashlib.md5(key.encode()).hexdigest()[:8] + ".parquet")
    if not os.path.exists(stage):
        t = pq.read_table(src, columns=["doc_id"]).sort_by("doc_id")
        # uuid-unique spool + atomic rename: two concurrent stagers
        # must never interleave writes into one file — and gate
        # workers are THREADS of one pid, so a pid-keyed name
        # collides (the m13 race pin caught this class); whichever
        # replace lands last wins with an identical, complete file
        import uuid
        tmp = f"{stage}.tmp.{uuid.uuid4().hex}"
        pq.write_table(t, tmp, row_group_size=rg_rows)
        os.replace(tmp, stage)

    files = spark.createDataFrame([(stage,)], "path STRING")

    def footers(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                md = pq.ParquetFile(r.path).metadata
                ci = md.schema.to_arrow_schema().get_field_index("doc_id")
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    s = rg.column(ci).statistics
                    rows.append((r.path, g, rg.num_rows,
                                 int(s.min), int(s.max)))
            yield pd.DataFrame(rows, columns=[
                "path", "rg_id", "n_rows", "key_min", "key_max"])

    fschema = T.StructType([
        T.StructField("path", T.StringType()),
        T.StructField("rg_id", T.IntegerType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("key_min", T.LongType()),
        T.StructField("key_max", T.LongType()),
    ])
    rgs = scratch_persist(files.mapInPandas(footers, schema=fschema))
    mx = rgs.agg(F.max("key_max").alias("mx"))
    sel = (rgs.crossJoin(F.broadcast(mx))   # 1-row scalar
           .withColumn("lo", F.expr("mx div 4"))
           .withColumn("hi", F.expr("mx div 2 + mx div 8"))
           .withColumn("selected", (F.col("key_min") <= F.col("hi"))
                       & (F.col("key_max") >= F.col("lo"))))

    def pruned_read(batches: Iterator[pd.DataFrame]
                    ) -> Iterator[pd.DataFrame]:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        handles: dict = {}   # parse each file's footer once per task
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                pf = handles.get(r.path)
                if pf is None:
                    pf = handles[r.path] = pq.ParquetFile(r.path)
                tb = pf.read_row_group(
                    int(r.rg_id), columns=["doc_id"])
                col = tb.column("doc_id")
                mask = pc.and_(pc.greater_equal(col, int(r.lo)),
                               pc.less_equal(col, int(r.hi)))
                hit = tb.filter(mask).column("doc_id")
                total = pc.sum(hit).as_py()
                rows.append((int(r.rg_id), len(hit),
                             int(total) if total is not None else 0))
            yield pd.DataFrame(rows, columns=[
                "rg_id", "n_matched", "key_sum"])

    rschema = T.StructType([
        T.StructField("rg_id", T.IntegerType()),
        T.StructField("n_matched", T.LongType()),
        T.StructField("key_sum", T.LongType()),
    ])
    reads = (sel.filter("selected")
             .select("path", "rg_id", "lo", "hi")
             .mapInPandas(pruned_read, schema=rschema))
    return (sel.join(reads, "rg_id", "left")
            .select("rg_id", "n_rows", "key_min", "key_max", "selected",
                    F.coalesce("n_matched", F.lit(0)).cast("long")
                    .alias("n_matched"),
                    F.coalesce("key_sum", F.lit(0)).cast("long")
                    .alias("key_sum"))
            .orderBy("rg_id"))


_M12_SQL = f"""
WITH r AS (SELECT doc_id,
                  row_number() OVER (ORDER BY doc_id) - 1 AS rk
           FROM documents),
b AS (SELECT CAST(MAX(doc_id) AS BIGINT) AS mx,
             GREATEST({_M12_RG_ROWS},
                      COUNT(*) // {_M12_MAX_GROUPS}) AS rgr
      FROM documents),
g AS (SELECT CAST(rk // rgr AS INT) AS rg_id,
             COUNT(*) AS n_rows,
             MIN(doc_id) AS key_min, MAX(doc_id) AS key_max,
             SUM(CASE WHEN doc_id BETWEEN mx // 4
                       AND mx // 2 + mx // 8 THEN 1 ELSE 0 END) AS n_m,
             SUM(CASE WHEN doc_id BETWEEN mx // 4
                       AND mx // 2 + mx // 8 THEN doc_id ELSE 0 END) AS s_m,
             MAX(mx) AS mx
      FROM r, b GROUP BY 1)
SELECT rg_id, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(key_min AS BIGINT) AS key_min,
       CAST(key_max AS BIGINT) AS key_max,
       (key_min <= mx // 2 + mx // 8 AND key_max >= mx // 4) AS selected,
       CAST(CASE WHEN key_min <= mx // 2 + mx // 8
                  AND key_max >= mx // 4
                 THEN n_m ELSE 0 END AS BIGINT) AS n_matched,
       CAST(CASE WHEN key_min <= mx // 2 + mx // 8
                  AND key_max >= mx // 4
                 THEN s_m ELSE 0 END AS BIGINT) AS key_sum
FROM g ORDER BY rg_id
"""


def _staged_dir(spark: SparkSession, key: str, prefix: str,
                build) -> str:
    """Content-keyed /tmp staging DIRECTORY shared by M13/M14 (M12
    stages a single file via os.replace — different atomicity unit).
    `build(tmp_dir)` writes the stage; the spool name is uuid-unique
    because gate workers are THREADS of one pid (a pid-keyed name
    collides and two concurrent Spark writes interleave part-files
    into one dir — caught by the m13 race pin); os.rename is atomic
    and the loser of a concurrent race discards its spool."""
    import hashlib
    import os
    import shutil
    import uuid
    stage = os.path.join(
        "/tmp", prefix + hashlib.md5(key.encode()).hexdigest()[:8])
    if not os.path.exists(stage):
        tmp = f"{stage}.tmp.{uuid.uuid4().hex}"
        try:
            build(tmp)
            try:
                os.rename(tmp, stage)
            except OSError:
                # benign only when a concurrent worker won the rename
                # race — anything else (ENOSPC, perms, build wrote no
                # dir) must surface here, not as a later
                # FileNotFoundError in the caller
                if not os.path.isdir(stage):
                    raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return stage


# ---- M13: Bloom-filter pruned point probe (unsorted-key lookup) ------
# Probe-set sizing: one probe per `step` doc_ids, with the step
# derived from the corpus so the probe count is BOUNDED (~32) at any
# SF — the same derived-from-data rule as _M12_RG_ROWS. The floor
# keeps driver-SF probe sets stable; the oracle uses the identical
# GREATEST() formula.
_M13_MIN_STEP = 97
_M13_MAX_PROBES = 32


def m13_bloom_pruned_probe(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """Point lookups on an UNSORTED high-cardinality key via parquet
    split-block Bloom filters — the storage-side pruning M11/M12's
    zone maps cannot do. The staged table is documents keyed by
    fp = md5(text), laid out in doc_id order, so every row group's
    fp min/max spans the whole hex space and zone maps prune
    NOTHING; the footer SBBFs (written by parquet-mr, read by
    parquet_bloom.py's spec-built thrift/XXH64/SBBF reader) identify
    candidate row groups per probe, and only those groups are read.
    Bloom false positives cost a wasted group read, never a wrong
    row: candidates are exact-verified against the probe set.

    Scale (100 TB): at ingest the lakehouse writes blooms once
    (ndv-sized, ~1 byte/row); a K-probe lookup then reads footer
    tails (MBs) plus O(K) row groups instead of the full corpus —
    the difference between a fleet-wide scan and a point query. The
    probe set is corpus-derived and bounded (~32 keys, _M13_MAX_
    PROBES), so the driver-side probe collect is O(32) rows; files
    fan out
    over executors via mapInPandas. Reference: postgres_scanner.cpp
    :238's ctid-split scan sends point lookups to a remote btree —
    this is the connector-free equivalent for immutable parquet.
    """
    import os
    from .. import tables
    tables.ensure_session_defaults(spark)
    import pyarrow.parquet as pq
    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    n_src = pq.ParquetFile(src).metadata.num_rows
    step = max(_M13_MIN_STEP, n_src // _M13_MAX_PROBES)
    # ndv sized to the ~256KB ROW GROUP, not the table: a table-wide
    # ndv makes parquet-mr allocate its 1MB max-bytes bloom per
    # group — orders of magnitude more bloom bytes than data at sf10,
    # all of which every probe pass reads. Blooms have no false
    # negatives at ANY sizing; ndv only tunes FPP. (v2 key: writer
    # options version the stage.)
    ndv = max(1024, min(n_src, (256 * 1024) // 40))
    key = f"v2:{src}:{st.st_mtime_ns}:{st.st_size}:{ndv}"

    def build(tmp: str) -> None:
        d = tables.load(spark, sf_dir, "documents")
        (d.select("doc_id", F.md5(F.col("text").cast("binary"))
                  .alias("fp"), "n_chars")
         .sortWithinPartitions("doc_id")
         .write.mode("overwrite")
         .option("parquet.bloom.filter.enabled#fp", "true")
         .option("parquet.bloom.filter.expected.ndv#fp", str(ndv))
         .option("parquet.block.size", str(256 * 1024))
         .parquet(tmp))

    stage = _staged_dir(spark, key, "pg_spark_bloomstage_", build)
    d = tables.load(spark, sf_dir, "documents")
    probes = [(int(r.doc_id), r.fp) for r in
              (d.filter((F.col("doc_id") % F.lit(step)) == 0)
               .select("doc_id", F.md5(F.col("text").cast("binary"))
                       .alias("fp"))
               .collect())]             # bounded: <= ~_M13_MAX_PROBES+1
    probe_ids = {i for i, _ in probes}

    data_files = sorted(
        os.path.join(stage, f) for f in os.listdir(stage)
        if f.endswith(".parquet"))
    files = spark.createDataFrame([(p,) for p in data_files],
                                  "path STRING")

    def probe_read(batches: Iterator[pd.DataFrame]
                   ) -> Iterator[pd.DataFrame]:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from .. import parquet_bloom as pb
        hashed = [(i, fp, pb.xxh64(fp.encode())) for i, fp in probes]
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                cand: dict[int, list[str]] = {}
                with open(r.path, "rb") as fh:
                    for e in pb.footer_bloom_index(r.path):
                        if e["column"] != "fp" or \
                                e["bloom_offset"] is None:
                            continue
                        bs = pb.read_bloom_bitset(
                            fh, e["bloom_offset"], e["bloom_length"])
                        hits = [fp for _i, fp, h in hashed
                                if pb.sbbf_might_contain(bs, h)]
                        if hits:
                            cand[e["row_group"]] = hits
                if not cand:
                    continue
                pf = pq.ParquetFile(r.path)
                for g, fps in cand.items():
                    tb = pf.read_row_group(
                        g, columns=["doc_id", "fp", "n_chars"])
                    mask = pc.and_(
                        pc.is_in(tb.column("fp"),
                                 value_set=pa.array(fps)),
                        pc.is_in(tb.column("doc_id"),
                                 value_set=pa.array(
                                     sorted(probe_ids),
                                     type=pa.int64())))
                    hit = tb.filter(mask)
                    for i in range(hit.num_rows):
                        rows.append((hit.column("doc_id")[i].as_py(),
                                     hit.column("fp")[i].as_py(),
                                     hit.column("n_chars")[i].as_py()))
            yield pd.DataFrame(rows,
                               columns=["doc_id", "fp", "n_chars"])

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("fp", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ])
    return (files.repartition(max(len(data_files), 1))
            .mapInPandas(probe_read, schema=schema)
            .orderBy("doc_id"))


_M13_SQL = f"""
WITH b AS (SELECT GREATEST({_M13_MIN_STEP},
                           COUNT(*) // {_M13_MAX_PROBES}) AS step
           FROM documents)
SELECT doc_id, md5(text) AS fp, n_chars
FROM documents, b
WHERE doc_id % step = 0
ORDER BY doc_id
"""


# ---- M14: page-index pruned range scan (PageIndex zone maps) ---------
# Rows per page: max(_M14_PAGE_ROWS, n // _M14_MAX_PAGES) — the m12
# derived-from-data rule one granularity down. The floor keeps
# driver-SF layouts byte-identical; the page-count cap keeps the
# ColumnIndex parse linear at any corpus size. The oracle uses the
# identical GREATEST() formula.
_M14_PAGE_ROWS = 64
_M14_MAX_PAGES = 2048


def m14_page_pruned_scan(spark: SparkSession, sf_dir: str
                         ) -> DataFrame:
    """The finest rung of the pruning ladder — file (M11) → row
    group (M12) → PAGE (this) → bloom membership (M13): a key-range
    probe planned from the parquet PAGE INDEX (parquet-format
    PageIndex.md ColumnIndex/OffsetIndex, written by parquet-mr by
    default, exposed by pyarrow not at all — read by
    parquet_bloom.py's thrift walk). Emits one row per page: its
    zone map (from the ColumnIndex), its first row (from the
    OffsetIndex), whether the planner selected it, and — for
    selected pages only — the matched-row count and key sum from a
    read sliced to exactly that page's row span.

    The staged layout is documents' keys globally sorted with
    parquet.page.row.count.limit pinning EXACT page row counts
    (page.size set far above what the rows need, so the byte limit
    never splits first) — which is what lets the oracle reconstruct
    every page arithmetically: rank // page_rows is the row's page.

    Honest I/O adjudication: locally the selected-page read decodes
    the containing row group and SLICES to the page span (pyarrow
    has no page-level read), so the demonstrated I/O unit stays the
    row group — M12's op. What this op adds is the page-granularity
    PLAN: at scale the OffsetIndex rows this parse returns carry
    each selected page's byte offset + compressed size, exactly the
    extents a range-GET reader fetches — ~page_rows/rg_rows of the
    group bytes. The plan is what the oracle certifies."""
    import os
    from .. import tables
    tables.ensure_session_defaults(spark)
    import pyarrow.parquet as pq
    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    n_src = pq.ParquetFile(src).metadata.num_rows
    page_rows = max(_M14_PAGE_ROWS, n_src // _M14_MAX_PAGES)
    # v2: the key versions the WRITER OPTIONS too — a layout change
    # (row-check interval) must invalidate the cached stage
    key = f"v2:{src}:{st.st_mtime_ns}:{st.st_size}:{page_rows}"

    def build(tmp: str) -> None:
        d = tables.load(spark, sf_dir, "documents")
        (d.select("doc_id").coalesce(1)
         .sortWithinPartitions("doc_id")
         .write.mode("overwrite")
         .option("parquet.page.row.count.limit", str(page_rows))
         # the writer checks its limits only every
         # page.size.row.check.min rows (default 100) — the FIRST
         # page of a 64-row layout overshoots to 100 without this
         .option("parquet.page.size.row.check.min", "1")
         .option("parquet.page.size.row.check.max", "1")
         .option("parquet.page.size", str(64 * 1024 * 1024))
         .option("parquet.block.size", str(1 << 30))
         .parquet(tmp))

    stage = _staged_dir(spark, key, "pg_spark_pagestage_", build)
    data_files = sorted(
        os.path.join(stage, f) for f in os.listdir(stage)
        if f.endswith(".parquet"))
    if len(data_files) != 1:
        # the oracle's global rank arithmetic needs ONE globally
        # sorted file (coalesce(1) above); a second file would
        # restart first_row at 0 — at lakehouse scale the analog is
        # PER-FILE page pruning with per-file ranks
        raise ValueError(f"m14 stage must be one file, "
                         f"got {len(data_files)}")
    files = spark.createDataFrame([(p,) for p in data_files],
                                  "path STRING")

    def pages(batches: Iterator[pd.DataFrame]
              ) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq
        from .. import parquet_bloom as pb
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                md = pq.ParquetFile(r.path).metadata
                rg_start = [0]      # cumulative file-global row starts
                for g in range(md.num_row_groups):
                    rg_start.append(rg_start[-1]
                                    + md.row_group(g).num_rows)
                with open(r.path, "rb") as fh:
                    for e in pb.footer_bloom_index(r.path):
                        if e["column"] != "doc_id":
                            continue
                        if e["offset_index_offset"] is None or \
                                e["column_index_offset"] is None:
                            raise ValueError(
                                f"{r.path} rg{e['row_group']}: no "
                                "page index — stage was written "
                                "without parquet-mr page indexes")
                        g = e["row_group"]
                        n_rows = md.row_group(g).num_rows
                        oi = pb.read_offset_index(
                            fh, e["offset_index_offset"],
                            e["offset_index_length"])
                        ci = pb.read_column_index_int64(
                            fh, e["column_index_offset"],
                            e["column_index_length"])
                        for p, (o, c) in enumerate(zip(oi, ci)):
                            # first_row_index is ROW-GROUP-RELATIVE
                            # (parquet spec; verified on a multi-RG
                            # file) — offset it to file-global for
                            # page ids, keep the local offset for
                            # the row-group slice
                            loc = o["first_row_index"]
                            last = (oi[p + 1]["first_row_index"]
                                    if p + 1 < len(oi) else n_rows)
                            rows.append((
                                r.path, g, p, rg_start[g] + loc, loc,
                                last - loc,
                                c["key_min"], c["key_max"]))
            yield pd.DataFrame(rows, columns=[
                "path", "rg_id", "page_in_rg", "first_row",
                "local_row", "n_rows", "key_min", "key_max"])

    pschema = T.StructType([
        T.StructField("path", T.StringType()),
        T.StructField("rg_id", T.IntegerType()),
        T.StructField("page_in_rg", T.IntegerType()),
        T.StructField("first_row", T.LongType()),
        T.StructField("local_row", T.LongType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("key_min", T.LongType()),
        T.StructField("key_max", T.LongType()),
    ])
    from ..runtime import scratch_persist
    pg = scratch_persist(files.mapInPandas(pages, schema=pschema))
    mx = pg.agg(F.max("key_max").alias("mx"))
    sel = (pg.crossJoin(F.broadcast(mx))   # 1-row scalar
           .withColumn("lo", F.expr("mx div 8"))
           .withColumn("hi", F.expr("mx div 4"))
           .withColumn("selected", (F.col("key_min") <= F.col("hi"))
                       & (F.col("key_max") >= F.col("lo"))))

    def page_read(batches: Iterator[pd.DataFrame]
                  ) -> Iterator[pd.DataFrame]:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        handles: dict = {}
        groups: dict = {}       # decode each row group once per task
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                pf = handles.get(r.path)
                if pf is None:
                    pf = handles[r.path] = pq.ParquetFile(r.path)
                gk = (r.path, int(r.rg_id))
                tb = groups.get(gk)
                if tb is None:
                    tb = groups[gk] = pf.read_row_group(
                        int(r.rg_id), columns=["doc_id"])
                page = tb.slice(int(r.local_row), int(r.n_rows))
                col = page.column("doc_id")
                mask = pc.and_(pc.greater_equal(col, int(r.lo)),
                               pc.less_equal(col, int(r.hi)))
                hit = page.filter(mask).column("doc_id")
                total = pc.sum(hit).as_py()
                rows.append((int(r.first_row), len(hit),
                             int(total) if total is not None else 0))
            yield pd.DataFrame(rows, columns=[
                "first_row", "n_matched", "key_sum"])

    rschema = T.StructType([
        T.StructField("first_row", T.LongType()),
        T.StructField("n_matched", T.LongType()),
        T.StructField("key_sum", T.LongType()),
    ])
    reads = (sel.filter("selected")
             .select("path", "rg_id", "first_row", "local_row",
                     "n_rows", "lo", "hi")
             .mapInPandas(page_read, schema=rschema))
    return (sel.join(reads, "first_row", "left")
            .select(
                (F.col("first_row") / F.lit(page_rows)).cast("int")
                .alias("page_id"),
                "first_row", "n_rows", "key_min", "key_max",
                "selected",
                F.coalesce("n_matched", F.lit(0)).cast("long")
                .alias("n_matched"),
                F.coalesce("key_sum", F.lit(0)).cast("long")
                .alias("key_sum"))
            .orderBy("page_id"))


_M14_SQL = f"""
WITH r AS (SELECT doc_id,
                  row_number() OVER (ORDER BY doc_id) - 1 AS rk
           FROM documents),
b AS (SELECT CAST(MAX(doc_id) AS BIGINT) AS mx,
             GREATEST({_M14_PAGE_ROWS},
                      COUNT(*) // {_M14_MAX_PAGES}) AS pr
      FROM documents),
g AS (SELECT CAST(rk // pr AS INT) AS page_id,
             MIN(rk) AS first_row, COUNT(*) AS n_rows,
             MIN(doc_id) AS key_min, MAX(doc_id) AS key_max,
             SUM(CASE WHEN doc_id BETWEEN mx // 8 AND mx // 4
                      THEN 1 ELSE 0 END) AS n_m,
             SUM(CASE WHEN doc_id BETWEEN mx // 8 AND mx // 4
                      THEN doc_id ELSE 0 END) AS s_m,
             MAX(mx) AS mx
      FROM r, b GROUP BY 1)
SELECT page_id, CAST(first_row AS BIGINT) AS first_row,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(key_min AS BIGINT) AS key_min,
       CAST(key_max AS BIGINT) AS key_max,
       (key_min <= mx // 4 AND key_max >= mx // 8) AS selected,
       CAST(CASE WHEN key_min <= mx // 4 AND key_max >= mx // 8
                 THEN n_m ELSE 0 END AS BIGINT) AS n_matched,
       CAST(CASE WHEN key_min <= mx // 4 AND key_max >= mx // 8
                 THEN s_m ELSE 0 END AS BIGINT) AS key_sum
FROM g ORDER BY page_id
"""


# ---- M15: perceptual near-dup payload dedup (dHash + banded Hamming)
_M15_SAMPLES = 65     # 65 nearest-neighbor samples -> 64 difference bits
_M15_R = 3            # Hamming radius; 4 x 16-bit bands guarantee a
                      # band match for any pair within it (pigeonhole)
_M15_MAX_DF = 64      # band-bucket occupancy above which the bucket is
                      # refined by second-level sub-bands instead of
                      # self-joined directly (r11 verdict: 16-bit band
                      # values over text-derived signatures concentrate
                      # on byte rhythm, so unbounded buckets go
                      # quadratic at 100x corpus)


def _m15_pos(i, n):
    # nearest-neighbor downsample grid: sample i of 65 sits at
    # 1 + floor(i*(n-1)/64). /64.0 is a power-of-two division —
    # EXACT in IEEE doubles, so both engines index identical chars
    return (F.floor(F.lit(float(i)) * (n - F.lit(1)) / F.lit(64.0))
            .cast("int") + F.lit(1))


def m15_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup detection over the BINARY payload column —
    the multimodal sibling of D3's SimHash text dedup, using the
    published dHash/difference-hash scheme (the pHash family:
    downsample, then 1 bit per adjacent-sample comparison). A real
    deployment resizes decoded pixels; the container has no codec,
    so the stubbed decode samples the raw byte signal on a fixed
    65-point nearest-neighbor grid (exactly PIL's NEAREST downsample
    in 1-D; bytes ≡ codepoints on the ASCII corpus — M1's oracle
    contract) and derives the canonical 64-bit signature: bit i set
    iff sample[i+1] > sample[i]. Payloads shorter than the grid are
    thumbnails out of scope (filtered, both engines).

    Matching is D3's banded-Hamming idiom: the 64 bits split into
    4 × 16-bit band integers; any pair within Hamming radius 3 must
    agree exactly on ≥1 band (pigeonhole), so candidates come from
    4 equi-join buckets — never an all-pairs scan — and the full
    Hamming distance (Σ bit_count(xor(band))) verifies candidates.
    Planted last-byte mutants (+2P) flip ≤2 difference bits and must
    land inside the radius; exact copies (+P) at 0 — with
    P = max(doc_id)+1 so plant ids stay disjoint from real ids at
    EVERY corpus size (r11 advice: the old fixed +100000/+300000
    offsets collide with real ids once the corpus passes 100k docs,
    which sf1/sf10 already do).

    Hot buckets (r11 verdict): band values over text-derived
    signatures concentrate on the corpus's byte rhythm, so a single
    (k, band-value) bucket's occupancy grows with corpus size and its
    within-bucket self-join goes quadratic. Buckets above _M15_MAX_DF
    are therefore RE-BANDED one level down instead of self-joined:
    the 48 complement bits (the other 3 bands) split into 4 × 12-bit
    sub-bands, and the pigeonhole argument recurses — a radius-3 pair
    that agrees exactly on band k has ≤3 flips left among those 48
    bits, so it agrees exactly on ≥1 of the 4 sub-bands. Candidate
    coverage is EXACTLY preserved (same result set, same oracle); hot
    buckets shrink multiplicatively (×2^12 sub-bucket keys). Exact-
    signature clusters stay together at every level, but their pairs
    are genuine radius-0 output — quadratic in the RESULT, not the
    algorithm.

    Scale shape (100 TB): the signature is one codegen pass over the
    corpus (65 unrolled char probes, no shuffle); only (k, 16-bit
    band, doc_id) tuples shuffle; verification joins the 4-int
    signature table — payloads never move."""
    from .. import tables
    from ..runtime import scratch_persist
    tables.ensure_session_defaults(spark)
    d = tables.load(spark, sf_dir, "documents")
    # plant offset P = max(doc_id)+1: one single-column agg driver-side
    # (footer-cheap relative to the corpus pass), matching the oracle's
    # scalar subquery — sound at any corpus size: plants land strictly
    # above every real id, and since every planted doc_id ≤ max < P
    # the copy family stays inside [P, 2P) and the mutant family
    # inside [2P, 3P), never colliding with each other either
    mx = d.agg(F.max("doc_id")).first()[0]
    p_off = int(mx or 0) + 1
    mut = (d.filter(F.col("doc_id") < 10)
           .select((F.col("doc_id") + F.lit(2 * p_off)).alias("doc_id"),
                   F.expr("concat(substr(text, 1, length(text)-1), 'z')")
                   .alias("text")))
    corpus = (d.select("doc_id", "text")
              .unionByName(
                  d.filter(F.col("doc_id") < 10)
                  .select((F.col("doc_id") + F.lit(p_off)).alias("doc_id"),
                          "text"))
              .unionByName(mut)
              .filter(F.length("text") >= _M15_SAMPLES))
    n = F.length("text")
    samples = F.array(*[
        F.ascii(F.col("text").substr(_m15_pos(i, n), F.lit(1)))
        for i in range(_M15_SAMPLES)])
    sig = corpus.select("doc_id", samples.alias("s"))
    bands = [
        sum((F.element_at(F.col("s"), 16 * k + j + 2)
             > F.element_at(F.col("s"), 16 * k + j + 1)).cast("int")
            * F.lit(1 << j) for j in range(16)).alias(f"band{k}")
        for k in range(4)]
    sig = scratch_persist(sig.select("doc_id", *bands))
    bl = sig.select("doc_id", "band0", "band1", "band2", "band3",
                    F.expr("stack(4, 0, band0, 1, band1, 2, band2, "
                           "3, band3) AS (k, bv)"))
    # bucket occupancy decides the path; the count shuffles the same
    # (k, bv) key the bucket join needs, so no extra exchange shape
    occ = bl.groupBy("k", "bv").count()
    bl = scratch_persist(bl.join(occ, ["k", "bv"]))
    cold = bl.filter(F.col("count") <= _M15_MAX_DF)
    cand_cold = (cold.alias("a")
                 .join(cold.alias("b"),
                       (F.col("a.k") == F.col("b.k"))
                       & (F.col("a.bv") == F.col("b.bv"))
                       & (F.col("a.doc_id") < F.col("b.doc_id")))
                 .select(F.col("a.doc_id").alias("doc_a"),
                         F.col("b.doc_id").alias("doc_b")))
    # hot path: 12-bit sub-bands over the 48 complement bits of band k.
    # Pack the 3 complement bands in index order, 16 bits each:
    # comp = b_lo | b_mid << 16 | b_hi << 32 (the layout only needs to
    # be deterministic GIVEN k, and both sides of a bucket share k)
    others = F.filter(
        F.array(*[F.struct(F.lit(kk).alias("i"),
                           F.col(f"band{kk}").cast("bigint").alias("v"))
                  for kk in range(4)]),
        lambda s: s["i"] != F.col("k"))
    comp = (F.element_at(others, 1)["v"]
            + F.shiftleft(F.element_at(others, 2)["v"], 16)
            + F.shiftleft(F.element_at(others, 3)["v"], 32))
    hot = (bl.filter(F.col("count") > _M15_MAX_DF)
           .select("doc_id", "k", "bv", comp.alias("comp")))
    hot = hot.select(
        "doc_id", "k", "bv",
        F.expr("stack(4, 0, shiftright(comp, 0)  & 4095, "
               "1, shiftright(comp, 12) & 4095, "
               "2, shiftright(comp, 24) & 4095, "
               "3, shiftright(comp, 36) & 4095) AS (j, sbv)"))
    cand_hot = (hot.alias("a")
                .join(hot.alias("b"),
                      (F.col("a.k") == F.col("b.k"))
                      & (F.col("a.bv") == F.col("b.bv"))
                      & (F.col("a.j") == F.col("b.j"))
                      & (F.col("a.sbv") == F.col("b.sbv"))
                      & (F.col("a.doc_id") < F.col("b.doc_id")))
                .select(F.col("a.doc_id").alias("doc_a"),
                        F.col("b.doc_id").alias("doc_b")))
    cand = cand_cold.unionByName(cand_hot).distinct()
    ham = sum(F.bit_count(F.col(f"sa.band{k}")
                          .bitwiseXOR(F.col(f"sb.band{k}")))
              for k in range(4)).cast("int")
    return (cand
            .join(sig.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
            .join(sig.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
            .select("doc_a", "doc_b", ham.alias("hamming"))
            .filter(F.col("hamming") <= _M15_R)
            .orderBy("doc_a", "doc_b"))


def _m15_sql() -> str:
    def band(k):
        terms = []
        for j in range(16):
            i = 16 * k + j
            p1 = f"CAST(FLOOR({i}.0 * (n-1) / 64.0) AS INT) + 1"
            p2 = f"CAST(FLOOR({i + 1}.0 * (n-1) / 64.0) AS INT) + 1"
            terms.append(
                f"CASE WHEN ord(substr(text, {p2}, 1)) "
                f"> ord(substr(text, {p1}, 1)) THEN {1 << j} ELSE 0 END")
        return " + ".join(terms)

    bands = ",\n         ".join(
        f"CAST({band(k)} AS INT) AS band{k}" for k in range(4))
    hamming = " + ".join(
        f"bit_count(xor(sa.band{k}, sb.band{k}))" for k in range(4))
    return f"""
WITH poff AS (
  SELECT CAST(COALESCE(MAX(doc_id), 0) + 1 AS BIGINT) AS p
  FROM documents),
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + (SELECT p FROM poff), text
  FROM documents WHERE doc_id < 10
  UNION ALL
  SELECT doc_id + 2 * (SELECT p FROM poff),
         substr(text, 1, length(text)-1) || 'z'
  FROM documents WHERE doc_id < 10),
c2 AS (
  SELECT doc_id, text, length(text) AS n FROM corpus
  WHERE length(text) >= {_M15_SAMPLES}),
sig AS MATERIALIZED (
  SELECT doc_id,
         {bands}
  FROM c2),
bl AS (
  SELECT doc_id, 0 AS k, band0 AS bv FROM sig
  UNION ALL SELECT doc_id, 1, band1 FROM sig
  UNION ALL SELECT doc_id, 2, band2 FROM sig
  UNION ALL SELECT doc_id, 3, band3 FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bl a JOIN bl b
    ON a.k = b.k AND a.bv = b.bv AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST({hamming} AS INT) AS hamming
FROM cand
JOIN sig sa ON doc_a = sa.doc_id
JOIN sig sb ON doc_b = sb.doc_id
WHERE {hamming} <= {_M15_R}
ORDER BY doc_a, doc_b
"""


# ---- M16: dictionary-encoding audit (parquet internals, rung 5) -----
def m16_dictionary_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The encoding audit that closes the parquet-internals ladder
    (file M11 → row group M12 → page M14 → bloom M13 → DICTIONARY
    pages): per (row group, column chunk), is the chunk dictionary-
    encoded and how many distinct entries does its dictionary hold —
    the compression-regression signal a lakehouse watches (a chunk
    whose dictionary stops fitting falls back to PLAIN and bloats;
    RLE_DICTIONARY efficiency is entries/values). pyarrow exposes a
    has_dictionary_page flag but NOT the entry count; that lives
    only in the DictionaryPageHeader on disk, so the audit walks the
    footer's ColumnMetaData (parquet.thrift fields 3/4/5/9/11) and
    parses the thrift-compact PageHeader at each chunk's
    dictionary_page_offset — headers are stored uncompressed even
    under a codec, so each chunk costs a ~64-byte read, never a
    decompress (parquet_bloom.py's spec-built reader family).

    The staged layout (m12's idiom: sorted by doc_id, derived
    rows-per-group, doc_id/lang/source dictionary-encoded, text
    forced PLAIN) is what gives the oracle full arithmetic
    reconstruction: a parquet dictionary is built per column chunk
    from that chunk's values, so entry count ≡ COUNT(DISTINCT col)
    within the row group's doc_id-rank slice — the audit's numbers
    are the truth, cross-engine, not a parser assertion. The PLAIN
    text column pins the no-dictionary path (has_dict=false must
    come from an ABSENT offset, not a parse fallback).

    Scale: at 100 TB the audit runs on the lake's own files — no
    stage; cost = footer tails + one header read per chunk, fanned
    over executors via mapInPandas (M11's argument: MBs, not TBs)."""
    import hashlib
    import os
    from .. import tables
    tables.ensure_session_defaults(spark)
    import pyarrow.parquet as pq
    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    n_src = pq.ParquetFile(src).metadata.num_rows
    rg_rows = max(_M12_RG_ROWS, n_src // _M12_MAX_GROUPS)
    key = f"v1:{src}:{st.st_mtime_ns}:{st.st_size}:{rg_rows}:dict"
    stage = os.path.join(
        "/tmp", "pg_spark_dictstage_"
        + hashlib.md5(key.encode()).hexdigest()[:8] + ".parquet")
    if not os.path.exists(stage):
        t = (pq.read_table(src, columns=["doc_id", "lang", "source",
                                         "text"])
             .sort_by("doc_id"))
        import uuid
        tmp = f"{stage}.tmp.{uuid.uuid4().hex}"
        pq.write_table(t, tmp, row_group_size=rg_rows,
                       use_dictionary=["doc_id", "lang", "source"])
        os.replace(tmp, stage)

    files = spark.createDataFrame([(stage,)], "path STRING")

    def audit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..parquet_bloom import (footer_dict_index,
                                     read_dict_page_header)
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                idx = footer_dict_index(r.path)
                with open(r.path, "rb") as f:
                    for rec in idx:
                        off = rec["dictionary_page_offset"]
                        nd = (read_dict_page_header(f, off)["num_values"]
                              if off is not None else 0)
                        rows.append((rec["row_group"], rec["column"],
                                     rec["num_values"],
                                     off is not None, nd))
            yield pd.DataFrame(rows, columns=[
                "rg_id", "col_name", "n_values", "has_dict",
                "n_dict_entries"])

    schema = T.StructType([
        T.StructField("rg_id", T.IntegerType()),
        T.StructField("col_name", T.StringType()),
        T.StructField("n_values", T.LongType()),
        T.StructField("has_dict", T.BooleanType()),
        T.StructField("n_dict_entries", T.LongType()),
    ])
    return (files.mapInPandas(audit, schema=schema)
            .orderBy("rg_id", "col_name"))


_M16_SQL = f"""
WITH r AS (SELECT doc_id, lang, source,
                  row_number() OVER (ORDER BY doc_id) - 1 AS rk
           FROM documents),
b AS (SELECT GREATEST({_M12_RG_ROWS},
                      COUNT(*) // {_M12_MAX_GROUPS}) AS rgr
      FROM documents),
g AS (SELECT CAST(rk // rgr AS INT) AS rg_id,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d_id,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS d_lang,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS d_src
      FROM r, b GROUP BY 1)
SELECT rg_id, col_name, n_values, has_dict, n_dict_entries FROM (
  SELECT rg_id, 'doc_id' AS col_name, n AS n_values,
         TRUE AS has_dict, d_id AS n_dict_entries FROM g
  UNION ALL
  SELECT rg_id, 'lang', n, TRUE, d_lang FROM g
  UNION ALL
  SELECT rg_id, 'source', n, TRUE, d_src FROM g
  UNION ALL
  SELECT rg_id, 'text', n, FALSE, 0 FROM g)
ORDER BY rg_id, col_name
"""


QUERIES = {
    "m16_dictionary_audit": m16_dictionary_audit,
    "m15_dhash_neardup": m15_dhash_neardup,
    "m14_page_pruned_scan": m14_page_pruned_scan,
    "m13_bloom_pruned_probe": m13_bloom_pruned_probe,
    "m12_pruned_rowgroup_scan": m12_pruned_rowgroup_scan,
    "m1_decode_features": m1_decode_features,
    "m2_frame_sample": m2_frame_sample,
    "m3_image_dims": m3_image_dims,
    "m4_wav_features": m4_wav_features,
    "m5_video_container": m5_video_container,
    "m6_tar_shard_manifest": m6_tar_shard_manifest,
    "m7_npy_tensor_parse": m7_npy_tensor_parse,
    "m8_jsonl_shard_codec": m8_jsonl_shard_codec,
    "m9_shard_repack_plan": m9_shard_repack_plan,
    "m10_webdataset_samples": m10_webdataset_samples,
    "m11_parquet_footer_manifest": m11_parquet_footer_manifest,
}

ORACLE: dict[str, str] = {
    "m16_dictionary_audit": _M16_SQL,
    "m15_dhash_neardup": _m15_sql(),
    "m14_page_pruned_scan": _M14_SQL,
    "m13_bloom_pruned_probe": _M13_SQL,
    "m12_pruned_rowgroup_scan": _M12_SQL,
    "m1_decode_features": _M1_SQL,
    "m2_frame_sample": _M2_SQL,
    "m3_image_dims": _M3_SQL,
    "m4_wav_features": _M4_SQL,
    "m5_video_container": _M5_SQL,
    "m6_tar_shard_manifest": _M6_SQL,
    "m7_npy_tensor_parse": _m7_sql(),
    "m8_jsonl_shard_codec": _M8_SQL,
    "m9_shard_repack_plan": _M9_SQL,
    "m10_webdataset_samples": _M10_SQL,
    "m11_parquet_footer_manifest": _M11_SQL,
}
