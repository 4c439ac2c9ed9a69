"""pgclient framing against scripted server bytes: the receive buffer
behind every message read, and the block-read COPY OUT that feeds the
vectorized PGCOPY decoder. Pure Python, no server."""

import io
import random
import struct

import pytest

from postgres_scanner_spark import pgclient
from postgres_scanner_spark import types as pgt


class _RaggedSock:
    """Scripted server bytes, delivered through recv or recv_into in
    chunks whose sizes cycle through `sizes` (never more than asked)."""

    def __init__(self, data: bytes, sizes):
        self.data, self.pos, self.sizes, self.calls = data, 0, sizes, 0

    def _next(self, n: int) -> bytes:
        size = min(n, self.sizes[self.calls % len(self.sizes)])
        self.calls += 1
        out = self.data[self.pos:self.pos + size]
        self.pos += len(out)
        return out

    def recv(self, n: int) -> bytes:
        return self._next(n)

    def recv_into(self, buf, nbytes: int = 0) -> int:
        out = self._next(nbytes or len(buf))
        buf[:len(out)] = out
        return len(out)

    def sendall(self, b: bytes) -> None:
        pass


def _msg(tag: bytes, body: bytes) -> bytes:
    return tag + struct.pack("!I", len(body) + 4) + body


_SIZES = {"large": [65536], "ragged": [1, 2, 3, 5, 7, 11, 4096]}


@pytest.mark.parametrize("chunks", sorted(_SIZES))
def test_recv_buffer_thousands_of_tiny_messages(chunks):
    """5000 tiny messages, received in 64 KiB or ragged 1-4096 byte
    chunks, come back whole and in order; the consumed prefix is
    dropped at each refill, so the buffer never holds more than the
    unread tail plus one receive."""
    rng = random.Random(7)
    bodies = [bytes(rng.randrange(256) for _ in range(rng.randrange(12)))
              for _ in range(5000)]
    p = pgclient._Proto(_RaggedSock(
        b"".join(_msg(b"d", b) for b in bodies) + _msg(b"Z", b"I"),
        _SIZES[chunks]))
    peak = 0
    for want in bodies:
        assert p.read_msg() == ("d", want)
        peak = max(peak, len(p._rbuf))
    assert p.read_msg() == ("Z", b"I")
    assert p._rpos == len(p._rbuf)
    assert peak <= 2 * max(_SIZES[chunks]) + 64


def _copy_out_stream(rows, notice_at=None, error_at=None, extra_at=None,
                     extra=b""):
    """A server's COPY OUT of int4/text `rows` in PGCOPY binary: one
    CopyData per row (the header riding in the first), the trailer,
    CopyDone, CommandComplete, ReadyForQuery — optionally with a
    NoticeResponse or an ErrorResponse after row `notice_at`/
    `error_at`, or the raw message `extra` after row `extra_at`."""
    from postgres_scanner_spark.pgwire import SIGNATURE
    out = []
    for i, (k, s) in enumerate(rows):
        text = None if s is None else s.encode()
        row = struct.pack("!hii", 2, 4, k) + (
            struct.pack("!i", -1) if text is None
            else struct.pack("!i", len(text)) + text)
        if i == 0:
            row = SIGNATURE + struct.pack("!II", 0, 0) + row
        out.append(_msg(b"d", row))
        if i == notice_at:
            out.append(_msg(b"N", b"SNOTICE\0Mhello\0\0"))
        if i == extra_at:
            out.append(extra)
        if i == error_at:
            return b"".join(out) + _msg(
                b"E", b"SERROR\0C57P01\0Mterminating connection\0\0") \
                + _msg(b"Z", b"I")
    if not rows:
        out.append(_msg(b"d", SIGNATURE + struct.pack("!II", 0, 0)))
    out.append(_msg(b"d", b"\xff\xff"))
    out += [_msg(b"c", b""), _msg(b"C", b"COPY %d\0" % len(rows)),
            _msg(b"Z", b"I")]
    return b"".join(out)


def _copy(sock) -> pgclient.Copy:
    cp = pgclient.Copy.__new__(pgclient.Copy)
    cp._p, cp._mode, cp._done = pgclient._Proto(sock), "out", False
    cp._p.tx_status = "T"
    return cp


def _rows(n, seed=3):
    rng = random.Random(seed)
    return [(k, None if k % 7 == 3 else "é" * rng.randrange(0, 300))
            for k in range(n)]


@pytest.mark.parametrize("chunks", sorted(_SIZES))
@pytest.mark.parametrize("block", [64, 1 << 21])
def test_copy_blocks_frame_one_row_per_message(chunks, block):
    """Copy.blocks(): every row's payload span, in order, across block
    and receive boundaries — including rows longer than a block — then
    the connection is back at ReadyForQuery with nothing left over;
    the vectorized reader decodes it to the scalar rows."""
    from pyspark.sql import types as T
    from postgres_scanner_spark.pgwire import BinaryCopyReader
    from postgres_scanner_spark.pgwire_vec import VectorBinaryCopyReader
    rows = _rows(700)
    data = _copy_out_stream(rows, notice_at=350)
    cp = _copy(_RaggedSock(data, _SIZES[chunks]))
    blocks = list(cp.blocks(block))
    assert sum(len(s) for _, s, _ in blocks) == len(rows) + 1  # trailer
    assert cp._done and cp._p.tx_status == "I"
    assert cp._p._rpos == len(cp._p._rbuf)
    assert [n["M"] for n in cp._p.notices] == ["hello"]
    payload = b"".join(bytes(b[s:e]) for b, ss, es in blocks
                       for s, e in zip(ss, es))
    assert list(BinaryCopyReader([pgt.INT4OID, pgt.TEXTOID]).read(
        io.BytesIO(payload))) == rows

    class _Replay:
        def blocks(self):
            return iter(blocks)
    schema = T.StructType([T.StructField("k", T.IntegerType()),
                           T.StructField("s", T.StringType())])
    got = VectorBinaryCopyReader([pgt.INT4OID, pgt.TEXTOID], set(),
                                 schema).read(_Replay())
    assert [tuple(r.values()) for b in got for r in b.to_pylist()] == rows


def test_copy_blocks_empty_result():
    """Header and trailer, no rows: two CopyData messages."""
    cp = _copy(_RaggedSock(_copy_out_stream([]), [5]))
    assert sum(len(s) for _, s, _ in cp.blocks(64)) == 2
    assert cp._p.tx_status == "I"


def test_copy_blocks_error_drains_to_ready():
    """An ErrorResponse mid-COPY (a killed backend) raises the
    server's error and leaves the protocol at ReadyForQuery."""
    cp = _copy(_RaggedSock(_copy_out_stream(_rows(50), error_at=20),
                           [3, 4096]))
    with pytest.raises(pgclient.Error, match="terminating connection"):
        for _ in cp.blocks(64):
            pass
    assert cp._p.tx_status == "I"
    assert cp._p._rpos == len(cp._p._rbuf)


@pytest.mark.parametrize("chunks", sorted(_SIZES))
def test_copy_blocks_unexpected_message_drains_to_ready(chunks):
    """A message COPY OUT does not allow (here a NotificationResponse)
    raises, and the drain that follows reads the rest of the stream in
    frame up to ReadyForQuery, with nothing left over."""
    data = _copy_out_stream(
        _rows(300), extra_at=120,
        extra=_msg(b"A", struct.pack("!i", 42) + b"chan\0payload\0"))
    cp = _copy(_RaggedSock(data, _SIZES[chunks]))
    with pytest.raises(pgclient.Error, match="unexpected 'A'"):
        for _ in cp.blocks(256):
            pass
    assert cp._p.tx_status == "I"
    assert cp._p._rpos == len(cp._p._rbuf)
    assert cp._p.sock.pos == len(data)


def test_copy_blocks_abandoned_then_drained():
    """A consumer that stops after the first block (a LIMIT) leaves
    the rest to Copy.__exit__, which drains to ReadyForQuery."""
    cp = _copy(_RaggedSock(_copy_out_stream(_rows(400)), [4096]))
    it = cp.blocks(256)
    next(it)
    it.close()
    cp.__exit__(None, None, None)
    assert cp._done and cp._p.tx_status == "I"


def test_copy_blocks_connection_closed():
    data = _copy_out_stream(_rows(50))
    cp = _copy(_RaggedSock(data[:len(data) // 2], [4096]))
    with pytest.raises(pgclient.ConnectionClosed):
        for _ in cp.blocks(64):
            pass


# ------------------------------------------------------ DSN and startup
class _SentSock:
    def __init__(self):
        self.sent = b""

    def sendall(self, b: bytes) -> None:
        self.sent += b


def _startup(dsn_options: dict) -> bytes:
    sock = _SentSock()
    pgclient._Proto(sock).send_startup("u", "d", dsn_options)
    return sock.sent


def test_startup_packet_without_dsn_keys_is_unchanged():
    """A DSN with neither `options` nor `application_name` sends the
    fixed startup bytes, application_name postgres_scanner_spark
    included; with them, both follow the fixed keys."""
    params = (b"user\0u\0database\0d\0client_encoding\0UTF8\0"
              b"application_name\0postgres_scanner_spark\0\0")
    body = struct.pack("!I", 196608) + params
    assert _startup({"sslmode": "disable"}) == \
        struct.pack("!I", len(body) + 4) + body
    sent = _startup({"application_name": "mine",
                     "options": "-c search_path=s1"})
    assert sent[8:] == (b"user\0u\0database\0d\0client_encoding\0UTF8\0"
                        b"application_name\0mine\0"
                        b"options\0-c search_path=s1\0\0")


@pytest.mark.parametrize("dsn, named", [
    ("target_session_attrs=read-only", "'target_session_attrs'"),
    ("passfile=/home/u/.pgpass", "'passfile'"),
    ("service=mydb", "'service'"),
    ("gssencmode=disable", "'gssencmode'"),
    ("bogus_key=1", "'bogus_key'"),
    ("host=a,b", "multi-host"),
])
def test_dsn_key_not_implemented_raises_before_connecting(
        monkeypatch, dsn, named):
    """A key pgclient does not implement raises before any socket
    opens, and names the key but no value: a value may be a password."""
    import socket

    def no_socket(*a, **k):
        raise AssertionError("a socket was opened")
    monkeypatch.setattr(socket, "create_connection", no_socket)
    monkeypatch.setattr(socket, "socket", no_socket)
    with pytest.raises(ValueError, match=named) as ei:
        pgclient.connect(f"host=h dbname=d password=sekret {dsn}")
    assert "sekret" not in str(ei.value)
    assert dsn.split("=", 1)[1] not in str(ei.value)
