"""Minimal pure-Python PostgreSQL wire-protocol client: the package's
one way to reach a Postgres server.

The live paths need ``connect(dsn)``, ``Connection.cursor()``,
``Cursor.execute`` / ``fetchone`` / ``fetchall`` / ``description``
and ``Cursor.copy`` (the COPY sub-protocol). The frontend/backend
protocol v3 is public and small (PostgreSQL docs,
"Frontend/Backend Protocol"), and this repo already owns the hard
part — the PGCOPY binary payload codec (pgwire.py). So this module
implements just the message framing those paths need:

- startup + auth: trust, cleartext password, md5, and
  SCRAM-SHA-256 / SCRAM-SHA-256-PLUS (RFC 5802/7677 over
  AuthenticationSASL, RFC 5929 tls-server-end-point channel binding
  with libpq's channel_binding=prefer|require|disable — the default
  auth of PG >= 14 and of every managed cloud Postgres; reference
  parity: test/sql/scanner/aws-rds.test authenticates to an RDS
  endpoint, which is SCRAM-only)
- SSL/TLS session encryption via the SSLRequest handshake
  (one 80877103 magic packet, then a TLS client hello), honoring
  libpq's sslmode= DSN parameter: disable / allow / prefer
  (default) / require / verify-ca / verify-full (reference:
  test/sql/scanner/ssl.test — sslmode in the DSN)
- simple query ('Q') with text-format result decoding by OID
- COPY IN/OUT sub-protocol ('G'/'H'/'d'/'c'/'f') — payload bytes are
  passed through untouched; pgwire_vec does binary encode/decode.
  COPY OUT is also readable in socket blocks (`Copy.blocks`), whose
  CopyData spans are the row offsets the column-wise decoder needs
- transactions (BEGIN/COMMIT/ROLLBACK via the same simple protocol,
  tracked by ReadyForQuery's status byte)

It intentionally does NOT implement the extended (Parse/Bind)
protocol or listen/notify — the reference's scanner also runs over
plain libpq simple queries + COPY (reference:
src/postgres_connection.cpp PostgresConnection::Query / BeginCopyTo;
the protocol constants below match libpq's protocol.h message
bytes). A DSN key it does not implement raises before any socket
opens (`_DSN_KEYS`), so a DSN never means something other than what
libpq would make of it.
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import logging
import os
import re
import socket
import ssl as _ssl
import struct
import time as _time          # datetime.time is imported below
import unicodedata
from collections import namedtuple
from datetime import date, datetime, time, timezone
from decimal import Decimal

from .connection import parse_dsn
from .types import ARRAY_OID_TO_ELEM, NUMERICOID, numeric_typmod

_U32 = struct.Struct("!I").unpack_from
_log = logging.getLogger(__name__)


class Error(Exception):
    """Server-reported error (maps ErrorResponse severity/code/text)."""

    def __init__(self, fields: dict):
        self.severity = fields.get("S", "ERROR")
        self.sqlstate = fields.get("C", "")
        msg = fields.get("M", "unknown error")
        detail = fields.get("D")
        super().__init__(msg if not detail else f"{msg}\n{detail}")
        self.fields = fields


class ConnectionClosed(Error):
    """The socket died mid-protocol — unlike a server ErrorResponse,
    there is no ReadyForQuery to drain to; recovery loops must
    re-raise instead of waiting for a 'Z' that can never arrive."""


class _SSLNegotiationFailed(Error):
    """The TLS handshake itself broke (protocol mismatch, bad server
    TLS config) — distinct from a server refusal, so sslmode=prefer
    can fall back to a plaintext retry exactly like libpq."""

    def __init__(self, cause: BaseException):
        super().__init__({"M": f"SSL negotiation failed: {cause}"})


# ---------------------------------------------------------- literals
def _escape(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        # non-finite floats need PG's quoted spellings: a bare
        # inf/nan is a syntax error server-side
        if v != v:
            return "'NaN'::float8"
        if v == float("inf"):
            return "'Infinity'::float8"
        if v == float("-inf"):
            return "'-Infinity'::float8"
        return str(v)
    if isinstance(v, (int, Decimal)):
        return str(v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "'\\x" + bytes(v).hex() + "'::bytea"
    if isinstance(v, (datetime, date, time)):
        return "'" + v.isoformat(sep=" ") + "'" \
            if isinstance(v, datetime) else "'" + v.isoformat() + "'"
    s = str(v)
    if "\\" in s:
        return " E'" + s.replace("\\", "\\\\").replace("'", "''") + "'"
    return "'" + s.replace("'", "''") + "'"


_PLACEHOLDER = re.compile(r"%s|%%")


def _interpolate(sql: str, params) -> str:
    """Client-side %s substitution (the simple protocol has no binds).
    Only trusted internal callers pass params; values are still
    escaped as proper literals."""
    if params is None:
        return sql
    it = iter(params)

    def repl(m):
        if m.group(0) == "%%":
            return "%"
        return _escape(next(it))

    out = _PLACEHOLDER.sub(repl, sql)
    leftover = list(it)
    if leftover:
        raise ValueError(f"{len(leftover)} unused query parameters")
    return out


# ------------------------------------------------- text-format decode
def _dec_bool(s: str):
    return s == "t"


def _dec_bytea(s: str):
    if s.startswith("\\x"):
        return bytes.fromhex(s[2:])
    # legacy escape format
    return s.encode("latin1").decode("unicode_escape").encode("latin1")


_TZ_SHORT = re.compile(r"([+-]\d\d)$")


def _dec_timestamptz(s: str):
    s = _TZ_SHORT.sub(r"\1:00", s)
    return datetime.fromisoformat(s).astimezone(timezone.utc)


def _dec_timestamp(s: str):
    return datetime.fromisoformat(s)


_DECODERS = {
    16: _dec_bool,            # bool
    17: _dec_bytea,           # bytea
    20: int, 21: int, 23: int, 26: int,   # int8/2/4, oid
    700: float, 701: float,   # float4/8
    1700: Decimal,            # numeric
    1082: date.fromisoformat,             # date
    1083: time.fromisoformat,             # time
    1114: _dec_timestamp,                 # timestamp
    1184: _dec_timestamptz,               # timestamptz
}

# array OID → element OID for the common wire families, decoded to
# Python lists (raw text would leak '{1,2,3}' strings into callers)
_ARRAY_ELEM = {
    1000: 16,                 # bool[]
    1005: 21, 1007: 23, 1016: 20, 1028: 26,   # int2/4/8[], oid[]
    1021: 700, 1022: 701,     # float4/8[]
    1231: 1700,               # numeric[]
    1009: 25, 1015: 1043, 1014: 1042,         # text/varchar/bpchar[]
    1182: 1082, 1183: 1083,   # date[], time[]
    1115: 1114, 1185: 1184,   # timestamp[], timestamptz[]
    2951: 2950,               # uuid[]
}


def _parse_array_text(s: str, dec) -> list:
    """PG array output syntax → (possibly nested) Python list:
    '{1,2,3}', '{{1,2},{3,4}}', '{"a b","c\\"d",NULL}', '{}', and the
    explicit-bounds prefix '[0:2]={...}'. Double-quoted elements
    un-escape \\" and \\\\; bare NULL is None. Malformed input (no
    '{', truncated text, unterminated quote) raises the module's
    Error — never a raw IndexError from the scan loop."""
    i = s.find("{")            # skip any [lo:hi]= bounds decoration
    if i == -1:
        raise Error({"M": f"malformed array literal: {s!r}"})
    pos = i

    def parse() -> list:
        nonlocal pos
        pos += 1               # consume '{'
        out: list = []
        if s[pos] == "}":
            pos += 1
            return out
        while True:
            ch = s[pos]
            if ch == "{":
                out.append(parse())
            elif ch == '"':
                pos += 1
                buf = []
                while s[pos] != '"':
                    if s[pos] == "\\":
                        pos += 1
                    buf.append(s[pos])
                    pos += 1
                pos += 1
                out.append(dec("".join(buf)))
            else:
                j = pos
                while s[j] not in ",}":
                    j += 1
                tok = s[pos:j]
                pos = j
                out.append(None if tok == "NULL" else dec(tok))
            if s[pos] == ",":
                pos += 1
            else:              # '}'
                pos += 1
                return out

    try:
        return parse()
    except IndexError:
        raise Error({"M": f"malformed array literal: {s!r}"}) from None


def _decode(oid: int, raw: bytes):
    s = raw.decode("utf-8")
    elem = _ARRAY_ELEM.get(oid)
    if elem is not None:
        edec = _DECODERS.get(elem, str)
        return _parse_array_text(s, edec)
    dec = _DECODERS.get(oid)
    return dec(s) if dec else s


Column = namedtuple("Column", "name type_code precision scale")


def _column(name: str, oid: int, typmod: int) -> Column:
    prec = scale = None
    if NUMERICOID in (oid, ARRAY_OID_TO_ELEM.get(oid)):  # numeric(p,s)[]
        prec, scale = numeric_typmod(typmod)
    return Column(name, oid, prec, scale)


# ------------------------------------------------- SCRAM-SHA-256
# RFC 3454 table B.1 (map-to-nothing) — the full published set, not
# just category Cf: U+034F COMBINING GRAPHEME JOINER and the
# variation selectors U+180B-D / U+FE00-0F are category Mn, so a
# Cf-only filter keeps them and derives a salted key different from
# the server's pg_saslprep.
_SASLPREP_B1 = frozenset(
    {0x00AD, 0x034F, 0x1806, 0x180B, 0x180C, 0x180D,
     0x200B, 0x200C, 0x200D, 0x2060, 0xFEFF}
    | set(range(0xFE00, 0xFE10)))


def _saslprep_prohibited(ch: str) -> bool:
    """RFC 4013 §2.3 prohibited output (post-normalization): control
    characters (C.2), surrogates (C.5), private use (C.3),
    non-characters (C.4), plus the C.6-C.9 plane-0 oddballs that
    fall in Cf/Cs/Co. Zs was already mapped to space."""
    cp = ord(ch)
    cat = unicodedata.category(ch)
    return (cat in ("Cc", "Cs", "Co", "Cn")
            or 0xFDD0 <= cp <= 0xFDEF
            or (cp & 0xFFFE) == 0xFFFE
            or (cat == "Cf" and cp not in _SASLPREP_B1))


def _saslprep(s: str) -> str:
    """SASLprep (RFC 4013) with PostgreSQL's pg_saslprep fallback
    semantics: pure-ASCII strings pass through (libpq's fast path);
    otherwise map non-ASCII spaces to space, drop the RFC 3454 B.1
    map-to-nothing set, NFKC-normalize, then check prohibited output
    and the §2.4 bidi rules. When a check fails, PG — on BOTH the
    libpq and server side — uses the RAW password instead of
    erroring (src/common/saslprep.c returns SASLPREP_PROHIBITED and
    the caller keeps the original string), so we do the same: that
    is what keeps the client proof and the server verifier derived
    from identical bytes."""
    if s.isascii():
        return s
    out = []
    for ch in s:
        if ord(ch) in _SASLPREP_B1:
            continue                       # map-to-nothing (B.1)
        if unicodedata.category(ch) == "Zs":
            out.append(" ")
        else:
            out.append(ch)
    norm = unicodedata.normalize("NFKC", "".join(out))
    if not norm or any(_saslprep_prohibited(ch) for ch in norm):
        return s                           # pg_saslprep fallback
    bidi = [unicodedata.bidirectional(ch) for ch in norm]
    if any(b in ("R", "AL") for b in bidi):
        # RandALCat present: no LCat anywhere, and the string must
        # start AND end with RandALCat (RFC 3454 §6)
        if any(b == "L" for b in bidi) or \
                bidi[0] not in ("R", "AL") or bidi[-1] not in ("R", "AL"):
            return s                       # pg_saslprep fallback
    return norm


class ScramClient:
    """Client side of SCRAM-SHA-256 and SCRAM-SHA-256-PLUS (RFC 5802,
    SHA-256 parameters per RFC 7677; channel binding per RFC 5929
    tls-server-end-point), as carried over PostgreSQL's
    AuthenticationSASL messages. The crypto is pure stdlib:
    pbkdf2_hmac + hmac + sha256.

    gs2 selects the binding posture: "n" = client cannot bind (no
    TLS), "y" = client could bind but the server did not advertise
    -PLUS (downgrade protection: a MITM stripping -PLUS from the
    mechanism list makes the server reject this), "p=..." = binding
    in use, with cbind_data = the hash of the server's TLS
    certificate mixed into the proof.

    Split from the socket loop so the exchange is unit-testable
    against the RFC 7677 published vector (nonce injectable)."""

    def __init__(self, password: str, nonce: str | None = None,
                 username: str = "", gs2: str = "n",
                 cbind_data: bytes = b""):
        self._password = _saslprep(password).encode("utf-8")
        # 18 random bytes -> 24 base64 chars; '+'/'/' are legal nonce
        # chars (printable, not comma)
        self.nonce = nonce or base64.b64encode(
            os.urandom(18)).decode("ascii")
        self._gs2 = gs2 + ",,"              # no authzid
        self._cbind = cbind_data
        # PG ignores the n= authcid (it uses the startup user), so
        # send it empty exactly like libpq does; injectable so the
        # RFC 7677 test vector (n=user) can drive the exchange
        self._client_first_bare = f"n={username},r={self.nonce}"
        self._auth_message: bytes | None = None
        self._salted: bytes | None = None

    def client_first(self) -> bytes:
        return (self._gs2 + self._client_first_bare).encode("utf-8")

    def client_final(self, server_first: bytes) -> bytes:
        attrs = dict(p.split("=", 1)
                     for p in server_first.decode("utf-8").split(","))
        server_nonce, salt_b64, iters = attrs["r"], attrs["s"], attrs["i"]
        if not server_nonce.startswith(self.nonce):
            raise Error({"M": "SCRAM: server nonce does not extend "
                              "the client nonce"})
        self._salted = hashlib.pbkdf2_hmac(
            "sha256", self._password, base64.b64decode(salt_b64),
            int(iters))
        client_key = hmac.digest(self._salted, b"Client Key", "sha256")
        stored_key = hashlib.sha256(client_key).digest()
        # c= carries base64(gs2-header || cbind-data); with no channel
        # binding that is base64("n,,") = "biws"
        cbind_input = self._gs2.encode("utf-8") + self._cbind
        without_proof = ("c=" + base64.b64encode(cbind_input)
                         .decode("ascii") + f",r={server_nonce}")
        self._auth_message = (
            self._client_first_bare + ","
            + server_first.decode("utf-8") + "," + without_proof
        ).encode("utf-8")
        sig = hmac.digest(stored_key, self._auth_message, "sha256")
        proof = bytes(a ^ b for a, b in zip(client_key, sig))
        return (without_proof + ",p="
                + base64.b64encode(proof).decode("ascii")).encode("utf-8")

    def verify_server_final(self, server_final: bytes) -> None:
        """Check v= — proves the server actually knows the credential
        (mutual auth; a MITM without the verifier cannot forge it)."""
        attrs = dict(p.split("=", 1)
                     for p in server_final.decode("utf-8").split(","))
        server_key = hmac.digest(self._salted, b"Server Key", "sha256")
        expect = hmac.digest(server_key, self._auth_message, "sha256")
        got = base64.b64decode(attrs.get("v", ""))
        if not hmac.compare_digest(expect, got):
            raise Error({"M": "SCRAM: server signature verification "
                              "failed (server does not know the "
                              "credential)"})


def tls_server_end_point(der: bytes) -> bytes:
    """RFC 5929 tls-server-end-point channel-binding data: the hash
    of the server certificate (DER) using the certificate's own
    signature hash algorithm, with MD5/SHA-1 upgraded to SHA-256 (the
    RFC's rule; also PG be_tls_get_certificate_hash). Without
    `cryptography`, or for a certificate it cannot parse or whose
    signature hash it does not know, the hash is SHA-256 — what PG
    hashes for every certificate it can actually serve — and the
    fallback is logged, since a wrong guess surfaces only as a SCRAM
    channel-binding failure."""
    try:
        from cryptography import x509
        from cryptography.exceptions import UnsupportedAlgorithm
    except ImportError as exc:
        _log.warning("channel binding hashes the server certificate "
                     "with SHA-256: cryptography is unavailable (%s)",
                     exc)
        return hashlib.sha256(der).digest()
    try:
        algo = x509.load_der_x509_certificate(
            der).signature_hash_algorithm
    except (ValueError, UnsupportedAlgorithm) as exc:
        _log.warning("channel binding hashes the server certificate "
                     "with SHA-256: cannot read its signature hash (%s)",
                     exc)
        algo = None
    if algo is None or algo.name.lower() in ("md5", "sha1"):
        return hashlib.sha256(der).digest()
    return hashlib.new(algo.name.lower(), der).digest()


# ------------------------------------------------- SSL negotiation
_SSLREQUEST = struct.pack("!II", 8, 80877103)   # length + magic


def negotiate_ssl(sock: socket.socket, host: str, sslmode: str,
                  options: dict) -> socket.socket:
    """libpq's SSLRequest dance (PG docs "SSL Session Encryption"):
    send the 80877103 magic, read ONE byte — 'S' means the server is
    ready for a TLS handshake on this very socket, 'N' means it is
    not. verify-ca checks the chain against sslrootcert; verify-full
    additionally matches the certificate hostname; require/prefer
    encrypt without verification (libpq semantics)."""
    sock.sendall(_SSLREQUEST)
    answer = b""
    while len(answer) < 1:
        chunk = sock.recv(1)
        if not chunk:
            raise Error({"M": "server closed during SSL negotiation"})
        answer += chunk
    if answer == b"N":
        if sslmode in ("require", "verify-ca", "verify-full"):
            raise Error({"M": f"server does not support SSL, but "
                              f"sslmode={sslmode} requires it"})
        return sock                        # prefer: plaintext fallback
    if answer != b"S":
        raise Error({"M": f"unexpected SSL negotiation response "
                          f"{answer!r}"})
    ctx = _ssl.SSLContext(_ssl.PROTOCOL_TLS_CLIENT)
    rootcert = options.get("sslrootcert")
    if sslmode in ("verify-ca", "verify-full"):
        ctx.check_hostname = sslmode == "verify-full"
        ctx.verify_mode = _ssl.CERT_REQUIRED
        if not rootcert:
            # libpq semantics: verify-* without sslrootcert reads
            # ~/.postgresql/root.crt and FAILS if it is absent — it
            # never silently falls back to the system trust store
            # (a DSN libpq rejects must not connect here with a
            # different trust anchor)
            rootcert = os.path.expanduser("~/.postgresql/root.crt")
            if not os.path.exists(rootcert):
                raise Error({
                    "M": f'root certificate file "{rootcert}" does '
                         f"not exist; provide sslrootcert or place "
                         f"the CA there for sslmode={sslmode}"})
        ctx.load_verify_locations(rootcert)
    else:                                  # prefer / require / allow
        ctx.check_hostname = False
        ctx.verify_mode = _ssl.CERT_NONE
    if options.get("sslcert") and options.get("sslkey"):
        ctx.load_cert_chain(options["sslcert"], options["sslkey"])
    return ctx.wrap_socket(sock, server_hostname=host)


# ------------------------------------------------------ wire framing
class _Proto:
    """One socket; reads/writes protocol v3 messages."""

    def __init__(self, sock: socket.socket):
        self.sock = sock
        # received bytes; those before _rpos are consumed. The consumed
        # prefix is dropped only when a refill is due, so a message
        # costs O(its length), not O(bytes buffered behind it)
        self._rbuf = bytearray()
        self._rpos = 0
        self.tx_status = "I"        # ReadyForQuery: I / T / E
        self.notices: list[dict] = []

    # -- raw framing
    def _recv_exact(self, n: int) -> bytes:
        buf, pos = self._rbuf, self._rpos
        while len(buf) - pos < n:
            chunk = self.sock.recv(max(65536, n - len(buf) + pos))
            if not chunk:
                raise ConnectionClosed(
                    {"M": "server closed the connection"})
            if pos:
                del buf[:pos]
                pos = 0
            buf += chunk
        self._rpos = pos + n
        return bytes(buf[pos:pos + n])

    def read_msg(self) -> tuple[str, bytes]:
        hdr = self._recv_exact(5)
        tag = chr(hdr[0])
        (length,) = _U32(hdr, 1)
        body = self._recv_exact(length - 4)
        if tag == "E":
            raise Error(_err_fields(body))
        if tag == "N":
            self.notices.append(_err_fields(body))
            return self.read_msg()
        return tag, body

    def read_copy_block(self, size: int):
        """COPY OUT in one socket block: receive into a fresh
        bytearray (recv_into) until it is full or CopyDone arrives,
        walking the message headers once. Returns (block, starts,
        ends, done): the payload spans of the block's CopyData
        messages — one row each, the server sends a message per row.
        Bytes past the last whole message stay buffered for the next
        call (or read_msg once done); the block is the caller's."""
        tail = len(self._rbuf) - self._rpos
        block = bytearray(max(size, 2 * tail))
        block[:tail] = self._rbuf[self._rpos:]
        self._rbuf, self._rpos = bytearray(), 0
        starts: list[int] = []
        ends: list[int] = []
        pos, end, done = 0, tail, False
        while True:
            while pos + 5 <= end:
                tag = block[pos]
                (length,) = _U32(block, pos + 1)
                nxt = pos + 1 + length
                if nxt > end:
                    break
                if tag == 0x64:                     # 'd' CopyData
                    starts.append(pos + 5)
                    ends.append(nxt)
                elif tag == 0x63:                   # 'c' CopyDone
                    done = True
                elif tag == 0x45:                   # 'E'
                    self._rbuf[:] = block[nxt:end]
                    raise Error(_err_fields(bytes(block[pos + 5:nxt])))
                elif tag == 0x4E:                   # 'N'
                    self.notices.append(
                        _err_fields(bytes(block[pos + 5:nxt])))
                elif tag != 0x53:                   # 'S' is harmless
                    # keep the message and what follows buffered, so
                    # the caller's drain to ReadyForQuery stays framed
                    self._rbuf[:] = block[pos:end]
                    raise Error({"M": f"unexpected {chr(tag)!r} "
                                      f"during COPY OUT"})
                pos = nxt
                if done:
                    break
            if done or (starts and end == len(block)):
                break
            if end == len(block):   # full, yet no row: widen for the
                need = 1 + _U32(block, pos + 1)[0] if end - pos >= 5 \
                    else 5            # partial message at pos
                block.extend(bytes(max(need - (end - pos), size)))
            with memoryview(block) as mv:
                got = self.sock.recv_into(mv[end:])
            if not got:
                raise ConnectionClosed(
                    {"M": "server closed the connection"})
            end += got
        self._rbuf[:] = block[pos:end]
        return block, starts, ends, done

    def send(self, tag: str, body: bytes = b"") -> None:
        try:
            self.sock.sendall(
                tag.encode() + struct.pack("!I", len(body) + 4) + body)
        except OSError as e:
            # EPIPE/ECONNRESET on send means the backend died between
            # round-trips (pg_terminate_backend, server crash). The
            # REASON usually sits unread in the receive buffer as the
            # server's final ErrorResponse (57P01 "terminating
            # connection due to administrator command") — surface
            # THAT, not the bare OS error, matching what libpq shows.
            # Bound the drain with a short timeout: a half-open peer
            # (ETIMEDOUT/ENOBUFS with nothing readable) must not hang
            # the error path forever (r10 advice). The per-read timeout
            # alone is not a total bound — a peer that keeps streaming
            # readable non-error messages resets it every message — so
            # cap the whole drain with a wall deadline too (r11 advice).
            old_to = self.sock.gettimeout()
            deadline = _time.monotonic() + 5.0
            try:
                self.sock.settimeout(2.0)
                while _time.monotonic() < deadline:
                    self.read_msg()   # raises Error on the pending 'E'
            except ConnectionClosed:
                # clean EOF, no ErrorResponse pending — fall through
                # to the informative send-errno ConnectionClosed below
                # (ConnectionClosed subclasses Error, so it must be
                # caught BEFORE the re-raising Error arm)
                pass
            except Error:
                raise
            except OSError:
                pass      # incl. socket.timeout: nothing readable
            finally:
                try:
                    self.sock.settimeout(old_to)
                except OSError:
                    pass
            raise ConnectionClosed(
                {"M": f"server closed the connection ({e})"}) from e

    def send_startup(self, user: str, dbname: str, dsn_options: dict) -> None:
        """StartupMessage: the DSN's application_name (default
        postgres_scanner_spark) and, when it has one, its `options`
        (e.g. '-c search_path=s1'), which the server applies as
        command-line settings of the session."""
        params = [("user", user), ("database", dbname),
                  ("client_encoding", "UTF8"),
                  ("application_name", dsn_options.get(
                      "application_name", "postgres_scanner_spark"))]
        if "options" in dsn_options:
            params.append(("options", dsn_options["options"]))
        body = struct.pack("!I", 196608) + "".join(
            f"{k}\0{v}\0" for k, v in params).encode() + b"\0"
        self.sock.sendall(struct.pack("!I", len(body) + 4) + body)

    def authenticate(self, user: str, password: str | None,
                     channel_binding: str = "prefer") -> None:
        scram: ScramClient | None = None
        used_plus = False
        require_cb = channel_binding == "require"
        _no_cb = Error(
            {"M": "channel_binding=require, but the server "
                  "authenticated the client without channel binding"})
        while True:
            tag, body = self.read_msg()
            if tag == "R":
                (code,) = struct.unpack("!I", body[:4])
                if code == 0:
                    continue                     # AuthenticationOk
                if code == 3:                    # cleartext
                    if require_cb:
                        raise _no_cb   # never send the password
                    if password is None:
                        raise Error({"M": "password required"})
                    self.send("p", password.encode() + b"\0")
                elif code == 5:                  # md5
                    if require_cb:
                        raise _no_cb   # never send the password
                    if password is None:
                        raise Error({"M": "password required"})
                    salt = body[4:8]
                    inner = hashlib.md5(
                        password.encode() + user.encode()).hexdigest()
                    outer = hashlib.md5(
                        inner.encode() + salt).hexdigest()
                    self.send("p", b"md5" + outer.encode() + b"\0")
                elif code == 10:                 # AuthenticationSASL
                    if password is None:
                        raise Error({"M": "password required"})
                    mechs = [m.decode() for m in body[4:].split(b"\0")
                             if m]
                    # channel binding: over TLS, hash the server cert
                    # and prefer SCRAM-SHA-256-PLUS (libpq
                    # channel_binding=prefer default)
                    cbind = b""
                    if channel_binding != "disable" and \
                            isinstance(self.sock, _ssl.SSLSocket):
                        der = self.sock.getpeercert(binary_form=True)
                        if der:
                            cbind = tls_server_end_point(der)
                    use_plus = bool(cbind) and \
                        "SCRAM-SHA-256-PLUS" in mechs
                    if channel_binding == "require" and not use_plus:
                        raise Error(
                            {"M": "channel_binding=require, but "
                                  "channel binding is not available "
                                  "(no SSL, or the server does not "
                                  "offer SCRAM-SHA-256-PLUS)"})
                    if use_plus:
                        mech = "SCRAM-SHA-256-PLUS"
                        used_plus = True
                        scram = ScramClient(
                            password, gs2="p=tls-server-end-point",
                            cbind_data=cbind)
                    elif "SCRAM-SHA-256" in mechs:
                        mech = "SCRAM-SHA-256"
                        # 'y' = we COULD bind but the server offered
                        # no -PLUS (downgrade protection); 'n' when
                        # we can't bind or binding is disabled
                        scram = ScramClient(
                            password, gs2="y" if cbind else "n")
                    else:
                        raise Error(
                            {"M": f"no common SASL mechanism (server "
                                  f"offers {mechs}, client supports "
                                  f"SCRAM-SHA-256[-PLUS])"})
                    first = scram.client_first()
                    self.send("p", mech.encode() + b"\0"
                              + struct.pack("!i", len(first)) + first)
                elif code == 11:                 # SASLContinue
                    if scram is None:
                        raise Error({"M": "SASLContinue without SASL "
                                          "exchange in progress"})
                    self.send("p", scram.client_final(body[4:]))
                elif code == 12:                 # SASLFinal
                    if scram is None:
                        raise Error({"M": "SASLFinal without SASL "
                                          "exchange in progress"})
                    scram.verify_server_final(body[4:])
                else:
                    raise Error(
                        {"M": f"unsupported auth method {code} "
                              f"(trust/password/md5/scram-sha-256 "
                              f"only)"})
            elif tag in ("S", "K"):              # ParameterStatus/KeyData
                continue
            elif tag == "Z":
                if require_cb and not used_plus:
                    # covers trust auth too: the server let us in
                    # without ever running the bound SCRAM exchange
                    raise _no_cb
                self.tx_status = chr(body[0])
                return
            else:
                raise Error({"M": f"unexpected message {tag!r} "
                                  f"during startup"})

    def drain_ready(self) -> None:
        """Consume to ReadyForQuery after an error mid-protocol. A
        CLOSED connection re-raises immediately — there is no 'Z'
        coming, and swallowing it would spin forever."""
        while True:
            try:
                tag, body = self.read_msg()
            except ConnectionClosed:
                raise
            except Error:
                continue
            if tag == "Z":
                self.tx_status = chr(body[0])
                return


def _err_fields(body: bytes) -> dict:
    fields = {}
    i = 0
    while i < len(body) and body[i] != 0:
        code = chr(body[i])
        j = body.index(b"\0", i + 1)
        fields[code] = body[i + 1:j].decode("utf-8", "replace")
        i = j + 1
    return fields


# ---------------------------------------------------------- results
class _Result:
    __slots__ = ("description", "rows")

    def __init__(self):
        self.description: list[Column] | None = None
        self.rows: list[tuple] = []


# ------------------------------------------------------------- copy
class Copy:
    """COPY sub-protocol handle from ``cursor.copy()``: iterate (or
    ``blocks()``) for COPY TO STDOUT, ``write()`` for COPY FROM
    STDIN. Payload bytes are opaque here — pgwire owns the PGCOPY
    binary framing."""

    def __init__(self, proto: _Proto, sql: str):
        self._p = proto
        self._mode: str | None = None
        self._done = False
        proto.send("Q", sql.encode() + b"\0")
        while True:
            tag, body = self._read_drain()
            if tag == "H":               # CopyOutResponse
                self._mode = "out"
                break
            if tag == "G":               # CopyInResponse
                self._mode = "in"
                break
            if tag in ("S", "N", "C"):
                continue
            if tag == "Z":
                proto.tx_status = chr(body[0])
                raise Error({"M": f"not a COPY statement: {sql!r}"})

    def _read_drain(self, read=None, *args):
        """read_msg (or `read(*args)`), but on a server ErrorResponse
        consume through the pending ReadyForQuery before re-raising —
        otherwise the stale 'Z' stays buffered and the NEXT command on
        this connection (e.g. the context-manager rollback) desyncs
        the protocol."""
        try:
            return (read or self._p.read_msg)(*args)
        except ConnectionClosed:
            raise
        except Error:
            try:
                self._p.drain_ready()
            except ConnectionClosed:
                pass   # died after its ErrorResponse — the server's
                       # message below is the informative one
            raise

    # COPY TO STDOUT ------------------------------------------------
    def __iter__(self):
        assert self._mode == "out"
        while True:
            tag, body = self._read_drain()
            if tag == "d":
                yield body
            elif tag == "c":             # CopyDone
                break
            elif tag in ("S", "N"):
                continue
            else:
                raise Error({"M": f"unexpected {tag!r} during COPY OUT"})
        self._finish_out()

    def blocks(self, size: int = 1 << 21):
        """COPY TO STDOUT in socket blocks of about `size` bytes:
        yields (block, row starts, row ends) per block — see
        _Proto.read_copy_block. The bulk counterpart of iterating
        message by message; VectorBinaryCopyReader decodes it."""
        assert self._mode == "out"
        while not self._done:
            block, starts, ends, done = self._read_drain(
                self._p.read_copy_block, size)
            if done:
                self._finish_out()
            if starts:
                yield block, starts, ends

    def _finish_out(self):
        if self._done:
            return
        self._done = True
        while True:
            tag, body = self._read_drain()
            if tag == "Z":
                self._p.tx_status = chr(body[0])
                return
            # CommandComplete / ParameterStatus etc.

    # COPY FROM STDIN -----------------------------------------------
    def write(self, data) -> None:
        assert self._mode == "in"
        if data:
            self._p.send("d", bytes(data))

    def __enter__(self):
        return self

    def __exit__(self, exc_type, exc, tb):
        if self._mode == "in":
            if exc_type is None:
                self._p.send("c")                 # CopyDone
            else:
                msg = str(exc)[:200].encode() + b"\0"
                self._p.send("f", msg)            # CopyFail
            while True:
                try:
                    tag, body = self._p.read_msg()
                except ConnectionClosed:
                    if exc_type is None:
                        raise
                    return False   # original exception propagates
                except Error:
                    if exc_type is None:
                        raise
                    try:
                        self._p.drain_ready()
                    except ConnectionClosed:
                        pass
                    return False
                if tag == "Z":
                    self._p.tx_status = chr(body[0])
                    break
        elif self._mode == "out" and not self._done:
            # abandoned early: drain the stream
            for _ in self:
                pass
        return False


# ----------------------------------------------------------- cursor
class Cursor:
    def __init__(self, conn: "Connection"):
        self._conn = conn
        self._res = _Result()
        self._pos = 0

    @property
    def description(self):
        return self._res.description

    def execute(self, sql: str, params=None) -> "Cursor":
        self._conn._ensure_tx()
        self._res = self._conn._simple_query(_interpolate(sql, params))
        self._pos = 0
        return self

    def fetchone(self):
        if self._pos >= len(self._res.rows):
            return None
        row = self._res.rows[self._pos]
        self._pos += 1
        return row

    def fetchall(self):
        out = self._res.rows[self._pos:]
        self._pos = len(self._res.rows)
        return out

    def copy(self, sql: str) -> Copy:
        self._conn._ensure_tx()
        return Copy(self._conn._proto, sql)

    def close(self) -> None:
        self._res = _Result()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()
        return False


# ------------------------------------------------------- connection
# DSN keys, beside host/port/dbname/user/password, that this client
# implements
_DSN_KEYS = frozenset({
    "sslmode", "channel_binding", "connect_timeout", "sslrootcert",
    "sslcert", "sslkey", "options", "application_name"})
# libpq keys refused on purpose, and why
_REFUSED = {
    "target_session_attrs": "pgclient connects to one host and never "
                            "checks the server's role",
    "passfile": "pgclient reads no password file; put the password in "
                "the DSN or a secret",
    "service": "pgclient reads no connection service file",
    "gssencmode": "pgclient has no GSSAPI encryption",
}


def _check_dsn(info) -> None:
    """Raise on a DSN this client would not honour as libpq does,
    naming the key but never a value (a value may be a password)."""
    for key in info.options:
        if key not in _DSN_KEYS:
            why = _REFUSED.get(key, "pgclient does not implement it")
            raise ValueError(
                f"connection option {key!r} is not supported: {why}")
    if "," in info.host:
        raise ValueError("a multi-host connection string is not "
                         "supported: pgclient connects to one host")


class Connection:
    def __init__(self, dsn: str, autocommit: bool = False):
        info = parse_dsn(dsn)
        _check_dsn(info)
        self.autocommit = autocommit
        self.closed = False
        user = info.user or "postgres"
        host = info.host or "localhost"
        sslmode = (info.options.get("sslmode") or "prefer").lower()
        if sslmode not in ("disable", "allow", "prefer", "require",
                           "verify-ca", "verify-full"):
            raise Error({"M": f"invalid sslmode {sslmode!r}"})
        self._cb_mode = (info.options.get("channel_binding")
                         or "prefer").lower()
        if self._cb_mode not in ("disable", "prefer", "require"):
            raise Error(
                {"M": f"invalid channel_binding {self._cb_mode!r}"})
        self.ssl_in_use = False
        self._attempt_was_ssl = False
        try:
            self._handshake(info, user, host, sslmode)
        except _SSLNegotiationFailed:
            # libpq 'prefer': a broken TLS handshake retries the same
            # server over a fresh plaintext connection
            if sslmode != "prefer":
                raise
            self._handshake(info, user, host, "disable")
        except ConnectionClosed:
            raise                  # socket died — no server verdict
        except Error:
            if sslmode == "prefer" and self._attempt_was_ssl:
                # libpq 'prefer' also retries plaintext when the
                # SERVER rejects the encrypted connection after the
                # handshake — e.g. a hostnossl pg_hba reject arriving
                # as an ErrorResponse during startup/auth. Only when
                # the failed attempt actually ran over TLS: if the
                # server answered 'N' to SSLRequest we were already
                # in plaintext and a retry would change nothing.
                self._handshake(info, user, host, "disable")
            elif sslmode == "allow" and not host.startswith("/"):
                # libpq 'allow': plaintext FIRST, fall back to SSL
                # only if the server turns the clear connection away
                # (e.g. an hostssl-only pg_hba)
                self._handshake(info, user, host, "require")
            else:
                raise

    def _handshake(self, info, user: str, host: str,
                   sslmode: str) -> None:
        """One full connect+SSL+startup+auth attempt. On ANY failure
        the socket of THIS attempt is closed before the exception
        propagates — the prefer/allow retries above must never leak
        the first attempt's fd."""
        # libpq connect_timeout: bound the WHOLE connection attempt —
        # TCP/unix connect, SSL negotiation, startup, and auth — not
        # just the SYN (a postmaster that accepts and then hangs must
        # still fail fast). Parsed with atoi semantics ('5abc' → 5;
        # unparseable/non-positive → wait indefinitely) and libpq's
        # 2-second minimum. The socket returns to blocking mode for
        # the protocol phase once authentication completes.
        m = re.match(r"\s*([+-]?\d+)",
                     info.options.get("connect_timeout") or "")
        timeout = float(m.group(1)) if m else 0.0
        timeout = max(timeout, 2.0) if timeout > 0 else None
        if host.startswith("/"):
            # unix sockets are never SSL-wrapped (libpq semantics:
            # sslmode is ignored for local sockets)
            sock = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
            try:
                sock.settimeout(timeout)
                sock.connect(f"{host}/.s.PGSQL.{info.port}")
            except BaseException:
                sock.close()       # a failed attempt never leaks a fd
                raise
        else:
            sock = socket.create_connection((host, info.port),
                                            timeout=timeout)
            sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        try:
            if not host.startswith("/") and \
                    sslmode not in ("disable", "allow"):
                try:
                    sock = negotiate_ssl(sock, host, sslmode,
                                         info.options)
                except OSError as exc:    # incl. ssl.SSLError
                    # a BROKEN handshake → prefer may retry in
                    # plaintext; a server 'N' refusal raises Error
                    # (not OSError) and propagates as definitive
                    raise _SSLNegotiationFailed(exc) from exc
                self.ssl_in_use = isinstance(sock, _ssl.SSLSocket)
            self._proto = _Proto(sock)
            self._proto.send_startup(user, info.dbname or user,
                                     info.options)
            self._proto.authenticate(user, info.password,
                                     channel_binding=self._cb_mode)
            sock.settimeout(None)   # handshake done: blocking mode
        except BaseException:
            # remember whether THIS failed attempt was encrypted —
            # prefer's plaintext retry keys off it (see __init__)
            self._attempt_was_ssl = self.ssl_in_use
            self.ssl_in_use = False
            try:
                sock.close()
            except OSError:
                pass
            raise

    # -- internals
    def _ensure_tx(self) -> None:
        if self.closed:
            raise Error({"M": "connection is closed"})
        if not self.autocommit and self._proto.tx_status == "I":
            self._simple_query("BEGIN")

    def _simple_query(self, sql: str) -> _Result:
        p = self._proto
        p.send("Q", sql.encode() + b"\0")
        res = _Result()
        while True:
            try:
                tag, body = p.read_msg()
            except ConnectionClosed:
                raise
            except Error:
                try:
                    p.drain_ready()
                except ConnectionClosed:
                    pass   # keep the server's own error message
                raise
            if tag == "T":               # RowDescription
                (nf,) = struct.unpack("!H", body[:2])
                cols, i = [], 2
                for _ in range(nf):
                    j = body.index(b"\0", i)
                    name = body[i:j].decode()
                    (_tbl, _att, oid, _len, typmod, _fmt) = \
                        struct.unpack("!IHIhih", body[j + 1:j + 19])
                    cols.append(_column(name, oid, typmod))
                    i = j + 19
                res.description = cols
            elif tag == "D":             # DataRow
                (nc,) = struct.unpack("!H", body[:2])
                vals, i = [], 2
                for c in range(nc):
                    (ln,) = struct.unpack("!i", body[i:i + 4])
                    i += 4
                    if ln == -1:
                        vals.append(None)
                    else:
                        oid = res.description[c].type_code \
                            if res.description else 25
                        vals.append(_decode(oid, body[i:i + ln]))
                        i += ln
                res.rows.append(tuple(vals))
            elif tag in ("C", "I", "S", "n"):
                continue   # CommandComplete/Empty/ParamStatus/NoData
            elif tag in ("G", "H"):
                raise Error(
                    {"M": "COPY statements must go through "
                          "cursor.copy(), not execute()"})
            elif tag == "Z":
                p.tx_status = chr(body[0])
                return res
            else:
                raise Error({"M": f"unexpected message {tag!r}"})

    # -- public surface
    def cursor(self) -> Cursor:
        return Cursor(self)

    def commit(self) -> None:
        if self._proto.tx_status != "I":
            self._simple_query("COMMIT")

    def rollback(self) -> None:
        if self._proto.tx_status != "I":
            self._simple_query("ROLLBACK")

    def close(self) -> None:
        if not self.closed:
            try:
                self._proto.send("X")    # Terminate
            except OSError:
                pass
            try:
                self._proto.sock.close()
            finally:
                self.closed = True

    def __enter__(self):
        return self

    def __exit__(self, exc_type, exc, tb):
        try:
            if exc_type is None:
                self.commit()
            else:
                try:
                    self.rollback()
                except Error:
                    pass
        finally:
            self.close()
        return False


def connect(dsn: str, autocommit: bool = False) -> Connection:
    """Open a connection from a libpq key=value or URI DSN (the forms
    connection.parse_dsn reads)."""
    return Connection(dsn, autocommit=autocommit)
