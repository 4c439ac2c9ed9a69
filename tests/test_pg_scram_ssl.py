"""SCRAM-SHA-256 + SSL/TLS coverage for the pure-Python wire client.

Offline half: the SCRAM exchange against the RFC 7677 published test
vector (nonce injected) plus negative paths (nonce truncation, forged
server signature, SASLprep).

Live half (reference parity: test/sql/scanner/ssl.test and
aws-rds.test — `sslmode=` in the DSN against a SCRAM-only server):
initdb a SECOND scratch cluster with `password_encryption =
scram-sha-256` AND `ssl = on` (self-signed cert, SAN for localhost +
127.0.0.1), pg_hba forcing `hostssl ... scram-sha-256` with
`hostnossl ... reject`, then drive the S2 scan / S26 write / S5 COPY
binary live paths and the literal-escaping fuzz rows through the
encrypted, SCRAM-authenticated socket. This is exactly the
configuration of a default PG >= 14 or managed-cloud (RDS) server —
the first thing a real user hits outside a trust-auth sandbox.
"""

import shutil
import subprocess
import tempfile
import time as _time

import pytest

PG_BIN = "/usr/local/bin"
PG_SSL_PORT = 54337
PG_PASSWORD = "s3cret p@ss word"   # spaces exercise DSN quoting


# ------------------------------------------------- offline: SCRAM
def test_scram_rfc7677_vector():
    """The published SCRAM-SHA-256 exchange (user/pencil) must match
    byte-for-byte — proof the crypto is RFC 5802/7677, not an
    approximation."""
    from postgres_scanner_spark.pgclient import ScramClient
    c = ScramClient("pencil", nonce="rOprNGfwEbeRWgbNEkqO",
                    username="user")
    assert c.client_first() == b"n,,n=user,r=rOprNGfwEbeRWgbNEkqO"
    server_first = (b"r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)"
                    b"hNlF$k0,s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096")
    assert c.client_final(server_first) == (
        b"c=biws,r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,"
        b"p=dHzbZapWIk4jUhN+Ute9ytag9zjfMHgsqmmiz7AndVQ=")
    # server signature verifies (mutual auth)...
    c.verify_server_final(
        b"v=6rriTRBi23WpRR/wtup+mMhUZUn/dB5nLTJRsjl95G4=")


def test_scram_rejects_forged_server_signature():
    from postgres_scanner_spark.pgclient import Error, ScramClient
    c = ScramClient("pencil", nonce="rOprNGfwEbeRWgbNEkqO",
                    username="user")
    c.client_final(b"r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)"
                   b"hNlF$k0,s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096")
    with pytest.raises(Error, match="server signature"):
        c.verify_server_final(
            b"v=AAAAAABi23WpRR/wtup+mMhUZUn/dB5nLTJRsjl95G4=")


def test_scram_rejects_nonce_truncation():
    """A MITM replacing the combined nonce with its own must be
    caught before any proof is sent."""
    from postgres_scanner_spark.pgclient import Error, ScramClient
    c = ScramClient("pw", nonce="clientnonceABCDEF")
    with pytest.raises(Error, match="nonce"):
        c.client_final(b"r=evilnonce,s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096")


def test_scram_plus_channel_binding_cbind_input():
    """SCRAM-SHA-256-PLUS: the c= attribute must carry
    base64(gs2-header || cbind-data), and the binding data must be
    mixed into the proof (two different cert hashes → different
    proofs for identical nonces/salt)."""
    import base64
    from postgres_scanner_spark.pgclient import ScramClient
    sf = (b"r=clientnonceAAAABBBB%servernonce,"
          b"s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096")

    def final(cb: bytes) -> bytes:
        c = ScramClient("pw", nonce="clientnonceAAAABBBB",
                        gs2="p=tls-server-end-point", cbind_data=cb)
        assert c.client_first() == (
            b"p=tls-server-end-point,,n=,r=clientnonceAAAABBBB")
        return c.client_final(sf)

    f1, f2 = final(b"\x01\x02\x03"), final(b"\x01\x02\x04")
    want_c = base64.b64encode(
        b"p=tls-server-end-point,," + b"\x01\x02\x03").decode()
    assert f1.decode().startswith(f"c={want_c},r=")
    assert f1.split(b",p=")[1] != f2.split(b",p=")[1]   # proof differs


def test_tls_server_end_point_hash(monkeypatch, caplog):
    """RFC 5929: hash the cert DER with its signature hash; SHA-256
    certs hash with sha256, and a SHA-1-signed cert upgrades to
    sha256 rather than using the broken digest. Without cryptography,
    or for DER it cannot read, the hash falls back to SHA-256 with a
    logged reason; any other error (not DER at all) propagates."""
    import datetime
    import sys
    import hashlib as hl
    from cryptography import x509
    from cryptography.hazmat.primitives import hashes
    from cryptography.hazmat.primitives.asymmetric import rsa
    from cryptography.x509.oid import NameOID
    from postgres_scanner_spark.pgclient import tls_server_end_point

    key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    name = x509.Name(
        [x509.NameAttribute(NameOID.COMMON_NAME, "localhost")])
    now = datetime.datetime(2026, 1, 1)
    builder = (x509.CertificateBuilder()
               .subject_name(name).issuer_name(name)
               .public_key(key.public_key())
               .serial_number(x509.random_serial_number())
               .not_valid_before(now)
               .not_valid_after(now + datetime.timedelta(days=30)))
    der256 = builder.sign(key, hashes.SHA256()).public_bytes(
        __import__("cryptography.hazmat.primitives.serialization",
                   fromlist=["Encoding"]).Encoding.DER)
    assert tls_server_end_point(der256) == hl.sha256(der256).digest()
    der384 = builder.sign(key, hashes.SHA384()).public_bytes(
        __import__("cryptography.hazmat.primitives.serialization",
                   fromlist=["Encoding"]).Encoding.DER)
    assert tls_server_end_point(der384) == hl.sha384(der384).digest()

    garbage = b"\x30\x03not a certificate"
    with caplog.at_level("WARNING", logger="postgres_scanner_spark"):
        assert tls_server_end_point(garbage) == hl.sha256(garbage).digest()
    assert "cannot read its signature hash" in caplog.text
    with pytest.raises(TypeError):
        tls_server_end_point(None)
    caplog.clear()
    monkeypatch.setitem(sys.modules, "cryptography", None)
    with caplog.at_level("WARNING", logger="postgres_scanner_spark"):
        assert tls_server_end_point(der384) == hl.sha256(der384).digest()
    assert "cryptography is unavailable" in caplog.text


def test_saslprep_ascii_and_unicode():
    from postgres_scanner_spark.pgclient import _saslprep
    assert _saslprep("plain ascii!") == "plain ascii!"
    # non-ASCII space → space; map-to-nothing (soft hyphen) dropped;
    # NFKC applied (RFC 4013 examples)
    assert _saslprep("a b") == "a b"
    assert _saslprep("I­X") == "IX"
    assert _saslprep("Ⅸ") == "IX"      # roman numeral nine


def test_saslprep_b1_non_cf_map_to_nothing():
    """RFC 3454 B.1 includes non-Cf code points (U+034F combining
    grapheme joiner, U+180B-D and U+FE00-0F variation selectors — all
    category Mn); a Cf-only filter kept them and derived a salted key
    different from the server's pg_saslprep."""
    from postgres_scanner_spark.pgclient import _saslprep
    assert _saslprep("pa͏ss") == "pass"
    assert _saslprep("pa️ss") == "pass"
    assert _saslprep("pa᠋ss") == "pass"
    assert _saslprep("pa‍ss") == "pass"   # ZWJ (Cf, also B.1)


def test_saslprep_prohibited_falls_back_to_raw():
    """PG's pg_saslprep (src/common/saslprep.c) returns PROHIBITED
    for control chars / bidi violations and the caller keeps the RAW
    password on BOTH sides — so the client must do the same, not
    raise and not send a proof derived from a silently-different
    string."""
    from postgres_scanner_spark.pgclient import _saslprep
    # non-ASCII string containing a C0 control → raw fallback
    s = "pé\x07ss"
    assert _saslprep(s) == s
    # RandALCat mixed with LCat (bidi §6 violation) → raw fallback
    s = "aאbé"
    assert _saslprep(s) == s
    # RandALCat not at both ends → raw fallback
    s = "אxé"
    assert _saslprep(s) == s
    # all-RandALCat is fine and normalizes
    assert _saslprep("אב") == "אב"
    # normalization still applies to clean non-ASCII input
    assert _saslprep("étude") == "étude"


def test_array_text_parser_malformed_raises_module_error():
    """Malformed array text (no '{', truncated, unterminated quote)
    must raise the module's Error, never a raw IndexError, and never
    silently misparse."""
    import pytest
    from postgres_scanner_spark.pgclient import Error, _parse_array_text
    for bad in ["", "abc", "[0:2]=", "{1,2", '{"unterminated',
                "{1,2,", "{{1,2}", '{"a\\']:
        with pytest.raises(Error):
            _parse_array_text(bad, str)


def test_escape_nonfinite_floats():
    """inf/nan must render as PG's quoted spellings, not bare words
    (a bare `inf` is a server-side syntax error)."""
    from postgres_scanner_spark.pgclient import _escape
    assert _escape(float("inf")) == "'Infinity'::float8"
    assert _escape(float("-inf")) == "'-Infinity'::float8"
    assert _escape(float("nan")) == "'NaN'::float8"
    assert _escape(1.5) == "1.5"


def test_array_text_parser_property():
    """Property test: any nested list of ints/strings/None rendered
    in PG's own array output syntax parses back exactly. The
    renderer follows array_out's rules: quote when the element is
    empty, equals NULL case-insensitively, or contains
    {},"\\ / whitespace; backslash-escape " and \\ inside quotes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from postgres_scanner_spark.pgclient import _parse_array_text

    def needs_quote(s: str) -> bool:
        return (s == "" or s.upper() == "NULL"
                or any(c in '{},"\\ \t\n' for c in s))

    def render(v) -> str:
        if isinstance(v, list):
            return "{" + ",".join(render(x) for x in v) + "}"
        if v is None:
            return "NULL"
        s = str(v)
        if isinstance(v, str) and needs_quote(s):
            return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'
        return s

    elem = st.one_of(
        st.none(), st.integers(-10**9, 10**9),
        st.text(st.characters(blacklist_characters="\x00",
                              blacklist_categories=("Cs",)),
                max_size=12))
    nested = st.recursive(
        st.lists(elem, max_size=5),
        lambda inner: st.lists(inner, min_size=1, max_size=3),
        max_leaves=6)

    @settings(max_examples=200, deadline=None)
    @given(v=nested)
    def roundtrip(v):
        def dec(tok):        # ints decode, everything else is text
            try:
                return int(tok)
            except ValueError:
                return tok
        got = _parse_array_text(render(v), dec)

        # rendered ints parse back as ints; unquoted numeric-LOOKING
        # strings also decode as ints (same int() on both sides)
        def expect(x):
            if isinstance(x, list):
                return [expect(i) for i in x]
            if x is None or isinstance(x, int):
                return x
            try:
                return int(x)
            except ValueError:
                return x
        assert got == expect(v)

    roundtrip()


class _FakeSock:
    """Scripted server bytes in, captured client bytes out."""

    def __init__(self, data: bytes):
        self.data, self.sent = data, b""

    def recv(self, n: int) -> bytes:
        out, self.data = self.data[:n], self.data[n:]
        return out

    def sendall(self, b: bytes) -> None:
        self.sent += b


def _msg(tag: bytes, body: bytes) -> bytes:
    import struct
    return tag + struct.pack("!I", len(body) + 4) + body


def test_channel_binding_require_refuses_cleartext_and_trust():
    """channel_binding=require must fail — WITHOUT sending the
    password — when the server requests cleartext/md5 auth, and must
    fail a trust handshake too (the server authenticated us without
    ever running the bound exchange). libpq parity."""
    import struct
    from postgres_scanner_spark import pgclient

    # server asks for cleartext (auth code 3)
    p = pgclient._Proto(_FakeSock(_msg(b"R", struct.pack("!I", 3))))
    with pytest.raises(pgclient.Error, match="channel binding"):
        p.authenticate("u", "sekret", channel_binding="require")
    assert b"sekret" not in p.sock.sent        # never left the client

    # md5 (code 5, 4-byte salt)
    p = pgclient._Proto(_FakeSock(
        _msg(b"R", struct.pack("!I", 5) + b"\x01\x02\x03\x04")))
    with pytest.raises(pgclient.Error, match="channel binding"):
        p.authenticate("u", "sekret", channel_binding="require")
    assert p.sock.sent == b""

    # trust: AuthenticationOk straight to ReadyForQuery
    p = pgclient._Proto(_FakeSock(
        _msg(b"R", struct.pack("!I", 0)) + _msg(b"Z", b"I")))
    with pytest.raises(pgclient.Error, match="channel binding"):
        p.authenticate("u", None, channel_binding="require")


def test_drain_ready_reraises_on_closed_connection():
    """A dropped socket mid-COPY must surface as ConnectionClosed,
    not spin forever waiting for a ReadyForQuery that cannot come."""
    from postgres_scanner_spark import pgclient
    p = pgclient._Proto(_FakeSock(b""))        # immediate EOF
    with pytest.raises(pgclient.ConnectionClosed):
        p.drain_ready()
    # and iterating a COPY OUT (perfbench's drain, Copy.__exit__ on an
    # abandoned stream) propagates it instead of looping
    p2 = pgclient._Proto(_FakeSock(b""))
    cp = pgclient.Copy.__new__(pgclient.Copy)
    cp._p, cp._mode, cp._done = p2, "out", False
    with pytest.raises(pgclient.ConnectionClosed):
        next(iter(cp))


def test_connect_timeout_honored():
    """connect_timeout must bound the TCP connect: a non-routable
    address fails within ~the timeout instead of hanging the task
    for the kernel's minutes-long default."""
    import time
    from postgres_scanner_spark import pgclient
    t0 = time.perf_counter()
    # TEST-NET-1 (RFC 5737) is guaranteed non-routable
    with pytest.raises(OSError):
        pgclient.connect("host=192.0.2.1 port=5432 user=x "
                         "dbname=x connect_timeout=1")
    assert time.perf_counter() - t0 < 10


# --------------------------------------------------- live fixtures
def _have_server() -> bool:
    import os
    import pwd
    if not (shutil.which("runuser") and shutil.which("openssl")
            and os.path.exists(f"{PG_BIN}/initdb")):
        return False
    try:
        pwd.getpwnam("postgres")
    except KeyError:
        return False
    return True


pytestmark = pytest.mark.skipif(
    not _have_server(), reason="no postgres server binaries in PATH")


@pytest.fixture(scope="module")
def pg_ssl_server():
    """initdb a scram-sha-256 + ssl=on cluster on 127.0.0.1; yields
    (dsn, certfile). pg_hba REJECTS non-SSL TCP, so every test in
    this module that connects is provably on the encrypted path."""
    root = tempfile.mkdtemp(prefix="pg_ssl_")
    subprocess.run(["chown", "postgres:postgres", root], check=True)
    data = f"{root}/data"
    crt, key = f"{root}/server.crt", f"{root}/server.key"
    r = subprocess.run(
        ["openssl", "req", "-new", "-x509", "-days", "2", "-nodes",
         "-text", "-out", crt, "-keyout", key,
         "-subj", "/CN=localhost",
         "-addext", "subjectAltName=DNS:localhost,IP:127.0.0.1"],
        capture_output=True, text=True)
    if r.returncode != 0:
        shutil.rmtree(root, ignore_errors=True)
        pytest.skip(f"openssl cert generation failed: {r.stderr[-200:]}")
    pwfile = f"{root}/pw"
    with open(pwfile, "w") as f:
        f.write(PG_PASSWORD + "\n")
    subprocess.run(["chmod", "0600", key, pwfile], check=True)
    subprocess.run(["chown", "postgres:postgres", crt, key, pwfile],
                   check=True)

    def pg(cmd, **kw):
        return subprocess.run(
            ["runuser", "-u", "postgres", "--"] + cmd,
            cwd="/tmp", capture_output=True, text=True, **kw)

    r = pg([f"{PG_BIN}/initdb", "-D", data, "-A", "scram-sha-256",
            "-U", "postgres", f"--pwfile={pwfile}"])
    if r.returncode != 0:
        shutil.rmtree(root, ignore_errors=True)
        pytest.skip(f"initdb failed: {r.stderr[-300:]}")
    with open(f"{data}/postgresql.conf", "a") as f:
        f.write(f"""
ssl = on
ssl_cert_file = '{crt}'
ssl_key_file = '{key}'
password_encryption = scram-sha-256
listen_addresses = '127.0.0.1'
""")
    # hostssl-only TCP: plaintext TCP is rejected outright, so a
    # passing scan below proves both the TLS wrap and the SCRAM proof.
    # md5test gets the md5 method so the client's md5 path is
    # exercised against a REAL backend too (its role is created with
    # an md5-hashed verifier in the md5-auth test).
    with open(f"{data}/pg_hba.conf", "w") as f:
        f.write("local all all scram-sha-256\n"
                "hostssl all md5test 127.0.0.1/32 md5\n"
                "hostssl all all 127.0.0.1/32 scram-sha-256\n"
                "hostnossl all all 0.0.0.0/0 reject\n")
    subprocess.run(["chown", "postgres:postgres", f"{data}/pg_hba.conf"],
                   check=True)
    r = pg([f"{PG_BIN}/pg_ctl", "-D", data, "-l", f"{root}/pg.log",
            "-o", f"-k {root} -p {PG_SSL_PORT}", "-w", "start"])
    if r.returncode != 0:
        try:
            with open(f"{root}/pg.log") as f:
                tail = f.read()[-300:]
        except OSError:
            tail = r.stderr[-300:]
        shutil.rmtree(root, ignore_errors=True)
        pytest.skip(f"pg_ctl start failed: {tail}")
    dsn = (f"host=127.0.0.1 port={PG_SSL_PORT} user=postgres "
           f"password='{PG_PASSWORD}' dbname=postgres sslmode=require")
    try:
        yield dsn, crt
    finally:
        pg([f"{PG_BIN}/pg_ctl", "-D", data, "-m", "immediate", "stop"])
        _time.sleep(0.2)
        shutil.rmtree(root, ignore_errors=True)


@pytest.fixture()
def pgs(pg_ssl_server):
    from postgres_scanner_spark import pgclient
    con = pgclient.connect(pg_ssl_server[0], autocommit=True)
    yield con
    con.close()


# ------------------------------------------------------- live tests
def test_scram_ssl_roundtrip(pgs):
    """SCRAM proof + TLS wrap against a real scram-only server;
    typed decode still exact through the encrypted socket."""
    assert pgs.ssl_in_use is True
    cur = pgs.cursor()
    cur.execute("SELECT 1::int8, 'x'::text, 2.5::float8, "
                "current_setting('password_encryption')")
    assert cur.fetchone() == (1, "x", 2.5, "scram-sha-256")
    # the server required SSL: confirm via pg_stat_ssl
    cur.execute("SELECT ssl FROM pg_stat_ssl "
                "WHERE pid = pg_backend_pid()")
    assert cur.fetchone() == (True,)


def test_channel_binding_plus_require_and_disable(pg_ssl_server):
    """PG >= 11 offers SCRAM-SHA-256-PLUS on SSL connections: with
    channel_binding=require the client must authenticate via the
    -PLUS mechanism (cert hash mixed into the proof — MITM-resistant
    even with an unverified cert); disable must still authenticate
    over plain SCRAM; and a wrong password must still fail under
    -PLUS (the binding never bypasses the proof)."""
    from postgres_scanner_spark import pgclient
    dsn, _ = pg_ssl_server
    for mode in ("require", "disable", "prefer"):
        con = pgclient.connect(dsn + f" channel_binding={mode}")
        assert con.ssl_in_use is True
        assert con.cursor().execute("SELECT 3").fetchone() == (3,)
        con.close()
    bad = dsn.replace(f"password='{PG_PASSWORD}'", "password=wrong")
    with pytest.raises(pgclient.Error,
                       match="password authentication failed"):
        pgclient.connect(bad + " channel_binding=require")


def test_scram_unicode_password_saslprep(pgs, pg_ssl_server):
    """Non-ASCII password through the live SCRAM exchange: the
    client's SASLprep must agree with PG's own normalization of the
    stored verifier (NFKC; non-ASCII space mapped to space)."""
    from postgres_scanner_spark import pgclient
    dsn, _ = pg_ssl_server
    cur = pgs.cursor()
    cur.execute("DROP ROLE IF EXISTS utest")
    # U+00E4/U+00F6 umlauts + U+00A0 no-break space (SASLprep maps
    # it to a plain space on both sides)
    cur.execute("CREATE ROLE utest LOGIN PASSWORD 'päss wörd'")
    con = pgclient.connect(
        f"host=127.0.0.1 port={PG_SSL_PORT} user=utest "
        f"password='päss wörd' dbname=postgres "
        f"sslmode=require")
    assert con.cursor().execute("SELECT current_user").fetchone() == ("utest",)
    con.close()
    # the ALREADY-normalized spelling (plain space) authenticates too
    con = pgclient.connect(
        f"host=127.0.0.1 port={PG_SSL_PORT} user=utest "
        f"password='päss wörd' dbname=postgres "
        f"sslmode=require")
    assert con.cursor().execute("SELECT 1").fetchone() == (1,)
    con.close()


def test_md5_auth_over_ssl_and_cb_require_refuses(pgs, pg_ssl_server):
    """The md5 auth path against a real backend (md5-hashed verifier
    + an hba md5 line for this role), over TLS; and the live pin that
    channel_binding=require refuses to answer an md5 challenge."""
    from postgres_scanner_spark import pgclient
    cur = pgs.cursor()
    cur.execute("DROP ROLE IF EXISTS md5test")
    cur.execute("SET password_encryption = 'md5'")
    cur.execute("CREATE ROLE md5test LOGIN PASSWORD 'm5pw'")
    cur.execute("RESET password_encryption")
    dsn = (f"host=127.0.0.1 port={PG_SSL_PORT} user=md5test "
           f"password=m5pw dbname=postgres sslmode=require")
    con = pgclient.connect(dsn)
    assert con.ssl_in_use is True
    assert con.cursor().execute("SELECT current_user").fetchone() == \
        ("md5test",)
    con.close()
    with pytest.raises(pgclient.Error, match="channel binding"):
        pgclient.connect(dsn + " channel_binding=require")


def test_scram_wrong_password_rejected(pg_ssl_server):
    from postgres_scanner_spark import pgclient
    dsn, _ = pg_ssl_server
    bad = dsn.replace(f"password='{PG_PASSWORD}'", "password=wrong")
    with pytest.raises(pgclient.Error,
                       match="password authentication failed"):
        pgclient.connect(bad)


def test_plaintext_tcp_rejected(pg_ssl_server):
    """sslmode=disable against the hostssl-only HBA must fail — the
    negative control proving the passing tests are on TLS."""
    from postgres_scanner_spark import pgclient
    dsn, _ = pg_ssl_server
    with pytest.raises(pgclient.Error,
                       match="no pg_hba|rejects|no encryption"):
        pgclient.connect(dsn.replace("sslmode=require",
                                     "sslmode=disable"))


def test_sslmode_allow_falls_back_to_ssl(pg_ssl_server):
    """libpq 'allow' semantics: plaintext first; when the hostssl-only
    HBA turns the clear connection away, retry over TLS."""
    from postgres_scanner_spark import pgclient
    dsn, _ = pg_ssl_server
    con = pgclient.connect(dsn.replace("sslmode=require",
                                       "sslmode=allow"))
    assert con.ssl_in_use is True          # the retry path was taken
    assert con.cursor().execute("SELECT 5").fetchone() == (5,)
    con.close()


def test_sslmode_verify_ca_and_full(pg_ssl_server):
    """verify-ca validates the chain against sslrootcert; verify-full
    additionally matches the SAN (127.0.0.1 is in the cert's SAN)."""
    from postgres_scanner_spark import pgclient
    dsn, crt = pg_ssl_server
    for mode in ("verify-ca", "verify-full"):
        con = pgclient.connect(
            dsn.replace("sslmode=require",
                        f"sslmode={mode} sslrootcert={crt}"))
        assert con.ssl_in_use
        assert con.cursor().execute("SELECT 7").fetchone() == (7,)
        con.close()
    # verify-ca WITHOUT the root cert must fail the chain check
    with pytest.raises((pgclient.Error, OSError)):
        pgclient.connect(dsn.replace(
            "sslmode=require", "sslmode=verify-ca"))


def test_live_scan_over_scram_ssl(registered, pgs, pg_ssl_server):
    """S2 parallel ctid scan + S26 binary COPY write, both through
    the SCRAM-authenticated TLS socket (executors open their own
    connections — each one re-runs the handshake)."""
    from pyspark.sql import functions as F
    dsn, _ = pg_ssl_server
    cur = pgs.cursor()
    cur.execute("DROP TABLE IF EXISTS ssl_t")
    cur.execute("CREATE TABLE ssl_t AS SELECT g AS id, "
                "repeat('x', 100) AS pad FROM generate_series(1, 5000) g")
    df = (registered.read.format("postgres_scan")
          .option("dsn", dsn).option("table", "ssl_t")
          .option("pg_pages_per_task", "30").load())
    assert df.rdd.getNumPartitions() > 1
    agg = df.agg(F.count("*").alias("n"), F.sum("id").alias("s")) \
            .collect()[0]
    assert (agg.n, agg.s) == (5000, 5000 * 5001 // 2)
    # write path (COPY FROM STDIN binary) over the same DSN
    out = registered.range(10).select(
        F.col("id").cast("int").alias("id"))
    (out.write.format("postgres_scan").option("dsn", dsn)
        .option("table", "ssl_w").mode("overwrite").save())
    cur.execute("SELECT count(*), sum(id) FROM ssl_w")
    assert cur.fetchone() == (10, 45)


def test_partitioned_stream_read_over_scram_ssl(registered, pgs,
                                                pg_ssl_server,
                                                tmp_path):
    """S29 over SCRAM+TLS: the keyset boundary walk (one _ProbeConn
    connection, r7-advice fix), the executor-side slice reads, and
    the second-trigger incremental poll all re-handshake through the
    encrypted SCRAM-only path. Slices are forced (max_rows_per_poll)
    so the boundary walk actually runs multiple probes."""
    from pyspark.sql import types as T
    spark = registered
    dsn, _ = pg_ssl_server
    cur = pgs.cursor()
    cur.execute("DROP TABLE IF EXISTS sslev")
    cur.execute("CREATE TABLE sslev (id int8, v text)")
    cur.execute("INSERT INTO sslev SELECT g, 'a' || g "
                "FROM generate_series(1, 30) g")
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("v", T.StringType())])
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    def run():
        q = (spark.readStream.format("postgres_scan").schema(schema)
             .option("dsn", dsn).option("table", "sslev")
             .option("stream_key", "id")
             .option("max_rows_per_poll", "8").load()
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(180)

    run()
    assert spark.read.parquet(sink).count() == 30
    cur.execute("INSERT INTO sslev SELECT g + 30, 'b' || g "
                "FROM generate_series(1, 7) g")
    run()
    out = spark.read.parquet(sink)
    assert out.count() == 37
    assert out.filter("id > 30").count() == 7


def test_copy_binary_over_ssl(pgs):
    """S5: pgwire's PGCOPY decoder fed from a TLS-wrapped COPY OUT."""
    from postgres_scanner_spark import types as pgt
    from postgres_scanner_spark.pgwire import (
        BinaryCopyReader, ChunkStream,
    )
    cur = pgs.cursor()
    with cur.copy("COPY (SELECT g::int4, ('v' || g)::text "
                  "FROM generate_series(1, 25) g) TO STDOUT "
                  "(FORMAT binary)") as cp:
        rows = list(BinaryCopyReader(
            [pgt.INT4OID, pgt.TEXTOID]).read(ChunkStream(cp)))
    assert rows[0] == (1, "v1") and rows[-1] == (25, "v25")


def test_literal_fuzz_over_ssl(pgs):
    """The literal-escaping fuzz rows re-run over the SSL socket —
    including the non-finite floats the plain-cluster fuzz excludes
    (now escaped as quoted Infinity/NaN)."""
    import math

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    chars = st.characters(blacklist_characters="\x00",
                          blacklist_categories=("Cs",))

    @settings(max_examples=15, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(s=st.text(chars, max_size=60),
           i=st.integers(-(2 ** 62), 2 ** 62),
           f=st.floats(width=64),          # nan/inf INCLUDED
           b=st.binary(max_size=40))
    def roundtrip(s, i, f, b):
        cur = pgs.cursor()
        cur.execute("SELECT %s::text, %s::int8, %s::float8, %s::bytea",
                    (s, i, f, b))
        got = cur.fetchone()
        assert got[0] == s and got[1] == i and got[3] == b
        if math.isnan(f):
            assert math.isnan(got[2])
        else:
            assert got[2] == f

    roundtrip()


def test_text_protocol_array_decode(pgs):
    """Simple-query array results decode to Python lists: quoting,
    escapes, NULLs, nesting, empty arrays, typed elements."""
    from decimal import Decimal
    cur = pgs.cursor()
    cur.execute("""SELECT '{1,2,3}'::int4[],
                          '{{1,2},{3,4}}'::int8[][],
                          ARRAY['a b', 'c"d', 'e\\f', NULL, ',}{']::text[],
                          '{}'::text[],
                          '{1.5,NULL}'::float8[],
                          '{1.250,2.500}'::numeric(10,3)[],
                          '{t,f,NULL}'::bool[],
                          '{2024-01-02,2024-03-04}'::date[]""")
    r = cur.fetchone()
    assert r[0] == [1, 2, 3]
    assert r[1] == [[1, 2], [3, 4]]
    assert r[2] == ["a b", 'c"d', "e\\f", None, ",}{"]
    assert r[3] == []
    assert r[4] == [1.5, None]
    assert r[5] == [Decimal("1.250"), Decimal("2.500")]
    assert r[6] == [True, False, None]
    assert [str(d) for d in r[7]] == ["2024-01-02", "2024-03-04"]


def test_copy_error_drains_ready(pgs):
    """ADVICE: a failed COPY must leave the connection usable — the
    pending ReadyForQuery is consumed, so the next command does not
    read a stale 'Z' (protocol desync)."""
    from postgres_scanner_spark import pgclient
    cur = pgs.cursor()
    with pytest.raises(pgclient.Error):
        cur.copy("COPY no_such_table_xyz TO STDOUT (FORMAT binary)")
    # same connection, next command: still in sync
    cur.execute("SELECT 11")
    assert cur.fetchone() == (11,)
    cur.execute("SELECT 12")
    assert cur.fetchone() == (12,)


# ------------------------------------- failure-mode matrix (round 9)
def _self_signed_pem(tmpdir, days_ago_start, days_ago_end):
    """Self-signed localhost cert valid over the given window
    (negative days-ago = future); returns (certfile, keyfile)."""
    import datetime
    from cryptography import x509
    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import rsa
    from cryptography.x509.oid import NameOID

    key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    name = x509.Name(
        [x509.NameAttribute(NameOID.COMMON_NAME, "localhost")])
    now = datetime.datetime.now(datetime.timezone.utc)
    cert = (x509.CertificateBuilder()
            .subject_name(name).issuer_name(name)
            .public_key(key.public_key())
            .serial_number(x509.random_serial_number())
            .not_valid_before(now - datetime.timedelta(days=days_ago_start))
            .not_valid_after(now - datetime.timedelta(days=days_ago_end))
            .add_extension(x509.SubjectAlternativeName(
                [x509.DNSName("localhost"),
                 x509.IPAddress(__import__("ipaddress")
                                .ip_address("127.0.0.1"))]),
                critical=False)
            .sign(key, hashes.SHA256()))
    crt = f"{tmpdir}/mitm.crt"
    kf = f"{tmpdir}/mitm.key"
    with open(crt, "wb") as f:
        f.write(cert.public_bytes(serialization.Encoding.PEM))
    with open(kf, "wb") as f:
        f.write(key.private_bytes(
            serialization.Encoding.PEM,
            serialization.PrivateFormat.TraditionalOpenSSL,
            serialization.NoEncryption()))
    return crt, kf


def test_scram_wrong_password_failure_modes(pg_ssl_server):
    """Wrong password surfaces the server's 28P01 on every auth
    shape — plain SCRAM, SCRAM-PLUS (channel_binding=require), and
    verify-full — never a masked protocol error or a silent retry
    that changes the failure."""
    from postgres_scanner_spark import pgclient
    dsn, crt = pg_ssl_server
    bad = dsn.replace(f"password='{PG_PASSWORD}'", "password=wrong")
    for extra in ("", " channel_binding=require",
                  f" sslrootcert={crt}"):
        d = bad + extra
        if "sslrootcert" in extra:
            d = d.replace("sslmode=require", "sslmode=verify-full")
        with pytest.raises(pgclient.Error) as ei:
            pgclient.connect(d)
        assert ei.value.sqlstate == "28P01", (extra, ei.value.fields)
        assert "password authentication failed" in str(ei.value)


def test_expired_server_cert_rejected_under_verify(tmp_path):
    """A TLS endpoint presenting an EXPIRED certificate must fail
    verify-ca/verify-full chain validation with a certificate-expired
    error — even when the expired cert itself is the pinned root
    (trust does not bypass validity dates)."""
    import socket as _socket
    import ssl as _ssl2
    import threading

    pytest.importorskip("cryptography")
    from postgres_scanner_spark import pgclient
    crt, key = _self_signed_pem(str(tmp_path), 30, 1)   # expired 1d ago

    srv = _socket.socket()
    srv.setsockopt(_socket.SOL_SOCKET, _socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(2)
    port = srv.getsockname()[1]
    ctx = _ssl2.SSLContext(_ssl2.PROTOCOL_TLS_SERVER)
    ctx.load_cert_chain(crt, key)

    def serve():
        while True:
            try:
                c, _ = srv.accept()
            except OSError:
                return
            try:
                c.recv(8)                   # SSLRequest
                c.sendall(b"S")
                ctx.wrap_socket(c, server_side=True)
            except (OSError, _ssl2.SSLError):
                pass
            finally:
                c.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    try:
        for mode in ("verify-ca", "verify-full"):
            with pytest.raises((pgclient.Error, OSError),
                               match="expired|SSL"):
                pgclient.connect(
                    f"host=127.0.0.1 port={port} user=u password=p "
                    f"dbname=d sslmode={mode} sslrootcert={crt} "
                    f"connect_timeout=5")
    finally:
        srv.close()


def test_channel_binding_detects_tls_rewrap_mitm(pg_ssl_server,
                                                 tmp_path):
    """RFC 5929 tls-server-end-point, live: a MITM that re-terminates
    TLS with its own certificate and proxies the bytes to the real
    server is DETECTED by SCRAM-SHA-256-PLUS — the client mixes the
    attacker cert's hash into the channel-binding data, the server
    computes its own cert's hash, and authentication fails. The same
    proxy with channel_binding=disable connects fine (negative
    control: the binding, not the proxy plumbing, is the detector)."""
    import socket as _socket
    import ssl as _ssl2
    import threading

    pytest.importorskip("cryptography")
    from postgres_scanner_spark import pgclient
    dsn, _ = pg_ssl_server
    crt, key = _self_signed_pem(str(tmp_path), 1, -30)  # valid cert

    srv = _socket.socket()
    srv.setsockopt(_socket.SOL_SOCKET, _socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(4)
    mitm_port = srv.getsockname()[1]
    attacker_ctx = _ssl2.SSLContext(_ssl2.PROTOCOL_TLS_SERVER)
    attacker_ctx.load_cert_chain(crt, key)

    def pump(a, b):
        try:
            while True:
                d = a.recv(65536)
                if not d:
                    break
                b.sendall(d)
        except OSError:
            pass
        finally:
            for s in (a, b):
                try:
                    s.shutdown(_socket.SHUT_RDWR)
                except OSError:
                    pass

    def handle(client):
        try:
            client.recv(8)                  # client's SSLRequest
            client.sendall(b"S")
            tls_client = attacker_ctx.wrap_socket(client,
                                                  server_side=True)
            up = _socket.create_connection(("127.0.0.1", PG_SSL_PORT),
                                           timeout=10)
            up.sendall(bytes.fromhex("0000000804d2162f"))  # SSLRequest
            assert up.recv(1) == b"S"
            upctx = _ssl2.SSLContext(_ssl2.PROTOCOL_TLS_CLIENT)
            upctx.check_hostname = False
            upctx.verify_mode = _ssl2.CERT_NONE
            tls_up = upctx.wrap_socket(up)
            threading.Thread(target=pump, args=(tls_client, tls_up),
                             daemon=True).start()
            pump(tls_up, tls_client)
        except (OSError, _ssl2.SSLError):
            client.close()

    def serve():
        while True:
            try:
                c, _ = srv.accept()
            except OSError:
                return
            threading.Thread(target=handle, args=(c,),
                             daemon=True).start()

    threading.Thread(target=serve, daemon=True).start()
    mitm_dsn = dsn.replace(f"port={PG_SSL_PORT}", f"port={mitm_port}")
    try:
        # negative control: without binding the MITM is invisible
        con = pgclient.connect(mitm_dsn + " channel_binding=disable")
        assert con.ssl_in_use is True
        assert con.cursor().execute("SELECT 42").fetchone() == (42,)
        con.close()
        # with -PLUS required: the rewrapped cert hash breaks the proof
        with pytest.raises(pgclient.Error):
            pgclient.connect(mitm_dsn + " channel_binding=require")
    finally:
        srv.close()
