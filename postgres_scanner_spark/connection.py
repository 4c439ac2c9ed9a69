"""libpq connection strings: parse, render, and the secret registry.

The reference takes libpq key=value connection strings and URIs
(reference: README.md ATTACH examples, src/postgres_connection.cpp).
`parse_dsn` reads the same surface with libpq's own quoting rules,
and `ConnectionInfo.dsn` renders one back, so a DSN from a secret or
a `postgres:`-prefixed ATTACH reaches pgclient as a plain libpq
string. Pure; unit-tested without a server.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from urllib.parse import unquote

# one libpq conninfo pair (libpq conninfo_parse): blanks may surround
# `=`, a value is single-quoted or bare up to the next blank, and a
# backslash takes the next character literally in both forms
_PAIR_RE = re.compile(
    r"\s*([^=\s]+)\s*=\s*(?:'((?:[^'\\]|\\.)*)'|(?!')((?:[^\s\\]|\\.)*))",
    re.ASCII | re.DOTALL)
_ESCAPE_RE = re.compile(r"\\(.)", re.DOTALL)


def _quote(value: str) -> str:
    """One libpq conninfo value: bare when it can be, else single-quoted
    with backslash escapes for `'` and `\\`."""
    if value and not re.search(r"[\s'\\]", value, re.ASCII):
        return value
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


@dataclass
class ConnectionInfo:
    host: str = "localhost"
    port: int = 5432
    dbname: str = ""
    user: str | None = None
    password: str | None = None
    options: dict[str, str] = field(default_factory=dict)

    @property
    def dsn(self) -> str:
        """libpq key=value form; `parse_dsn(info.dsn) == info`."""
        pairs = [("host", self.host), ("port", str(self.port)),
                 ("dbname", self.dbname)]
        if self.user is not None:
            pairs.append(("user", self.user))
        if self.password is not None:
            pairs.append(("password", self.password))
        pairs += self.options.items()
        return " ".join(f"{k}={_quote(v)}" for k, v in pairs)


def _conninfo_pairs(dsn: str):
    """Yield (key, value) from a libpq key=value string."""
    pos, end = 0, len(dsn.rstrip(" \t\n\r\f\v"))
    while pos < end:
        m = _PAIR_RE.match(dsn, pos)
        if not m:
            # no excerpt: the string may hold a password
            raise ValueError(f"invalid connection string at offset "
                             f"{pos}: expected key=value or a closing "
                             f"quote")
        pos = m.end()
        yield m[1], _ESCAPE_RE.sub(r"\1", m[2] if m[2] is not None else m[3])


def parse_dsn(dsn: str) -> ConnectionInfo:
    """Parse a libpq 'key=value key=value' DSN or a postgres:// URI.
    Unknown keys are preserved in .options, matching libpq's
    permissive parameter list."""
    info = ConnectionInfo()
    if dsn.startswith(("postgres:", "postgresql:")) and "://" not in dsn:
        # bare 'postgres:' prefix selects the engine type without a
        # URI (reference: attach_prefix.test / postgres_storage.cpp)
        dsn = dsn.split(":", 1)[1]
    if dsn.startswith("postgres://") or dsn.startswith("postgresql://"):
        # every URI component is percent-decoded, as libpq does
        # (a password holding '@', options='-c%20search_path%3Ds1')
        rest = dsn.split("://", 1)[1]
        auth, _, hostpart = rest.rpartition("@")
        if auth:
            user, _, pw = auth.partition(":")
            info.user = unquote(user) or None
            info.password = unquote(pw) or None
        hostport, _, db = hostpart.partition("/")
        db = db.split("?", 1)[0]
        host, _, port = hostport.partition(":")
        info.host = unquote(host) or info.host
        if port:
            info.port = int(port)
        info.dbname = unquote(db)
        if "?" in hostpart:
            for pair in hostpart.split("?", 1)[1].split("&"):
                k, _, v = pair.partition("=")
                info.options[unquote(k)] = unquote(v)
        return info
    for key, value in _conninfo_pairs(dsn):
        key = key.lower()
        if key == "host":
            info.host = value
        elif key == "hostaddr":
            info.host = value
        elif key == "port":
            info.port = int(value)
        elif key in ("dbname", "database"):
            info.dbname = value
        elif key == "user":
            info.user = value
        elif key == "password":
            info.password = value
        else:
            info.options[key] = value
    return info


# ---- secrets (reference: test/sql/scanner/attach_secret.test;
# DuckDB CREATE SECRET (TYPE postgres, HOST ..., ...) + ATTACH '' with
# SECRET name). A process-level registry: attach() resolves
# "secret:name" (or an explicit secret= kwarg) to a full DSN so
# credentials never appear in the attach string.
_SECRETS: dict[str, ConnectionInfo] = {}


def create_secret(name: str, *, host: str = "localhost", port: int = 5432,
                  database: str = "", user: str | None = None,
                  password: str | None = None,
                  replace: bool = False, **options: str) -> None:
    if name in _SECRETS and not replace:
        raise ValueError(f"secret {name!r} already exists")
    _SECRETS[name] = ConnectionInfo(
        host=host, port=port, dbname=database, user=user,
        password=password, options=dict(options))


def drop_secret(name: str, *, if_exists: bool = False) -> None:
    if name not in _SECRETS:
        if if_exists:
            return
        raise ValueError(f"no such secret {name!r}")
    del _SECRETS[name]


def list_secrets() -> list[str]:
    return sorted(_SECRETS)


def resolve_secret(name: str) -> ConnectionInfo:
    if name not in _SECRETS:
        raise KeyError(f"no such secret {name!r}")
    return _SECRETS[name]
