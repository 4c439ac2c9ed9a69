"""A scratch PostgreSQL cluster for the benchmark.

`Server` runs `initdb` and a foreground `postgres` postmaster on a
private unix socket inside a directory the caller owns (loopback TCP
when that path is too long for a socket name), and stops it (fast
shutdown, then wait) on `close()`. The server's flush policy is
left at its defaults and reported by `settings()`.

Postgres refuses to run as root. When the benchmark runs as root the
server runs in a private user namespace (`unshare --user`) mapped to
an unprivileged id, so the data directory can stay inside the
benchmark's own tree, which the `postgres` system user may not be
able to reach. Missing binaries or a kernel without user namespaces
raise `ServerUnavailable` with the reason; nothing is skipped.
"""

from __future__ import annotations

import os
import shutil
import signal
import socket
import subprocess
import time

PG_BIN_DIRS = ("/usr/local/bin", "/usr/lib/postgresql/bin", "/usr/bin")
_SOCKET_MAX = 100          # sun_path is 108 bytes including the name


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class ServerUnavailable(RuntimeError):
    """The scratch server cannot be started on this host."""


def _find_bin(name: str) -> str:
    found = shutil.which(name)
    if found:
        return found
    for d in PG_BIN_DIRS:
        p = os.path.join(d, name)
        if os.access(p, os.X_OK):
            return p
    raise ServerUnavailable(f"PostgreSQL binary {name!r} not found "
                            f"on PATH or in {PG_BIN_DIRS}")


def _wrapper() -> list[str]:
    if os.geteuid() != 0:
        return []
    unshare = shutil.which("unshare")
    if unshare is None:
        raise ServerUnavailable(
            "running as root needs `unshare` to start postgres as an "
            "unprivileged user; it is not installed")
    probe = subprocess.run([unshare, "--user", "--map-user=1000", "true"],
                           capture_output=True, text=True)
    if probe.returncode != 0:
        raise ServerUnavailable(
            "user namespaces are unavailable, so postgres cannot run "
            f"as an unprivileged user: {probe.stderr.strip()[:200]}")
    return [unshare, "--user", "--map-user=1000", "--"]


class Server:
    """initdb + start on construction; `dsn` is the libpq DSN."""

    def __init__(self, root: str, port: int = 5432):
        self.root = os.path.abspath(root)
        self.data = os.path.join(self.root, "data")
        self.proc: subprocess.Popen | None = None
        wrap = _wrapper()
        initdb, postgres = _find_bin("initdb"), _find_bin("postgres")
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)
        r = subprocess.run(
            wrap + [initdb, "-D", self.data, "-A", "trust", "-U", "postgres",
                    "--no-sync"],
            capture_output=True, text=True)
        if r.returncode != 0:
            raise ServerUnavailable(f"initdb failed: {r.stderr[-400:]}")
        if len(self.root) + len(f"/.s.PGSQL.{port}") <= _SOCKET_MAX:
            listen = ["-k", self.root, "-c", "listen_addresses="]
            host = self.root
        else:
            # too deep a checkout for a unix socket path: loopback TCP
            port = _free_port()
            listen = ["-c", "unix_socket_directories=",
                      "-c", "listen_addresses=127.0.0.1"]
            host = "127.0.0.1"
        self._log = open(os.path.join(self.root, "server.log"), "wb")
        self.proc = subprocess.Popen(
            wrap + [postgres, "-D", self.data, "-p", str(port)] + listen,
            stdout=self._log, stderr=subprocess.STDOUT)
        self.dsn = f"host={host} port={port} user=postgres dbname=postgres"
        self._wait_ready()

    def _wait_ready(self, timeout: float = 30.0) -> None:
        from postgres_scanner_spark import pgclient
        deadline = time.monotonic() + timeout
        while True:
            if self.proc.poll() is not None:
                self.close()
                raise ServerUnavailable(
                    "postgres exited at start: " + self._tail())
            try:
                pgclient.connect(self.dsn, autocommit=True).close()
                return
            except (OSError, pgclient.Error):
                pass           # not listening yet, or still starting up
            if time.monotonic() > deadline:
                self.close()
                raise ServerUnavailable(
                    "postgres did not accept connections within "
                    f"{timeout:.0f} s: " + self._tail())
            time.sleep(0.05)

    def _tail(self) -> str:
        try:
            with open(os.path.join(self.root, "server.log"), "rb") as fh:
                return fh.read()[-400:].decode(errors="replace")
        except OSError:
            return "(no server log)"

    def settings(self) -> dict:
        """Server version and the flush/memory settings in force."""
        from postgres_scanner_spark import pgclient
        with pgclient.connect(self.dsn, autocommit=True) as con:
            cur = con.cursor()
            out = {}
            for name in ("server_version", "fsync", "synchronous_commit",
                         "shared_buffers", "max_connections"):
                cur.execute(f"SHOW {name}")
                out[name] = cur.fetchone()[0]
        return out

    def close(self) -> None:
        """Fast shutdown, wait for the postmaster, delete the cluster."""
        if self.proc is not None and self.proc.poll() is None:
            self.proc.send_signal(signal.SIGINT)
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        if self.proc is not None:
            self._log.close()
        self.proc = None
        shutil.rmtree(self.root, ignore_errors=True)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()
