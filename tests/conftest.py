import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
for p in (str(REPO), str(REPO / "tests")):
    if p not in sys.path:
        sys.path.insert(0, p)


@pytest.fixture(scope="session")
def spark():
    from postgres_scanner_spark import get_spark
    s = get_spark(cpus=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _release_scratch():
    """Unpersist the scratch a test's queries recorded, so it cannot
    leak into the next test (runtime.release_scratch is per thread)."""
    yield
    from postgres_scanner_spark import runtime
    runtime.release_scratch()


# ------------------------------------------------ live Postgres server
PG_BIN = "/usr/local/bin"
PG_PORT = 54333


def _have_server() -> bool:
    if not (shutil.which("runuser") and os.path.exists(f"{PG_BIN}/initdb")):
        return False
    try:
        import pwd
        pwd.getpwnam("postgres")
    except KeyError:
        return False
    return True


@pytest.fixture(scope="session")
def pg_server():
    """initdb + start a scratch cluster on a unix socket as the
    `postgres` system user; yield its libpq DSN; stop and delete it at
    the end of the session. Skips (never fails) when the server
    binaries or the postgres user are unavailable."""
    if not _have_server():
        pytest.skip("no postgres server binaries in PATH")
    root = tempfile.mkdtemp(prefix="pg_live_")
    subprocess.run(["chown", "postgres:postgres", root], check=True)
    data = f"{root}/data"

    def as_postgres(cmd):
        return subprocess.run(
            ["runuser", "-u", "postgres", "--"] + cmd,
            cwd="/tmp", capture_output=True, text=True)

    r = as_postgres([f"{PG_BIN}/initdb", "-D", data, "-A", "trust",
                     "-U", "postgres"])
    if r.returncode != 0:
        shutil.rmtree(root, ignore_errors=True)
        pytest.skip(f"initdb failed: {r.stderr[-300:]}")
    r = as_postgres([f"{PG_BIN}/pg_ctl", "-D", data, "-l", f"{root}/pg.log",
                     "-o", f"-k {root} -h '' -p {PG_PORT}", "-w", "start"])
    if r.returncode != 0:
        shutil.rmtree(root, ignore_errors=True)
        pytest.skip(f"pg_ctl start failed: {r.stderr[-300:]}")
    try:
        yield f"host={root} port={PG_PORT} user=postgres dbname=postgres"
    finally:
        as_postgres([f"{PG_BIN}/pg_ctl", "-D", data, "-m", "immediate",
                     "stop"])
        time.sleep(0.2)
        shutil.rmtree(root, ignore_errors=True)


@pytest.fixture(scope="session")
def pg(pg_server):
    """A pgclient connection to the scratch server (autocommit)."""
    from postgres_scanner_spark import pgclient
    con = pgclient.connect(pg_server, autocommit=True)
    yield con
    con.close()


@pytest.fixture(scope="session")
def registered(spark):
    """The session with the postgres_scan DataSource registered."""
    from postgres_scanner_spark.pg_datasource import ensure_registered
    ensure_registered(spark)
    return spark
