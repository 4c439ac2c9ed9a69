import sys
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
