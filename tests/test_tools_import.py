"""bench.py and every tools/*.py import without running main(), and
`import bench` stays light: perfbench imports it during set-up, so it
must load neither pyspark nor the engine. The measurement code lives
in postgres_scanner_spark/obs.py alone."""

import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
SCRIPTS = [REPO / "bench.py"] + sorted((REPO / "tools").glob("*.py"))


def _python(code: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "-c", code], cwd=REPO,
                          capture_output=True, text=True, timeout=120)


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_imports_without_running_main(path):
    r = _python(
        "import importlib.util\n"
        f"spec = importlib.util.spec_from_file_location('probe', {str(path)!r})\n"
        "m = importlib.util.module_from_spec(spec)\n"
        "spec.loader.exec_module(m)\n"
        "assert callable(m.main)\n")
    assert r.returncode == 0, r.stderr[-2000:]


def test_import_bench_loads_no_spark():
    r = _python(
        "import sys\n"
        f"sys.path.insert(0, {str(REPO)!r})\n"
        "import bench\n"
        "print(sorted(m for m in sys.modules if m.split('.')[0] in "
        "('pyspark', 'postgres_scanner_spark')))\n")
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.strip() == "[]"


def test_only_obs_reads_the_status_store_or_proc_stat():
    readers = []
    for p in REPO.rglob("*.py"):
        rel = p.relative_to(REPO)
        if rel.parts[0] in ("perfbench", "tests") or rel.parts[0].startswith("."):
            continue
        text = p.read_text(errors="replace")
        if "statusStore" in text or "/proc/stat" in text:
            readers.append(str(rel))
    assert readers == ["postgres_scanner_spark/obs.py"]
