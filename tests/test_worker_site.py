"""The worker site hook (postgres_scanner_spark/_worker_site): zip
directories are re-read only when the archive changed, import semantics
stay the same, and both Spark's planner and task workers run with it.

Each hook case runs in a fresh interpreter with the hook directory on
PYTHONPATH, so this process's zipimport is never patched."""
import os
import shutil
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

import pytest

HOOK = (Path(__file__).resolve().parents[1] / "postgres_scanner_spark"
        / "_worker_site")


def _zip(path: Path, files: dict) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in files.items():
            zf.writestr(name, src)
    return str(path)


def _run(code: str, *path, python: str = sys.executable,
         args: tuple = ()) -> list:
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(map(str, path)))
    out = subprocess.run([python, "-c", textwrap.dedent(code), *args],
                         env=env, capture_output=True, text=True,
                         check=True)
    return out.stdout.split()


COUNT_READS = """
    import importlib, sys, zipimport
    reads = []
    real = zipimport._read_directory
    zipimport._read_directory = lambda p: reads.append(p) or real(p)
    sys.path.append(sys.argv[1])  # as PySpark adds --py-files
    import early_mod, late_mod, added_mod
    for _ in range(3):
        importlib.invalidate_caches()
    print(*(p.rsplit("/", 1)[1] for p in reads))
"""


def test_unchanged_archives_are_not_reread(tmp_path):
    # early.zip sits before the hook, as pyspark.zip does in a worker;
    # site and the hook's own search read both it and late.zip
    early, late, added = (
        _zip(tmp_path / f"{n}.zip", {f"{n}_mod.py": ""})
        for n in ("early", "late", "added"))
    stock = _run(COUNT_READS, early, late, args=(added,))
    assert [stock.count(f"{n}.zip") for n in ("early", "late", "added")] \
        == [3, 3, 4]
    # added.zip: read on import, once more on the first call (that
    # read was not stamped), then never again
    hooked = _run(COUNT_READS, early, HOOK, late, args=(added,))
    assert hooked == ["added.zip"] * 2


def test_rewritten_archive_is_reread(tmp_path):
    arc = tmp_path / "pkgs.zip"
    _zip(arc, {"pkg/__init__.py": "", "pkg/a.py": "X = 'a'"})
    code = f"""
        import importlib, zipfile
        import pkg.a
        importlib.invalidate_caches()
        with zipfile.ZipFile({str(arc)!r}, "w") as zf:
            zf.writestr("pkg/__init__.py", "")
            zf.writestr("pkg/a.py", "X = 'a'")
            zf.writestr("pkg/b.py", "X = 'b'")
        importlib.invalidate_caches()
        import pkg.b
        print(pkg.a.X, pkg.b.X)
    """
    # pkg.b resolves through the importer of pkgs.zip/pkg/, which
    # must see the new directory however the two importers are ordered
    assert _run(code, arc, HOOK) == ["a", "b"]


def test_other_sitecustomize_still_runs(tmp_path):
    other = tmp_path / "other"
    other.mkdir()
    (other / "sitecustomize.py").write_text(
        "import builtins\nbuiltins.OTHER_SITE = __file__\n")
    code = """
        import builtins, zipimport
        print(builtins.OTHER_SITE.endswith("other/sitecustomize.py"))
        print(zipimport.zipimporter.invalidate_caches.__module__)
    """
    assert _run(code, HOOK, other) == ["True", "sitecustomize"]


PY313_UNTOUCHED = """
    import runpy, sys, zipimport
    before = zipimport.zipimporter.invalidate_caches
    {fake}
    runpy.run_path({hook!r})
    print(zipimport.zipimporter.invalidate_caches is before)
"""


@pytest.mark.parametrize("python", ["simulated", "python3.13"])
def test_hook_is_a_noop_from_python_3_13(python):
    hook = str(HOOK / "sitecustomize.py")
    if python == "simulated":
        # the version gate on this interpreter, whatever it is
        code = PY313_UNTOUCHED.format(
            fake="sys.version_info = (3, 13, 0)", hook=hook)
        assert _run(code) == ["True"]
        return
    exe = shutil.which(python)
    if exe is None:
        pytest.skip(f"{python} not installed")
    assert _run(PY313_UNTOUCHED.format(fake="", hook=hook),
                python=exe) == ["True"]


def test_planner_and_task_workers_run_the_hook(spark):
    from pyspark.sql.datasource import DataSource, DataSourceReader

    def tag():
        import zipimport
        src = zipimport.zipimporter.invalidate_caches.__code__.co_filename
        return ("hook" if src.endswith("_worker_site/sitecustomize.py")
                else "stock")

    # defined locally so cloudpickle ships them by value to the workers
    class _Reader(DataSourceReader):
        def read(self, partition):
            yield (f"task_{tag()}",)

    class _WhichSite(DataSource):
        @classmethod
        def name(cls):
            return "which_worker_site"

        def schema(self):  # runs in the planner worker
            return f"planner_{tag()} string"

        def reader(self, schema):
            return _Reader()

    spark.dataSource.register(_WhichSite)
    df = spark.read.format("which_worker_site").load()
    assert df.columns == ["planner_hook"]
    assert [r[0] for r in df.collect()] == ["task_hook"]
