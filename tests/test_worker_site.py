"""The worker site hook (postgres_scanner_spark/_worker_site): a Spark
archive of the installed release moves behind the installed package,
zip directories are re-read only when the archive changed, import
semantics stay the same, and both Spark's planner and task workers run
with it.

Each hook case runs in a fresh interpreter with the hook directory on
PYTHONPATH, so this process's zipimport is never patched."""
import importlib.util
import json
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
    assert out.stderr == ""  # site reports a failing sitecustomize there
    return out.stdout.split()


def _installed_version(pkg: str) -> bytes:
    origin = Path(importlib.util.find_spec(pkg).origin)
    return (origin.parent / "version.py").read_bytes()


def _same_release_fakes(tmp_path: Path) -> list:
    """A pyspark.zip and a py4j zip holding the installed releases."""
    return [_zip(tmp_path / name,
                 {f"{pkg}/__init__.py": "",
                  f"{pkg}/version.py": _installed_version(pkg)})
            for name, pkg in (("pyspark.zip", "pyspark"),
                              ("py4j-0.0-src.zip", "py4j"))]


def _spark_archives() -> list:
    lib = Path(os.environ.get("SPARK_HOME", "/nonexistent"), "python", "lib")
    archives = [lib / "pyspark.zip", *sorted(lib.glob("py4j-*.zip"))]
    if len(archives) != 2 or not archives[0].is_file():
        pytest.skip("no pyspark.zip and py4j zip under $SPARK_HOME")
    return [str(a) for a in archives]


WHERE = """
    import importlib, json, sys
    mods = [importlib.import_module(m) for m in sys.argv[1:]]
    print(json.dumps([sys.path, *(m.__file__ for m in mods)],
                     separators=(",", ":")))
"""


def _where(*path, imports=("pyspark", "py4j")) -> list:
    """sys.path without the hook, then where each of imports came from."""
    out = json.loads(_run(WHERE, *path, args=imports)[0])
    return [[p for p in out[0] if p != str(HOOK)], *out[1:]]


@pytest.mark.parametrize("source", ["fake", "spark_home"])
def test_same_release_archives_move_behind_installed(tmp_path, source):
    archives = (_same_release_fakes(tmp_path) if source == "fake"
                else _spark_archives())
    stock, *stock_files = _where(*archives)
    assert [f.startswith(a) for f, a in zip(stock_files, archives)] \
        == [True, True]
    path, *files = _where(*archives, HOOK)
    assert path == [p for p in stock if p not in archives] + archives
    for f in files:
        assert not any(f.startswith(a) for a in archives), f


def test_other_release_archive_keeps_sparks_order(tmp_path):
    fake = _zip(tmp_path / "pyspark.zip", {
        "pyspark/__init__.py": "",
        "pyspark/version.py": "__version__ = '0.0.0'\n",
        "pyspark/only_in_zip.py": ""})
    stock = _where(fake, imports=["pyspark.only_in_zip"])
    hooked = _where(fake, HOOK, imports=["pyspark.only_in_zip"])
    assert hooked == stock
    assert stock[1] == f"{fake}/pyspark/only_in_zip.py"


NO_INSTALLED = """
    import runpy, sys
    sys.path[:] = sys.argv[1:] + [p for p in sys.path if "-packages" not in p]
    before = list(sys.path)
    runpy.run_path({hook!r})
    print(sys.path == before)
"""


def test_no_installed_copy_keeps_sparks_order(tmp_path):
    code = NO_INSTALLED.format(hook=str(HOOK / "sitecustomize.py"))
    assert _run(code, args=_same_release_fakes(tmp_path)) == ["True"]


@pytest.mark.parametrize(
    "damage", ["missing", "not_a_zip", "truncated", "no_version",
               "corrupt_member"])
def test_unreadable_archive_keeps_sparks_order(tmp_path, damage):
    arc = tmp_path / "pyspark.zip"
    if damage == "no_version":
        _zip(arc, {"pyspark/__init__.py": ""})
    elif damage != "missing":
        with zipfile.ZipFile(arc, "w", zipfile.ZIP_DEFLATED) as zf:
            zf.writestr("pyspark/version.py",
                        _installed_version("pyspark") * 50)
        raw = bytearray(arc.read_bytes())
        if damage == "not_a_zip":
            raw[:] = b"not a zip archive"
        elif damage == "truncated":
            del raw[len(raw) // 2:]
        else:  # flip the deflate block header after the local header
            data = 30 + len("pyspark/version.py")
            raw[data:data + 2] = bytes(b ^ 0xFF for b in raw[data:data + 2])
        arc.write_bytes(bytes(raw))
    # _run also checks that the hook raised nothing (stderr is empty)
    assert _where(arc, HOOK) == _where(arc)


def test_spark_archive_matches_installed_release():
    """Pins what the version.py guard assumes: an archive with the
    installed version.py holds the installed code."""
    root = Path(importlib.util.find_spec("pyspark").origin).parents[1]
    for archive in _spark_archives():
        with zipfile.ZipFile(archive) as zf:
            # tests and pyspark/sql/streaming/benchmark are not shipped
            # in the pip package
            names = [n for n in zf.namelist() if n.endswith(".py")
                     and not {"tests", "benchmark"} & set(n.split("/"))]
            differ = [n for n in names if not (root / n).is_file()
                      or (root / n).read_bytes() != zf.read(n)]
        assert names and differ == [], archive


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
        import py4j
        import pyspark
        src = zipimport.zipimporter.invalidate_caches.__code__.co_filename
        site = ("hook" if src.endswith("_worker_site/sitecustomize.py")
                else "stock")
        zipped = any(".zip/" in m.__file__ for m in (pyspark, py4j))
        return f"{site}_{'zip' if zipped else 'installed'}"

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
    # the host's Spark archives hold the installed release
    # (test_spark_archive_matches_installed_release)
    assert df.columns == ["planner_hook_installed"]
    assert [r[0] for r in df.collect()] == ["task_hook_installed"]
