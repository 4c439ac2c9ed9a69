"""Worker-only site hook: import PySpark from the installed release, and
re-read a zip on sys.path only when it changed.

Spark puts $SPARK_HOME/python/lib/pyspark.zip and py4j-*-src.zip first
on a worker's sys.path. zipimport never caches bytecode, so every
worker daemon compiled pyspark from source (~1.0 s CPU a daemon). When
an archive holds the same release as a copy importable from the rest
of sys.path (byte-equal pyspark/version.py or py4j/version.py), the
archive moves to the end of sys.path, so imports come from the
installed, bytecode-cached package; the archive stays as a fallback.
A different release, no installed copy or an unreadable archive leaves
sys.path exactly as Spark built it.

PySpark calls importlib.invalidate_caches() on every worker call. Before
Python 3.13 each zipimporter then re-parses its archive's whole central
directory (pyspark.zip, py4j, the spark-core jar: ~28k entries, ~0.2 s
CPU a call). Here a re-read happens only when the archive's
(st_mtime_ns, st_size, st_ino) differs from when it was last read, so
a rewritten archive is still picked up. 3.13's invalidate_caches only
drops the cache entry, so that part does nothing there. get_spark puts
this directory on the workers' PYTHONPATH. This module shadows any
other sitecustomize later on sys.path, so it runs that one first.
"""
import importlib.machinery
import importlib.util
import os
import sys
import zipfile
import zlib


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _chain():
    """Run the next sitecustomize on sys.path, which this one shadows."""
    here = os.path.realpath(os.path.dirname(__file__))
    real = [os.path.realpath(p or os.curdir) for p in sys.path]
    if here not in real:
        return
    i = real.index(here) + 1
    rest = [p for p, r in zip(sys.path[i:], real[i:]) if r != here]
    spec = importlib.machinery.PathFinder.find_spec("sitecustomize", rest)
    if spec is None:
        return
    module = importlib.util.module_from_spec(spec)
    sys.modules["sitecustomize"] = module
    spec.loader.exec_module(module)


def _package(archive):
    name = os.path.basename(archive)
    if name == "pyspark.zip":
        return "pyspark"
    if name.startswith("py4j-") and name.endswith(".zip"):
        return "py4j"
    return None


def _installed_first():
    """Move a Spark archive behind an installed copy of its release."""
    for archive in list(sys.path):
        pkg = _package(archive)
        if pkg is None:
            continue
        rest = [p for p in sys.path if p != archive]
        try:
            with zipfile.ZipFile(archive) as zf:
                packed = zf.read(f"{pkg}/version.py")
            spec = importlib.machinery.PathFinder.find_spec(pkg, rest)
            if spec is None or not spec.origin:
                continue
            version = os.path.join(os.path.dirname(spec.origin), "version.py")
            with open(version, "rb") as f:
                installed = f.read()
        except (OSError, KeyError, EOFError, zipfile.BadZipFile, zlib.error):
            continue  # unreadable archive or copy: keep Spark's order
        if packed == installed:
            sys.path[:] = rest + [archive]


_chain()
_installed_first()

if sys.version_info < (3, 13):
    import zipimport

    _reread = zipimport.zipimporter.invalidate_caches
    # archive -> stamp taken just before its directory was last read;
    # first the archives site and _chain read while looking for a
    # sitecustomize
    _stamps = {a: _stamp(a) for a in zipimport._zip_directory_cache}

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None \
                and _stamps.get(self.archive) == stamp:
            self._files = files  # another importer may have re-read it
            return
        _reread(self)
        _stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
