"""Python-worker daemon for the engine (``spark.python.daemon.module``).

The JVM launches every Python worker daemon with Spark's own archives at
the front of ``sys.path``: ``$SPARK_HOME/python/lib/pyspark.zip`` (source
only, no ``.pyc``), ``py4j-<version>-src.zip`` and the Spark core jar.
That costs twice:

* the daemon compiles pyspark from the zip on every start, and
* each task begins with ``importlib.invalidate_caches()``
  (``pyspark/worker_util.py``), for which stdlib ``zipimport`` re-parses
  the whole directory of every cached archive importer in pure Python
  (measured in ``session._BASE_CONFS``).

When the installed pyspark and py4j are the versions in those archives,
this module removes the archives from ``sys.path`` and drops their
cached importers, then runs ``pyspark.daemon`` as ``-m`` would. Forked
workers inherit the path, so they import the installed packages. When
the versions differ it keeps the archives and says so in one stderr
line; stdout stays untouched because the JVM reads the daemon's port
from it. Until the path is chosen the module uses the stdlib only.
"""

from __future__ import annotations

import os
import re
import runpy
import sys
import zipimport
from importlib.machinery import PathFinder

_PY4J_ZIP = re.compile(r"py4j-(.+)-src\.zip")
_SPARK_JAR = re.compile(r"spark-core_.*\.jar")
_VERSION = re.compile(r"""^__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)['"]""",
                      re.MULTILINE)


def _version(source: bytes) -> str | None:
    match = _VERSION.search(source.decode())
    return match.group(1) if match else None


def _installed_version(package: str, path: list[str]) -> str | None:
    spec = PathFinder.find_spec(package, path)
    if spec is None or not spec.submodule_search_locations:
        return None
    version_py = os.path.join(spec.submodule_search_locations[0], "version.py")
    try:
        with open(version_py, "rb") as fh:
            return _version(fh.read())
    except OSError:
        return None


def archives_to_drop(path: list[str]) -> list[str]:
    """The Spark archives on ``path`` that the installed pyspark and py4j
    replace, or ``[]`` to keep them (with one stderr line naming the
    versions that differ)."""
    archives, zip_pyspark, zip_py4j = [], None, None
    for entry in filter(os.path.isfile, path):
        name = os.path.basename(entry)
        py4j_zip = _PY4J_ZIP.fullmatch(name)
        if name == "pyspark.zip":
            try:
                zip_pyspark = _version(
                    zipimport.zipimporter(entry).get_data("pyspark/version.py"))
            except (OSError, zipimport.ZipImportError):
                pass
        elif py4j_zip:
            zip_py4j = py4j_zip.group(1)
        elif not _SPARK_JAR.fullmatch(name):
            continue
        archives.append(entry)
    if not archives:
        return []
    rest = [p for p in path if p not in archives]
    pyspark = _installed_version("pyspark", rest)
    py4j = _installed_version("py4j", rest)
    if None not in (pyspark, py4j) and (pyspark, py4j) == (zip_pyspark, zip_py4j):
        return archives
    print(f"dataflowtemplates_spark.worker_daemon: keeping Spark's archives "
          f"on the worker path: pyspark {zip_pyspark or 'none'} in "
          f"pyspark.zip vs {pyspark or 'none'} installed; py4j "
          f"{zip_py4j or 'none'} in the py4j zip vs {py4j or 'none'} "
          f"installed", file=sys.stderr, flush=True)
    return []


def main() -> None:
    drop = archives_to_drop(sys.path)
    if drop:
        sys.path[:] = [p for p in sys.path if p not in drop]
        for key in list(sys.path_importer_cache):
            if any(key == a or key.startswith(a + os.sep) for a in drop):
                del sys.path_importer_cache[key]
    # argv[1], the worker module, stays for pyspark.daemon to read
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
