"""Python workers run the installed pyspark (`worker_daemon`).

The JVM puts Spark's archives (pyspark.zip, the py4j zip, the Spark
core jar) at the front of every worker's path; each task's
`importlib.invalidate_caches()` then re-parses every cached archive
importer. The engine's daemon module drops the archives when the
installed pyspark and py4j are the same versions, and keeps them with
one stderr line otherwise.
"""

import json
import os
import subprocess
import sys
import zipfile

import py4j.version
import pyspark
import pyspark.version

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_ZIP = os.path.join(
    os.environ.get("SPARK_HOME", os.path.dirname(pyspark.__file__)),
    "python", "lib", "pyspark.zip")
SITE = os.path.dirname(os.path.dirname(pyspark.__file__))


def _run(code: str, *args: str, pythonpath: str = ROOT):
    env = {**os.environ, "PYTHONPATH": pythonpath}
    return subprocess.run([sys.executable, "-c", code, *args], env=env,
                          capture_output=True, text=True, timeout=120)


def test_package_root_imports_no_pyspark():
    code = (
        "import sys\n"
        "import dataflowtemplates_spark\n"
        "assert 'pyspark' not in sys.modules, 'pyspark imported'\n"
        "from dataflowtemplates_spark import build_session, register_tables, TABLES\n"
        "assert callable(build_session) and callable(register_tables)\n"
        "assert 'lineitem' in TABLES\n"
        "print('LAZY-OK')\n")
    proc = _run(code, pythonpath=os.pathsep.join((SPARK_ZIP, ROOT)))
    assert proc.stdout.strip() == "LAZY-OK", proc.stderr[-2000:]


def test_workers_import_installed_pyspark(spark):
    def probe(batches):
        import sys
        import zipimport

        import py4j
        import pyarrow as pa
        import pyspark

        for _ in batches:
            pass
        n = sum(isinstance(v, zipimport.zipimporter)
                for v in sys.path_importer_cache.values())
        yield pa.RecordBatch.from_pydict({
            "pyspark": [pyspark.__file__], "py4j": [py4j.__file__],
            "importers": [n]})

    row = (spark.range(1, numPartitions=1)
           .mapInArrow(probe, "pyspark string, py4j string, importers long")
           .collect()[0])
    assert row.pyspark == pyspark.__file__
    assert row.py4j == py4j.__file__
    assert row.importers == 0


_DECIDE = r"""
import json, sys
from dataflowtemplates_spark import worker_daemon
assert 'pyspark' not in sys.modules
kept = worker_daemon.archives_to_drop(json.loads(sys.argv[1]))
with open(sys.argv[2], 'w') as fh:
    json.dump(kept, fh)
"""


def _fake_zip(path, version):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", f"__version__: str = '{version}'\n")
    return str(path)


def _decide(tmp_path, path):
    out = tmp_path / "decision.json"
    proc = _run(_DECIDE, json.dumps(path), str(out))
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(out.read_text()), proc


def _archives(tmp_path, pyspark_version, py4j_version):
    py4j_zip = tmp_path / f"py4j-{py4j_version}-src.zip"
    zipfile.ZipFile(py4j_zip, "w").close()
    jar = tmp_path / "spark-core_2.13-0.jar"
    zipfile.ZipFile(jar, "w").close()
    return [_fake_zip(tmp_path / "pyspark.zip", pyspark_version),
            str(py4j_zip), str(jar)]


def test_matching_versions_drop_every_archive(tmp_path):
    archives = _archives(tmp_path, pyspark.version.__version__,
                         py4j.version.__version__)
    dropped, proc = _decide(tmp_path, archives + [SITE])
    assert dropped == archives
    assert proc.stdout == "" and proc.stderr == ""


def test_pyspark_version_mismatch_keeps_archives(tmp_path):
    archives = _archives(tmp_path, "0.0.1", py4j.version.__version__)
    dropped, proc = _decide(tmp_path, archives + [SITE])
    assert dropped == []
    assert proc.stdout == ""
    lines = proc.stderr.splitlines()
    assert len(lines) == 1, proc.stderr
    assert "pyspark 0.0.1 in pyspark.zip" in lines[0]
    assert f"{pyspark.version.__version__} installed" in lines[0]


def test_missing_py4j_keeps_archives(tmp_path):
    archives = _archives(tmp_path, pyspark.version.__version__,
                         py4j.version.__version__)
    site = tmp_path / "site"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_text(
        f"__version__: str = '{pyspark.version.__version__}'\n")
    dropped, proc = _decide(tmp_path, archives + [str(site)])
    assert dropped == []
    assert proc.stdout == ""
    lines = proc.stderr.splitlines()
    assert len(lines) == 1, proc.stderr
    assert f"py4j {py4j.version.__version__} in the py4j zip" in lines[0]
    assert "vs none installed" in lines[0]
