"""The local driver JVM starts from a dynamic class-data archive
(`dataflowtemplates_spark/cds.py`, wired in `session.build_session`).

JVM launches run in subprocesses with `XDG_CACHE_HOME` in a test
directory, so they never read or write the user's archive. Each
dumping launch writes an archive of about 140 MB; the module's cache
directories are removed when its tests end.
"""

import json
import os
import shlex
import shutil
import subprocess
import sys

import pytest

from dataflowtemplates_spark import cds

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TAG = "dataflowtemplates_spark.cds:"

# Builds a session and records what the JVM saw. argv: output file,
# extra JVM options, then "kill" to SIGKILL the JVM before exiting.
_SESSION = r"""
import json, os, signal, sys
from dataflowtemplates_spark.session import build_session
out, opts = sys.argv[1], sys.argv[2]
spark = build_session("cds-test", master="local[1]", shuffle_partitions=1,
                      extra_confs={"spark.driver.extraJavaOptions": opts}
                      if opts else None)
jvm = spark.sparkContext._jvm
pid = jvm.java.lang.ProcessHandle.current().pid()
with open(f"/proc/{pid}/maps") as fh:
    mapped = sorted({l.split()[-1] for l in fh if l.rstrip().endswith(".jsa")})
args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
            .getInputArguments())
with open(out, "w") as fh:
    json.dump({"args": args, "mapped": mapped}, fh)
if sys.argv[3:] == ["kill"]:
    os.kill(pid, signal.SIGKILL)
"""


def _env(cache, **extra):
    env = {k: v for k, v in os.environ.items() if k != cds.OPT_OUT_ENV}
    env.update(XDG_CACHE_HOME=str(cache), SPARK_GRAFT_CPUS="1",
               SPARK_GRAFT_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join(
                   p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    env.update(extra)
    return env


def _session(tmp_path, cache, opts="", *mode, **env):
    out = tmp_path / f"session-{len(list(tmp_path.iterdir()))}.json"
    proc = subprocess.run(
        [sys.executable, "-c", _SESSION, str(out), opts, *mode],
        cwd=tmp_path, env=_env(cache, **env), capture_output=True,
        text=True, timeout=300)
    got = json.loads(out.read_text()) if out.exists() else None
    return proc, got


def _cli(tmp_path, cache):
    out = tmp_path / f"cli-{len(list(tmp_path.iterdir()))}"
    proc = subprocess.run(
        [sys.executable, "-m", "dataflowtemplates_spark.cli",
         "SpannerToText", "--query=SELECT 7 AS x", f"--output={out}",
         "--type=csv", "--withoutSharding"],
        cwd=tmp_path, env=_env(cache), capture_output=True, text=True,
        timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc


def _notes(stderr: str) -> list[str]:
    return [line for line in stderr.splitlines() if line.startswith(TAG)]


def _cds_files(cache) -> list[str]:
    d = os.path.join(cache, "dataflowtemplates_spark", "cds")
    return sorted(n for n in os.listdir(d) if n != "empty-conf") \
        if os.path.isdir(d) else []


def _archive_flags(args) -> list[str]:
    return [a for a in args if a.startswith(
        ("-XX:SharedArchiveFile", "-XX:ArchiveClassesAtExit"))]


@pytest.fixture(scope="module")
def dumped(tmp_path_factory):
    """A cache holding another key's archive, a dead process's lock and
    a killed dump's debris, then one CLI run that dumps."""
    work = tmp_path_factory.mktemp("cds-dump")
    cache = work / "cache"
    d = cache / "dataflowtemplates_spark" / "cds"
    d.mkdir(parents=True)
    (d / "0000000000000000.jsa").write_bytes(b"an older key's archive")
    (d / "0000000000000000.jsa.1.tmp").write_bytes(b"debris")
    gone = subprocess.Popen([sys.executable, "-c", "pass"])
    gone.wait()
    (d / "dump.lock").write_text(str(gone.pid))
    proc = _cli(work, cache)
    yield work, cache, proc
    shutil.rmtree(work, ignore_errors=True)


def test_dumping_cli_run_prints_only_its_result(dumped):
    """Stdout of a dumping run is exactly the CLI's result line; the
    archive replaces the older key's, and the stale lock and the debris
    are gone."""
    _, cache, proc = dumped
    assert len(proc.stdout.splitlines()) == 1, proc.stdout[-2000:]
    assert json.loads(proc.stdout)["template"] == "SpannerToText"
    notes = _notes(proc.stderr)
    assert len(notes) == 1 and "building the class-data archive" in notes[0]
    files = _cds_files(cache)
    assert len(files) == 1 and files[0].endswith(".jsa"), files
    assert files[0] != "0000000000000000.jsa"
    assert "[warning][cds]" not in proc.stderr


def test_second_launch_maps_the_archive(dumped, tmp_path):
    """A second JVM maps the archive; -Xshare:on (after the engine's
    flags, so it wins) makes the JVM refuse to start otherwise."""
    _, cache, _ = dumped
    archive = os.path.join(cache, "dataflowtemplates_spark", "cds",
                           _cds_files(cache)[0])
    proc, got = _session(tmp_path, cache, "-Xshare:on")
    assert got is not None, proc.stderr[-3000:]
    assert _archive_flags(got["args"]) == [
        f"-XX:SharedArchiveFile={archive}"]
    assert os.path.realpath(archive) in got["mapped"]
    assert _notes(proc.stderr) == []


def test_mapping_cli_run_prints_only_its_result(dumped, tmp_path):
    _, cache, _ = dumped
    proc = _cli(tmp_path, cache)
    assert len(proc.stdout.splitlines()) == 1, proc.stdout[-2000:]
    assert json.loads(proc.stdout)["rows"] == 1
    assert _notes(proc.stderr) == []
    assert len(_cds_files(cache)) == 1


def test_unmapped_archive_is_reported_and_removed(tmp_path):
    """HotSpot skips an unusable archive without a warning; the session
    says so on stderr and removes it, so the next launch rebuilds it."""
    from pyspark.find_spark_home import _find_spark_home

    cache = tmp_path / "cache"
    d = cache / "dataflowtemplates_spark" / "cds"
    d.mkdir(parents=True)
    opts = shlex.split(os.environ.get("SPARK_SUBMIT_OPTS", ""))
    bad = d / f"{cds.key(_find_spark_home(), opts, '1g')}.jsa"
    bad.write_bytes(b"not an archive")
    proc, got = _session(tmp_path, cache)
    assert got is not None, proc.stderr[-3000:]
    assert _archive_flags(got["args"]) == [f"-XX:SharedArchiveFile={bad}"]
    assert str(bad) not in got["mapped"]
    notes = _notes(proc.stderr)
    assert len(notes) == 1 and "did not map" in notes[0], proc.stderr[-2000:]
    assert not bad.exists()


def test_conf_dir_with_a_real_file_skips_cds(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("# site settings\n")
    (conf / "spark-env.sh.template").write_text("")
    cache = tmp_path / "cache"
    proc, got = _session(tmp_path, cache, SPARK_CONF_DIR=str(conf))
    assert got is not None, proc.stderr[-3000:]
    notes = _notes(proc.stderr)
    assert len(notes) == 1, proc.stderr[-2000:]
    assert f"{conf} holds spark-defaults.conf" in notes[0]
    assert _archive_flags(got["args"]) == []
    assert _cds_files(cache) == []


def test_killed_dumping_jvm_never_becomes_the_archive(tmp_path):
    cache = tmp_path / "cache"
    proc, got = _session(tmp_path, cache, "", "kill")
    assert got is not None, proc.stderr[-3000:]
    assert len(_archive_flags(got["args"])) == 1
    notes = _notes(proc.stderr)
    assert "building the class-data archive" in notes[0]
    assert "the class-data archive was not built" in notes[-1], notes
    assert _cds_files(cache) == []  # no archive, no tmp file, no lock


def test_caller_java_options_follow_the_engine_flags(tmp_path):
    """A caller's spark.driver.extraJavaOptions is appended to the
    engine's JVM flags instead of replacing them."""
    proc, got = _session(
        tmp_path, tmp_path / "cache",
        "-Dgraft.caller=1 -XX:ReservedCodeCacheSize=512m",
        **{cds.OPT_OUT_ENV: "0"})
    assert got is not None, proc.stderr[-3000:]
    args = got["args"]
    for flag in ("-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
                 "-Xlog:disable", "-Xlog:all=warning:stderr",
                 "-Dgraft.caller=1", "-XX:ReservedCodeCacheSize=512m"):
        assert flag in args, args
    assert (args.index("-XX:ReservedCodeCacheSize=1g")
            < args.index("-Dgraft.caller=1"))
    assert _archive_flags(args) == [] and _notes(proc.stderr) == []


# -- no JVM below --------------------------------------------------------


def test_key_follows_jars_and_archive_flags(tmp_path):
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    jar = home / "jars" / "a.jar"
    jar.write_bytes(b"x")
    k0 = cds.key(str(home), [], "16g")
    assert cds.key(str(home), ["-Dx=1", "-XX:-UsePerfData"], "2g") == k0
    assert cds.key(str(home), ["-XX:-UseCompressedOops"], "16g") != k0
    assert cds.key(str(home), ["-XX:+UseParallelGC"], "16g") != k0
    assert cds.key(str(home), [], "64g") != k0  # no compressed oops
    jar.write_bytes(b"xy")
    k1 = cds.key(str(home), [], "16g")
    assert k1 != k0
    os.utime(jar, (1, 1))
    assert cds.key(str(home), [], "16g") != k1
    (home / "jars" / "b.jar").write_bytes(b"")
    assert len({k0, k1, cds.key(str(home), [], "16g")}) == 3


def _plan(monkeypatch, cache):
    monkeypatch.setenv("XDG_CACHE_HOME", str(cache))
    monkeypatch.delenv(cds.OPT_OUT_ENV, raising=False)
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    return cds.plan({"spark.driver.memory": "1g"})


def test_one_process_dumps_at_a_time(tmp_path, monkeypatch, capsys):
    lock = tmp_path / "dataflowtemplates_spark" / "cds" / "dump.lock"
    lock.parent.mkdir(parents=True)
    lock.write_text(str(os.getpid()))  # a live holder
    assert _plan(monkeypatch, tmp_path) == cds.Launch()
    assert "another process is building" in capsys.readouterr().err
    assert lock.read_text() == str(os.getpid())


def test_stale_lock_is_cleared_and_taken(tmp_path, monkeypatch):
    lock = tmp_path / "dataflowtemplates_spark" / "cds" / "dump.lock"
    lock.parent.mkdir(parents=True)
    gone = subprocess.Popen([sys.executable, "-c", "pass"])
    gone.wait()
    lock.write_text(str(gone.pid))
    launch = _plan(monkeypatch, tmp_path)
    try:
        assert launch.dump is not None and launch.dump[2] == str(lock)
        assert lock.read_text() == str(os.getpid())
        assert "-XX:ArchiveClassesAtExit=" in launch.flags
    finally:
        lock.unlink()


def test_opt_out_and_running_jvm_plan_nothing(spark, tmp_path, monkeypatch):
    from dataflowtemplates_spark.session import _jvm_running

    assert _jvm_running()  # build_session then leaves the JVM alone
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setenv(cds.OPT_OUT_ENV, "0")
    assert cds.plan({"spark.driver.memory": "1g"}) == cds.Launch()
    assert not (tmp_path / "dataflowtemplates_spark").exists()

