"""Start the local driver JVM from a dynamic class-data archive.

A fresh driver JVM loads, verifies and links thousands of Spark classes
from jars: at session build, in the first jobs and in the first Arrow
stage. JDK 17's dynamic AppCDS (JEP 350) writes the classes a JVM loaded
into an archive when it exits (``-XX:ArchiveClassesAtExit``); later JVMs
map that archive (``-XX:SharedArchiveFile``) and skip the work.
``session.build_session`` uses it when it launches the JVM for a
``local`` master, where the executors run in the driver JVM.

* The archive is ``${XDG_CACHE_HOME:-~/.cache}/dataflowtemplates_spark/
  cds/<key>.jsa``. The key hashes the JDK (its ``release`` file and
  module image), the Spark jars (names, sizes, mtimes) and the JVM flags
  the archive records (compressed oops, which follow the heap size, and
  a few explicit ``-XX`` flags). Only the current key's archive is kept.
* With no archive for the key, one process at a time (an ``O_EXCL``
  lock, cleared when its holder is gone) launches with
  ``-XX:ArchiveClassesAtExit=<tmp>``. An ``atexit`` hook waits for that
  JVM and publishes the file with ``os.replace`` only after a clean
  exit, so a killed or failed dump is never used. Other processes launch
  without CDS flags meanwhile.
* A non-empty directory on the classpath makes the dump refuse to run,
  and Spark's launcher puts ``$SPARK_CONF_DIR`` there. When the
  configured conf dir holds only ``*.template`` files (or is missing),
  the launch gets a private empty conf dir instead, which changes
  nothing Spark reads. Otherwise CDS is skipped with one stderr line.
* An archive that was not mapped is reported on stderr and removed, so
  the next launch rebuilds it.

``SPARK_GRAFT_CDS=0`` launches without an archive.
"""

from __future__ import annotations

import atexit
import hashlib
import json
import os
import re
import shlex
import shutil
import subprocess
import sys
import time
from typing import NamedTuple

#: ``0`` turns the archive off
OPT_OUT_ENV = "SPARK_GRAFT_CDS"
#: JVM log output on stderr only. HotSpot's default sends warnings to
#: stdout, where the CLI prints its result.
STDERR_LOGGING = "-Xlog:disable -Xlog:all=warning:stderr"
#: flags whose values the archive records and checks when it is mapped
_ARCHIVE_FLAGS = re.compile(
    r"-XX:[+-]?(UseCompressedOops|UseCompressedClassPointers|"
    r"ObjectAlignmentInBytes|SharedBaseAddress|Use\w+GC)\b")
#: HotSpot turns compressed oops off from a 32 GiB heap up
_COOPS_MAX_HEAP = 32 << 30
#: how long interpreter exit waits for a dumping JVM (measured: about
#: 12 s for a 180 MB archive)
_DUMP_WAIT_S = 300
#: a lock file without a pid is being written by its holder unless old
_LOCK_WRITE_S = 60


class Launch(NamedTuple):
    """The CDS part of one driver JVM launch."""
    flags: str = ""
    #: ``SPARK_CONF_DIR`` for the launch, or None to keep the process's
    conf_dir: str | None = None
    #: the archive the launch maps
    archive: str | None = None
    #: ``(tmp, archive, lock)`` of a dumping launch
    dump: tuple[str, str, str] | None = None


def _say(msg: str) -> None:
    print(f"dataflowtemplates_spark.cds: {msg}", file=sys.stderr, flush=True)


def _unlink(path: str) -> None:
    try:
        os.unlink(path)
    except FileNotFoundError:
        pass


def cache_dir() -> str:
    base = (os.environ.get("XDG_CACHE_HOME")
            or os.path.join(os.path.expanduser("~"), ".cache"))
    return os.path.join(base, "dataflowtemplates_spark", "cds")


def plan(confs: dict[str, str]) -> Launch:
    """Decide the CDS flags and conf dir of the driver JVM launch that
    ``confs`` (the session's ``spark.driver.*`` settings) configure."""
    if os.environ.get(OPT_OUT_ENV) == "0":
        return Launch()
    from pyspark.find_spark_home import _find_spark_home

    home = _find_spark_home()
    options = shlex.split(" ".join((
        os.environ.get("SPARK_SUBMIT_OPTS", ""),
        *(confs.get(f"spark.driver.{k}JavaOptions", "")
          for k in ("default", "extra")))))
    cache = cache_dir()
    empty = os.path.join(cache, "empty-conf")
    why = _unsupported(home, options, confs)
    if why is None:
        try:
            os.makedirs(empty, exist_ok=True)
        except OSError as exc:
            why = f"cannot create {empty}: {exc.strerror}"
    if why is None and os.listdir(empty):
        why = f"{empty} is not empty"
    if why is not None:
        _say(f"launching the JVM without a class-data archive: {why}")
        return Launch()
    archive = os.path.join(
        cache, f"{key(home, options, confs['spark.driver.memory'])}.jsa")
    if os.path.isfile(archive):
        return Launch(f"-XX:SharedArchiveFile={archive}", empty, archive)
    lock = _lock(os.path.join(cache, "dump.lock"))
    if lock is None:
        _say("another process is building the class-data archive; "
             "launching the JVM without one")
        return Launch()
    for name in os.listdir(cache):  # debris of killed dumps
        if name.endswith(".tmp"):
            _unlink(os.path.join(cache, name))
    tmp = f"{archive}.{os.getpid()}.tmp"
    _say(f"building the class-data archive {archive}; the JVM writes it "
         "when it exits")
    # the dump warns once per class it skips (signed jars, old class
    # versions): keep the cds tag to errors for this launch
    return Launch(f"-XX:ArchiveClassesAtExit={tmp} -Xlog:cds=error:stderr",
                  empty, dump=(tmp, archive, lock))


def _unsupported(home: str, options: list[str],
                 confs: dict[str, str]) -> str | None:
    """Why this launch cannot use an archive, or None."""
    for o in options:
        if o.startswith(("-XX:SharedArchiveFile", "-XX:ArchiveClassesAtExit")):
            return f"the JVM options already name an archive ({o})"
    if _java_home() is None:
        return "no java found through JAVA_HOME or PATH"
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"):
        if os.environ.get(var):
            return f"{var} adds to the driver classpath"
    if confs.get("spark.driver.extraClassPath"):
        return "spark.driver.extraClassPath adds to the driver classpath"
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(home, "conf")
    try:
        names = os.listdir(conf)
    except FileNotFoundError:
        names = []
    other = sorted(n for n in names if not n.endswith(".template"))
    if other:
        return (f"the Spark conf dir {conf} holds {other[0]}, and the dump "
                "refuses a non-empty directory on the classpath")
    return None


def _java_home() -> str | None:
    """The JDK Spark's launcher runs: ``$JAVA_HOME`` or ``java`` on PATH."""
    jh = os.environ.get("JAVA_HOME")
    java = os.path.join(jh, "bin", "java") if jh else shutil.which("java")
    if not java or not os.path.exists(java):
        return None
    return os.path.dirname(os.path.dirname(os.path.realpath(java)))


def _heap_bytes(memory: str) -> int:
    """``spark.driver.memory`` in bytes (MiB when it has no unit)."""
    m = re.fullmatch(r"(\d+)([kmgtp]?)b?", memory.strip().lower())
    if m is None:
        return 0
    return int(m[1]) << (10 * " kmgtp".index(m[2] or "m"))


def key(spark_home: str, options: list[str], memory: str) -> str:
    """The archive key: JDK, Spark jars and the flags the archive
    records. Any change names a new archive."""
    jdk = _java_home()

    def stat(path: str) -> list:
        try:
            st = os.stat(path)
        except FileNotFoundError:
            return []
        return [st.st_size, int(st.st_mtime)]

    try:
        with open(os.path.join(jdk, "release")) as fh:
            release = fh.read()
    except OSError:
        release = ""
    jars_dir = os.path.join(spark_home, "jars")
    jars = sorted([n, *stat(os.path.join(jars_dir, n))]
                  for n in os.listdir(jars_dir) if n.endswith(".jar"))
    parts = {"jdk": jdk, "release": release,
             "modules": stat(os.path.join(jdk, "lib", "modules")),
             "jars": jars,
             "flags": sorted(o for o in options if _ARCHIVE_FLAGS.match(o)),
             "coops": _heap_bytes(memory) < _COOPS_MAX_HEAP}
    return hashlib.sha256(json.dumps(parts).encode()).hexdigest()[:16]


def _lock(path: str) -> str | None:
    """Take the dump lock, clearing one whose holder is gone; None when
    a live process holds it."""
    for _ in range(2):
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            if _holder_alive(path):
                return None
            _unlink(path)
            continue
        os.write(fd, str(os.getpid()).encode())
        os.close(fd)
        return path
    return None


def _holder_alive(path: str) -> bool:
    try:
        with open(path) as fh:
            pid = int(fh.read() or 0)
        age = time.time() - os.path.getmtime(path)
    except FileNotFoundError:
        return False
    except ValueError:
        pid, age = 0, 0.0
    if pid <= 0:
        return age < _LOCK_WRITE_S
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def get_or_create(builder, launch: Launch):
    """``builder.getOrCreate()`` under the launch's conf dir, then either
    schedule the archive's publication at exit or check the mapping."""
    from pyspark import SparkContext

    saved = os.environ.get("SPARK_CONF_DIR")
    if launch.conf_dir:
        os.environ["SPARK_CONF_DIR"] = launch.conf_dir
    try:
        spark = builder.getOrCreate()
    except Exception:
        if launch.dump:
            _unlink(launch.dump[2])
        if launch.archive:
            _unlink(launch.archive)
            _say(f"the JVM did not start with the class-data archive "
                 f"{launch.archive}; removed it, the next launch rebuilds it")
        raise
    finally:
        if launch.conf_dir:
            if saved is None:
                os.environ.pop("SPARK_CONF_DIR", None)
            else:
                os.environ["SPARK_CONF_DIR"] = saved
    if launch.dump:
        atexit.register(_publish, SparkContext._gateway.proc, *launch.dump)
    elif launch.archive:
        _check_mapped(spark, launch.archive)
    return spark


def _check_mapped(spark, archive: str) -> None:
    """Report and remove an archive the JVM did not map: HotSpot falls
    back to its base archive without a warning for some causes."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    try:
        with open(f"/proc/{pid}/maps") as fh:
            maps = fh.read()
    except OSError:
        return  # no procfs: HotSpot's own warning is all there is
    if os.path.realpath(archive) not in maps:
        _unlink(archive)
        _say(f"the JVM did not map the class-data archive {archive}; "
             "removed it, the next launch rebuilds it")


def _publish(proc: subprocess.Popen, tmp: str, archive: str,
             lock: str) -> None:
    """At interpreter exit: stop the dumping JVM, wait for it, and move
    its archive into place only when it exited with status 0."""
    try:
        if proc.poll() is None:
            _stop_gateway(proc)
        try:
            rc = proc.wait(timeout=_DUMP_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            rc = proc.wait()
        if rc == 0 and os.path.isfile(tmp):
            os.replace(tmp, archive)
            cache = os.path.dirname(archive)
            for name in os.listdir(cache):  # only the current key's
                if name.endswith(".jsa") and name != os.path.basename(archive):
                    _unlink(os.path.join(cache, name))
        else:
            _say("the class-data archive was not built: " + (
                f"the JVM exited with status {rc}" if rc
                else "the JVM wrote no archive"))
    finally:
        _unlink(tmp)
        _unlink(lock)


def _stop_gateway(proc: subprocess.Popen) -> None:
    """Stop the session and the py4j gateway of a JVM still running at
    exit, then close its stdin: the gateway server exits on EOF."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None and getattr(gateway, "proc", None) is proc:
        try:
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
            gateway.shutdown()
        except Exception as exc:  # the wait below decides either way
            _say(f"stopping the session at exit: {exc!r}")
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc.stdin:
        proc.stdin.close()
