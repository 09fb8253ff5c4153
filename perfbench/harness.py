"""Run environment, process-tree memory sampling and Spark lifetime for
one benchmark run.

Everything a run writes lives under ``<checkout>/.perfbench_runs/``: a
per-run scratch root (Spark local dirs, temp files, fixture, outputs,
table directories) that is removed when the run ends, and a
``results/`` directory that keeps each run's full record and trace.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
RESULTS_DIR = os.path.join(RUNS_DIR, "results")

#: Session confs the benchmark adds on top of the engine's own: no
#: console progress bars (they interleave with the result line) and a
#: job history long enough for the per-call job counts of a traced run.
BENCH_CONFS = {
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment(run_id: str) -> dict:
    """Fix the settings the engine reads from the environment before any
    Spark import, create the per-run scratch root, and return both as
    the run's recorded environment.

    * ``SPARK_GRAFT_CPUS`` from the CPUs this process may run on
      (``build_session`` otherwise defaults to 32 task slots).
    * ``SPARK_GRAFT_DRIVER_MEM`` at 2 GiB, capped to a quarter of
      MemTotal (the engine default of 16g exceeds small hosts).
    * ``PYTHONPATH`` carrying the checkout, so Python workers can import
      the engine.
    * ``SPARK_LOCAL_DIRS`` and ``TMPDIR`` inside the per-run scratch.
    """
    scratch = os.path.join(RUNS_DIR, run_id)
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(scratch, "spark-local"), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    mem_mb = min(2048, _mem_total_bytes() // 4 // 2**20)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "spark-local"),
        "TMPDIR": os.path.join(scratch, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(env)
    # the engine, the driver contract module and tools/local_verify
    for path in (os.path.join(ROOT, "tools"), ROOT):
        if path not in sys.path:
            sys.path.insert(0, path)
    return {"scratch": scratch, "cpus": cpus, "env": env,
            "python": sys.version.split()[0],
            "mem_total_mb": _mem_total_bytes() // 2**20}


def remove_scratch(scratch: str) -> None:
    shutil.rmtree(scratch, ignore_errors=True)


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    host's CPUs (the ``steal`` column of /proc/stat). Its growth during
    a run is recorded with the run: contention from outside the
    benchmark slows every call of a run alike."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# Peak resident memory of this process and all its descendants
# ---------------------------------------------------------------------------


def _tree_rss_bytes(root: int, page: int) -> int:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the resident memory of the process tree rooted at this
    process (the driver, its JVM and the JVM's Python workers) from
    /proc every ``interval`` seconds and keeps the peak."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(root, self._page))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MiB."""
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak / 2**20


# ---------------------------------------------------------------------------
# Spark session lifetime
# ---------------------------------------------------------------------------


def build_spark(scratch: str):
    from dataflowtemplates_spark.session import build_session
    confs = dict(BENCH_CONFS)
    confs["spark.sql.warehouse.dir"] = os.path.join(scratch, "warehouse")
    # JVM temp files and perf data stay inside the run's scratch.
    confs["spark.driver.defaultJavaOptions"] = (
        f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')} -XX:-UsePerfData")
    return build_session("perfbench", extra_confs=confs)


def shutdown_jvm() -> None:
    """Stop the active session and the JVM the Python gateway launched,
    and wait until the JVM process has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception as exc:  # gateway already gone: only the wait matters
        print(f"gateway shutdown: {exc!r}", file=sys.stderr)
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
