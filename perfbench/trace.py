"""Tracing for the benchmark's traced runs.

Spans are recorded from the benchmark's own code, around calls into
each layer's public functions: the tracer swaps a wrapper into every
loaded ``dataflowtemplates_spark`` module namespace that holds the
original function (templates import their collaborators by name, so
patching only the defining module would miss those call sites), and
restores the originals on ``unwrap_all``. Spans carry name, start,
end, parent and run id, stay in memory, and are written out at exit.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_PKG = "dataflowtemplates_spark"


class Tracer:
    """In-memory span recorder for one benchmark run (single driver
    thread: the benchmark is a closed loop with one caller)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        #: time spent in the tracer's own wrapper code, outside the
        #: wrapped calls (a lower bound on tracing overhead)
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            if rec["end"] is None:
                rec["end"] = time.perf_counter()

    def wrap(self, owner, attr: str, name):
        """Record a span around every call of ``owner.attr`` — in
        ``owner`` and in each package module that imported the same
        object by name. ``name`` is a string or a function of the call's
        (args, kwargs) returning one."""
        orig = getattr(owner, attr)
        if getattr(orig, "_bench_traced", False):
            return
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            label = name(args, kwargs) if callable(name) else name
            with tracer.span(label) as rec:
                rec["start"] = t1 = time.perf_counter()
                try:
                    return orig(*args, **kwargs)
                finally:
                    rec["end"] = t2 = time.perf_counter()
                    tracer.overhead_s += (t1 - t0) + (
                        time.perf_counter() - t2)

        traced._bench_traced = True
        targets = [(owner, attr)]
        if not isinstance(owner, type):
            for mod_name, mod in list(sys.modules.items()):
                if (mod is not None and mod is not owner
                        and mod_name.startswith(_PKG)
                        and vars(mod).get(attr) is orig):
                    targets.append((mod, attr))
        for obj, a in targets:
            self._patches.append((obj, a, orig))
            setattr(obj, a, traced)

    def unwrap_all(self) -> None:
        for obj, attr, orig in reversed(self._patches):
            setattr(obj, attr, orig)
        self._patches.clear()

    def self_times(self, within: tuple[float, float] | None = None
                   ) -> dict[str, float]:
        """Per-name self time: each span's duration minus the time its
        direct children cover. ``within`` keeps only spans that start
        inside the (start, end) window."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is None:
                continue
            if within and not (within[0] <= s["start"] < within[1]):
                continue
            out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------------------
# Spark job/task counts per call, via job groups and the status tracker
# ---------------------------------------------------------------------------


class JobCounter:
    """Tags every Spark job a call starts with a per-call job group and
    reads the jobs' stage/task counts back from ``statusTracker`` after
    the timed region."""

    def __init__(self, sc):
        self.sc = sc
        self.groups: list[tuple[str, str]] = []

    @contextmanager
    def group(self, kind: str):
        gid = f"bench-{len(self.groups)}"
        self.groups.append((gid, kind))
        self.sc.setJobGroup(gid, kind)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self) -> dict[str, list[tuple[int, int, int]]]:
        """kind -> [(jobs, tasks, failed_tasks)] per call."""
        tracker = self.sc.statusTracker()
        out: dict[str, list] = defaultdict(list)
        for gid, kind in self.groups:
            jobs = tasks = failed = 0
            for jid in tracker.getJobIdsForGroup(gid):
                jobs += 1
                info = tracker.getJobInfo(jid)
                for st in (info.stageIds if info else []):
                    sinfo = tracker.getStageInfo(st)
                    if sinfo:
                        tasks += sinfo.numTasks
                        failed += sinfo.numFailedTasks
            out[kind].append((jobs, tasks, failed))
        return dict(out)


def jvm_stats(spark) -> dict[str, float]:
    """GC time, heap peak and code-cache use from the driver JVM's
    MXBeans (local mode runs the executors in the same JVM)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(max(int(b.getCollectionTime()), 0)
                for b in mf.getGarbageCollectorMXBeans())
    heap = code = 0
    for pool in mf.getMemoryPoolMXBeans():
        name = str(pool.getName())
        if str(pool.getType().toString()) == "Heap memory":
            heap += int(pool.getPeakUsage().getUsed())
        elif "Code" in name:
            code += int(pool.getUsage().getUsed())
    return {"gc_s": gc_ms / 1000.0, "heap_peak_mb": heap / 2**20,
            "code_cache_mb": code / 2**20}


# ---------------------------------------------------------------------------
# S3 emulator request counters, counted at the handler's dispatch
# ---------------------------------------------------------------------------


class S3Counters:
    """Counts requests, statuses and bytes at the emulator's request
    dispatch by subclassing its handler class from outside."""

    METHODS = ("do_GET", "do_PUT", "do_POST", "do_DELETE", "do_HEAD")

    def __init__(self, emu):
        self.emu = emu
        self._lock = threading.Lock()
        self.reset()
        base = emu._server.RequestHandlerClass
        counters = self

        def timed(method):
            orig = getattr(base, method)

            def handler(self):
                t0 = time.perf_counter()
                try:
                    return orig(self)
                finally:
                    counters._record(self, time.perf_counter() - t0)
            return handler

        def send_response(self, code, message=None):
            if code >= 400:
                with counters._lock:
                    counters.status_4xx += int(code < 500)
            return base.send_response(self, code, message)

        attrs = {m: timed(m) for m in self.METHODS if hasattr(base, m)}
        attrs["send_response"] = send_response
        emu._server.RequestHandlerClass = type(
            "CountedS3Handler", (base,), attrs)

    def reset(self) -> None:
        with self._lock:
            self.requests = 0
            self.list_requests = 0
            self.put_bytes = 0
            self.server_s = 0.0
            self.status_4xx = 0
            self.emu.object_get_bytes = 0

    def _record(self, handler, dt: float) -> None:
        with self._lock:
            self.requests += 1
            self.server_s += dt
            if handler.command == "GET" and "list-type=" in handler.path:
                self.list_requests += 1
            if handler.command in ("PUT", "POST"):
                self.put_bytes += int(
                    handler.headers.get("Content-Length") or 0)

    def snapshot(self) -> dict[str, float]:
        with self._lock:
            return {"requests": self.requests,
                    "list_requests": self.list_requests,
                    "put_bytes": self.put_bytes,
                    "get_bytes": self.emu.object_get_bytes,
                    "server_s": self.server_s,
                    "status_4xx": self.status_4xx}
