"""The benchmark's single closed-loop caller: one call at a time, the
next only after the previous one returned."""

from __future__ import annotations

import sys
import time
import traceback
from contextlib import contextmanager, nullcontext


class Client:
    """Times each call from invocation to its return (callers make the
    call return only once its result is complete: files finalized,
    rows collected). An exception is recorded as a failed call and the
    loop goes on. In traced runs ``tracer`` (a trace.Tracer) records a
    ``call.<kind>`` span around each call and ``jobs`` (a
    trace.JobCounter) tags each call's Spark jobs."""

    def __init__(self, tracer=None, jobs=None):
        self.tracer = tracer
        self.jobs = jobs
        self.calls: list[tuple[str, float, bool]] = []
        #: time spent in ``off_clock`` sections; pass times exclude it
        self.off_clock_s = 0.0

    def call(self, kind: str, fn, *args, **kwargs):
        span = (self.tracer.span(f"call.{kind}") if self.tracer
                else nullcontext())
        group = self.jobs.group(kind) if self.jobs else nullcontext()
        t0 = time.perf_counter()
        try:
            with span, group:
                out = fn(*args, **kwargs)
        except Exception:
            self.calls.append((kind, time.perf_counter() - t0, False))
            print(f"call {kind} failed:", file=sys.stderr)
            traceback.print_exc()
            return None
        self.calls.append((kind, time.perf_counter() - t0, True))
        return out

    @contextmanager
    def off_clock(self):
        """Harness bookkeeping between calls of a pass (traced runs'
        layer counters), excluded from the pass time."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.off_clock_s += time.perf_counter() - t0

    def latencies(self) -> list[float]:
        return [dt for _, dt, _ in self.calls]

    @property
    def failed(self) -> int:
        return sum(1 for _, _, ok in self.calls if not ok)
