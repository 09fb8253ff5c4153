"""Per-layer metrics of a traced run.

Every traced run prints every per-layer metric. Layers that both
workloads exercise report seconds; a layer that only one workload
exercises reports a rate (rows or calls per second of that layer's
span time) or a count, so that on the workload that bypasses it the
value is a zero rate or count rather than a constant zero time. The
per-span seconds of every layer are in the run's spans file.
"""

from __future__ import annotations

import json
import os
import statistics

from perfbench.export import FAMILIES

_SHARED = {
    "session.cold_build_s": "s",
    "session.build_s": "s",
    "catalog.register_s": "s",
    "sqlrunner.run_query_s": "s",
    "templates.self_s": "s",
    "client.call_p50_s": "s",
    "harness.self_s": "s",
    "trace.overhead_s": "s",
    "trace.accounted_share": "ratio",
    "jvm.gc_s": "s",
    "jvm.heap_peak_mb": "MB",
    "jvm.code_cache_mb": "MB",
    "spark.jobs_per_pass": "count",
    "spark.tasks_per_pass": "count",
    "spark.failed_tasks": "count",
}
_EXPORT = {
    "writers.pass_share": "ratio",
    "queries.pass_share": "ratio",
    "writers.json_rows_per_s": "1/s",
    "writers.csv_rows_per_s": "1/s",
    "avro_io.rows_per_s": "1/s",
    "tfrecord.rows_per_s": "1/s",
    "writers.files_out": "count",
    "writers.bytes_out": "B",
    "writers.spark_jobs": "count",
    **{f"queries.{f}_per_s": "1/s" for f in FAMILIES},
}
_KEYED = {
    "mutations.pass_share": "ratio",
    "s3.pass_share": "ratio",
    "generator.rows_per_s": "1/s",
    "mutations.bulk_rows_per_s": "1/s",
    "mutations.upsert_per_s": "1/s",
    "mutations.delete_per_s": "1/s",
    "mutations.cdc_per_s": "1/s",
    "mutations.update_missing_per_s": "1/s",
    "mutations.vacuum_per_s": "1/s",
    "mutations.s3_upsert_per_s": "1/s",
    "mutations.spark_jobs_per_commit": "count",
    "mutations.spark_tasks_per_commit": "count",
    "mutations.buckets_touched_per_commit": "count",
    "mutations.write_amp": "ratio",
    "mutations.read_at_cold_per_s": "1/s",
    "mutations.read_at_warm_per_s": "1/s",
    "reads.recent_full_per_s": "1/s",
    "reads.old_narrow_per_s": "1/s",
    "keyedtable_source.scan_per_s": "1/s",
    "s3.requests_per_commit": "count",
    "s3.put_bytes_per_commit": "B",
    "s3.requests_per_read": "count",
    "s3.list_requests_per_read": "count",
    "s3.get_bytes_per_read": "B",
    "s3.server_share": "ratio",
    "s3.status_4xx": "count",
}
UNITS = {**_SHARED, **_EXPORT, **_KEYED}


def _rate(units: float, seconds: float) -> float:
    return units / seconds if seconds > 0 else 0.0


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def layer_metrics(wl, tracer, client, passes, windows, jvm0, jvm1) -> dict:
    n_tr = len(windows)
    in_pass = [s for s in tracer.spans
               if any(a <= s["start"] < b for a, b in windows)]
    self_t: dict[str, float] = {}
    for w in windows:
        for k, v in tracer.self_times(within=w).items():
            self_t[k] = self_t.get(k, 0.0) + v / n_tr

    def spans(name: str) -> list[float]:
        return [s["end"] - s["start"] for s in in_pass if s["name"] == name]

    def per_s(name: str, units_per_call: float = 1.0) -> float:
        d = spans(name)
        return _rate(units_per_call * len(d), sum(d))

    def pass_share(*prefixes: str) -> float:
        """Share of the traced pass time spent in client calls of the
        given kinds."""
        return sum(dt for k, dt, _ in client.calls
                   if k.startswith(prefixes)) / sum(passes)

    traced = statistics.median(passes)
    spanned = sum(self_t.values())
    setup_spans = [s for s in tracer.spans if s not in in_pass]
    builds = [s["end"] - s["start"] for s in setup_spans
              if s["name"] == "session.build"]
    registers = [s["end"] - s["start"] for s in setup_spans
                 if s["name"] == "catalog.register"]
    jobs = client.jobs.counts()
    all_jobs = [c for per_kind in jobs.values() for c in per_kind]
    m = {name: 0.0 for name in UNITS}
    m.update({
        # the first set-up launches the JVM; the others match setup_s
        "session.cold_build_s": builds[0],
        "session.build_s": statistics.median(builds[1:]),
        "catalog.register_s": statistics.median(registers[1:]),
        "sqlrunner.run_query_s": self_t.get("sqlrunner.run_query", 0.0),
        "templates.self_s": sum(v for k, v in self_t.items()
                                if k.startswith("templates.")),
        "client.call_p50_s": statistics.median(client.latencies()),
        "harness.self_s": traced - spanned,
        "trace.overhead_s": tracer.overhead_s / len(passes),
        "trace.accounted_share": spanned / traced,
        "jvm.gc_s": (jvm1["gc_s"] - jvm0["gc_s"]) / len(passes),
        "jvm.heap_peak_mb": jvm1["heap_peak_mb"],
        "jvm.code_cache_mb": jvm1["code_cache_mb"],
        "spark.jobs_per_pass": sum(j for j, _, _ in all_jobs) / len(passes),
        "spark.tasks_per_pass": sum(t for _, t, _ in all_jobs) / len(passes),
        "spark.failed_tasks": sum(f for _, _, f in all_jobs),
    })
    if wl.name == "export":
        rows = wl.n_rows
        m.update({
            "writers.pass_share": pass_share("templates."),
            "queries.pass_share": pass_share("queries."),
            "writers.json_rows_per_s": per_s("writers.text_json", rows),
            "writers.csv_rows_per_s": per_s("writers.text_csv", rows),
            "avro_io.rows_per_s": per_s("avro_io.write", rows),
            "tfrecord.rows_per_s": per_s("tfrecord.write", rows),
            "writers.files_out": statistics.median(wl.files_out),
            "writers.bytes_out": statistics.median(wl.out_bytes),
            "writers.spark_jobs": sum(
                j for k, calls in jobs.items() if k.startswith("templates.")
                for j, _, _ in calls) / len(passes),
        })
        for fam in FAMILIES:
            name = f"call.queries.{fam}"
            n = len(spans(name))
            m[f"queries.{fam}_per_s"] = _rate(n / n_tr, self_t.get(name, 0))
    else:
        from perfbench.keyed import N0
        upserts = jobs.get("mutations.upsert", [])
        m.update({
            "mutations.pass_share": pass_share("mutations.") - pass_share(
                "mutations.s3_"),
            "s3.pass_share": pass_share("mutations.s3_", "read."),
            "generator.rows_per_s": per_s("generator.generate", N0),
            "mutations.bulk_rows_per_s": per_s("mutations.insert", N0),
            "mutations.upsert_per_s": per_s("mutations.upsert"),
            "mutations.delete_per_s": per_s("mutations.delete"),
            "mutations.cdc_per_s": per_s("mutations.cdc"),
            "mutations.update_missing_per_s": per_s("mutations.update"),
            "mutations.vacuum_per_s": per_s("mutations.vacuum"),
            "mutations.s3_upsert_per_s": per_s("mutations.s3_upsert"),
            "mutations.spark_jobs_per_commit": _mean(j for j, _, _ in upserts),
            "mutations.spark_tasks_per_commit": _mean(
                t for _, t, _ in upserts),
            "mutations.buckets_touched_per_commit": wl.buckets_per_upsert,
            "mutations.write_amp": wl.write_amp,
            "mutations.read_at_cold_per_s": per_s("mutations.read_at_cold"),
            "mutations.read_at_warm_per_s": per_s("mutations.read_at_warm"),
            "reads.recent_full_per_s": per_s("call.read.recent_full"),
            "reads.old_narrow_per_s": per_s("call.read.old_narrow"),
            "keyedtable_source.scan_per_s": per_s("call.read.scan"),
        })
        commits = [c for k, c in wl.s3_calls if k == "mutations.s3_upsert"]
        reads = [c for k, c in wl.s3_calls if k.startswith("read.")]
        s3_time = sum(dt for k, dt, _ in client.calls
                      if k.startswith(("read.", "mutations.s3_")))
        m.update({
            "s3.requests_per_commit": _mean(c["requests"] for c in commits),
            "s3.put_bytes_per_commit": _mean(c["put_bytes"] for c in commits),
            "s3.requests_per_read": _mean(c["requests"] for c in reads),
            "s3.list_requests_per_read": _mean(
                c["list_requests"] for c in reads),
            "s3.get_bytes_per_read": _mean(c["get_bytes"] for c in reads),
            "s3.server_share": _rate(
                sum(c["server_s"] for _, c in wl.s3_calls), s3_time),
            "s3.status_4xx": sum(c["status_4xx"] for _, c in wl.s3_calls),
        })
    return m


def buckets_touched(table_path: str, first: int, last: int) -> float:
    """Mean number of buckets named by the local table's commit objects
    for versions first..last (read from the on-disk commit log)."""
    log = os.path.join(table_path, "_log")
    counts = []
    for v in range(first, last + 1):
        with open(os.path.join(log, f"{v:020d}.json")) as fh:
            counts.append(len(json.load(fh).get("buckets", [])))
    return _mean(counts)
