"""Benchmark entry point.

    python3 perfbench/run.py --workload {export,keyed_sync} --seed N \\
        --seconds S --trace {0,1}

Runs one workload as a single closed-loop client against the engine's
public template entry points, on ``local[<cpus>]``. A run generates its
inputs from the seed, sets the program up once with the JVM launch and
then ``WARM_SETUPS`` more times in the running JVM (reporting the median
of those), runs timed passes until ``--seconds`` of pass time have
elapsed (at least one), verifies every pass's outputs against an oracle
outside the clock, and prints one JSON result as the last line of
standard output. With ``--trace 1`` the run records spans around each
layer's public functions and prints the per-layer metrics instead of
the end-to-end ones. The full record (environment, seed, traffic
dimensions, both metric sets) and, for traced runs, the spans are kept
under ``.perfbench_runs/results/``. The exit code is nonzero when any
output was wrong or any call failed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

#: set-ups after the first (which also launches the JVM); ``setup_s``
#: is their median, so every repetition measures the same thing
WARM_SETUPS = 5

END_TO_END_UNITS = {
    "setup_s": "s", "job_s": "s", "peak_rss_mb": "MB", "space_amp": "ratio",
}


def _workload(name: str):
    if name == "export":
        from perfbench.export import Export
        return Export()
    if name == "keyed_sync":
        from perfbench.keyed import KeyedSync
        return KeyedSync()
    raise SystemExit(f"unknown workload {name!r}")


def _install_layer_spans(tracer) -> None:
    """Spans around each layer's public functions, recorded from here."""
    from dataflowtemplates_spark import templates
    from dataflowtemplates_spark.operators import (
        avro_io, httpstore, mutations, objstore_plane, s3http, sigv4,
        tfrecord)
    from dataflowtemplates_spark.plans import sqlrunner
    from dataflowtemplates_spark.sources import generator, writers

    for fn in ("table_to_text", "table_to_columnar", "query_to_tfrecord",
               "query_to_keyed_table", "query_delete_keyed_table",
               "files_to_keyed_table", "generate_to_keyed_table"):
        tracer.wrap(templates, fn, f"templates.{fn}")
    tracer.wrap(sqlrunner, "run_query", "sqlrunner.run_query")
    tracer.wrap(writers, "write_text_dynamic",
                lambda a, k: f"writers.text_{k.get('fmt', 'json')}")
    tracer.wrap(writers, "write_columnar_dynamic", "writers.columnar")
    tracer.wrap(avro_io, "write_avro", "avro_io.write")
    tracer.wrap(tfrecord, "write_tfrecords", "tfrecord.write")
    tracer.wrap(generator, "generate_table", "generator.generate")

    kt = mutations.KeyedTable
    ops = {"INSERT": "insert", "INSERT_OR_UPDATE": "upsert",
           "UPDATE": "update", "REPLACE": "replace", "DELETE": "delete"}

    def where(t) -> str:
        return "s3_" if "://" in t.path else ""

    tracer.wrap(kt, "apply_mutations", lambda a, k: (
        f"mutations.{where(a[0])}"
        f"{ops[str(a[2] if len(a) > 2 else k['op']).upper()]}"))
    tracer.wrap(kt, "apply_changes", "mutations.cdc")
    tracer.wrap(kt, "vacuum", lambda a, k: f"mutations.{where(a[0])}vacuum")
    tracer.wrap(kt, "create", "mutations.create")
    tracer.wrap(kt, "read_at", lambda a, k: (
        "mutations.read_at_warm" if a[0]._log_cache
        else "mutations.read_at_cold"))
    tracer.wrap(objstore_plane, "write_partitioned", "objstore_plane.write")
    tracer.wrap(objstore_plane, "read_parquet", "objstore_plane.read")
    tracer.wrap(s3http.S3HttpBackend, "_request", "s3http.request")
    tracer.wrap(httpstore.HttpObjectTransport, "_roundtrip",
                "httpstore.roundtrip")
    tracer.wrap(sigv4, "sign_headers", "sigv4.sign")


def run(args) -> int:
    if not os.path.isdir(os.path.join(harness.ROOT,
                                      "dataflowtemplates_spark")):
        print("perfbench: the engine package dataflowtemplates_spark is "
              f"not in {harness.ROOT}", file=sys.stderr)
        return 2
    run_id = (f"{args.workload}-s{args.seed}-t{args.trace}-"
              f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
    env = harness.pin_environment(run_id)
    scratch = env["scratch"]
    steal0 = harness.host_steal_s()
    rss = harness.RssSampler().start()
    wl = _workload(args.workload)
    record = {"run_id": run_id, "workload": args.workload,
              "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "env": env}
    try:
        t0 = time.perf_counter()
        record["traffic"] = wl.make_inputs(
            os.path.join(scratch, "work"), args.seed)
        record["inputs_s"] = time.perf_counter() - t0
        result = _measure(args, wl, scratch, record)
    finally:
        harness.shutdown_jvm()
        result_rss = rss.stop()
        harness.remove_scratch(scratch)
    if not args.trace:
        result["metrics"]["peak_rss_mb"] = {"value": result_rss,
                                            "unit": "MB"}
    record["result"] = result
    record["host_steal_s"] = harness.host_steal_s() - steal0
    os.makedirs(harness.RESULTS_DIR, exist_ok=True)
    with open(os.path.join(harness.RESULTS_DIR, f"{run_id}.json"),
              "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def _measure(args, wl, scratch: str, record: dict) -> dict:
    from perfbench.client import Client
    from perfbench.trace import JobCounter, Tracer, jvm_stats

    tracer = Tracer(record["run_id"]) if args.trace else None
    if tracer:
        from dataflowtemplates_spark import catalog, session
        tracer.wrap(session, "build_session", "session.build")
        tracer.wrap(catalog, "register_tables", "catalog.register")

    setups = []
    for k in range(1 + WARM_SETUPS):
        t0 = time.perf_counter()
        spark = harness.build_spark(scratch)
        wl.prepare(spark)
        setups.append(time.perf_counter() - t0)
        if k < WARM_SETUPS:
            wl.release()
            spark.stop()

    if tracer:
        tracer.unwrap_all()  # in-pass catalog calls belong to queries
        client = Client(tracer=tracer, jobs=JobCounter(spark.sparkContext))
        wl.enable_tracing()
        jvm0 = jvm_stats(spark)
    else:
        client = Client()
    passes: list[float] = []
    problems: list[str] = []
    windows = []
    timed_total = 0.0
    i = 0
    while True:
        if tracer:
            _install_layer_spans(tracer)
        off0 = client.off_clock_s
        t0 = time.perf_counter()
        wl.run_pass(spark, client, i)
        t1 = time.perf_counter()
        if tracer:
            tracer.unwrap_all()
            windows.append((t0, t1))
        passes.append(t1 - t0 - (client.off_clock_s - off0))
        timed_total += passes[-1]
        t2 = time.perf_counter()
        try:
            problems += wl.verify_pass(i)
        except Exception as exc:  # unreadable output counts as wrong
            problems.append(f"pass {i} verification raised {exc!r}")
        record.setdefault("verify_s", []).append(time.perf_counter() - t2)
        i += 1
        if timed_total >= args.seconds:
            break
    wl.release()
    wl.close()

    failed_calls = client.failed
    attempted = len(client.calls)
    mismatches = len(problems)
    for p in problems:
        print(f"MISMATCH: {p}", file=sys.stderr)
    record["problems"] = problems
    record["passes"] = passes
    record["calls"] = client.calls
    record["setups"] = setups  # the first one also launched the JVM
    correct = mismatches == 0 and failed_calls == 0
    result = {"correct": correct, "attempted": attempted,
              "failed": min(attempted, failed_calls + mismatches)}
    if not tracer:
        metrics = {
            "setup_s": statistics.median(setups[1:]),
            "job_s": statistics.median(passes),
            "space_amp": wl.space_amp(),
        }
    else:
        from perfbench.layers import layer_metrics
        metrics = layer_metrics(wl, tracer, client, passes, windows,
                                jvm0, jvm_stats(spark))
        os.makedirs(harness.RESULTS_DIR, exist_ok=True)
        tracer.write(os.path.join(harness.RESULTS_DIR,
                                  f"{record['run_id']}.spans.jsonl"))
    result["metrics"] = {k: {"value": v, "unit": _unit(k)}
                         for k, v in metrics.items()}
    return result


def _unit(name: str) -> str:
    from perfbench.layers import UNITS
    return END_TO_END_UNITS.get(name) or UNITS[name]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("export", "keyed_sync"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
