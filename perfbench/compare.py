"""Compare two sets of benchmark runs: a parent commit and a change.

    python3 perfbench/compare.py PARENT CHANGE [--json OUT]

PARENT and CHANGE are run records (``.perfbench_runs/results/*.json``
as written by ``perfbench/run.py``), given as files or directories.
Untraced runs of each side are paired in the order they ran, so run the
two sides alternately (parent, change, parent, ...). For every
(end-to-end metric, workload) the verdict follows this rule:

* ``improved``: the change wins at least 9 of 10 pairs (ties count for
  neither side) and the medians differ by more than the parent's own
  spread (the distance between its quartiles);
* ``regressed``: the change's median is worse than the parent's by more
  than the metric's bound from BENCHMARK.json;
* ``unresolved``: the parent's spread, as a share of its median, is
  wider than the bound, unless every change run reads better (or every
  one worse) than every parent run;
* ``within bound`` otherwise.

A gain does not count when the change fails more operations than the
parent; the table reports both sides' failures. Traced runs give each
side's tracing overhead: median traced pass time minus median untraced
``job_s``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WIN_SHARE = 0.9


def load_records(path: str) -> list[dict]:
    files = (sorted(glob.glob(os.path.join(path, "*.json")))
             if os.path.isdir(path) else [path])
    out = []
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        if "result" in rec and "workload" in rec:
            out.append(rec)
    # run ids start with workload-seed-trace-<timestamp>-pid: order by
    # the timestamp so pairs follow execution order
    return sorted(out, key=lambda r: r["run_id"].split("-")[3:])


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], better: str,
            bound: float) -> dict:
    sign = -1.0 if better == "lower" else 1.0
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    p_q1, p_med, p_q3 = _quartiles(parent)
    c_q1, c_med, c_q3 = _quartiles(change)
    p_iqr = p_q3 - p_q1
    spread = p_iqr / p_med if p_med else float("inf")
    gain = sign * (c_med - p_med)
    worse_share = -gain / p_med if p_med else 0.0
    all_better = min(sign * c for c in change) > max(sign * p for p in parent)
    all_worse = max(sign * c for c in change) < min(sign * p for p in parent)
    if pairs and wins / len(pairs) >= WIN_SHARE and gain > p_iqr:
        v = "improved"
    elif worse_share > bound:
        v = "regressed"
    elif spread > bound and not (all_better or all_worse):
        v = "unresolved"
    else:
        v = "within bound"
    return {"verdict": v, "pairs": len(pairs), "wins": wins,
            "parent": {"median": p_med, "q1": p_q1, "q3": p_q3,
                       "n": len(parent)},
            "change": {"median": c_med, "q1": c_q1, "q3": c_q3,
                       "n": len(change)},
            "parent_spread": spread, "worse_share": worse_share,
            "bound": bound}


def _overhead(records: list[dict]) -> float | None:
    traced = [statistics.median(r["passes"]) for r in records
              if r["trace"] and r.get("passes")]
    plain = [r["result"]["metrics"]["job_s"]["value"] for r in records
             if not r["trace"] and "job_s" in r["result"]["metrics"]]
    if not traced or not plain:
        return None
    return statistics.median(traced) - statistics.median(plain)


def compare(parent: list[dict], change: list[dict], bench: dict) -> dict:
    out = {}
    workloads = [w["name"] for w in bench["workloads"]]
    for wl in workloads:
        p_runs = [r for r in parent if r["workload"] == wl and not r["trace"]]
        c_runs = [r for r in change if r["workload"] == wl and not r["trace"]]
        if not p_runs or not c_runs:
            continue
        rows = {}
        for m in bench["end_to_end"]:
            name = m["name"]
            pv = [r["result"]["metrics"][name]["value"] for r in p_runs]
            cv = [r["result"]["metrics"][name]["value"] for r in c_runs]
            rows[name] = verdict(pv, cv, m["better"], m["bound"])
        out[wl] = {
            "metrics": rows,
            "failed": {"parent": sum(r["result"]["failed"] for r in p_runs),
                       "change": sum(r["result"]["failed"] for r in c_runs)},
            "trace_overhead_s": {
                "parent": _overhead([r for r in parent
                                     if r["workload"] == wl]),
                "change": _overhead([r for r in change
                                     if r["workload"] == wl])},
        }
        if out[wl]["failed"]["change"] > out[wl]["failed"]["parent"]:
            for row in rows.values():
                if row["verdict"] == "improved":
                    row["verdict"] = "not counted (more failures)"
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--bench", default=os.path.join(ROOT, "BENCHMARK.json"))
    ap.add_argument("--json", dest="json_out")
    args = ap.parse_args(argv)
    with open(args.bench) as fh:
        bench = json.load(fh)
    report = compare(load_records(args.parent), load_records(args.change),
                     bench)
    for wl, body in report.items():
        print(f"== {wl}  failed parent={body['failed']['parent']} "
              f"change={body['failed']['change']}  tracing overhead "
              f"{body['trace_overhead_s']}")
        for name, r in body["metrics"].items():
            print(f"  {name:14s} {r['verdict']:28s} "
                  f"parent {r['parent']['median']:.4g} "
                  f"[{r['parent']['q1']:.4g}, {r['parent']['q3']:.4g}] "
                  f"change {r['change']['median']:.4g} "
                  f"[{r['change']['q1']:.4g}, {r['change']['q3']:.4g}] "
                  f"wins {r['wins']}/{r['pairs']} "
                  f"spread {r['parent_spread']:.3f} bound {r['bound']}")
    if args.json_out:
        with open(args.json_out, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
