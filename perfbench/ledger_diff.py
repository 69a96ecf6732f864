#!/usr/bin/env python3
"""Compare the ledgers of two traced runs of one workload.

    python3 perfbench/ledger_diff.py <before> <after>

Each argument is a run directory (perfbench/target/runs/<workload>-seed<n>-trace1)
or its result.json. Counts -- SQL executions, jobs, stages, tasks, AQE
re-plans, loop build executions, codegen compiles -- are flagged on any
change: they are the regression signal that survives machine noise. Times and
sizes are flagged only when they move by more than the benchmark's bound (the
largest end-to-end bound in BENCHMARK.json other than setup_s's) and by more
than an absolute floor (50 ms, 1 ms for millisecond metrics, 1 MB). The
per-layer metrics are compared first, then every query's cold and warm ledger
entries.
Exits 1 when anything is flagged.
"""
import argparse
import json
import os
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def load(path):
    if os.path.isdir(path):
        path = os.path.join(path, "result.json")
    with open(path) as fh:
        res = json.load(fh)
    if not res.get("trace"):
        sys.exit(f"{path} is not a traced run (run with --trace 1)")
    return res


# Changes smaller than these are below what the run can resolve and are
# never flagged, whatever their relative size.
MIN_CHANGE = {"s": 0.05, "ms": 1.0, "MB": 1.0, "fraction": 0.05}


def benchmark_bound():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return max(m["bound"] for m in spec["end_to_end"] if m["name"] != "setup_s")


def compare(label, name, a, b, unit, bound):
    """A finding line when a metric moved enough to report, else None."""
    if unit == "count":
        if a != b:
            return f"COUNT {label} {name}: {a:g} -> {b:g} ({b - a:+g})"
        return None
    if abs(b - a) < MIN_CHANGE.get(unit, 0.0):
        return None
    if a == 0:
        return f"TIME  {label} {name}: 0 -> {b:.6g} {unit}"
    rel = (b - a) / abs(a)
    if abs(rel) > bound:
        return f"TIME  {label} {name}: {a:.6g} -> {b:.6g} {unit} ({rel:+.1%})"
    return None


def diff(before, after, bound):
    findings = []
    if before["workload"] != after["workload"]:
        sys.exit(f"different workloads: {before['workload']} vs {after['workload']}")
    pa, pb = before["per_layer"], after["per_layer"]
    for name in sorted(set(pa) | set(pb)):
        if name not in pa or name not in pb:
            findings.append(f"ONLY  per-layer {name}: in {'after' if name in pb else 'before'} only")
            continue
        f = compare("per-layer", name, pa[name]["value"], pb[name]["value"],
                    pa[name]["unit"], bound)
        if f:
            findings.append(f)
    qa, qb = before["queries"], after["queries"]
    for q in sorted(set(qa) | set(qb)):
        if q not in qa or q not in qb:
            findings.append(f"ONLY  query {q}: in {'after' if q in qb else 'before'} only")
            continue
        for phase in ("cold", "warm"):
            ea, eb = qa[q].get(phase, {}), qb[q].get(phase, {})
            for name in sorted(set(ea) & set(eb)):
                f = compare(f"{q} {phase}", name, ea[name]["value"], eb[name]["value"],
                            ea[name]["unit"], bound)
                if f:
                    findings.append(f)
    return findings


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    a = ap.parse_args()
    bound = benchmark_bound()
    before, after = load(a.before), load(a.after)
    findings = diff(before, after, bound)
    print(f"{before['workload']}: seed {before['seed']} vs {after['seed']}, "
          f"nproc {before['nproc']} vs {after['nproc']}, time bound {bound:.0%}")
    for f in findings:
        print(f)
    print(f"{len(findings)} finding(s)")
    return 1 if findings else 0


if __name__ == "__main__":
    sys.exit(main())
