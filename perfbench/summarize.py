#!/usr/bin/env python3
"""Summarize benchmark runs: median, quartiles and spread of every
end-to-end metric per workload, checked against the bounds in BENCHMARK.json.

    python3 perfbench/summarize.py [run dirs or result.json files ...]
                                   [--record perfbench/seed_commit.json]

Without arguments it reads every untraced run under perfbench/target/runs/.
The spread is (Q3 - Q1) / median with the quartiles of
statistics.quantiles(values, n=4); a metric whose spread exceeds a third of
its bound is marked, since two sets of runs must agree within the bound.
--record writes the summary, the median per-query latencies and the
per-layer metrics of the workload's traced run (when one is among the
inputs) as the JSON record of the measured commit.
"""
import argparse
import glob
import json
import os
import statistics
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def load_runs(paths):
    if not paths:
        paths = sorted(glob.glob(os.path.join(BENCH, "target", "runs", "*", "result.json")))
    runs = []
    for p in paths:
        if os.path.isdir(p):
            p = os.path.join(p, "result.json")
        with open(p) as fh:
            runs.append(json.load(fh))
    return runs


def stats(values):
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    med = statistics.median(values)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("runs", nargs="*")
    ap.add_argument("--record")
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}
    runs = load_runs(a.runs)
    record = {}
    steady = True
    for w in sorted({r["workload"] for r in runs}):
        plain = [r for r in runs if r["workload"] == w and not r["trace"]]
        traced = [r for r in runs if r["workload"] == w and r["trace"]]
        if not plain:
            continue
        first = plain[0]
        print(f"{w}: {len(plain)} runs, {first['scale']}, local[{first['nproc']}], "
              f"{first['ops_per_pass']} queries x {first['passes']} passes, "
              f"lat_tail at p{first['lat_tail_percentile']:g} of {first['warm_samples']}, "
              f"failed {sum(r['failed'] for r in plain)}/{sum(r['attempted'] for r in plain)}")
        e2e = {}
        for name, bound in bounds.items():
            vals = [r["end_to_end"][name]["value"] for r in plain]
            s = stats(vals)
            s["unit"] = plain[0]["end_to_end"][name]["unit"]
            e2e[name] = s
            mark = ""
            if name != "setup_s" and s["spread"] > bound / 3:
                mark = "  <-- spread above a third of the bound"
                steady = False
            print(f"  {name:18s} median {s['median']:.4g} {s['unit']:3s} "
                  f"[{s['q1']:.4g}, {s['q3']:.4g}] spread {s['spread']:.1%} "
                  f"(bound {bound:.0%}){mark}")
        queries = {}
        for q in sorted(first["queries"]):
            cold = [r["queries"][q]["cold_s"] for r in plain]
            warm = [r["queries"][q]["warm_median_s"] for r in plain]
            queries[q] = {"cold_s": stats(cold), "warm_s": stats(warm)}
        record[w] = {
            "nproc": first["nproc"], "scale": first["scale"],
            "seeds": sorted(r["seed"] for r in plain), "runs": len(plain),
            "ops_per_pass": first["ops_per_pass"], "passes_per_run": first["passes"],
            "warm_samples_per_run": first["warm_samples"],
            "lat_tail_percentile": first["lat_tail_percentile"],
            "attempted": sum(r["attempted"] for r in plain),
            "failed": sum(r["failed"] for r in plain),
            "end_to_end": e2e, "queries": queries,
        }
        if traced:
            t = traced[0]
            record[w]["traced_run"] = {
                "seed": t["seed"], "per_layer": t["per_layer"],
                "queries": {q: {k: v for k, v in e.items() if k in ("cold", "warm")}
                            for q, e in t["queries"].items()}}
    if a.record:
        with open(a.record, "w") as fh:
            json.dump(record, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {a.record}")
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
