#!/usr/bin/env python3
"""UPDATE BENCH_SF1.json in place from drill runs, preserving its
notes / outlier_diagnosis keys.

Usage: python3 scripts/update_bench_sf1.py --sf01 a.json [b.json ...]
         --sf1 x.json [y.json ...] [--out BENCH_SF1.json]

Each input is a Bench JSON (queries + queries_warm). Rows present in
both an --sf01 and an --sf1 input get cold/warm ratios; rows present
in only one side update just that side's seconds.
"""
import json
import sys


def main(argv):
    sf01, sf1, out = [], [], "BENCH_SF1.json"
    mode = None
    for a in argv:
        if a in ("--sf01", "--sf1", "--out"):
            if mode == "out":
                sys.exit("--out requires a path before the next flag")
            mode = {"--sf01": sf01, "--sf1": sf1, "--out": "out"}[a]
        elif mode == "out":
            out = a
            mode = None  # exactly one path follows --out
        elif mode is None:
            sys.exit(f"unexpected argument '{a}': file paths must follow "
                     "--sf01, --sf1 or --out")
        else:
            mode.append(a)
    if mode == "out":
        sys.exit("--out requires a path")
    base_c, base_w, one_c, one_w = {}, {}, {}, {}

    def load(f, cold, warm):
        d = json.load(open(f))
        # Bench writes -1.0 for a FAILED query (see Bench.scala) — storing
        # it would put negative seconds and negative ratios in the artifact
        bad = sorted(q for q, v in d["queries"].items() if v < 0)
        bad += sorted(q for q, v in d["queries_warm"].items() if v < 0)
        if bad:
            sys.exit(f"{f}: failed-query sentinel (-1) present for "
                     f"{sorted(set(bad))} — re-run the drill before merging")
        cold.update(d["queries"])
        warm.update(d["queries_warm"])

    for f in sf01:
        load(f, base_c, base_w)
    for f in sf1:
        load(f, one_c, one_w)
    art = json.load(open(out))
    rows = art.setdefault("queries", {})
    for q in sorted(set(base_c) | set(one_c)):
        row = rows.setdefault(q, {})
        if q in base_c:
            row["sf0.1_cold_s"] = base_c[q]
            row["sf0.1_warm_s"] = base_w[q]
        if q in one_c:
            row["sf1_cold_s"] = one_c[q]
            row["sf1_warm_s"] = one_w[q]
        c0, w0 = row.get("sf0.1_cold_s"), row.get("sf0.1_warm_s")
        c1, w1 = row.get("sf1_cold_s"), row.get("sf1_warm_s")
        if c0 and c1 and c0 > 0:
            row["cold_ratio"] = round(c1 / c0, 2)
        if w0 and w1 and w0 > 0:
            row["warm_ratio"] = round(w1 / w0, 2)
    with open(out, "w") as fh:
        json.dump(art, fh, indent=1, sort_keys=True)
    print(json.dumps({q: rows[q] for q in sorted(set(base_c) | set(one_c))},
                     indent=1, sort_keys=True))


if __name__ == "__main__":
    main(sys.argv[1:])
