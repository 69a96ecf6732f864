#!/usr/bin/env python3
"""Local stand-in for the driver's t2 gate: compare graft.Verify parquet
dumps against DuckDB running SparkEntry.oracleSql on the same testdata.

Usage: python3 scripts/oracle_check.py <sfDir> <verifyOutDir>

Each OK/FAIL line ends with the query's DuckDB wall seconds (the oracle
text's run alone, not the parquet read of the Spark result).
"""
import json
import math
import sys
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    return str(v)


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = 0
    for name, sql in sorted(oracle.items()):
        secs = 0.0
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchdf()
            t0 = time.perf_counter()
            try:
                want = con.execute(sql).fetchdf()
            finally:
                secs = time.perf_counter() - t0
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e} [{secs:.3f} s]")
            continue
        gc, wc = sorted(got.columns), sorted(want.columns)
        if gc != wc:
            print(f"FAIL {name}: columns {gc} vs {wc} [{secs:.3f} s]")
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} vs {len(want)} [{secs:.3f} s]")
            continue
        # dtype-KIND guard: the driver compares exact rendered values, so an
        # int column on one side vs a float column on the other ('1' vs
        # '1.0') fails its gate even when 10-sig-fig normalization below
        # would mask it (round-2 q53/q66 failure class). bool is 'b';
        # int i/u; float f; datetime M; object O.
        kind_groups = {"i": "int", "u": "int", "b": "bool", "f": "float"}
        kinds_bad = [
            c for c in gc
            if kind_groups.get(got[c].dtype.kind, "other")
            != kind_groups.get(want[c].dtype.kind, "other")
            # datetime-vs-date renders through duckdb equivalently (driver-
            # verified in round 2); object covers str/date/decimal
            and not {got[c].dtype.kind, want[c].dtype.kind} <= {"M", "O", "m"}
        ]
        if kinds_bad:
            details = ", ".join(
                f"{c}: spark={got[c].dtype} duck={want[c].dtype}" for c in kinds_bad)
            print(f"FAIL {name}: dtype kind mismatch ({details}) [{secs:.3f} s]")
            continue
        g = sorted(tuple(norm(v) for v in row) for row in got[gc].itertuples(index=False))
        w = sorted(tuple(norm(v) for v in row) for row in want[wc].itertuples(index=False))
        if g != w:
            bad = next(i for i, (a, b) in enumerate(zip(g, w)) if a != b)
            print(f"FAIL {name}: value mismatch at sorted row {bad} [{secs:.3f} s]:\n"
                  f"  spark={g[bad]}\n  duck ={w[bad]}")
            continue
        n_ok += 1
        print(f"OK   {name} ({len(got)} rows) [{secs:.3f} s]")
    print(f"\n{n_ok}/{len(oracle)} queries match")
    return 0 if n_ok == len(oracle) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
