#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness with sbt when their sources changed since
the last build, then runs the harness (graft.perfbench.Main) in one fresh
JVM with local[nproc]. The engine's log and the JVM's own output go to the
run directory under perfbench/target/runs/; standard output gets a readable
summary and, as its last line, one JSON object with `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics, or with --trace 1 the
per-layer ones).

--record adds the run's observed result fingerprints to
perfbench/expected/<workload>.tsv for queries that have no entry yet,
instead of checking against it; it fails on any disagreement.

The fixtures are the read-only TPC-H-style Parquet tables described in
TESTDATA.md, looked up under $PERFBENCH_DATA (default: ~/testdata).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
# The harness JVM's limit; the build before it has its own.
RUN_LIMIT_S = 170
# A fixed heap (initial = maximum), so heap resizing does not vary between runs.
HEAP = "2g"
BUILD_LIMIT_S = 840
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# The end-to-end metrics a plain run reports as `metrics`; failed_frac is
# printed in the summary, since attempted/failed already carry it.
END_TO_END = ["setup_s", "cold_pass_s", "warm_pass_s", "lat_p50_s",
              "lat_tail_s", "retained_heap_mb"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs():
    """Every file whose change requires a rebuild, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no engine sources: {need} is missing from {ROOT}")
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(TARGET, "bench-classpath.txt")
    stamp_file = os.path.join(TARGET, "bench-build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as cf:
                    return cf.read().strip()
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_LIMIT_S}s; see {log}")
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if not l.startswith("[") and os.pathsep in l
           and l.strip().endswith(".jar")]
    if r.returncode != 0 or not cps:
        tail = "\n".join(lines[-30:])
        fail(f"build failed (exit {r.returncode}); see {log}\n{tail}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1].strip()


def record(workload, observed_path):
    """Add the run's observed fingerprints to the committed expectations for
    queries that have none yet. An observation that disagrees with an
    existing entry, or a new query whose result differs between passes, is
    an error: both values are printed and nothing is written. A weaker
    check is only ever a hand edit, with its reason in the entry's note."""
    path = os.path.join(BENCH, "expected", f"{workload}.tsv")
    old = {}
    if os.path.exists(path):
        with open(path) as fh:
            for l in fh.read().splitlines():
                if l and not l.startswith("#"):
                    f = l.split("\t")
                    old[f[0]] = (f[1], f[2], f[3] if len(f) > 3 else "")
    seen = {}
    with open(observed_path) as fh:
        for l in fh.read().splitlines():
            name, _pass, count, digest = l.split("\t")
            seen.setdefault(name, set()).add((count, digest))
    merged = dict(old)
    errors = []
    for name, obs in sorted(seen.items()):
        shown = ", ".join(f"{c} {d}" for c, d in sorted(obs))
        if name in old:
            oc, od, _ = old[name]
            if any((oc == "-" and int(c) == 0) or (oc != "-" and c != oc)
                   or (od != "-" and d != od) for c, d in obs):
                errors.append(f"{name}: recorded {oc} {od}, observed {shown}")
        elif len(obs) > 1:
            errors.append(f"{name}: differs between passes of one run: {shown}")
        else:
            (count, digest), = obs
            merged[name] = (count, digest, "")
    if errors:
        fail("observations disagree; nothing was recorded. A weaker check must "
             f"be written by hand into {os.path.relpath(path, ROOT)} with its "
             "reason as the note.\n" + "\n".join(errors))
    added = sorted(set(merged) - set(old))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write("# name\tcount\tdigest\tnote -- see perfbench/README.md\n")
        for name in sorted(merged):
            c, d, n = merged[name]
            fh.write("\t".join([name, c, d] + ([n] if n else [])) + "\n")
    print(f"recorded {len(added)} new results into {os.path.relpath(path, ROOT)}"
          + (f": {', '.join(added)}" if added else ""))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    data = os.environ.get("PERFBENCH_DATA", os.path.expanduser("~/testdata"))
    if not os.path.isdir(data):
        fail(f"fixture root {data} not found (set PERFBENCH_DATA)")
    expected = os.path.join(BENCH, "expected", f"{a.workload}.tsv")
    if not a.record and not os.path.exists(expected):
        fail(f"no expected results for workload '{a.workload}' ({expected})")
    cp = build()

    run_dir = os.path.join(TARGET, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
              f"-Dperfbench.log={os.path.join(run_dir, 'engine.log')}",
              "-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--data", data, "--out", run_dir]
           + ([] if a.record else ["--expected", expected]))
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(run_dir, "jvm.out"), "w") as out, \
            open(os.path.join(run_dir, "jvm.err"), "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out, stderr=err,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_LIMIT_S}s and was stopped; see {run_dir}")
    shutil.rmtree(tmp, ignore_errors=True)
    result_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_path):
        with open(os.path.join(run_dir, "jvm.err")) as fh:
            tail = "".join(fh.readlines()[-30:])
        fail(f"harness exited with {code}; see {run_dir}\n{tail}")
    with open(result_path) as fh:
        res = json.load(fh)

    if a.record:
        record(a.workload, os.path.join(run_dir, "observed.tsv"))
        return 0

    e2e = res["end_to_end"]
    print(f"workload {res['workload']} at {res['scale']}, seed {res['seed']}, "
          f"local[{res['nproc']}], {res['passes']} passes "
          f"({res['warm_passes']} warm, {res['ops_per_pass']} queries each)")
    for k, m in e2e.items():
        print(f"  {k:18s} {m['value']:.6g} {m['unit']}")
    print(f"  lat_tail_s is p{res['lat_tail_percentile']:g} of "
          f"{res['warm_samples']} warm samples")
    for f in res["failures"]:
        print(f"FAILED pass {f['pass']} {f['query']}: {f['error']}", file=sys.stderr)
    if a.trace == "1":
        metrics = res["per_layer"]
        print(f"per-layer metrics and spans in {os.path.relpath(run_dir, ROOT)}")
    else:
        metrics = {k: e2e[k] for k in END_TO_END}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
