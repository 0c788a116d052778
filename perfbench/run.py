#!/usr/bin/env python3
"""Benchmark entry point: one workload, one JVM, one closed-loop client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1>

Run from the repository root. Builds the engine plus the harness from
source (perfbench/build.sbt, outputs under .bench_build/) when the
sources changed, generates the input tables (outputs under
.bench_work/), runs perfbench.Main on local[nproc], checks the check
pass's outputs against DuckDB, and prints a report followed by one JSON
line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

import checks

# the inputs: the fixture tables at this scale and data seed
DATA_SEED = "42"
SCALE = "0.01"

# end-to-end figures that are printed but not in the result line: wall
# times, and figures that exist on one workload only (README.md)
EXTRA = [("setup_wall_s", "s"), ("wall_s", "s"), ("op_s.p50", "s"),
         ("op_s.tail", "s"), ("index_build_s", "s"), ("write_amp", "ratio")]

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# the metrics of the result line, with their units, from BENCHMARK.json
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
END_TO_END = [(m["name"], m["unit"]) for m in SPEC["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in SPEC["per_layer"]]
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
WORK = os.path.join(ROOT, ".bench_work")


def fail(msg, code=1):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        for d, dirs, files in os.walk(base):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt unless the sources are
    unchanged since the last build; return the java launch line."""
    sources = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "src"), os.path.join(HERE, "project"),
               os.path.join(HERE, "build.sbt")]
    if not all(os.path.exists(p) for p in sources):
        fail("engine sources not found: run from the repository root", 2)
    stamp = tree_hash(sources)
    stamp_file = os.path.join(BUILD, "stamp")
    launch = os.path.join(BUILD, "launch.txt")
    current = open(stamp_file).read() if os.path.exists(stamp_file) else ""
    if current != stamp or not os.path.exists(launch):
        os.makedirs(BUILD, exist_ok=True)
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            r = subprocess.run(
                ["sbt", "-batch", "-Dsbt.server.autostart=false",
                 "launchFile"], cwd=HERE, stdout=out,
                stderr=subprocess.STDOUT, timeout=840)
        if r.returncode != 0:
            fail(f"build failed, see {log}", 3)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return open(launch).read().splitlines()


def data_dir(scale):
    """The input tables, generated once per generator version."""
    gen = os.path.join(HERE, "gendata.py")
    d = os.path.join(WORK, "data", tree_hash([gen])[:12],
                     f"sf{scale}-{DATA_SEED}")
    if not os.path.isdir(d):
        os.makedirs(os.path.dirname(d), exist_ok=True)
        subprocess.run([sys.executable, gen, d, scale, DATA_SEED],
                       check=True, timeout=300)
    return d


def heap():
    return os.environ.get("SPARK_DRIVER_MEM", "8g")


def run_jvm(args, launch, data):
    run = os.path.join(WORK, "run")
    shutil.rmtree(run, ignore_errors=True)
    for sub in ("artifacts", "spark-local", "work"):
        os.makedirs(os.path.join(run, sub))
    env = dict(os.environ,
               GRAFT_ARTIFACT_DIR=os.path.join(run, "artifacts"),
               SPARK_LOCAL_DIRS=os.path.join(run, "spark-local"))
    out = os.path.join(run, "result.json")
    cmd = (["java", f"-Xmx{heap()}"] + launch[:-1] +
           ["-cp", launch[-1], "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--work", os.path.join(run, "work"),
            "--out", out])
    log = os.path.join(run, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                             env=env, cwd=ROOT)
        try:
            code = p.wait(timeout=170)
        except subprocess.TimeoutExpired:
            fail(f"run timed out, see {log}")
        finally:  # never leave the JVM behind, even when interrupted
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0 or not os.path.exists(out):
        sys.stderr.write(open(log).read()[-3000:])
        fail(f"run failed with exit code {code}, see {log}")
    return json.load(open(out))


def main():
    # SIGTERM unwinds like an exception, so the JVM is stopped on the way
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    launch = build()
    res = run_jvm(args, launch, data_dir(SCALE))
    failures, selftest = checks.run_checks(res["checks"])

    attempted = int(res["attempted"])
    failed = int(res["failed"]) + len(failures)
    m = res["metrics"]
    w = args.workload
    print(f"[perfbench] {w} seed={args.seed} trace={args.trace} "
          f"passes={res['passes']} cores={os.cpu_count()}")
    for op, why in failures:
        print(f"[perfbench] {w} check FAILED {op}: {why}")
    print(f"[perfbench] {w} checks={len(res['checks'])} "
          f"mismatches={len(failures)} selftest={'ok' if selftest else 'FAILED'}")
    for name, unit in END_TO_END + EXTRA:
        if name in m:
            note = (f" (p{100 * res['tail_q']:g})"
                    if name == "op_s.tail" else "")
            print(f"[perfbench] {w} {name} = {m[name]['value']:.6g} {unit} "
                  f"n={m[name]['n']}{note}")
    print(f"[perfbench] {w} error_rate = {failed / attempted:.6g} ratio "
          f"n={attempted}")
    layers = dict(res["layers"], **res["probe"])
    if args.trace:
        for name, unit in PER_LAYER:
            print(f"[perfbench] {w} {name} = {layers.get(name, 0.0):.6g} {unit}")

    if args.trace:
        metrics = {n: {"value": layers.get(n, 0.0), "unit": u}
                   for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": m[n]["value"], "unit": u}
                   for n, u in END_TO_END}
    print(json.dumps({"correct": failed == 0 and selftest,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
