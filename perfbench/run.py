#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the engine.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs set-up and a timed
closed loop with one client in one JVM at local[<cores>], checks the outputs
(in the JVM and against DuckDB, perfbench/oracle.py), and prints one JSON
line last on stdout: end-to-end metrics with --trace 0, per-layer metrics
with --trace 1. A human-readable report goes to stderr. See README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, HERE)
import build  # noqa: E402
import canary  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

# Per workload: the op of the closed loop (what op_p50_s counts: on
# ingest_serve a cycle, one commit and the reads after it; on
# curation_batch a whole job) and the warm-up ops the set-up runs after
# its cold first op (the initial load; the first job). Under C2 (4 cores)
# commits level off at about 2.6 s after some 8 commits and jobs at about
# 5.4 s after some 6 jobs; a set-up that long does not fit the run budget,
# so the window starts on the tail of JIT warm-up, at the same point in
# every run (README.md).
WORKLOADS = {"ingest_serve": ("cycle", 3), "curation_batch": ("job", 2)}
JVM_OPTS = [
    "--add-opens", "java.base/java.lang=ALL-UNNAMED",
    "--add-opens", "java.base/java.lang.invoke=ALL-UNNAMED",
    "--add-opens", "java.base/java.lang.reflect=ALL-UNNAMED",
    "--add-opens", "java.base/java.io=ALL-UNNAMED",
    "--add-opens", "java.base/java.net=ALL-UNNAMED",
    "--add-opens", "java.base/java.nio=ALL-UNNAMED",
    "--add-opens", "java.base/java.util=ALL-UNNAMED",
    "--add-opens", "java.base/java.util.concurrent=ALL-UNNAMED",
    "--add-opens", "java.base/java.util.concurrent.atomic=ALL-UNNAMED",
    "--add-opens", "java.base/sun.nio.ch=ALL-UNNAMED",
    "--add-opens", "java.base/sun.nio.cs=ALL-UNNAMED",
    "--add-opens", "java.base/sun.security.action=ALL-UNNAMED",
    "--add-opens", "java.base/sun.util.calendar=ALL-UNNAMED",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    # the heap the program runs with (build.sbt, tools/run.sh)
    f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}",
    "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
]
DEADLINE_S = 175  # the whole command must end within 180 s once built


def run_engine(classes, work, args, cores, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, GRAFT_SCRATCH_DIR=os.path.join(work, "scratch"), SPARK_LOCAL_DIRS=tmp)
    os.makedirs(env["GRAFT_SCRATCH_DIR"], exist_ok=True)
    jars = os.path.join(os.path.dirname(build.spark_jars()[0]), "*")
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", f"{classes}:{jars}",
           "perfbench.Main", args.workload, str(WORKLOADS[args.workload][1]), str(args.seconds),
           str(args.trace), os.path.join(work, "in"), os.path.join(work, "out"), str(cores)])
    with open(os.path.join(work, "engine.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: engine run exceeded its time limit")
    if rc != 0:
        with open(os.path.join(work, "engine.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: engine run failed with exit code {rc}")
    with open(os.path.join(work, "out", "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    # the metric names and units are the ones BENCHMARK.json declares
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)
    op = WORKLOADS[args.workload][0]
    classes = build.ensure_built(root)
    deadline = time.monotonic() + DEADLINE_S
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".bench_build", "runs", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    t0 = time.perf_counter()
    gen.generate(args.workload, args.seed, os.path.join(work, "in"))
    gen_s = time.perf_counter() - t0
    host = {"spin_ms": canary.spin_ms(), "io_mbs": canary.io_mbs(work)}
    ticks = canary.cpu_ticks()
    res = run_engine(classes, work, args, cores, deadline)
    host["cpu"] = canary.cpu_shares(ticks, canary.cpu_ticks())
    t0 = time.perf_counter()
    failures = res["failures"] + oracle.check(args.workload, work)
    oracle_s = time.perf_counter() - t0

    lat = res["latencies"]
    ops = lat.get(op, [])
    if not ops:
        raise SystemExit(f"perfbench: no {op} completed in the timed window")
    setup_s = gen_s + res["session_s"] + res["setup_s"]
    # a median: a host stall that slows one op of the window does not move it
    e2e = {"setup_s": setup_s, "op_p50_s": statistics.median(ops)}

    # the report: every latency class with the samples behind each figure
    rep = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "cores": cores,
           "setup": {"gen_s": gen_s, "session_s": res["session_s"], "build_s": res["setup_s"]},
           "window_s": res["window_s"], "check_s": {"jvm": res["check_s"], "oracle": oracle_s},
           "peak_rss_mb": res["rss_peak_mb"], "host": host,
           "facts": res["facts"],
           "failed_ratio": len(failures) / max(1, res["attempted"]), "failures": failures}
    for kind, xs in lat.items():
        # a tail only where at least 10 samples lie beyond it
        tail = 90 if len(xs) >= 100 else 75 if len(xs) >= 40 else None
        rep[kind] = {"n": len(xs), "p50_s": statistics.median(xs), "all_s": xs}
        if tail:
            rep[kind][f"p{tail}_s"] = statistics.quantiles(xs, n=100)[tail - 1]
    if args.workload == "ingest_serve":
        rep["ingest_rows_per_s"] = len(ops) * res["facts"]["rows_per_batch"] / res["window_s"]
    if args.trace:
        layers = dict(res["layers"], **{"trace.op_p50_s": e2e["op_p50_s"]})
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in declared["per_layer"]}
        keep = os.path.join(root, ".bench_build", "traces", f"{args.workload}-{args.seed}")
        shutil.rmtree(keep, ignore_errors=True)
        shutil.copytree(os.path.join(work, "out", "trace"), keep)
        rep["trace_dir"] = keep
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in declared["end_to_end"]}
    rep["metrics"] = metrics
    sys.stderr.write(json.dumps(rep, indent=1) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not failures, "attempted": res["attempted"],
                      "failed": min(len(failures), res["attempted"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
