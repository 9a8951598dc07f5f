#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload scida --seed 1 --seconds 25 --trace 0

Builds graft and the harness (perfbench/build.py), then launches one JVM
directly (no sbt) at local[4] with 4 shuffle partitions, the parallel
collector and a fixed heap (HEAP). The JVM generates the seeded inputs,
runs every op once untimed, then one closed-loop client runs seeded
passes over the ops for --seconds and checks every output against the
Verify build.

The last stdout line is one JSON object: correct (no completed op gave a
wrong output), attempted, failed (ops that raised or gave a wrong
output; each is printed with its error) and the metrics — the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
A traced run also writes
.bench_work/trace-<workload>.json (per-layer metrics, per-op records,
spans and the tracing overhead against the last untraced run).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
WORK = os.path.join(ROOT, ".bench_work")
JVM_TIMEOUT_S = 165
HEAP = "3g"

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(HERE, "workloads.json")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in spec["workloads"]:
        sys.exit(f"unknown workload {args.workload}; one of {sorted(spec['workloads'])}")
    classes = build.build()

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    result_path = os.path.join(run_dir, "result.json")
    trace_path = os.path.join(WORK, f"trace-{args.workload}.json")
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           "-XX:-UsePerfData"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--spec", spec_path, "--work", run_dir, "--result", result_path,
            "--trace-out", trace_path]
    # graft reads SPARK_GRAFT_* settings (e.g. SPARK_GRAFT_AQE); the benchmark fixes its own
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT")}
    # a SIGTERM to this script still stops the JVM and removes the run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("benchmark terminated"))
    proc = None
    try:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env,
                                stdout=sys.stderr, stderr=sys.stderr)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.exit(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
        if rc != 0:
            sys.exit(f"benchmark JVM failed with exit code {rc}")
        with open(result_path) as fh:
            res = json.load(fh)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    for e in res["errors"]:
        print(f"FAILED op {e['op']} (pass {e['pass']}): {e['error']}")
    info = res["info"]
    print(f"load probe: {info['probe_before_s']:.4f} s before, "
          f"{info['probe_after_s']:.4f} s after the run; CPU steal up to "
          f"{100 * info['steal_max']:.1f} % per pass "
          f"(machine load; not metrics); passes {info['passes']}, timed ops "
          f"{info['timed_ops']}, {info['tail_samples_beyond']} samples beyond "
          f"p{round(info['tail_percentile'] * 100)}; bench overrides: "
          f"{info['bench_overrides'] or 'none'}; set-up: session {info['session_s']:.2f} s, "
          f"inputs {info['inputs_s']:.2f} s, first pass {info['first_pass_s']:.2f} s")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    last_path = os.path.join(WORK, f"last-{args.workload}.json")
    if args.trace:
        metrics = res["per_layer"]
        overhead = tracing_overhead(trace_path, last_path)
        print("tracing overhead: " + json.dumps(overhead))
    else:
        metrics = res["end_to_end"]
        with open(last_path, "w") as fh:
            json.dump({"seed": args.seed, "end_to_end": metrics}, fh)
    print(json.dumps({
        "correct": res["wrong"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


def tracing_overhead(trace_path, last_path):
    """Traced ÷ untraced − 1 for each end-to-end metric, against the
    last untraced run of the workload in this checkout; stored in the
    trace document."""
    with open(trace_path) as fh:
        doc = json.load(fh)
    if os.path.exists(last_path):
        with open(last_path) as fh:
            last = json.load(fh)
        overhead = {"untraced_seed": last["seed"], "traced_seed": doc["seed"]}
        for k, v in doc["traced_end_to_end"].items():
            base = last["end_to_end"].get(k)
            overhead[k] = round(v / base - 1, 4) if base else None
    else:
        overhead = {"note": "no untraced run of this workload in this checkout yet"}
    doc["tracing_overhead"] = overhead
    with open(trace_path, "w") as fh:
        json.dump(doc, fh)
    return overhead


if __name__ == "__main__":
    main()
