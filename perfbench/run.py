#!/usr/bin/env python3
"""graft benchmark: one command, one workload per invocation, one JVM per run.

    python3 perfbench/run.py --workload crawl-small --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Run from the repository root. Builds the program and harness from source
(perfbench/build.py), runs the workload at local[N] with N = the visible CPU
count, checks the outputs, and prints the metrics by name and unit; the last
line of standard output is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics; --trace 1 runs the same calls with
Spark listeners and spans on, replays the crawl layers, writes the spans to
<build dir>/traces/ and reports the per-layer metrics. See perfbench/README.md.
"""
import argparse
import json
import math
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("crawl-small", "frontier-schedule")
JVM_TIMEOUT_S = 170
HEAP = "4g"


def box():
    mem_kb = 0
    try:
        with open("/proc/meminfo") as f:
            mem_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration, ValueError):
        pass
    jv = subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    spark = sorted(f for f in os.listdir(build.spark_jars()) if f.startswith("spark-core_"))
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "mem_gb": round(mem_kb / 1048576, 1),
        "jdk": jv.stdout.splitlines()[0] if jv.stdout else "?",
        "spark": spark[-1][len("spark-core_2.13-"):-len(".jar")] if spark else "?",
        "host_arch": platform.machine(),
    }


def untraced_base(cache_dir, workload, stamp):
    """Median urls_per_s of this build's earlier untraced runs of `workload`."""
    path = os.path.join(cache_dir, workload + ".jsonl")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        vals = [r["urls_per_s"] for r in map(json.loads, filter(str.strip, f)) if r["build"] == stamp]
    return metrics.median(vals) if vals else None


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true", help="run the benchmark's own tests")
    args = ap.parse_args()
    root = os.getcwd()

    try:
        cp = build.build(root)
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    out_dir = build.build_dir(root)
    with open(os.path.join(out_dir, "build.stamp")) as f:
        stamp = f.read()
    java = ["java", *build.java_flags()]

    if args.self_test:
        r = subprocess.run([sys.executable, "-m", "unittest", "discover", "-s", os.path.join(HERE, "tests"), "-v"])
        work = os.path.join(out_dir, "selftest")
        os.makedirs(work, exist_ok=True)
        j = subprocess.run([*java, "-Xmx1g", f"-Djava.io.tmpdir={work}", "-cp", cp, "perfbench.SelfTest"],
                           timeout=JVM_TIMEOUT_S)
        shutil.rmtree(work, ignore_errors=True)
        return 0 if r.returncode == 0 and j.returncode == 0 else 1

    if not args.workload:
        ap.error("--workload is required")
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(out_dir, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw_path = os.path.join(work, "raw.json")
    log_path = os.path.join(work, "jvm.log")
    launch = time.time()
    cmd = [*java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--cores", str(cores), "--work", work, "--out", raw_path,
           "--launch", repr(launch)]
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(raw_path):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"perfbench: harness JVM failed ({rc})", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    with open(raw_path) as f:
        raw = json.load(f)
    shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(HERE, "pins.json")) as f:
        pins = json.load(f)
    correct, attempted, failed, failures = metrics.outcome(raw, pins)
    b = box()
    cache_dir = os.path.join(out_dir, "untraced")
    print(f"# box: cpus={b['cpus']} mem={b['mem_gb']}GB {b['jdk']} spark={b['spark']} arch={b['host_arch']}")
    print(f"# workload={args.workload} seed={args.seed} trace={args.trace} local[{cores}]"
          f" ops={attempted} checks={sum(c['ok'] for c in raw['checks'])}/{len(raw['checks'])} passed")
    durs = [o["end"] - o["start"] for o in raw["ops"] if o["measured"]]
    tail = metrics.tail_percentile(durs)
    print(f"# measured ops n={len(durs)} median={metrics.median(durs):.3f} s " +
          (f"p{tail[0]:g}={tail[1]:.3f} s" if tail else "(too few samples for a tail percentile)") +
          " [" + " ".join(f"{d:.3f}" for d in durs) + "]")
    print(f"# peak RSS (VmHWM) {raw['info']['vm_hwm_kb'] / 1024:.1f} MB")
    if "digest" in raw["info"]:
        print(f"# output digest (fetch log + seen set) {raw['info']['digest']}")
    for line in failures:
        print(f"# FAILED {line}")

    if args.trace:
        values, notes = metrics.per_layer(raw, untraced_base(cache_dir, args.workload, stamp))
        units = metrics.LAYER_UNITS
        trace_dir = os.path.join(out_dir, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        for kind in ("jobs", "sql"):
            for ev, parent in zip(raw[kind], metrics.parents(raw["spans"], raw[kind])):
                ev["parent"] = parent
        with open(trace_path, "w") as f:
            json.dump({"box": b, "workload": args.workload, "seed": args.seed, "metrics": values,
                       "notes": notes, "spans": raw["spans"], "jobs": raw["jobs"], "sql": raw["sql"],
                       "layers": raw["layers"], "info": raw["info"]}, f)
        print(f"# trace written to {os.path.relpath(trace_path, root)}")
        for split in notes.get("iteration_split", []):
            print(f"# {split['op']}: wall {split['wall_s']:.3f} s = jobs {split['job_s']:.3f} s"
                  f" + driver gap {split['driver_gap_s']:.3f} s ({split['jobs']} jobs)")
        print(f"# tracing overhead {values['trace.overhead_ratio']:.4f} ({notes['overhead_base']})")
        for k in metrics.CRAWL_LAYER_UNITS:
            if k in values:
                print(f"# layer {k:26s} {values.pop(k):16.6f} {metrics.CRAWL_LAYER_UNITS[k]}")
    else:
        values = metrics.end_to_end(raw)
        units = metrics.E2E_UNITS
        if correct:
            os.makedirs(cache_dir, exist_ok=True)
            with open(os.path.join(cache_dir, args.workload + ".jsonl"), "a") as f:
                f.write(json.dumps({"build": stamp, "seed": args.seed, "urls_per_s": values["urls_per_s"]}) + "\n")
    for k, v in values.items():
        print(f"{k:28s} {v:16.6f} {units[k]}")
    if not all(math.isfinite(v) for v in values.values()):
        print("perfbench: a metric could not be measured (see the values above)", file=sys.stderr)
        return 1
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
