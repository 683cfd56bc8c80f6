#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage:
  python3 perfbench/run.py --workload pmap|queries|stream --seed N \
      --seconds S --trace 0|1 [--tiny]

Builds the engine and the benchmark from source (see build.py), then
launches one JVM on the compiled classpath, so `setup_s` times the program
and not a build tool. Every run gets its own directory under .bench_build
for Spark's warehouse, local and temp dirs and every stream directory, and
removes it afterwards.

`--trace 0` prints the end-to-end metrics of BENCHMARK.json. `--trace 1`
runs the workload twice, untraced and then traced, and prints the per-layer
metrics plus the tracing overhead: traced minus untraced end-to-end for that
pair. Every workload reports every metric of the manifest; the figures a
workload reports beyond them go on the `workload metrics:` line before the
result. The span tree of a traced run is kept in .bench_build/trace/.

Exit code 0 only when every operation's output was correct.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = build.ROOT
# the JVMs of one run must end within 170 s of the build finishing
RUN_S = 170

def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def launch(cp, a, traced, deadline):
    """One JVM run of the workload; returns (report dict, contention dict)."""
    runs = os.path.join(build.BUILD_DIR, "runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{a.workload}-{a.seed}-", dir=runs)
    try:
        for d in ("tmp", "local"):
            os.makedirs(os.path.join(run_dir, d))
        sf = "sf0.001" if a.tiny else "sf0.01"
        out = os.path.join(run_dir, "report.json")
        spans = os.path.join(build.BUILD_DIR, "trace", f"{a.workload}-{a.seed}.jsonl")
        cores = min(4, len(os.sched_getaffinity(0)))
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores),
                   SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
        cmd = build.java_cmd(cp) + [
            f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dderby.system.home={run_dir}",
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", "1" if traced else "0",
            "--data", os.path.join(HERE, "data", sf), "--ref", os.path.join(HERE, "reference", sf),
            "--run-dir", run_dir, "--out", out, "--spans", spans,
        ] + (["--tiny"] if a.tiny else [])
        log_path = os.path.join(run_dir, "jvm.log")
        load0 = os.getloadavg()[0]
        cpu0 = host_ticks()
        t0 = time.time()
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT)
            try:
                _, status, usage = wait4(p, deadline)
            except TimeoutError:
                p.kill()
                p.wait()
                sys.exit(f"{a.workload}: JVM still running {RUN_S} s after the build")
        steal, total = (b - a for a, b in zip(cpu0, host_ticks()))
        contention = {"load1_before": load0, "load1_after": os.getloadavg()[0],
                      "steal_pct": round(100 * steal / max(1, total), 2),
                      "cpu_s": round(usage.ru_utime + usage.ru_stime, 3),
                      "wall_s": round(time.time() - t0, 3), "cores": cores}
        if not os.path.exists(out):
            sys.stderr.write(open(log_path).read()[-6000:])
            sys.exit(f"{a.workload}: JVM exited {status} without a report")
        with open(out) as f:
            report = json.load(f)
        if report["failed"]:
            sys.stderr.write(open(log_path).read()[-4000:])
        return report, contention
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def host_ticks():
    """(steal, total) CPU ticks of the host so far: on a virtual machine the
    share the hypervisor gave to others marks a contended run."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks[:8])


def wait4(p, deadline):
    """Wait for `p`, returning its own rusage (CPU seconds of this JVM only)."""
    while True:
        pid, status, usage = os.wait4(p.pid, os.WNOHANG)
        if pid:
            p.returncode = os.waitstatus_to_exitcode(status)
            return pid, p.returncode, usage
        if time.time() > deadline:
            raise TimeoutError
        time.sleep(0.05)


def overhead(untraced, traced, s):
    """Median over the workload's end-to-end metrics (set-up excluded) of the
    relative change traced vs untraced, in %, positive = tracing is slower."""
    better = {m["name"]: m["better"] for m in s["end_to_end"]}
    rel = []
    for name, m in untraced["metrics"].items():
        if name == "setup_s" or name not in better or name not in traced["metrics"]:
            continue
        u, t = m["value"], traced["metrics"][name]["value"]
        if u:
            rel.append((t - u) / u if better[name] == "lower" else (u - t) / u)
    return 100 * statistics.median(rel) if rel else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec()["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="sf0.001 and few iterations (smoke)")
    a = ap.parse_args()
    s = spec()
    cp = build.build()
    deadline = time.time() + RUN_S
    report, contention = launch(cp, a, traced=False, deadline=deadline)
    reports = [report]
    if a.trace:
        # the untraced twin runs right before, same seed and build, so the
        # overhead compares two runs under the same host conditions
        traced, contention_t = launch(cp, a, traced=True, deadline=deadline)
        reports.append(traced)
        traced["metrics"]["trace.overhead_pct"] = {
            "value": overhead(report, traced, s), "unit": "%"}
        contention = {"untraced": contention, "traced": contention_t}
        report = traced

    names = [m["name"] for m in s["per_layer" if a.trace else "end_to_end"]]
    metrics = {n: report["metrics"][n] for n in names if n in report["metrics"]}
    missing = [n for n in names if n not in metrics]
    others = {n: m for n, m in report["metrics"].items() if n not in metrics}
    attempted = sum(r["attempted"] for r in reports)
    failed = sum(r["failed"] for r in reports)
    for r in reports:
        for e in r["errors"]:
            print("error:", e)
    if missing:
        print("error: metrics not reported:", ", ".join(missing))
    print("workload metrics:", json.dumps(others))
    print("contention:", json.dumps(contention))
    print("notes:", json.dumps(report["notes"]))
    correct = failed == 0 and not missing
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
