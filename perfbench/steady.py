#!/usr/bin/env python3
"""Steadiness check: run one workload once per seed and report, for each
end-to-end metric, the median and the interquartile spread as a share of the
median (quartiles as `statistics.quantiles(values, n=4)` gives them), next to
the metric's bound from BENCHMARK.json.

Usage: python3 perfbench/steady.py --workload pmap [--seeds 1-10] [--seconds S]

A spread above a third of its bound is flagged; `setup_s` is listed but not
held to its bound (only its median is compared between runs of two builds).
Every run's result line, with its seed, contention record and notes, is
appended to .bench_build/steady-<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = a.seconds or spec["run_seconds"]
    log = os.path.join(build.BUILD_DIR, f"steady-{a.workload}.jsonl")
    values = {}
    for seed in seeds(a.seeds):
        cmd = [sys.executable, os.path.join(build.ROOT, spec["paths"][0], "run.py"),
               "--workload", a.workload, "--seed", str(seed), "--seconds", f"{seconds:g}",
               "--trace", "0"]
        t0 = time.time()
        r = subprocess.run(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True)
        wall = time.time() - t0
        line = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
        res = json.loads(line)
        info = {k: json.loads(l.split(":", 1)[1]) for l in r.stdout.splitlines()
                for k in ("contention", "notes") if l.startswith(k + ":")}
        with open(log, "a") as f:
            f.write(json.dumps(dict(res, seed=seed, **info)) + "\n")
        if r.returncode or not res.get("correct"):
            sys.exit(f"seed {seed}: run failed (exit {r.returncode}):\n{r.stdout[-3000:]}")
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        steal = info.get("contention", {}).get("steal_pct", "?")
        print(f"seed {seed} ({wall:.1f} s, steal {steal} %): " +
              " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    print(f"\n{'metric':24s} {'median':>12s} {'spread':>8s} {'bound/3':>8s}")
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
        spread = (q[2] - q[0]) / med if med else float("inf")
        flag = "" if k == "setup_s" or spread <= bounds[k] / 3 else "  TOO WIDE"
        print(f"{k:24s} {med:12.4g} {spread:8.3f} {bounds[k] / 3:8.3f}{flag}")


if __name__ == "__main__":
    main()
