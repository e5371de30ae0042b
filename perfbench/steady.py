#!/usr/bin/env python3
"""Steadiness check: two sets of runs of one workload, compared.

    python3 perfbench/steady.py --workload W [--runs 5] [--first-seed 1]
                                [--traced 0]

Runs ``run.py`` ``--runs`` times per set, each run with its own seed
(set one takes the first ``--runs`` seeds from ``--first-seed``, set two
the next ones), from the repository root. For every end-to-end metric
it prints each set's median and quartiles, the spread (third minus
first quartile over the median) of each set and of both sets pooled,
and the second set's median against the first's, next to the metric's
bound in BENCHMARK.json. ``--traced N`` adds N traced runs and reports
the tracing overhead: the traced runs' ``trace.warm_pass_cpu_s`` median
minus the untraced ``warm_pass_cpu_s`` median. Each run's share of CPU
time the hypervisor gave to other guests (steal, from /proc/stat) is
printed beside it: on a shared host it explains most outliers. Raw
result lines go to ``.bench_build/perfbench/steady/``.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def cpu_ticks():
    """(all, steal) clock ticks of the host's CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7]


def run(workload, seed, seconds, trace, log):
    t0 = time.time()
    all0, steal0 = cpu_ticks()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    all1, steal1 = cpu_ticks()
    steal = (steal1 - steal0) / max(1, all1 - all0)
    if p.returncode != 0:
        sys.exit(f"run failed (seed {seed}):\n{p.stderr[-3000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res.update(seed=seed, trace=trace, wall_s=round(wall, 1), steal=round(steal, 3))
    log.write(json.dumps(res) + "\n")
    log.flush()
    print(f"  seed {seed} trace {trace}: {wall:5.1f} s wall, {steal:5.1%} CPU stolen, "
          f"{res['failed']}/{res['attempted']} failed, correct={res['correct']}", flush=True)
    return res


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    out = os.path.join(ROOT, ".bench_build", "perfbench", "steady")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{a.workload}-{time.strftime('%Y%m%d-%H%M%S')}.jsonl")
    sets = []
    with open(path, "w") as log:
        for k in range(2):
            print(f"set {k + 1}:", flush=True)
            seeds = range(a.first_seed + k * a.runs, a.first_seed + (k + 1) * a.runs)
            sets.append([run(a.workload, s, seconds, 0, log) for s in seeds])
        traced = [run(a.workload, a.first_seed + 2 * a.runs + i, seconds, 1, log)
                  for i in range(a.traced)]

    print(f"\n{a.workload}: {a.runs} runs per set, {seconds} s per run (raw: {path})")
    print(f"{'metric':18} {'set':>4} {'q1':>10} {'median':>10} {'q3':>10} {'spread':>7}")
    for m in spec["end_to_end"]:
        name = m["name"]
        vals = [[r["metrics"][name]["value"] for r in s] for s in sets]
        for k, v in enumerate(vals):
            q1, md, q3 = quartiles(v)
            print(f"{name:18} {k + 1:>4} {q1:10.4f} {md:10.4f} {q3:10.4f} {(q3 - q1) / md:7.3f}")
        q1, md, q3 = quartiles(vals[0] + vals[1])
        shift = statistics.median(vals[1]) / statistics.median(vals[0]) - 1
        print(f"{name:18} {'all':>4} {q1:10.4f} {md:10.4f} {q3:10.4f} {(q3 - q1) / md:7.3f}"
              f"   set 2 vs 1: {shift:+.3f} (bound {m['bound']})")
    shares = [sum(r["failed"] for r in s) / sum(r["attempted"] for r in s) for s in sets]
    print(f"failed share per set: {shares}; wall per run: "
          f"{statistics.mean(r['wall_s'] for s in sets for r in s):.1f} s mean")
    if traced:
        t = statistics.median(r["metrics"]["trace.warm_pass_cpu_s"]["value"] for r in traced)
        u = statistics.median(r["metrics"]["warm_pass_cpu_s"]["value"] for s in sets for r in s)
        print(f"tracing overhead: traced warm pass {t:.4f} s CPU - untraced {u:.4f} s "
              f"= {t - u:+.4f} s ({(t - u) / u:+.3f})")


if __name__ == "__main__":
    main()
