#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. It builds the program and the harness
once per checkout (sbt, offline), generates the seed's inputs once
(``gen.py``), starts one plain ``java`` process for the run
(``perfbench.Main``), checks every operation's output against
expectations made apart from the program (the generator's ground truth
for ``fleet_dqa``, DuckDB over ``SparkEntry.oracleSql`` for the catalog
workloads), and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of
BENCHMARK.json, with ``--trace 1`` its per-layer ones. Everything it
writes stays under ``.bench_build/`` in the checkout. ``--tamper OP``
falsifies the expectation of one operation, to show that a wrong
output is counted as failed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

import checks
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("fleet_dqa", "probe_chain")
# Input sizes: the catalog corpus as a fraction of sf0.1, and the fleet.
CORPUS_SCALE = 0.25
FLEET = dict(facilities=3, rows_lo=1000, rows_hi=6000)
HEAP = "-Xmx3g"
JVM_TIMEOUT_S = 150
# Per-layer metrics of layers a workload never calls (by name prefix):
# they read 0 there. Every other per-layer metric must be measured.
UNTOUCHED = {
    "fleet_dqa": ("op.q81_inclusion.", "op.q223_retrieval_quality_assigned."),
    "probe_chain": ("fanout.", "pipelines.", "jdbc.", "op.dcc_freshness.",
                    "op.ppe_reconciliation.", "op.jdbc_flow."),
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Digest of everything the build compiles, to rebuild on change."""
    h = hashlib.sha256()
    for base in ("src/main", "project", "perfbench/src", "perfbench/project"):
        for d, _, files in sorted(os.walk(os.path.join(ROOT, base))):
            if "target" in d.split(os.sep):
                continue
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", "perfbench/build.sbt"):
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program and the harness; returns the java command."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp = os.path.join(BUILD, "build.stamp")
    digest = sources_digest()
    if not (os.path.exists(launch) and os.path.exists(stamp)
            and open(stamp).read() == digest):
        os.makedirs(BUILD, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx4g")
        with open(os.path.join(BUILD, "build.log"), "w") as log:
            rc = subprocess.call(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/writeLaunch"],
                cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=800)
        if rc != 0:
            fail(f"build failed (see {BUILD}/build.log)")
        with open(stamp, "w") as f:
            f.write(digest)
    with open(launch) as f:
        return [line.rstrip("\n") for line in f if line.strip()]


def inputs(workload, seed):
    """The seed's inputs, generated once; returns their directory."""
    kind = "fleet" if workload == "fleet_dqa" else "corpus"
    params = FLEET if kind == "fleet" else dict(scale=CORPUS_SCALE)
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        tag = hashlib.sha256(f.read() + repr(sorted(params.items())).encode()).hexdigest()[:12]
    out = os.path.join(BUILD, "data", f"{kind}-{seed}-{tag}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        shutil.rmtree(out, ignore_errors=True)
        if kind == "fleet":
            gen.fleet(seed, out, **FLEET)
        else:
            gen.corpus(seed, out, CORPUS_SCALE)
        open(os.path.join(out, "_DONE"), "w").close()
    return out


def run_jvm(java_opts, workload, data, out, seconds, trace):
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + java_opts + [
        HEAP, f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
        f"-Dderby.stream.error.file={out}/derby.log",
        "perfbench.Main", "--workload", workload, "--data", data, "--out", out,
        "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores)])
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(os.path.join(out, "result.json")):
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"the run exited with {rc}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tamper", default=None,
                    help="falsify this operation's expectation (self-test)")
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a checkout of the program")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    java_opts = build()
    data = inputs(a.workload, a.seed)
    out = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    try:
        res = run_jvm(java_opts, a.workload, data, out, a.seconds, a.trace)
        failed_ops, verified, notes = checks.check(a.workload, data, out, BUILD, a.tamper)
        for n in notes:
            print(f"perfbench: {n}", file=sys.stderr)
        if a.trace:
            keep = os.path.join(BUILD, "traces", os.path.basename(out))
            os.makedirs(keep, exist_ok=True)
            for f in ("spans.jsonl", "passes.json", "result.json"):
                shutil.copy(os.path.join(out, f), keep)
    finally:
        shutil.rmtree(out, ignore_errors=True)

    statuses = res["ops"]
    attempted = sum(len(v) for v in statuses.values())
    failed = 0
    for op, runs in statuses.items():
        for s in runs:
            # an output equal to a wrong baseline is as wrong as the baseline
            if s != "ok" or op in failed_ops:
                failed += 1
    if a.trace:
        layers = res["layers"]
        for m in spec["per_layer"]:
            if m["name"] not in layers:
                if not m["name"].startswith(UNTOUCHED[a.workload]):
                    fail(f"per-layer metric {m['name']} was not measured")
                layers[m["name"]] = 0.0
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        values = {
            "setup_s": res["setup_s"],
            "warm_pass_cpu_s": res["warm_pass_cpu_s"],
            "retained_heap_mb": res["retained_heap_mb"],
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    # correct: every operation was either verified or counted as failed
    correct = set(statuses) <= failed_ops | verified | {
        op for op, runs in statuses.items() if all(s != "ok" for s in runs)}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
