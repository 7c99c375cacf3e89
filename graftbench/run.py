#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 graftbench/run.py --workload crawl_bulk --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source on first use (into
.bench_build/), times a single-thread contention canary, runs the
workload in one JVM, checks its outputs, and prints one JSON line last:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Workloads, metrics and their meaning: graftbench/NOTES.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from benchlib import build, metrics  # noqa: E402

WORKLOADS = ("crawl_bulk", "curation")

# the curation pass, in run order (also the per-query layer metrics)
QUERIES = ("q_ann_lsh", "q_minhash_pairs", "q_simhash_pairs", "q_lm_familiarity")

JVM_TIMEOUT_S = 160
HEAP = "3g"


def canary():
    """Fixed single-thread serial work; its time makes a contended host
    visible next to the run's numbers."""
    t0 = time.perf_counter()
    h = b"canary"
    for i in range(150000):
        h = hashlib.blake2b(h + i.to_bytes(4, "little"), digest_size=16).digest()
    return time.perf_counter() - t0


def run_jvm(classes, args, work, log_path):
    cmd = [build.java(), *build.jvm_flags(HEAP, os.path.join(work, "tmp")),
           "-cp", build.classpath(os.path.dirname(HERE), classes), "graftbench.Main", *args]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--raw", help="also copy the raw run record here")
    a = ap.parse_args()

    repo = os.path.dirname(HERE)
    classes = build.ensure(repo)
    work = os.path.join(repo, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        canary_s = canary()
        out = os.path.join(work, "raw.json")
        log = os.path.join(work, "jvm.log")
        code = run_jvm(classes, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--data", os.path.join(HERE, "data"),
            "--queries", ",".join(QUERIES), "--out", out], work, log)
        if code != 0 or not os.path.exists(out):
            with open(log) as f:
                sys.stderr.write(f.read()[-8000:])
            sys.exit(f"graftbench: the {a.workload} run failed (exit {code})")
        with open(out) as f:
            raw = json.load(f)
        if a.raw:
            shutil.copyfile(out, a.raw)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        table = metrics.per_layer(raw, canary_s, QUERIES)
    else:
        table = metrics.end_to_end(raw)
    bad = [c for c in raw["checks"] if not c["ok"]]
    for c in bad:
        print(f"check failed: {c['name']}: {c['detail']}")
    ops = sum(len(p["ops"]) for p in raw["passes"] if p["leg"] == "c4")
    print(json.dumps({"workload": a.workload, "seed": a.seed, "variant": raw["variant"],
                      "canary_s": round(canary_s, 4), "c4_ops": ops,
                      "tail_percentile_with_10_above": metrics.tail_percentile(ops),
                      "pass_s": {p["leg"]: [round(q["s"], 3) for q in raw["passes"]
                                            if q["leg"] == p["leg"]] for p in raw["passes"]},
                      "info": raw["info"]}))
    print(json.dumps({
        "correct": not bad and raw["failed"] == 0,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in table.items()},
    }))


if __name__ == "__main__":
    main()
