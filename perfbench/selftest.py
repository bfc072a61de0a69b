#!/usr/bin/env python3
"""Self-test of the benchmark harness.

    python3 perfbench/selftest.py

1. Runs every workload at sf0.001 for the run length in BENCHMARK.json
   (the dedup gate needs a few of its 2-3 s batches): each must report correct=true,
   failed=0 and every end-to-end metric.
2. A corrupted fingerprint (batch) and a dropped exact pair (dedup) must
   each count as a failed op and make the run incorrect.
3. In a directory holding only BENCHMARK.json and perfbench/, the command
   must exit non-zero without printing a result.
Exits non-zero if any check fails.
"""
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("batch_staged", "batch_scan", "stream_window", "stream_dedup")


def run(args, cwd=ROOT):
    r = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py")] + args,
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        last = None
    return r.returncode, last, r.stderr


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = {m["name"] for m in spec["end_to_end"]}
    problems = []

    def common(w, seed):
        return ["--workload", w, "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                "--sf", "0.001"]

    for w in WORKLOADS:
        rc, res, err = run(common(w, 1))
        ok = (rc == 0 and res and res["correct"] and res["failed"] == 0
              and set(res["metrics"]) == names)
        print(f"smoke {w}: {'ok' if ok else 'FAILED'}")
        if not ok:
            problems.append(f"smoke {w}: rc={rc} result={res} {err[-1500:]}")

    for w, fault in (("batch_staged", "fingerprint"), ("stream_dedup", "exact_pair")):
        rc, res, err = run(common(w, 2) + ["--corrupt", fault])
        ok = rc == 0 and res and not res["correct"] and res["failed"] >= 1
        print(f"fault {fault} on {w}: {'counted' if ok else 'NOT COUNTED'}")
        if not ok:
            problems.append(f"fault {fault}: rc={rc} result={res} {err[-1500:]}")

    bare = os.path.join(BENCH, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "target"))
        rc, res, _ = run(common("batch_staged", 1), cwd=bare)
        ok = rc != 0 and res is None
        print(f"bare checkout: {'refused' if ok else 'NOT REFUSED'}")
        if not ok:
            problems.append(f"bare checkout: rc={rc} result={res}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for p in problems:
        print(p, file=sys.stderr)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
