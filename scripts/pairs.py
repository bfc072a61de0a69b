#!/usr/bin/env python3
"""Interleaved parent/change pairs of one perfbench workload.

Usage: pairs.py PARENT_DIR CHANGE_DIR --workload W --seeds S [S ...]
                [--seconds 8] [--metric pass_s] [--log FILE]
       pairs.py --self-test

Each directory is a checkout of the repository. For every seed, the script
runs `python3 perfbench/run.py --workload W --seed S --seconds N --trace 0`
once in each checkout, alternating which side runs first (the first seed
runs the parent first). It prints each pair's claimed metric, then, for
every end-to-end metric in the parent's BENCHMARK.json, each side's median
and quartiles, the change's win count (ties count for neither side) and
whether the change's median is worse than the parent's by more than the
metric's bound.

The claimed metric (`--metric`) meets the gain rule when at least ten
pairs ran, none failed, the change wins at least nine tenths of them, and
the medians differ, in the better direction, by more than the parent's
interquartile range. A run that exits non-zero or reports
`correct: false` is shown as FAILED and fails the rule.

The script only reads BENCHMARK.json and runs perfbench/run.py; it edits
neither. `--log FILE` appends every run's last output line, tagged with
its side and seed, as JSON lines.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys

GAIN_SHARE = 0.9
MIN_PAIRS = 10


def run_side(checkout, workload, seed, seconds):
    """One benchmark run; returns its parsed last line, or None on failure."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None
    try:
        out = json.loads(lines[-1])
    except json.JSONDecodeError:
        return None
    return out if out.get("correct") else None


def order(i):
    """Sides in run order for the i-th seed: the parent first on even i."""
    return ("parent", "change") if i % 2 == 0 else ("change", "parent")


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def value(run, metric):
    return None if run is None else run["metrics"][metric]["value"]


def better_than(a, b, better):
    return a < b if better == "lower" else a > b


def summarize(pairs, metrics, claim):
    """Report lines and whether `claim` meets the gain rule.

    pairs: [(seed, parent_run, change_run)], a run being run.py's parsed
    last line or None when it failed. metrics: {name: (better, bound)}.
    """
    lines = []
    better = metrics[claim][0]
    failed = [(s, side) for s, p, c in pairs
              for side, r in (("parent", p), ("change", c)) if r is None]
    lines.append(f"{claim} per pair (seed: parent change winner):")
    for seed, p, c in pairs:
        pv, cv = value(p, claim), value(c, claim)
        if pv is None or cv is None:
            win = "FAILED"
        else:
            win = ("change" if better_than(cv, pv, better)
                   else "parent" if better_than(pv, cv, better) else "tie")
        show = lambda v: "FAILED" if v is None else f"{v:.4g}"
        lines.append(f"  {seed}: {show(pv)} {show(cv)} {win}")
    met = False
    for name, (bt, bound) in metrics.items():
        ok = [(value(p, name), value(c, name)) for _, p, c in pairs
              if p is not None and c is not None]
        if len(ok) < 2:
            lines.append(f"{name}: too few complete pairs")
            continue
        pv = [a for a, _ in ok]
        cv = [b for _, b in ok]
        pq, cq = quartiles(pv), quartiles(cv)
        wins = sum(better_than(b, a, bt) for a, b in ok)
        worse = -1 if bt == "lower" else 1
        drift = (pq[1] - cq[1]) / pq[1] * worse if pq[1] else 0.0
        lines.append(
            f"{name} ({bt} is better): parent median {pq[1]:.4g} "
            f"[q1 {pq[0]:.4g}, q3 {pq[2]:.4g}], change median {cq[1]:.4g} "
            f"[q1 {cq[0]:.4g}, q3 {cq[2]:.4g}], change wins {wins}/{len(pairs)}, "
            f"{'beyond' if drift > bound else 'within'} bound {bound}")
        if name == claim:
            gap = pq[1] - cq[1] if bt == "lower" else cq[1] - pq[1]
            met = (not failed and len(pairs) >= MIN_PAIRS
                   and wins >= math.ceil(GAIN_SHARE * len(pairs))
                   and gap > pq[2] - pq[0])
            lines.append(
                f"{claim} gain rule (>= {MIN_PAIRS} pairs, >= {GAIN_SHARE:.0%} wins, "
                f"median gap {gap:.4g} > parent IQR {pq[2] - pq[0]:.4g}): "
                f"{'met' if met else 'NOT met'}")
    for seed, side in failed:
        lines.append(f"FAILED run: seed {seed} {side}")
    return lines, met


def end_to_end(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: (m["better"], m["bound"]) for m in spec["end_to_end"]}


def self_test():
    metrics = {"pass_s": ("lower", 0.25), "drain_rps": ("higher", 0.25)}

    def run(pass_s, rps=100.0):
        return {"correct": True, "metrics": {"pass_s": {"value": pass_s},
                                             "drain_rps": {"value": rps}}}

    parent = [1.30, 1.35, 1.28, 1.40, 1.33, 1.31, 1.38, 1.29, 1.36, 1.34]
    clear = [(i, run(p), run(p * 0.75)) for i, p in enumerate(parent)]
    text, met = summarize(clear, metrics, "pass_s")
    assert met, "\n".join(text)
    assert any("change wins 10/10" in ln for ln in text), text
    # a higher-is-better metric that falls by more than its bound.
    slow = [(i, run(p), run(p * 0.75, rps=60.0)) for i, p in enumerate(parent)]
    text, _ = summarize(slow, metrics, "pass_s")
    assert any(ln.startswith("drain_rps") and "beyond" in ln for ln in text), text
    # eight wins of ten fall short of nine tenths.
    eight = [(i, run(p), run(p * (0.75 if i < 8 else 1.1)))
             for i, p in enumerate(parent)]
    text, met = summarize(eight, metrics, "pass_s")
    assert not met and any("change wins 8/10" in ln for ln in text), text
    # ten wins by less than the parent's IQR.
    close = [(i, run(p), run(p - 0.001)) for i, p in enumerate(parent)]
    assert not summarize(close, metrics, "pass_s")[1]
    # nine pairs are too few, however clear.
    assert not summarize(clear[:9], metrics, "pass_s")[1]
    # a failed run shows as FAILED and fails the rule.
    broken = clear[:9] + [(9, run(1.3), None)]
    text, met = summarize(broken, metrics, "pass_s")
    assert not met, text
    assert any(ln.endswith("FAILED") for ln in text), text
    assert "FAILED run: seed 9 change" in text, text
    # run order alternates, the parent first on the first seed.
    assert [order(i)[0] for i in range(4)] == ["parent", "change"] * 2
    print("pairs self-test: ok")


def main():
    if sys.argv[1:] == ["--self-test"]:
        self_test()
        return
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--metric", default="pass_s")
    ap.add_argument("--log")
    a = ap.parse_args()
    metrics = end_to_end(a.parent)
    if a.metric not in metrics:
        raise SystemExit(f"unknown end-to-end metric {a.metric}")
    dirs = {"parent": a.parent, "change": a.change}
    pairs = []
    for i, seed in enumerate(a.seeds):
        runs = {}
        for side in order(i):
            runs[side] = run_side(dirs[side], a.workload, seed, a.seconds)
            if a.log:
                with open(a.log, "a") as f:
                    f.write(json.dumps({"side": side, "seed": seed,
                                        "workload": a.workload,
                                        "run": runs[side]}) + "\n")
            print(f"seed {seed} {side}: {value(runs[side], a.metric)}", flush=True)
        pairs.append((seed, runs["parent"], runs["change"]))
    print("\n".join(summarize(pairs, metrics, a.metric)[0]))


if __name__ == "__main__":
    main()
