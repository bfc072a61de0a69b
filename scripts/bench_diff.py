#!/usr/bin/env python3
"""Calib-normalized comparison of two Bench metric JSON lines.

Usage: bench_diff.py OLD.json NEW.json
       bench_diff.py --self-test

Accepts either a raw `{"metric":...}` line (as Bench prints) or the
driver's BENCH_r{N}.json wrapper (uses its `tail` / `parsed` field).
Normalized delta = (new_sec / new_calib) / (old_sec / old_calib) - 1 —
the calib probe divides out machine drift, so this compares PLANS, not
the box's mood (README §Bench calibration).

Cold-run outliers: each query's FIRST run pays JIT + codegen compilation
and can be 4-9x its steady state (measured in the r12 driver run). The
per-query `queries` seconds are best-of-3 and immune; wall-clock and any
naive mean are NOT. When `runs` are present, queries whose first run
exceeds 2x their best are flagged so nobody mistakes warmup for a plan
regression.

A failed key (Bench prints it as -1.0 and names it in `failed`) is shown
as FAILED, never as a speedup, and a side with any failed key has a
FAILED total: a failure must not shrink the bench total. `--self-test`
checks this on synthetic lines.
"""
import json
import os
import sys
import tempfile


def load(path):
    with open(path) as f:
        raw = f.read().strip()
    d = None
    for cand in (raw, raw.splitlines()[0]):
        try:
            d = json.loads(cand)
            break
        except json.JSONDecodeError:
            continue
    if d is not None and ("queries" in d or "best" in d):
        return _fill_best(d)
    if d is not None and "parsed" in d and isinstance(d["parsed"], dict):
        return d["parsed"]
    if d is not None and "tail" in d:
        r = _from_tail(d["tail"])
        if r is not None:
            return r
    for line in raw.splitlines():
        if '"metric"' in line:
            try:
                return json.loads(line)
            except json.JSONDecodeError:
                continue
    raise SystemExit(f"{path}: no bench metric line found")


def _total(values):
    """Sum of the numeric per-key seconds; -1.0 (failed) if any is."""
    nums = [v for v in values if isinstance(v, (int, float))]
    return -1.0 if any(v < 0 for v in nums) else sum(nums)


def failed_keys(d):
    """Keys the line names in `failed`, plus any with a negative time."""
    out = set(d.get("failed") or [])
    out.update(q for q, v in d.get("queries", {}).items()
               if isinstance(v, (int, float)) and v < 0)
    return sorted(out)


def _fill_best(d):
    """r16+ lines carry a compact `best` map at the line's END (the part
    the driver's tail-keeping wrapper preserves) — it is authoritative
    over a front-truncated `queries`."""
    if isinstance(d.get("best"), dict):
        q = d.setdefault("queries", {})
        q.update({k: v for k, v in d["best"].items() if k != "__trunc"})
        # a reopened-tail q can still carry the '__trunc' stub or
        # list-valued (mis-bound runs) entries here — the value
        # fallback must not sum junk (or crash on a list).
        d.setdefault("value", _total(v for k, v in q.items()
                                     if k != "__trunc"))
    return d


def _finish_tail(d):
    """Normalize a reopened-tail parse into the canonical metric dict.

    A reopening prefix like '{"metric":"x","queries":{"' can swallow
    the RUNS arrays into `queries` (list values) when the cut landed
    mid-runs — move list-valued entries back to `runs`, then rebuild
    `queries` as best-of-runs and total them."""
    d = _fill_best(d)
    q = d.setdefault("queries", {})
    runs = d["runs"] if isinstance(d.get("runs"), dict) else {}
    d["runs"] = runs
    for k in list(q):
        if isinstance(q[k], list):
            v = q.pop(k)
            if k != "__trunc":
                runs.setdefault(k, v)
    q.pop("__trunc", None)
    runs.pop("__trunc", None)
    # `queries` IS min(runs) by Bench's own definition, so runs-derived
    # minima OVERWRITE reopened values — a cut landing mid-
    # `queries_normalized` can mis-bind normalized values into the
    # reopened `queries` stub, and the overwrite corrects it losslessly.
    for k, r in runs.items():
        if isinstance(r, list) and r:
            q[k] = min(r)
    if not q:
        return None  # nothing salvageable — caller keeps scanning
    d.setdefault("value", _total(q.values()))
    return d


def _from_tail(tail):
    """Reconstruct the metric dict from the driver's truncated tail.

    The driver keeps only the END of Bench's metric line, usually cut
    mid-way through the `queries` map (often mid-number). Try prefixes
    that re-open the object at the plausible cut points; failing that,
    re-derive `queries` as best-of-runs from the intact `runs` map."""
    t = tail.splitlines()[0]
    # cut points seen in driver wrappers, in order of how much survives:
    # before `queries`, mid-`queries` (at a key or mid-number), and
    # mid-`runs` (at a key or inside a run ARRAY — the r14 shape).
    # r16+ field order puts `runs` FIRST and the compact `best` + calib
    # at the tail end, so the same reopening prefixes cover both orders
    # (duplicate JSON keys resolve to the LAST occurrence — the real,
    # surviving map wins over the reopening stub).
    # mid-key cuts of the FIRST surviving field re-key it as runs /
    # queries (t.find('":') locates the partial key's end).
    kcut = t.find('":')
    midkey = [p + t[kcut:] for p in ('{"metric":"x","runs',
                                     '{"metric":"x","queries')] \
        if 0 <= kcut < 24 else []
    for cand in ['{"metric":"x"' + t,
                 '{"metric":"x","' + t,
                 '{"metric":"x","runs":' + t,
                 '{"metric":"x","runs"' + t,
                 '{"metric":"x","runs":{' + t,
                 '{"metric":"x","runs":{"' + t,
                 '{"metric":"x","queries":{' + t,
                 '{"metric":"x","queries":{"__trunc":0.' + t,
                 '{"metric":"x","queries":{"' + t,
                 '{"metric":"x","queries":{},"runs":{"__trunc":[0.' + t,
                 '{"metric":"x","queries":{},"runs":{"' + t,
                 '{"metric":"x","queries":{},"calib_runs":[0.' + t,
                 '{"metric":"x","queries":{},"queries_normalized":{"__trunc":0.' + t,
                 '{"metric":"x","queries":{},"queries_normalized":{"' + t] + midkey:
        try:
            d = json.loads(cand)
        except json.JSONDecodeError:
            continue
        if ("queries" in d or "best" in d or
                isinstance(d.get("runs"), dict)) and "calib" in d:
            r = _finish_tail(d)
            if r is not None:
                return r
    # generic resync: the cut can land mid-key or mid-value anywhere; try
    # reopening the object at each `,"` boundary in the survived text
    # (nested maps make early boundaries fail to parse — later ones, at
    # the true top level, succeed; take the FIRST that parses with the
    # compact record intact).
    pos = t.find(',"')
    while pos >= 0:
        try:
            d = json.loads('{"metric":"x"' + t[pos:])
        except json.JSONDecodeError:
            d = None
        if d is not None and ("queries" in d or "best" in d or
                isinstance(d.get("runs"), dict)) and "calib" in d:
            r = _finish_tail(d)
            if r is not None:
                return r
        pos = t.find(',"', pos + 1)
    i = t.find('"runs"')
    if i >= 0:
        try:
            d = json.loads("{" + t[i:])
        except json.JSONDecodeError:
            return None
        runs = {q: r for q, r in d.get("runs", {}).items()
                if isinstance(r, list) and r}
        if runs:
            d["queries"] = {q: min(r) for q, r in runs.items()}
            d.setdefault("value", _total(d["queries"].values()))
            return d
    return None


def cold_outliers(d):
    """Queries whose first run exceeds 2x their best — warmup, not plan."""
    out = []
    for q, runs in sorted(d.get("runs", {}).items()):
        if isinstance(runs, list) and len(runs) >= 2 and min(runs) > 0:
            ratio = runs[0] / min(runs)
            if ratio > 2.0:
                out.append((q, ratio, runs[0], min(runs)))
    return out


def fmt_total(d):
    if d["value"] < 0 or failed_keys(d):
        return "FAILED"
    return f"{d['value']:.2f}s"


def report(old, new):
    """The comparison as lines of text."""
    out = []
    co, cn = old.get("calib"), new.get("calib")
    if not co or not cn:
        out.append("WARNING: missing calib in one side; falling back to raw deltas")
        co = cn = 1.0
    out.append(f"calib: old={co:.3f} new={cn:.3f}   "
               f"total: old={fmt_total(old)} new={fmt_total(new)}")
    fo, fn = failed_keys(old), failed_keys(new)
    for side, keys in (("old", fo), ("new", fn)):
        if keys:
            out.append(f"failed ({side}): {', '.join(keys)}")
    rows = []
    for q, sec in sorted(new["queries"].items()):
        osec = old["queries"].get(q)
        if q in fn or (osec is not None and q in fo):
            o = "FAILED" if q in fo else f"{osec:6.2f}"
            n = "FAILED" if q in fn else f"{sec:6.2f}"
            rows.append((float("inf"), f"{q:28s} old={o:>6s} new={n:>6s}  FAILED"))
        elif osec is None:
            rows.append((0.0, f"{q:28s} NEW        new={sec:6.2f}"))
        elif osec <= 0:
            # a sub-centisecond query recorded as 0.0 — no meaningful
            # normalization; emit the row raw instead of dying.
            rows.append((0.0, f"{q:28s} old={osec:6.2f} "
                              f"new={sec:6.2f}  norm n/a (old=0)"))
        else:
            delta = (sec / cn) / (osec / co) - 1
            rows.append((delta, f"{q:28s} old={osec:6.2f} "
                                f"new={sec:6.2f}  norm {delta:+.0%}"))
    for _, line in sorted(rows, key=lambda r: -r[0]):
        out.append(line)
    gone = sorted(set(old["queries"]) - set(new["queries"]))
    for q in gone:
        o = "FAILED" if q in fo else f"{old['queries'][q]:6.2f}"
        out.append(f"{q:28s} REMOVED    old={o}")
    cold = cold_outliers(new)
    if cold:
        out.append("\ncold-run outliers in NEW (first run > 2x best — JIT/codegen "
                   "warmup; best-of-3 seconds above are unaffected):")
        for q, ratio, first, best in cold:
            out.append(f"  {q:28s} first={first:6.2f} best={best:6.2f}  x{ratio:.1f}")
    return out


def self_test():
    """A failed key must not read as a speedup nor shrink the total."""
    old = {"metric": "total", "queries": {"a": 1.0, "b": 2.0},
           "best": {"a": 1.0, "b": 2.0}, "calib": 1.0, "failed": [],
           "value": 3.0}
    new = {"metric": "total", "queries": {"a": 1.0, "b": -1.0},
           "best": {"a": 1.0, "b": -1.0}, "calib": 1.0, "failed": ["b"],
           "value": -1.0}
    with tempfile.TemporaryDirectory() as tmp:
        paths = []
        for name, d in (("old", old), ("new", new)):
            paths.append(os.path.join(tmp, name + ".json"))
            with open(paths[-1], "w") as f:
                f.write(json.dumps(d) + "\n")
        lines = report(load(paths[0]), load(paths[1]))
        text = "\n".join(lines)
        assert "total: old=3.00s new=FAILED" in text, text
        assert "failed (new): b" in text, text
        assert "failed (old)" not in text, text
        b = [ln for ln in lines if ln.startswith("b ")]
        assert len(b) == 1 and "FAILED" in b[0] and "norm" not in b[0], text
        # a line cut before `value` totals its `best` map through the
        # -1.0 sentinel.
        del new["value"]
        with open(paths[1], "w") as f:
            f.write(json.dumps(new) + "\n")
        assert load(paths[1])["value"] == -1.0
    print("bench_diff self-test: ok")


def main():
    if sys.argv[1:] == ["--self-test"]:
        self_test()
        return
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    for line in report(load(sys.argv[1]), load(sys.argv[2])):
        print(line)


if __name__ == "__main__":
    main()
