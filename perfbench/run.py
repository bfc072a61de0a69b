#!/usr/bin/env python3
"""graft's benchmark: one command runs one workload and prints its metrics.

    python3 perfbench/run.py --workload batch_staged --seed 1 --seconds 10 --trace 0

Run from the repository root. The first call builds graft together with the
harness (sbt, offline) and generates the parquet corpus; both are cached
under perfbench/.work and rebuilt when their sources change. The last line
of standard output is one JSON object: correct, attempted, failed, and the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1) named in
BENCHMARK.json. The lines before it give the run's context.

Extra options: --record rewrites the reference outputs (fingerprints.json,
near_miss.txt) from the current program; --corrupt fingerprint|exact_pair
injects a wrong output (self-test); --sf overrides the corpus scale.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
SF = 0.02
XMX = "2g"
JVM_TIMEOUT_S = 170
WORKLOADS = ("batch_staged", "batch_scan", "stream_window", "stream_dedup")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def sources():
    out = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return out


def tool_env():
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("Spark not found: set SPARK_HOME")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(env, stamp):
    """Compile graft + harness once per source digest; return the classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        if open(stamp_file).read() == stamp:
            return open(cp_file).read().strip()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = [l for l in r.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def corpus(sf):
    gen = os.path.join(BENCH, "gen.py")
    d = os.path.join(WORK, "data", f"sf{sf}-{digest([gen])}")
    if not os.path.exists(os.path.join(d, "_done")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, gen, tmp, str(sf)], check=True)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
        open(os.path.join(d, "_done"), "w").close()
    return d


def jvm(cp, env, run_dir, args, log):
    out = os.path.join(run_dir, f"out-{len(os.listdir(run_dir))}.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{XMX}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--work", run_dir, "--bench", BENCH,
              "--out", out] + args)
    with open(log, "a") as lf:
        p = subprocess.Popen(cmd, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None
    if p.returncode != 0 or not os.path.exists(out):
        return None
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--corrupt", choices=("fingerprint", "exact_pair"), default="")
    ap.add_argument("--sf", type=float, default=SF)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources (src/main/scala/graft) are not in this checkout")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    spec = json.load(open(spec_path))
    os.makedirs(WORK, exist_ok=True)
    env = tool_env()
    stamp = digest(sources())
    cp = build(env, stamp)
    data = corpus(a.sf)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    log = os.path.join(WORK, f"last-{a.workload}.log")
    open(log, "w").close()
    base = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--data", data, "--tag", f"sf{a.sf}", "--trace", str(a.trace),
            "--mode", "record" if a.record else "run"]
    if a.corrupt:
        base += ["--corrupt", a.corrupt]
    try:
        res = jvm(cp, env, run_dir, base + ["--cpus", str(cpus)], log)
        if res is not None and a.trace == 1 and a.workload.startswith("batch"):
            one = jvm(cp, env, run_dir, [x if x != "run" else "speedup" for x in base]
                      + ["--cpus", "1"], log)
            if one is None or "pass_s" not in one["metrics"]:
                res = None
            else:
                res["metrics"]["spark.speedup_1_to_n"] = (
                    one["metrics"]["pass_s"] / res["info"]["pass_s"])
        for f in os.listdir(run_dir):
            if f.startswith("spans-"):
                os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
                shutil.copy(os.path.join(run_dir, f), os.path.join(WORK, "spans", f))
        if a.record and res is not None:
            for f in ("fingerprints.json", "near_miss.txt"):
                if os.path.exists(os.path.join(run_dir, f)):
                    shutil.copy(os.path.join(run_dir, f), os.path.join(BENCH, f))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if res is None:
        with open(log) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"{a.workload} did not complete (log: {log})")

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in res["metrics"]]
    info = dict(res["info"], seed=a.seed, sf=a.sf, sf_dir=os.path.relpath(data, ROOT),
                xmx=XMX, commit=stamp, workload=a.workload,
                failed_frac=res["failed"] / max(res["attempted"], 1),
                failures=res["failures"][:5])
    print(json.dumps(info, sort_keys=True))
    correct = res["failed"] == 0 and not missing and not a.record
    if missing:
        print(f"perfbench: missing metrics {missing}", file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]) + len(missing),
        "metrics": {m["name"]: {"value": res["metrics"].get(m["name"], 0.0), "unit": m["unit"]}
                    for m in wanted}}))


if __name__ == "__main__":
    main()
