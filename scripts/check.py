#!/usr/bin/env python3
"""Local driver-mimic correctness gate (NOT part of the shipped library).

Runs after `sbt "runMain graft.Verify <sfDir> <outDir>"`:
for every query result parquet in <outDir>, executes the corresponding
oracle SQL from oracle_sql.json in DuckDB over the same sf tables and
compares exactly (columns sorted by name, rows as multisets, bitwise on
floats). An oracle key with no result dir (Verify writes none for a key
that failed) is reported MISSING and counts as a failure. Usage:
    python3 scripts/check.py /root/testdata/sf0.01 /tmp/verify_out
    python3 scripts/check.py --self-test
"""
import json
import math
import os
import sys
import tempfile

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(v):
    """Stable, orderable string form; bitwise-exact for floats."""
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return f"{type(v).__name__}:{v}"


def rows_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def check(sf_dir, out_dir):
    """{key: result} for every result dir and every oracle key."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)

    results = {}
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path):
            continue
        got = con.sql(f"SELECT * FROM '{path}/*.parquet'")
        got_cols, got_rows = [d[0] for d in got.description], got.fetchall()
        if name not in oracles:
            results[name] = f"ROWS_ONLY ({len(got_rows)} rows)"
            continue
        try:
            want = con.sql(oracles[name])
            want_cols, want_rows = [d[0] for d in want.description], want.fetchall()
        except Exception as e:
            results[name] = f"ORACLE_ERROR: {e}"
            continue
        if sorted(got_cols) != sorted(want_cols):
            results[name] = f"SCHEMA_MISMATCH spark={sorted(got_cols)} duckdb={sorted(want_cols)}"
        elif len(got_rows) != len(want_rows):
            results[name] = f"ROWCOUNT_MISMATCH spark={len(got_rows)} duckdb={len(want_rows)}"
        elif rows_key(got_cols, got_rows) != rows_key(want_cols, want_rows):
            g, w = rows_key(got_cols, got_rows), rows_key(want_cols, want_rows)
            diff = next((i, g[i], w[i]) for i in range(len(g)) if g[i] != w[i])
            results[name] = f"VALUE_MISMATCH at sorted-row {diff[0]}:\n  spark={diff[1]}\n  duck ={diff[2]}"
        else:
            results[name] = f"OK ({len(got_rows)} rows)"
    for name in oracles:
        if name not in results:
            results[name] = "MISSING (no result dir: the key failed in Verify)"
    return results


def report(results):
    """Print one line per key and the pass count; return the failures."""
    bad = 0
    for name, res in sorted(results.items()):
        flag = "PASS" if res.startswith(("OK", "ROWS_ONLY")) else "FAIL"
        if flag == "FAIL":
            bad += 1
        print(f"[{flag}] {name}: {res}")
    print(f"\n{len(results) - bad}/{len(results)} pass")
    return bad


def self_test():
    """A key with an oracle but no result dir must fail the run."""
    with tempfile.TemporaryDirectory() as tmp:
        sf_dir, out_dir = os.path.join(tmp, "sf"), os.path.join(tmp, "out")
        os.makedirs(sf_dir)
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"COPY (SELECT 1 AS x) TO '{sf_dir}/{t}.parquet' (FORMAT PARQUET)")

        def result(name, sql):
            os.makedirs(os.path.join(out_dir, name))
            con.sql(f"COPY ({sql}) TO '{out_dir}/{name}/part-0.parquet' (FORMAT PARQUET)")

        result("ok", "SELECT 2.5 AS v")
        result("wrong", "SELECT 3.5 AS v")
        result("rows_only", "SELECT 1 AS v")
        with open(os.path.join(out_dir, "oracle_sql.json"), "w") as f:
            json.dump({"ok": "SELECT 2.5 AS v", "wrong": "SELECT 2.5 AS v",
                       "failed": "SELECT 1 AS v"}, f)
        results = check(sf_dir, out_dir)
        assert results["ok"].startswith("OK"), results
        assert results["wrong"].startswith("VALUE_MISMATCH"), results
        assert results["rows_only"].startswith("ROWS_ONLY"), results
        assert results["failed"].startswith("MISSING"), results
        assert report(results) == 2, results
    print("check self-test: ok")


def main():
    if sys.argv[1:] == ["--self-test"]:
        self_test()
        return
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    sys.exit(1 if report(check(sys.argv[1], sys.argv[2])) else 0)


if __name__ == "__main__":
    main()
