#!/usr/bin/env python3
"""Record the expected result of every query_mix query.

    python3 perfbench/record_expected.py

Run from the root of a checkout whose query results are known good.
Runs the query list once on the query_mix dataset, stores each query's
row count and content hash in perfbench/expected_queries.json, and
cross-checks those results against the DuckDB oracle SQL of every query
that has one: graft.Verify dumps the same queries on the same dataset
and tools/check_oracle.py (used read-only) compares them. A query whose
oracle check fails is not recorded and the script exits 1.
"""
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import run  # noqa: E402


def main():
    root = os.getcwd()
    cp = run.build(root)
    work = os.path.join(root, ".bench_out", "record")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(root, ".bench_out"), exist_ok=True)
    os.makedirs(work)
    try:
        raw = run.run_harness(root, cp, "query_mix", 0, 0, 0, work)
        qs = raw["queries"]
        bad = [q for q in qs if q["error"]]
        if bad:
            print(f"queries failed: {[q['query'] for q in bad]}", file=sys.stderr)
            return 1
        data = run.query_data(root, run.QUERY_DATA)
        out = os.path.join(work, "verify")
        subprocess.run(run.jvm(cp, work, "3g") + ["graft.Verify", data, out,
                       ",".join(metrics.QUERY_NAMES)], check=True, cwd=work,
                       stdout=subprocess.DEVNULL)
        oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
        checker = os.path.join(root, "tools", "check_oracle.py")
        verdicts = {}
        for name in metrics.QUERY_NAMES:
            if name not in oracle:
                verdicts[name] = "no oracle"
                continue
            r = subprocess.run([sys.executable, checker, data, out, name],
                               stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
            verdicts[name] = "oracle match" if r.returncode == 0 and "FAIL" not in r.stdout else "ORACLE MISMATCH"
        failed = [n for n, v in verdicts.items() if v == "ORACLE MISMATCH"]
        rec = {"dataset": run.QUERY_DATA, "queries": {
            q["query"]: {"rows": q["rows"], "hash": q["hash"], "oracle": verdicts[q["query"]]}
            for q in qs if q["pass"] == 0 and q["query"] not in failed}}
        with open(os.path.join(HERE, "expected_queries.json"), "w") as fh:
            json.dump(rec, fh, indent=1, sort_keys=True)
            fh.write("\n")
        for n, v in verdicts.items():
            print(f"{n}: {v}")
        return 1 if failed else 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
