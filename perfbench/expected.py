#!/usr/bin/env python3
"""Regenerate perfbench/expected.json: the result digest of every
benchmark query on the committed sf0.1 tables.

    python3 perfbench/expected.py

First `graft.Verify` writes each workload query's result as parquet plus
its `SparkEntry.oracleSql`, and `scripts/oracle_check.py` compares them
with DuckDB on the same tables; every compared query must match. Then one
cold pass of `perfbench.Main` gives the digests that `run.py` checks. A
query without oracle SQL records the checked-out commit's own result, and
`checked_by` says so. Needs the `duckdb` Python package.
"""
import json
import os
import shutil
import subprocess
import sys

import run

sys.path.insert(0, os.path.join(run.ROOT, "scripts"))
import oracle_check  # noqa: E402

TIMEOUT_S = 1800  # for each JVM


def main():
    out = run.build_dir()
    os.makedirs(out, exist_ok=True)
    classpath, opts = run.build(out)
    queries = sorted({q for qs in run.WORKLOADS.values() for q in qs})

    verify = os.path.join(out, "expected-verify")
    shutil.rmtree(verify, ignore_errors=True)
    cmd, env = run.harness(out, classpath, opts, "graft.Verify",
                           [run.DATA, verify, ",".join(q + "_" for q in queries)])
    env["SPARK_GRAFT_CPUS"] = str(run.CORES)
    subprocess.run(cmd, cwd=run.ROOT, env=env, check=True, timeout=TIMEOUT_S,
                   stderr=subprocess.DEVNULL)
    if oracle_check.main(run.DATA, verify) != 0:
        sys.exit("the engine's results differ from the DuckDB oracle; expected.json not written")
    with open(os.path.join(verify, "oracle_sql.json")) as fh:
        oracle = json.load(fh)

    raw_path = os.path.join(out, "expected-raw.json")
    cmd, env = run.harness(out, classpath, opts, "perfbench.Main", run.main_args(
        queries, 0, 0, 0, 0, TIMEOUT_S, TIMEOUT_S, raw_path))
    subprocess.run(cmd, cwd=run.ROOT, env=env, check=True, timeout=TIMEOUT_S,
                   stderr=subprocess.DEVNULL)
    with open(raw_path) as fh:
        execs = json.load(fh)["executions"]
    bad = [f"{e['query']}: {e['status']} {e['error']}" for e in execs if e["status"] != "ok"]
    if bad:
        sys.exit("not written:\n" + "\n".join(bad))
    expected = {e["query"]: {"digest": e["digest"], "checked_by": "duckdb oracle"
                             if e["query"] in oracle else "seed result (no oracle SQL)"}
                for e in execs}
    with open(os.path.join(run.HERE, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"expected.json: {len(expected)} digests, {len(oracle)} DuckDB-checked")


if __name__ == "__main__":
    main()
