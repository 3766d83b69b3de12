#!/usr/bin/env python3
"""Derive the expected output of every benchmark item: expected/<workload>.json.

    python3 perfbench/derive_expected.py [workload ...]

Run from the root of a graft checkout, at the commit whose outputs are
taken as correct. For each workload it runs every item once through the
harness (`run.py --mode dump`), which writes each item's output as
parquet under <dump>/<item> (`doc:x` as `doc_x`), its digest (row count,
column names and an order-independent xxhash64 sum) and
<dump>/oracle_sql.json.

Items with a DuckDB oracle in `SparkEntry.oracleSql` (a stored document
uses the oracle of the query it mirrors, `oracle_of` in workloads.json)
are checked first by `tools/check_oracle.py <data> <dump>`. If it
reports a failure, the script stops and nothing is written. Items with
no oracle are spec-only: their digest at this commit is taken as
expected. The benchmark compares every run's digests with these files,
outside the timed region.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def derive(workload, spec, work):
    dump = os.path.join(work, "run", "dump")
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                    "--seed", "0", "--seconds", "1", "--mode", "dump"], cwd=ROOT, check=True)
    data = os.path.join(work, "data", spec[workload]["data"])
    if subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                       data, dump], cwd=ROOT).returncode != 0:
        sys.exit(f"{workload}: oracle mismatch, nothing written")
    digests = json.load(open(os.path.join(dump, "digests.json")))
    oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
    out = {item: dict(d, source="duckdb" if item.replace(":", "_") in oracle else "spec")
           for item, d in digests.items()}
    with open(os.path.join(HERE, "expected", workload + ".json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    n_oracle = sum(e["source"] == "duckdb" for e in out.values())
    print(f"{workload}: {len(out)} items, {n_oracle} checked against DuckDB")


def main():
    spec = json.load(open(os.path.join(HERE, "workloads.json")))
    work = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    for w in sys.argv[1:] or list(spec):
        derive(w, spec, work)


if __name__ == "__main__":
    main()
