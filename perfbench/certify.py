#!/usr/bin/env python3
"""Certify the curation workload's result digests against DuckDB.

    python3 perfbench/certify.py

Run from the root of the repository. Runs each curation query once in
Spark on perfbench/data/sf0.01, writes its result as parquet, and
compares it with the query's `SparkEntry.oracleSql` in DuckDB using
tools/check.py. When every query matches, the Spark-side digests are
written to perfbench/certified.json, which the benchmark checks every
cold and warm pass against. Re-run it whenever a curation query's
output is meant to change.
"""
import json
import os
import re
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

DATA = os.path.join(run.BENCH, "data", "sf0.01")
OUT = os.path.join(run.BUILD, "certify")


def main():
    classpath = run.build()
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(os.path.join(OUT, "tmp"))
    cmd = (["java"] + run.ADD_OPENS +
           [f"-Xmx{run.HEAP}", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(run.BENCH, 'log4j2.properties')}",
            "-cp", ":".join(classpath), "perfbench.Main",
            "--certify", OUT, "--data", DATA, "--work", os.path.join(OUT, "work"),
            "--cores", str(run.cores())])
    if subprocess.run(cmd).returncode != 0:
        sys.exit("certify: Spark run failed")
    shutil.rmtree(os.path.join(OUT, "tmp"))
    shutil.rmtree(os.path.join(OUT, "work"), ignore_errors=True)
    check = subprocess.run(
        [sys.executable, os.path.join(run.ROOT, "tools", "check.py"), OUT, DATA],
        capture_output=True, text=True)
    print(check.stdout, end="")
    ok = {m.group(1) for m in re.finditer(r"^(q\d+_\w+): OK\b", check.stdout, re.M)}
    with open(os.path.join(OUT, "digests.json")) as f:
        digests = json.load(f)
    bad = sorted(set(digests) - ok)
    if bad:
        sys.exit(f"certify: no DuckDB match for {', '.join(bad)}; nothing written")
    import duckdb
    with open(os.path.join(run.BENCH, "certified.json"), "w") as f:
        json.dump({"data": os.path.relpath(DATA, run.ROOT),
                   "oracle": f"SparkEntry.oracleSql in DuckDB {duckdb.__version__} "
                             "via tools/check.py",
                   "digests": digests}, f, indent=2)
        f.write("\n")
    print(f"certify: {len(digests)} digests written to perfbench/certified.json")


if __name__ == "__main__":
    main()
