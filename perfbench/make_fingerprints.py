#!/usr/bin/env python3
"""Record the neardup workload's expected-result fingerprints.

Usage (from the repository root, after one run.py build):

    python3 perfbench/make_fingerprints.py <scratch dir>

Writes the workload's fixed input tables and each query's result under
<scratch dir>, runs tools/compare_oracle.py (the DuckDB oracle) on them,
and only when every neardup query passes copies the fingerprints to
perfbench/neardup_fingerprints.json and the oracle's report to
perfbench/neardup_oracle.txt.
"""
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    out = os.path.abspath(sys.argv[1])
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "work", "tmp"))
    run.build(run.source_digest())
    code, lines = run.run_java(run.java_cmd(["--fingerprint", out], os.path.join(out, "work")))
    print("\n".join(lines))
    if code != 0:
        sys.exit(f"fingerprint run failed (exit {code})")
    oracle = subprocess.run(
        [sys.executable, os.path.join(run.ROOT, "tools", "compare_oracle.py"),
         os.path.join(out, "tables"), os.path.join(out, "verify")],
        capture_output=True, text=True)
    print(oracle.stdout)
    passed = {l.split()[1] for l in oracle.stdout.splitlines() if l.startswith("PASS ")}
    with open(os.path.join(out, "fingerprints.json")) as fh:
        prints = fh.read()
    missing = [q for q in json.loads(prints) if q not in passed]
    if oracle.returncode != 0 or missing:
        sys.exit(f"oracle did not pass for {missing or 'every query'}; fingerprints not recorded")
    with open(os.path.join(run.BENCH, "neardup_fingerprints.json"), "w") as fh:
        fh.write(prints)
    with open(os.path.join(run.BENCH, "neardup_oracle.txt"), "w") as fh:
        fh.write(oracle.stdout)
    print("recorded perfbench/neardup_fingerprints.json and neardup_oracle.txt")


if __name__ == "__main__":
    main()
