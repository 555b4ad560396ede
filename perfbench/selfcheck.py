#!/usr/bin/env python3
"""Self-checks for the benchmark; exits non-zero if one fails.

    python3 perfbench/selfcheck.py

One traced run of the fixed_cost workload in which one query is made to
throw and one result row is corrupted before the oracle check. It passes when
- failed_frac is above 0 and the JSON line reports the failures,
- oracle_mismatches names exactly the corrupted query (the thrown one has no
  result and counts as failed, not as a mismatch),
- layer self-times sum to within 10% of the wall for at least 90% of queries.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
THROW, CORRUPT, SEED = "q60_pack_sequences", "q15_dedup_exact", 1


def main():
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "fixed_cost",
           "--seed", str(SEED), "--seconds", "2", "--trace", "1",
           "--make-throw", THROW, "--corrupt-row", CORRUPT]
    res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    print(res.stdout, end="")
    if res.returncode != 0:
        print(res.stderr, file=sys.stderr)
        sys.exit(f"selfcheck: run failed with exit {res.returncode}")
    last = json.loads(res.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".bench_build", "perfbench", "reports",
                           f"fixed_cost-seed{SEED}-trace1.json")) as f:
        report = json.load(f)
    coverage = report["per_layer"]["trace.coverage_frac"][0]
    checks = [
        ("a query made to throw raises failed_frac",
         report["failed_frac"] > 0 and last["failed"] > 0 and not last["correct"]),
        ("one corrupted row raises oracle_mismatches, by name",
         report["oracle_mismatches"] == [CORRUPT]),
        ("layer self-times sum to within 10% of wall for >= 90% of queries",
         coverage >= 0.9),
    ]
    for name, ok in checks:
        print(f"{'PASS' if ok else 'FAIL'} {name}")
    print(f"(failed_frac {report['failed_frac']:.4f}, mismatches "
          f"{report['oracle_mismatches']}, trace.coverage_frac {coverage:.3f})")
    sys.exit(0 if all(ok for _, ok in checks) else 1)


if __name__ == "__main__":
    main()
