"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload at the ``tiny`` size in one Spark session and checks
that all correctness gates pass, then damages the outputs on purpose (a
dropped lake commit, a corrupted lake row, a wrong query result) and
checks that the gates catch each one, so they are not vacuous.  Exits 0
when every case behaves as expected.
"""

from __future__ import annotations

import shutil
import sys

import harness
from harness import WORK, Tracer
from layers import HEADLINE
from run import run_workload

CASES = (
    # (workload, fault, gates expected to fail)
    ("tail_serve", None, False),
    ("tail_serve", "drop_commit", True),
    ("tail_serve", "corrupt_row", True),
    ("query_suite", "corrupt_result", True),
)


def main() -> int:
    harness.require_engine()
    spark = harness.start_session("perfbench-selftest")
    ok = True
    try:
        for workload, fault, should_fail in CASES:
            res = run_workload(workload, spark, Tracer(spark, False), seed=7, size="tiny", inject=fault)
            gate = res["gate"]
            if workload == "query_suite":
                # the corrupted query must be the only one flagged
                passed = sorted(gate["bad"]) == [HEADLINE[0]]
            else:
                passed = (res["failed"] > 0) == should_fail
            ok &= passed
            print(f"{'ok  ' if passed else 'FAIL'} {workload} fault={fault} failed={res['failed']} gate={gate}")
    finally:
        harness.stop_session(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
