"""Benchmark entry point.

    python3 perfbench/run.py --workload tail_serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository.  Every metric is
printed by name, unit and workload; the last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}`` holding
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``, which also writes a span artifact under
``.perfbench-out/``).  A failed correctness gate prints the result with
``"correct": false`` and exits 1; a checkout without the engine exits 2
before starting anything.

The work of a run is fixed (``SIZES`` in each workload module), so the
number of samples behind a median does not follow host speed;
``--seconds`` is accepted as part of the benchmark's command line and
does not change it.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time

import harness
import layers
from harness import OUT, WORK, BenchError, Tracer

WORKLOADS = ("tail_serve", "query_suite")
E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "cpu_s": "s",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
}


def run_workload(name: str, spark, tr: Tracer, seed: int, size: str, inject=None) -> dict:
    work = harness.fresh_dir(WORK / name)
    if name == "query_suite":
        import query_suite

        return query_suite.run(spark, tr, query_suite.SIZES[size], work, inject=inject)
    import lake_workloads

    return lake_workloads.tail_serve(spark, tr, seed, lake_workloads.SIZES[size], work, inject=inject)


def measure(workload: str, seed: int, trace: bool) -> dict:
    """One run: start a host-sized session, run the workload, stop it."""
    harness.require_engine()
    t0 = time.perf_counter()
    spark = harness.start_session(f"perfbench-{workload}")
    try:
        spark.range(1).collect()  # the JVM and the first job are part of start-up
        start_s = time.perf_counter() - t0
        tr = Tracer(spark, trace)
        res = run_workload(workload, spark, tr, seed, "bench")
        res["e2e"]["setup_s"] = start_s + sum(res["setup_parts"].values())
        res["setup_parts"] = {"session.start_s": start_s, **res["setup_parts"]}
        tr.finish()
        if trace:
            res["layers"] = layers.per_layer(tr, res)
            tr.dump(
                OUT / f"trace-{workload}-seed{seed}.json",
                {"workload": workload, "seed": seed, "e2e": res["e2e"], "layers": res["layers"]},
            )
    finally:
        harness.stop_session(spark)
    return res


def report(workload: str, seed: int, res: dict, trace: bool) -> dict:
    for k, v in sorted(res["e2e"].items()):
        print(f"{workload:12s} {k:34s} {v:14.6f} {E2E_UNITS[k]}")
    # keep the end-to-end numbers of every run, so a traced run can show
    # its overhead against an untraced run of the same workload and seed
    OUT.mkdir(parents=True, exist_ok=True)
    (OUT / f"e2e-{workload}-seed{seed}-trace{int(trace)}.json").write_text(json.dumps(res["e2e"]))
    untraced = OUT / f"e2e-{workload}-seed{seed}-trace0.json"
    if trace and untraced.exists():
        base = json.loads(untraced.read_text())
        for k in ("pass_s", "cpu_s"):
            print(f"{workload:12s} {'trace_overhead.' + k:34s} {res['e2e'][k] - base[k]:14.6f} s")
    for k, (v, unit) in res["extra"].items():
        print(f"{workload:12s} {k:34s} {v:14.6f} {unit}")
    ratio = res["failed"] / res["attempted"]
    print(f"{workload:12s} {'failed_op_ratio':34s} {ratio:14.6f} ratio")
    print(f"{workload:12s} op={res['op']['name']} gate={json.dumps(res['gate'], sort_keys=True)}")
    if trace:
        metrics = {k: {"value": v, "unit": layers.unit(k)} for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in E2E_UNITS.items()}
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="accepted; the work of a run is fixed")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        res = measure(args.workload, args.seed, bool(args.trace))
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    out = report(args.workload, args.seed, res, bool(args.trace))
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
