#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1>

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``). The lines before it report every metric by
name with its unit, each operation's latency summary and the host
controls.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _stop_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it: spark.stop() ends the
    SparkContext (and its Python workers) but leaves the JVM running
    until this process exits."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench.workloads import SPECS, Run

    if args.workload not in SPECS:
        ap.error(f"--workload must be one of {sorted(SPECS)}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), ROOT)
    try:
        run.start()
        run.measure()
        run.verify()
        run.host_controls()
        if args.trace:
            run.replay()
    finally:
        run.close()
        _stop_jvm()

    if args.trace:
        declared = bench["per_layer"]
        values = run.per_layer([m["name"] for m in declared])
    else:
        declared = bench["end_to_end"]
        values = run.end_to_end()
    for line in run.report_lines():
        print(line)
    metrics = {}
    for m in declared:
        v = float(values[m["name"]])
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"metric {m['name']} = {v!r} {m['unit']} "
              f"({m['better']} is better)")
    print(json.dumps({"correct": run.failed == 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
