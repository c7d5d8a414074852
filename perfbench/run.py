"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload cwl-catchup --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the engine. The workloads, the metric
names and units are defined in ``BENCHMARK.json`` at that root; see
``perfbench/README.md`` for what each one measures and why.

``--trace 0`` prints the end-to-end metrics (tracing off). ``--trace 1``
prints the per-layer metrics: spans around the engine's public calls, the
event log of the traced phase, and the tracing overhead. A per-layer metric
of a layer the workload does not exercise reads 0.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MODULES = {"cwl-catchup": "catchup", "analytics-mix": "analytics"}


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    parser = argparse.ArgumentParser(prog="perfbench/run.py")
    parser.add_argument("--workload", required=True, choices=names)
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=int, default=spec["run_seconds"])
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    sys.path.insert(0, ROOT)
    import kinesis_logs_reader_spark  # noqa: F401  (fails here outside a checkout)

    import harness

    workload = importlib.import_module(MODULES[args.workload])
    bench = harness.Bench(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        measured, correct = workload.run(bench)
    finally:
        bench.shutdown()
    for err in bench.errors:
        print(err, file=sys.stderr)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] in measured:
            value, n = measured[m["name"]]
        elif args.trace:
            value, n = 0, 0
        else:
            raise RuntimeError(f"{args.workload} did not measure {m['name']}")
        metrics[m["name"]] = (value, m["unit"], n)
    harness.emit(bench, metrics, correct)
    return 0


if __name__ == "__main__":
    sys.exit(main())
