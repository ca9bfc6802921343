#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload ingest_native --seed 1 --seconds 12 --trace 0

Workloads: ``ingest_native``, ``ingest_txnlog``, ``curate_ops`` (see
README.md). ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
wraps the public calls into each layer and prints the per-layer metrics
instead, writing its spans as JSON lines under ``perfbench/out/trace/``.
Run it from the root of a checkout of the repository: it imports the
engine from there and writes only under ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

WORKLOADS = ("ingest_native", "ingest_txnlog", "curate_ops")


def layer_metric_units() -> dict[str, str]:
    """Every per-layer metric, in report order. A traced run reports all
    of them; a layer its workload does not call reads 0."""
    from perfbench import curate, ingest

    units = {"session.start_s": "s"}
    units.update(ingest.LAYER_UNITS)
    for q in curate.QUERIES:
        units.update({f"ops.{q}.cold_s": "s", f"ops.{q}.warm_s": "s", f"ops.{q}.jobs": "count"})
    units.update(curate.LAYER_UNITS)
    units["trace.overhead_pct"] = "%"
    return units


def main() -> int:
    t_proc = harness.process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(harness.ROOT, harness.PACKAGE)):
        print(f"no {harness.PACKAGE}/ next to perfbench/: run from a checkout "
              "of the repository", file=sys.stderr)
        return 2

    workdir = harness.fresh_dir(os.path.join(harness.OUT, args.workload))
    harness.configure_env(workdir)
    try:
        if args.workload == "curate_ops":
            from perfbench import curate

            res = curate.run(args.seed, args.seconds, bool(args.trace), workdir, t_proc)
        else:
            from perfbench import ingest

            fmt = args.workload.split("_", 1)[1]
            res = ingest.run(fmt, args.seed, args.seconds, bool(args.trace), workdir, t_proc)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    for p in res.problems:
        print(f"CHECK FAILED: {p}")
    print("run: " + ", ".join(f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}"
                              for k, v in res.info.items()))
    for name, unit in harness.E2E_UNITS.items():
        print(f"{name} = {res.metrics[name]:.6g} {unit}")
    units = harness.E2E_UNITS
    if res.tracer is not None:
        units = layer_metric_units()
        trace_dir = os.path.join(harness.OUT, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl")
        res.tracer.write_jsonl(path)
        print(f"spans: {path}")
        for name, s in sorted(res.tracer.self_times().items(), key=lambda kv: -kv[1]):
            print(f"self time {name} = {s:.4f} s")
        for name, unit in units.items():
            print(f"{name} = {res.layers.get(name, 0.0):.6g} {unit}")
        print(f"tracing bookkeeping: {res.tracer.overhead_s:.4f} s in this run; compare "
              "the end-to-end lines above with an untraced run of the same seed")
    print(harness.result_line(res, units))
    return 0

if __name__ == "__main__":
    sys.exit(main())
