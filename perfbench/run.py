"""Benchmark runner for the sensor-analytics engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: sensor_stream, batch_lakehouse
(see perfbench/NOTES.md). ``--workload all`` runs each in its own
process and prints every workload's named figures.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Lines before it carry the
workload's named figures and the run's validity.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
if str(HERE.parent) not in sys.path:
    sys.path.insert(0, str(HERE.parent))

WORKLOADS = ("sensor_stream", "batch_lakehouse")


def declared() -> dict:
    with open(HERE.parent / "BENCHMARK.json") as fh:
        return json.load(fh)


def workload_fn(name: str):
    if name == "sensor_stream":
        from perfbench.sensor import stream
        return stream
    if name == "batch_lakehouse":
        from perfbench.client import batch_lakehouse
        return batch_lakehouse
    raise SystemExit(f"unknown workload {name!r}; choose from {WORKLOADS}")


def run_one(args) -> int:
    from perfbench.harness import Run

    spec = declared()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), args.scale)
    t_run = time.perf_counter()
    try:
        workload_fn(args.workload)(run)
    finally:
        run.close()
    run.metric("setup_s", run.setup_s, "s")
    steal = run.steal()
    if run.trace:
        for name, (value, unit) in run.metrics.items():
            run.layer(f"trace.{name}", value, unit)
        run.layer("trace.spans", len(run.tracer.spans), "count")
        run.layer("trace.span_cost_us", run.tracer.span_cost_us(), "us")
        run.layer("host.steal_pct", steal, "%")
        wanted = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        # layers this workload does not touch read 0
        table = {n: run.layers.get(n, (0.0, units[n])) for n in wanted}
    else:
        wanted = [m["name"] for m in spec["end_to_end"]]
        table = {n: run.metrics[n] for n in wanted if n in run.metrics}
    missing = [n for n in wanted if n not in table]
    if missing:
        run.check("metrics_present", False, f"missing {missing}")
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "wall_s": time.perf_counter() - t_run,
        "steal_pct": steal, "validity": run.validity,
        "named": {k: {"value": v, "unit": u} for k, (v, u) in run.named.items()},
        "failures": run.failures,
    }))
    print(json.dumps({
        "correct": run.failed == 0 and not missing,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in table.items()},
    }))
    return 0


def run_all(args) -> int:
    """Every workload in its own process; prints all named figures."""
    named, correct, attempted, failed = {}, True, 0, 0
    for w in WORKLOADS:
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", "0", "--scale", str(args.scale)]
        out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout
        lines = [json.loads(x) for x in out.strip().splitlines() if x.startswith("{")]
        info, result = lines[-2], lines[-1]
        named.update({f"{w}.{k}": v for k, v in info["named"].items()})
        named.update({f"{w}.{k}": v for k, v in result["metrics"].items()})
        correct &= result["correct"]
        attempted += result["attempted"]
        failed += result["failed"]
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": named}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test runs at a tiny scale)")
    args = ap.parse_args(argv)
    os.chdir(HERE.parent)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
