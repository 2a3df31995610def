"""``batch_lakehouse``: one closed-loop client issuing a fixed mix of
requests in one session: the registered analytic queries first
(:mod:`perfbench.batch`), then the lakehouse table ops
(:mod:`perfbench.lakehouse`). Its end-to-end latency is the time the
client waits for one request of the mix.

The untimed set-up passes, the queries' warm-up-and-check pass and the
lakehouse build (the readings table, the CDC snapshot), run at the same
time on three threads; every timed request runs alone, after them."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import numpy as np

from perfbench.batch import check_queries, time_queries
from perfbench.harness import Run, pct
from perfbench.lakehouse import Lake, ops_phase


def batch_lakehouse(run: Run) -> None:
    run.start_spark()
    lake = Lake(run, np.random.default_rng([run.seed, 3]))
    with ThreadPoolExecutor(max_workers=2, thread_name_prefix="lakehouse-build") as pool:
        builds = [pool.submit(lake.build_table), pool.submit(lake.build_cdc)]
        sf, fns = check_queries(run)
        for b in builds:
            b.result()
    if run.failed:
        return
    samples = time_queries(run, sf, fns) + ops_phase(run, lake)
    if run.failed:
        return
    run.metric("latency_p50_ms", pct(samples, 50) * 1000, "ms")
    run.metric("latency_p99_ms", pct(samples, 99) * 1000, "ms")
    run.metric("throughput_per_s", len(samples) / sum(samples), "1/s")
