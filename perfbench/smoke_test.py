"""Smoke test: every workload at a tiny size, untraced and traced.

    python3 perfbench/smoke_test.py
    python3 -m pytest perfbench/smoke_test.py

Asserts that every metric ``BENCHMARK.json`` declares, and every named
figure of each workload, prints with its unit, and that every
correctness check passes. Takes about four minutes on a 4-core host.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

NAMED = {
    "sensor_stream": (
        "readings_latency_p50_ms", "readings_latency_p99_ms", "alerts_latency_p99_ms",
        "window_latency_p50_ms", "backlog_rows_per_s",
    ),
    "batch_lakehouse": (
        "relational_s", "text_vector_s", "append_p50_s", "upsert_p50_s", "mutation_p50_s",
        "point_read_p50_s", "mv_refresh_p50_s", "optimize_s",
    ),
}


def run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "8", "--trace", str(trace), "--scale", "0.1"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = [x for x in out.stdout.splitlines() if x.startswith("{")]
    return json.loads(lines[-2]), json.loads(lines[-1])


def test_every_workload_prints_every_metric() -> None:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            info, result = run(w["name"], trace)
            where = f"{w['name']} trace={trace}"
            assert result["correct"] and result["failed"] == 0, (where, info["failures"])
            assert result["attempted"] >= 1, where
            assert set(result["metrics"]) == {m["name"] for m in spec[key]}, where
            for m in spec[key]:
                got = result["metrics"][m["name"]]
                assert got["unit"] == m["unit"], (where, m["name"], got)
                assert isinstance(got["value"], (int, float)), (where, m["name"], got)
            for name in NAMED[w["name"]]:
                assert info["named"][name]["unit"], (where, name)


if __name__ == "__main__":
    test_every_workload_prints_every_metric()
    print("smoke test passed")
