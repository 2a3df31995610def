"""Run machinery shared by the workloads.

- ``prepare_env`` pins the process environment before PySpark is
  imported: engine on ``PYTHONPATH`` (Python workers spawned from
  another working directory otherwise fail with ``ModuleNotFoundError``),
  temp and Spark local dirs inside the checkout, UTC.
- ``Run`` owns one run's state: the SparkSession and its set-up time,
  the span recorder, the correctness ledger and the metrics.
- ``Tracer`` keeps spans in memory (name, start, end, parent, attrs)
  and writes them out when the run ends. With tracing off every span is
  a no-op, so untraced runs pay nothing for the instrumentation.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
OUT = ROOT / ".perfbench_out"

#: host cores the engine may use; the benchmark is sized for 4
CPUS = max(1, min(4, os.cpu_count() or 1))


def prepare_env(tag: str) -> Path:
    """Set the process environment for one run and return its scratch
    directory (removed by :meth:`Run.close`)."""
    work = WORK / f"{tag}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    root = str(ROOT)
    pp = os.environ.get("PYTHONPATH", "")
    if root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")
    if root not in sys.path:
        sys.path.insert(0, root)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["TMPDIR"] = str(tmp)
    # every JVM (the launcher too) keeps its temp files in the checkout
    # and writes no perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TZ"] = "UTC"
    time.tzset()
    return work


def pct(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` (0-100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


class Tracer:
    """In-memory span recorder. Spans of one run share ``trace_id``."""

    def __init__(self, enabled: bool, trace_id: str) -> None:
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._local = threading.local()  # each thread nests its own spans
        self._lock = threading.Lock()  # sinks record from Spark's threads

    def _record(self, parent, name: str, start: float, end, attrs: dict) -> dict:
        rec = {"id": None, "parent": parent, "name": name, "start": start,
               "end": end, "attrs": attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        return rec

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = self._record(stack[-1] if stack else None, name, time.time(), None, attrs)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float | None, parent=None, **attrs) -> int:
        """Record a span measured elsewhere (sink calls on Spark's
        callback threads, listener progress events); -1 when off."""
        if not self.enabled:
            return -1
        return self._record(parent, name, start, end, attrs)["id"]

    def end(self, ids) -> None:
        """Close spans opened with ``add(..., end=None)``."""
        now = time.time()
        for sid in ids:
            if sid >= 0:
                self.spans[sid]["end"] = now

    def span_cost_us(self, n: int = 2000) -> float:
        """Measured cost of one span record on this host, in µs."""
        probe = Tracer(True, "probe")
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("x"):
                pass
        return (time.perf_counter() - t0) / n * 1e6

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"trace_id": self.trace_id, "spans": self.spans}, fh)


class Run:
    """One benchmark run: session, tracer, checks and metrics."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 scale: float = 1.0) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.scale = scale
        self.work = prepare_env(workload)
        self.tracer = Tracer(trace, f"{workload}-{seed}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.named: dict[str, tuple[float, str]] = {}
        self.validity: dict = {}
        self.spark = None
        self.setup_s = None
        # bench.py's /proc/stat reading; imported after prepare_env,
        # since bench imports the engine
        from bench import _cpu_counters

        self._cpu0 = _cpu_counters()

    # -- session -------------------------------------------------------
    def spark_conf(self) -> dict[str, str]:
        return {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
        }

    def start_spark(self, cpus: int = CPUS):
        """Start the engine's session on ``local[cpus]``. The first start
        launches the JVM; its time to a ready session is ``setup_s``."""
        from iot_sensor_data_pipeline_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        with self.tracer.span("session.get_spark", cpus=cpus):
            t0 = time.perf_counter()
            self.spark = get_spark(
                f"perfbench-{self.workload}-c{cpus}",
                master=f"local[{cpus}]",
                shuffle_partitions=cpus,
                extra_conf=self.spark_conf(),
            )
            if self.setup_s is None:
                self.setup_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    # -- checks and metrics --------------------------------------------
    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        """Count one correctness check; a failure is recorded, never raised."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}")
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr, flush=True)
        return ok

    def metric(self, name: str, value: float, unit: str) -> None:
        """An end-to-end metric (printed by untraced runs)."""
        self.metrics[name] = (float(value), unit)

    def layer(self, name: str, value: float, unit: str) -> None:
        """A per-layer metric (printed by traced runs)."""
        self.layers[name] = (float(value), unit)

    def named_metric(self, name: str, value: float, unit: str) -> None:
        """A workload-specific end-to-end figure (printed on its own line)."""
        self.named[name] = (float(value), unit)

    def steal(self) -> float:
        from bench import _cpu_counters, _steal_pct

        return _steal_pct(self._cpu0, _cpu_counters())

    def close(self) -> None:
        if self.trace:
            self.tracer.write(
                OUT / f"trace-{self.workload}-{self.seed}.json"
            )
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        stop_jvm()
        shutil.rmtree(self.work, ignore_errors=True)


def stop_jvm(timeout: float = 60.0) -> None:
    """End the JVM that PySpark launched and wait for it: the gateway
    exits when its stdin closes, taking its Python workers with it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception as e:  # noqa: BLE001 — the process wait below still runs
        print(f"gateway shutdown: {e!r}", file=sys.stderr)
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout)
