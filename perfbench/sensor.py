"""The paper's three streaming jobs, driven through
``Pipeline.start_standard_jobs`` from a file source, 2,400 sensors at
1,000 readings/s, 5% stamped up to 1.5 s out of order. The jobs run a
10 s window with a 2 s watermark, so windows close inside the run. One
job set serves two phases:

1. closed loop: the jobs start on a backlog, an hour-old minute of
   readings, and drain it in ``maxFilesPerTrigger`` batches (the
   per-row data path);
2. open loop: one generator thread then drops pre-rendered JSON-lines
   files into the source directory on a fixed schedule. Latency runs
   from a reading's creation (the time its file was due) to the return
   of the wrapped sink call for its epoch (the per-batch fixed cost).

Every sink is ``parquet_batch_sink`` with its job's checkpoint, wrapped
by :class:`SinkLog`; the epoch of each written row is read back from
the sink's ``e<epoch>-`` file names.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from datetime import datetime

import numpy as np
import pandas as pd

from perfbench.harness import Run, pct

TYPES = ("temperature", "humidity", "pressure")
UNITS = ("celsius", "percent", "hPa")
BASE = (22.5, 47.5, 1015.0)
SWING = (2.5, 7.5, 5.0)
ANOMALY = ((31.0, 12.0), (75.0, 25.0), (1045.0, 975.0))
JOBS = ("persistence", "alerts", "aggregator")
TABLES = ("readings", "alerts", "alerts_wire", "windows")

OOO_FRAC = 0.05
OOO_MAX_US = 1_500_000


class Fleet:
    """``n`` sensors laid out like the reference fleet (type, room,
    floor), repeated over ``n / 24`` buildings."""

    def __init__(self, n: int) -> None:
        i = np.arange(n)
        self.n = n
        self.type_idx = i % 3
        self.room = (i // 3) % 4 + 100
        self.floor = (i // 12) % 2 + 1
        bld = i // 24
        self.building = np.array([f"B{b:03d}" for b in bld])
        self.sensor_id = np.array(
            [f"B{b:03d}_{f}_{r}_{TYPES[t]}" for b, f, r, t in
             zip(bld, self.floor, self.room, self.type_idx)]
        )


def make_readings(rng, fleet: Fleet, created_us: np.ndarray, offset_us: int = 0) -> pd.DataFrame:
    """One reading per ``created_us`` entry, sensors in round-robin
    order. ``ts_us`` is the event stamp: the creation time plus the
    event-clock ``offset_us``, up to 1.5 s earlier for the out-of-order
    5%."""
    n = len(created_us)
    sidx = np.arange(n) % fleet.n
    t = fleet.type_idx[sidx]
    base = np.array(BASE)[t]
    swing = np.array(SWING)[t]
    value = base + swing * rng.uniform(-1.0, 1.0, n)
    anomaly = rng.random(n) < 0.01
    hi = rng.random(n) < 0.5
    anom_v = np.where(hi, np.array([a[0] for a in ANOMALY])[t],
                      np.array([a[1] for a in ANOMALY])[t])
    value = np.where(anomaly, anom_v + rng.uniform(0, 2, n), value)
    value = np.array([float(f"{v:.2f}") for v in value])
    battery = np.where(rng.random(n) < 0.004, rng.integers(5, 40, n),
                       rng.integers(40, 101, n))
    signal = np.where(rng.random(n) < 0.004, rng.integers(-90, -70, n),
                      rng.integers(-70, -39, n))
    # out-of-order stamps: never a whole multiple of the file period, so
    # an early stamp cannot collide with the same sensor's on-time one
    late = rng.random(n) < OOO_FRAC
    shift = rng.integers(100, OOO_MAX_US // 1000, n) * 1000 + rng.integers(1, 999, n)
    ts_us = created_us + offset_us - np.where(late, shift, 0)
    df = pd.DataFrame({
        "sidx": sidx, "sensor_id": fleet.sensor_id[sidx],
        "ts_us": ts_us.astype(np.int64), "created_us": created_us.astype(np.int64),
        "value": value, "battery": battery, "signal": signal,
    })
    # a reading is identified by (sensor_id, ts_us); re-stamp the rare
    # collision so exactly-once stays checkable
    dup = df.duplicated(["sensor_id", "ts_us"])
    while dup.any():
        df.loc[dup, "ts_us"] -= 1
        dup = df.duplicated(["sensor_id", "ts_us"])
    return df


def render(fleet: Fleet, df: pd.DataFrame) -> str:
    """Wire JSON lines (the simulator payload) for ``df``'s readings."""
    stamps = np.datetime_as_string(df["ts_us"].to_numpy().astype("datetime64[us]"), unit="us")
    out = []
    for s, ts, v, b, g in zip(df["sidx"].to_numpy(), stamps, df["value"].to_numpy(),
                              df["battery"].to_numpy(), df["signal"].to_numpy()):
        t = fleet.type_idx[s]
        out.append(
            '{"sensor_id":"%s","sensor_type":"%s","location":{"building":"%s",'
            '"floor":%d,"room":"%d"},"timestamp":"%s","value":%.2f,"unit":"%s",'
            '"metadata":{"battery_level":%d,"signal_strength":%d}}'
            % (fleet.sensor_id[s], TYPES[t], fleet.building[s], fleet.floor[s],
               fleet.room[s], ts, v, UNITS[t], b, g)
        )
    return "\n".join(out) + "\n"


def drop_file(src: str, name: str, body: str) -> None:
    """Atomically publish one source file (hidden temp, then rename)."""
    tmp = os.path.join(src, f".{name}.tmp")
    with open(tmp, "w") as fh:
        fh.write(body)
    os.rename(tmp, os.path.join(src, name))


class SinkLog:
    """Times each sink call per (table, epoch)."""

    def __init__(self, run: Run, job_spans: dict[str, int]) -> None:
        self.run = run
        self.job_spans = job_spans
        self.calls: list[tuple[str, int, float, float]] = []

    def wrap(self, table: str, job: str, inner):
        # two positional parameters, so the fan-out's _wants_epoch keeps
        # passing the epoch and the sink's replay idempotence stays on
        def sink(batch_df, epoch_id):
            t0 = time.time()
            inner(batch_df, epoch_id)
            t1 = time.time()
            self.calls.append((table, epoch_id, t0, t1))
            self.run.tracer.add(f"sources.sinks.{table}", t0, t1,
                                parent=self.job_spans.get(job), epoch=epoch_id)

        return sink

    def returned(self, table: str) -> dict[int, float]:
        out: dict[int, float] = {}
        for t, e, _t0, t1 in self.calls:
            if t == table:
                out[e] = max(t1, out.get(e, 0.0))
        return out


def progress_listener():
    """A listener keeping every progress event, keyed by query id (the
    standard jobs are unnamed)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict] = []

        def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass

    return Progress()


class Jobs:
    """The three standard jobs over one source directory."""

    def __init__(self, run: Run, root: str, window: str, watermark: str,
                 max_files: int | None = None) -> None:
        from iot_sensor_data_pipeline_spark.sources.json_ingest import alert_wire_frame
        from iot_sensor_data_pipeline_spark.sources.sinks import parquet_batch_sink
        from iot_sensor_data_pipeline_spark.streaming.orchestrator import Pipeline

        spark = run.spark
        self.run = run
        self.src = os.path.join(root, "src")
        self.tables = {t: os.path.join(root, "tables", t) for t in TABLES}
        os.makedirs(self.src, exist_ok=True)
        ck = os.path.join(root, "ckpt")
        self.window = window
        now = time.time()
        self.job_spans = {j: run.tracer.add(f"streaming.job.{j}", now, None) for j in JOBS}
        self.log = SinkLog(run, self.job_spans)
        self.listener = progress_listener()
        spark.streams.addListener(self.listener)

        def sink(table, job):
            return parquet_batch_sink(self.tables[table], checkpoint=f"{ck}/{job}")

        wire_inner = sink("alerts_wire", "alerts")

        def wire(df, epoch_id):
            wire_inner(alert_wire_frame(df), epoch_id)

        def raw():
            reader = spark.readStream
            if max_files:
                reader = reader.option("maxFilesPerTrigger", max_files)
            return reader.text(self.src)

        with run.tracer.span("pipeline.start_standard_jobs"):
            self.pipeline = Pipeline().start_standard_jobs(
                raw, ck,
                [self.log.wrap("readings", "persistence", sink("readings", "persistence"))],
                [self.log.wrap("alerts", "alerts", sink("alerts", "alerts")),
                 self.log.wrap("alerts_wire", "alerts", wire)],
                [self.log.wrap("windows", "aggregator", sink("windows", "aggregator"))],
                window_duration=window, watermark=watermark,
            )
        self.ids = {str(q.id): name for name, q in self.pipeline.queries.items()}

    def drain(self) -> None:
        for q in self.pipeline.queries.values():
            q.processAllAvailable()

    def stop(self) -> dict:
        """Stop the jobs; return the aggregator's last progress (read after
        the stop, so no batch can emit windows past its watermark)."""
        self.pipeline.stop_all()
        last = self.pipeline.queries["aggregator"].lastProgress
        self.run.tracer.end(self.job_spans.values())
        self.run.spark.streams.removeListener(self.listener)
        return last

    def progress(self, job: str) -> list[dict]:
        return [p for p in self.listener.events if self.ids.get(p["id"]) == job]

    def table_epochs(self, table: str):
        """The table's rows with the epoch parsed from the file name."""
        from pyspark.sql import functions as F

        df = self.run.spark.read.parquet(self.tables[table])
        return df.withColumn(
            "epoch",
            F.regexp_extract(F.input_file_name(), r"/e(\d+)-[^/]*$", 1).cast("long"),
        )


def _ts_seconds(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


# -- correctness -----------------------------------------------------------
def _same_rows(run: Run, name: str, want, have) -> None:
    """Order-insensitive equality of two small frames, collected."""
    a = want.toPandas()
    b = have.toPandas()[list(a.columns)]
    key = list(a.columns)
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    ok = len(a) > 0 and a.equals(b)
    run.check(name, ok, f"expected {len(a)} rows, got {len(b)}")


def check_outputs(run: Run, jobs: Jobs, gen: pd.DataFrame, last_agg: dict) -> pd.DataFrame:
    """Readings exactly once, alerts equal ``detect_alerts`` and closed
    windows equal ``windowed_agg`` over the generated input, out-of-order
    readings included. Returns the readings table (sensor_id, ts_us,
    epoch) for latency accounting."""
    from pyspark.sql import functions as F

    from iot_sensor_data_pipeline_spark.functions.rules import detect_alerts
    from iot_sensor_data_pipeline_spark.operators.window_agg import windowed_agg
    from iot_sensor_data_pipeline_spark.sources.json_ingest import ingest_readings

    spark = run.spark
    got = (
        jobs.table_epochs("readings")
        .select("sensor_id", F.unix_micros("timestamp").alias("ts_us"), "value", "epoch")
        .toPandas()
    )
    m = gen[["sensor_id", "ts_us", "value"]].merge(
        got, on=["sensor_id", "ts_us"], how="outer", suffixes=("", "_got"), indicator=True
    )
    ok = (
        len(got) == len(gen)
        and not got.duplicated(["sensor_id", "ts_us"]).any()
        and (m["_merge"] == "both").all()
        and bool((m["value"] == m["value_got"]).all())
    )
    run.check("readings_exactly_once", ok,
              f"generated {len(gen)}, table {len(got)}, "
              f"unmatched {int((m['_merge'] != 'both').sum())}")

    batch = ingest_readings(spark.read.text(jobs.src)).cache()
    alert_cols = [c for c in detect_alerts(batch).columns if c != "created_at"]
    _same_rows(run, "alerts_equal_detect_alerts",
               detect_alerts(batch).select(*alert_cols),
               spark.read.parquet(jobs.tables["alerts"]).select(*alert_cols))

    wm = _ts_seconds(last_agg["eventTime"]["watermark"])
    cols = ["window_start", "window_end", "sensor_id", "sensor_type", "n",
            "min_value", "max_value"]
    want_w = (
        windowed_agg(batch, "timestamp", ["sensor_id", "sensor_type"], "value", jobs.window)
        .where(F.col("window_end") <= F.lit(wm).cast("timestamp"))
        .select(*cols, "avg_value")
        .toPandas()
    )
    if not os.path.isdir(jobs.tables["windows"]):
        run.check("windows_equal_windowed_agg", False, "no window was emitted")
    else:
        # averages are compared within a tolerance: the streamed and the
        # batch sums add in different orders, and a 2-decimal sum over 32
        # rows has 7 decimals, so any rounding can tie and flip
        have_w = spark.read.parquet(jobs.tables["windows"]).select(*cols, "avg_value").toPandas()
        m = want_w.merge(have_w, on=cols, how="outer", suffixes=("", "_got"), indicator=True)
        ok = (len(want_w) > 0 and len(have_w) == len(want_w) and (m["_merge"] == "both").all()
              and bool(np.allclose(m["avg_value"], m["avg_value_got"], rtol=1e-12, atol=1e-9)))
        run.check("windows_equal_windowed_agg", ok,
                  f"expected {len(want_w)} rows, got {len(have_w)}, "
                  f"unmatched {int((m['_merge'] != 'both').sum())}")
    batch.unpersist()
    return got


# -- per-layer accounting --------------------------------------------------
def streaming_layers(run: Run, jobs: Jobs, t_lo: float, t_hi: float, prefix: str,
                     full: bool) -> None:
    """Per-job progress split over data batches that started in
    [t_lo, t_hi], from per-phase ``durationMs`` (never a summed total,
    which double-counts ``triggerExecution``)."""
    span = max(t_hi - t_lo, 1e-9)
    for job in JOBS:
        evs = [p for p in jobs.progress(job)
               if t_lo <= _ts_seconds(p["timestamp"]) <= t_hi and p["numInputRows"] > 0]
        d = [p["durationMs"] for p in evs]

        def mean_of(*keys):
            return statistics.fmean(sum(x.get(k, 0) for k in keys) for x in d) if d else 0.0

        pre = f"{prefix}.{job}"
        run.layer(f"{pre}.busy_share", sum(x.get("triggerExecution", 0) for x in d) / 1000 / span, "ratio")
        run.layer(f"{pre}.add_batch_ms", mean_of("addBatch"), "ms")
        run.layer(f"{pre}.commit_ms", mean_of("walCommit", "commitOffsets"), "ms")
        run.layer(f"{pre}.offsets_ms", mean_of("latestOffset", "getBatch"), "ms")
        if full:
            run.layer(f"{pre}.batches", len(evs), "count")
            run.layer(f"{pre}.rows_in", sum(p["numInputRows"] for p in evs), "count")
            run.layer(f"{pre}.planning_ms", mean_of("queryPlanning"), "ms")
        for p in evs:
            start = _ts_seconds(p["timestamp"])
            run.tracer.add(f"{prefix}.{job}.batch", start,
                           start + p["durationMs"].get("triggerExecution", 0) / 1000,
                           parent=jobs.job_spans.get(job), batch=p["batchId"],
                           rows=p["numInputRows"], phases=p["durationMs"])
    if not full:
        return
    agg = jobs.progress("aggregator")
    ops = (agg[-1].get("stateOperators") if agg else None) or [{}]
    run.layer(f"{prefix}.aggregator.state_rows", ops[0].get("numRowsTotal", 0), "count")
    run.layer(f"{prefix}.aggregator.state_bytes", ops[0].get("memoryUsedBytes", 0), "bytes")
    run.layer(f"{prefix}.aggregator.rows_dropped_by_watermark",
              sum(((p.get("stateOperators") or [{}])[0]).get("numRowsDroppedByWatermark", 0)
                  for p in agg), "count")
    for table in TABLES:
        calls = [c for c in jobs.log.calls if c[0] == table and t_lo <= c[2] <= t_hi]
        run.layer(f"sources.sinks.{table}.write_ms",
                  statistics.fmean((c[3] - c[2]) * 1000 for c in calls) if calls else 0.0, "ms")
        path = jobs.tables[table]
        n_files = sum(1 for f in os.listdir(path) if f.endswith(".parquet")) if os.path.isdir(path) else 0
        run.layer(f"sources.sinks.{table}.files", n_files, "count")


def batch_call_rates(run: Run, src: str, n_rows: int, window: str) -> None:
    """rows/s of the data-path calls as batch calls over the run's input."""
    from iot_sensor_data_pipeline_spark.functions.rules import detect_alerts
    from iot_sensor_data_pipeline_spark.operators.window_agg import windowed_agg
    from iot_sensor_data_pipeline_spark.sources.json_ingest import ingest_readings

    spark = run.spark

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    noop(ingest_readings(spark.read.text(src)))  # warm-up
    with run.tracer.span("sources.json_ingest.ingest_readings"):
        t0 = time.perf_counter()
        noop(ingest_readings(spark.read.text(src)))
        run.layer("sources.json_ingest.rows_per_s", n_rows / (time.perf_counter() - t0), "1/s")
    cached = ingest_readings(spark.read.text(src)).cache()
    cached.count()
    calls = {
        "functions.rules.rows_per_s": lambda: detect_alerts(cached),
        "operators.window_agg.rows_per_s": lambda: windowed_agg(
            cached, "timestamp", ["sensor_id", "sensor_type"], "value", window),
    }
    for name, build in calls.items():
        noop(build())
        with run.tracer.span(name):
            t0 = time.perf_counter()
            noop(build())
            run.layer(name, n_rows / (time.perf_counter() - t0), "1/s")
    cached.unpersist()


# -- the workload ----------------------------------------------------------
N_SENSORS = 2400
RATE = 1000
WINDOW = "10 seconds"
WATERMARK_S = 2.0
WATERMARK = f"{WATERMARK_S:g} seconds"

#: files of this many readings, drained one at a time before the open
#: loop, untimed: the jobs' first (cold) batches
PRIME_FILES = 2
PRIME_ROWS = 1500

# phase 1, open loop: one file per PERIOD, long enough that each job
# finishes a file's batch before the next file lands, so latency is one
# batch's fixed cost rather than a queue behind busy jobs
PERIOD = 4.0
WARMUP = 8.0
#: invalid when the generator ran this late, when the slowest job ended
#: more than this many files behind, or when the second half's median
#: latency exceeded the first's by more than TREND_LIMIT
LATE_LIMIT_MS = 250.0
BACKLOG_FILES = 2
TREND_LIMIT = 1.5
#: seconds between the schedule's start and its first file
RENDER_LEAD = 1.0

# phase 2, closed loop: the backlog holds BACKLOG_BATCHES whole
# maxFilesPerTrigger batches of MAX_FILES files of FILE_ROWS readings
FILE_ROWS = 1000
MAX_FILES = 20
BACKLOG_BATCHES = 3


def stage_backlog(staged: str, n_rows: int, fleet: Fleet, rng, start_us: int) -> pd.DataFrame:
    """Render the backlog as FILE_ROWS-row files into ``staged``: the
    fleet's readings at RATE on the event clock from ``start_us``."""
    created = start_us + np.arange(n_rows) * (1_000_000 // RATE)
    gen = make_readings(rng, fleet, created)
    os.makedirs(staged, exist_ok=True)
    for f in range(0, n_rows, FILE_ROWS):
        drop_file(staged, f"b{f // FILE_ROWS:06d}.json", render(fleet, gen.iloc[f:f + FILE_ROWS]))
    return gen


def prime(run: Run, jobs: Jobs, fleet: Fleet, rng, created_us: int) -> pd.DataFrame:
    """Drain PRIME_FILES small files one at a time, untimed: the jobs'
    first batches pay the session's first-call costs."""
    rows = make_readings(rng, fleet, np.full(PRIME_FILES * PRIME_ROWS, created_us))
    for i in range(PRIME_FILES):
        drop_file(jobs.src, f"a{i}.json", render(fleet, rows.iloc[i * PRIME_ROWS:(i + 1) * PRIME_ROWS]))
        with run.tracer.span("streaming.prime"):
            jobs.drain()
    return rows


def drain_backlog(run: Run, jobs: Jobs, staged: str) -> tuple[int, float]:
    """Publish every staged file at once and time the jobs' drain.
    Returns the rows timed and the drain seconds."""
    names = sorted(os.listdir(staged))
    with run.tracer.span("streaming.drain", files=len(names)):
        t0 = time.perf_counter()
        for name in names:
            os.rename(os.path.join(staged, name), os.path.join(jobs.src, name))
        jobs.drain()
        wall = time.perf_counter() - t0
    return len(names) * FILE_ROWS, wall


class OpenLoop:
    """The generator's schedule and what it published."""

    def __init__(self, run: Run, fleet: Fleet) -> None:
        rate = max(10, int(RATE * run.scale))
        self.per_file = max(1, int(rate * PERIOD))
        warmup = WARMUP if run.scale >= 1 else PERIOD
        n_files = int(round((warmup + run.seconds) / PERIOD))
        # file i is due at t0 + i * PERIOD. The event clock runs
        # ``offset`` ahead of the wall clock so that a window closes
        # 0.45 s after the warm-up; event stamps then end in .55 s, clear
        # of the window boundaries (the watermark is ms-grained). Every
        # file is rendered within RENDER_LEAD, before the first is due.
        self.t0 = np.ceil((time.time() + RENDER_LEAD) * 10) / 10 + 0.05
        self.t_meas = self.t0 + warmup
        edge = self.t_meas + 0.45
        self.offset = round(np.ceil(edge / 10) * 10 - edge, 1)
        self.due = self.t0 + np.arange(n_files) * PERIOD
        self.gen = make_readings(np.random.default_rng(run.seed), fleet,
                                 np.repeat((self.due * 1e6).astype(np.int64), self.per_file),
                                 int(self.offset * 1e6))
        self.bodies = [render(fleet, self.gen.iloc[i * self.per_file:(i + 1) * self.per_file])
                       for i in range(n_files)]
        self.late = [0.0] * n_files

    def run(self, src: str) -> float:
        """Publish every file on schedule; return the time the last landed."""
        def generate():
            for i, body in enumerate(self.bodies):
                wait = self.due[i] - time.time()
                if wait > 0:
                    time.sleep(wait)
                self.late[i] = time.time() - self.due[i]
                drop_file(src, f"f{i:06d}.json", body)

        thread = threading.Thread(target=generate, name="generator")
        thread.start()
        thread.join()
        return time.time()


def backlog_rows(jobs: Jobs, published: int, t: float) -> int:
    """Rows published by ``t`` that the slowest job had not finished."""
    done = min(
        sum(p["numInputRows"] for p in jobs.progress(j)
            if _ts_seconds(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1000 <= t)
        for j in JOBS
    )
    return published - done


def open_loop_figures(run: Run, jobs: Jobs, loop: OpenLoop, got: pd.DataFrame,
                      b_end: int) -> None:
    """Latencies of the readings, alerts and windows created after the
    warm-up, and the run's open-loop validity."""
    t_meas = loop.t_meas
    gen = loop.gen
    ret = jobs.log.returned("readings")
    m = gen.merge(got[["sensor_id", "ts_us", "epoch"]], on=["sensor_id", "ts_us"])
    m = m[m["created_us"] >= t_meas * 1e6]
    lat = ((m["epoch"].map(ret) - m["created_us"] / 1e6) * 1000).dropna()
    a = (
        jobs.table_epochs("alerts")
        .selectExpr("sensor_id", "unix_micros(timestamp) AS ts_us", "epoch")
        .toPandas()
        .merge(gen, on=["sensor_id", "ts_us"])
    )
    a = a[a["created_us"] >= t_meas * 1e6]
    a_lat = ((a["epoch"].map(jobs.log.returned("alerts")) - a["created_us"] / 1e6) * 1000).dropna()
    w = jobs.table_epochs("windows").selectExpr(
        "unix_micros(window_end) AS end_us", "epoch").toPandas()
    w["end_s"] = w["end_us"] / 1e6 - loop.offset  # window end on the wall clock
    # windows the open loop's own readings closed (the backlog closes
    # the last few)
    w = w[(w["end_s"] >= t_meas) & (w["end_s"] <= loop.due[-1] - WATERMARK_S)]
    w_lat = ((w["epoch"].map(jobs.log.returned("windows")) - w["end_s"]) * 1000).dropna()
    run.check("latency_samples", len(lat) > 0 and len(a_lat) > 0 and len(w_lat) > 0,
              f"readings {len(lat)}, alerts {len(a_lat)}, windows {len(w_lat)}")
    if run.failed:
        return

    # Open-loop validity, a check of its own: a run whose generator fell
    # behind schedule, or whose jobs fell behind the generator, is
    # invalid rather than slow. When the last file lands, a job keeping
    # up has at most the file before it in flight; and the median
    # latency of the second half of the measurement must not have
    # drifted above the first's.
    late_ms = max(loop.late) * 1000
    limit = BACKLOG_FILES * loop.per_file
    mid_us = (t_meas + run.seconds / 2) * 1e6
    created = m.loc[lat.index, "created_us"]
    halves = (pct(lat[created < mid_us], 50), pct(lat[created >= mid_us], 50))
    run.validity = {
        "generator_late_ms_max": late_ms,
        "backlog_rows_end": b_end,
        "backlog_rows_limit": limit,
        "latency_p50_halves_ms": halves,
        "valid": late_ms <= LATE_LIMIT_MS and b_end <= limit and halves[1] <= TREND_LIMIT * halves[0],
    }
    run.check("open_loop_valid", run.validity["valid"], json.dumps(run.validity))
    run.metric("latency_p50_ms", pct(lat, 50), "ms")
    run.metric("latency_p99_ms", pct(lat, 99), "ms")
    run.named_metric("readings_latency_p50_ms", pct(lat, 50), "ms")
    run.named_metric("readings_latency_p99_ms", pct(lat, 99), "ms")
    run.named_metric("alerts_latency_p99_ms", pct(a_lat, 99), "ms")
    run.named_metric("window_latency_p50_ms", pct(w_lat, 50), "ms")
    run.layer("generator.late_ms_max", late_ms, "ms")
    run.layer("generator.backlog_rows_end", b_end, "count")


def scaling(run: Run, src: str, rows_per_s: float) -> None:
    """The backlog drain at local[1] over one batch and at local[2] over
    two, as a ratio to the local[4] rate, each in a fresh session whose
    jobs are primed first."""
    files = sorted(f for f in os.listdir(src) if f.startswith("b"))
    fleet = Fleet(max(24, int(N_SENSORS * run.scale) // 24 * 24))
    for cpus, batches in ((1, 1), (2, 2)):
        run.start_spark(cpus)
        sub = str(run.work / f"backlog_c{cpus}")
        staged = os.path.join(sub, "staged")
        os.makedirs(staged)
        for name in files[: batches * MAX_FILES]:
            os.link(os.path.join(src, name), os.path.join(staged, name))
        with run.tracer.span(f"streaming.scaling.local{cpus}"):
            jobs = Jobs(run, sub, WINDOW, WATERMARK, max_files=MAX_FILES)
            prime(run, jobs, fleet, np.random.default_rng([run.seed, 1]),
                  int((time.time() - 3600) * 1e6))
            rows, wall = drain_backlog(run, jobs, staged)
            jobs.stop()
        run.layer(f"streaming.scaling.local{cpus}_ratio", (rows / wall) / rows_per_s, "ratio")


def stream(run: Run) -> None:
    """The three jobs start, keep up with the generator (open loop),
    then catch up on a backlog (closed loop), in one JVM."""
    run.start_spark()
    fleet = Fleet(max(24, int(N_SENSORS * run.scale) // 24 * 24))
    root = str(run.work / "stream")
    jobs = Jobs(run, root, WINDOW, WATERMARK, max_files=MAX_FILES)
    # primed with readings stamped 30 s back, before the open loop's
    primed = prime(run, jobs, fleet, np.random.default_rng([run.seed, 1]),
                   int((time.time() - 30) * 1e6))

    with run.tracer.span("generator.render"):
        loop = OpenLoop(run, fleet)
    with run.tracer.span("generator.open_loop", files=len(loop.bodies), rows=len(loop.gen)):
        t_end = loop.run(jobs.src)
    with run.tracer.span("streaming.drain"):
        jobs.drain()
    published = len(primed) + len(loop.bodies) * loop.per_file
    b_end = backlog_rows(jobs, published, t_end)

    # the backlog's event clock starts 10 s after the open loop's last
    # stamp, so the watermark drops none of it
    n_rows = max(1, round(BACKLOG_BATCHES * run.scale)) * MAX_FILES * FILE_ROWS
    staged = os.path.join(root, "staged")
    with run.tracer.span("generator.stage_backlog", rows=n_rows):
        backlog = stage_backlog(staged, n_rows, fleet, np.random.default_rng([run.seed, 2]),
                                int(loop.gen["ts_us"].max()) + 10_000_000)
    t_start = time.time()
    rows, wall = drain_backlog(run, jobs, staged)
    t_drained = time.time()
    rows_per_s = rows / wall
    run.metric("throughput_per_s", rows_per_s, "1/s")
    run.named_metric("backlog_rows_per_s", rows_per_s, "1/s")
    last_agg = jobs.stop()

    with run.tracer.span("checks"):
        got = check_outputs(run, jobs, pd.concat([primed, loop.gen, backlog]), last_agg)
    if run.failed:
        return
    open_loop_figures(run, jobs, loop, got, b_end)
    if not run.trace or run.failed:
        return
    streaming_layers(run, jobs, loop.t_meas, t_end, "streaming", full=True)
    streaming_layers(run, jobs, t_start, t_drained, "streaming.backlog", full=False)
    batch_call_rates(run, jobs.src, len(primed) + len(loop.gen) + len(backlog), WINDOW)
    scaling(run, jobs.src, rows_per_s)
