"""Storage phase of ``batch_lakehouse``: the lakehouse table ops under
a closed loop with one client, writes beside reads, over a
many-small-file readings table.

One round runs a fixed op sequence whose arguments come from the seed:

1. append a batch through ``parquet_batch_sink(manifest_cols=["k"])``;
2. a bucketed CDC upsert (``start_cdc_apply_bucketed``, ``available_now``);
3. a ``read_pruned`` point read;
4. ``delete_where`` and ``merge_into`` (both carry the change feed), on
   keys older than the newest append (see ``Lake.settled``);
5. ``refresh_agg_view`` on the table's aggregate view.

No separate warm-up round: the query phase before it has warmed the
session, and these ops are bound by their job count, not by first-call
costs (a warm-up round measured 5-10% slower than the next). The phase
ends with a ``Pipeline.maintain`` OPTIMIZE tick. The final table, CDC
snapshot and view are compared with an expectation replayed in pandas
from the same op log.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd

from perfbench.harness import Run

N_SENSORS = 48
BASE_FILES = 16
FILE_ROWS = 1000
APPEND_ROWS = 500
CDC_KEYS = 5000
CDC_BUCKETS = 16
CDC_BATCH = (60, 20, 10)  # updates, inserts, deletes
DELETE_SPAN = 300
MERGE_ROWS = (40, 20)  # updated, inserted
MERGE_SPAN = 400

OPS = ("append", "upsert", "point_read", "delete", "merge", "mv_refresh")


def _data_bytes(root: str) -> dict[str, int]:
    """{parquet data file: bytes} under ``root``, skipping hidden and
    staging entries the way Spark's file index does (a ``_``-prefixed
    directory is data only as a ``key=value`` partition)."""
    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(".")
                   and (not x.startswith("_") or "=" in x)]
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                out[os.path.join(d, f)] = os.path.getsize(os.path.join(d, f))
    return out


class Lake:
    """The tables under test plus the pandas expectation of each."""

    def __init__(self, run: Run, rng) -> None:
        from iot_sensor_data_pipeline_spark.sources.sinks import parquet_batch_sink

        self.run, self.rng = run, rng
        root = str(run.work / "lake")
        self.table = f"{root}/readings"
        self.mv = f"{root}/readings_mv"
        self.cdc_src = f"{root}/cdc_src"
        self.cdc_snap = f"{root}/cdc_snapshot"
        self.cdc_ck = f"{root}/cdc_ckpt"
        os.makedirs(self.cdc_src, exist_ok=True)
        self.sink = parquet_batch_sink(self.table, manifest_cols=["k"],
                                       checkpoint=f"{root}/append_ckpt")
        self.epoch = 0
        self.next_k = 0
        self.rows = pd.DataFrame({"k": pd.Series(dtype="int64"),
                                  "sensor_id": pd.Series(dtype="object"),
                                  "value": pd.Series(dtype="float64")})
        self.cdc = {}  # k -> (v, seq)
        self.cdc_seq = 1
        self.cdc_next = CDC_KEYS
        self.cdc_files = 0
        self.times: dict[str, list[float]] = {op: [] for op in OPS}
        self.layer: dict[str, list[float]] = {}

    def note(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    # -- inputs ----------------------------------------------------------
    def new_rows(self, n: int) -> pd.DataFrame:
        k = np.arange(self.next_k, self.next_k + n, dtype=np.int64)
        self.next_k += n
        return pd.DataFrame({
            "k": k,
            "sensor_id": [f"s{i:02d}" for i in self.rng.integers(0, N_SENSORS, n)],
            "value": np.round(self.rng.uniform(0, 100, n), 2),
        })

    def frame(self, pdf: pd.DataFrame):
        return self.run.spark.createDataFrame(pdf, "k long, sensor_id string, value double")

    def timed(self, op: str, fn):
        with self.run.tracer.span(f"lakehouse.{op}"):
            t0 = time.perf_counter()
            out = fn()
            self.times[op].append(time.perf_counter() - t0)
        return out

    # -- set-up ----------------------------------------------------------
    def build_table(self) -> None:
        """The readings table: BASE_FILES small files, one key range
        each, with its key manifest and aggregate view."""
        from iot_sensor_data_pipeline_spark.sources.manifest import write_manifest
        from iot_sensor_data_pipeline_spark.sources.matview import create_agg_view

        span = self.run.tracer.span
        base = self.new_rows(BASE_FILES * FILE_ROWS)
        with span("lakehouse.build.base"):
            self.frame(base).repartitionByRange(BASE_FILES, "k").write.parquet(self.table)
        with span("sources.manifest.write_manifest"):
            write_manifest(self.run.spark, self.table, ["k"])
        self.rows = base
        with span("sources.matview.create_agg_view"):
            create_agg_view(self.run.spark, self.table, self.mv, ["sensor_id"], "value")

    def build_cdc(self) -> None:
        """The CDC snapshot's first load: CDC_KEYS inserts."""
        rows = [{"k": int(k), "v": f"v{k}", "op": "insert", "seq": 1} for k in range(CDC_KEYS)]
        self.cdc = {r["k"]: (r["v"], 1) for r in rows}
        with self.run.tracer.span("streaming.cdc.initial_load"):
            self.cdc_apply(pd.DataFrame(rows))

    def settled(self) -> int:
        """Keys below this predate the newest append. Mutations stay
        below it: ``refresh_agg_view`` refuses to run once a mutation has
        rewritten an epoch the view has not absorbed ("epoch gap")."""
        return self.next_k - APPEND_ROWS

    # -- ops -------------------------------------------------------------
    def append(self, n: int) -> None:
        pdf = self.new_rows(n)
        df = self.frame(pdf)
        epoch, self.epoch = self.epoch, self.epoch + 1
        self.timed("append", lambda: self.sink(df, epoch))
        self.rows = pd.concat([self.rows, pdf], ignore_index=True)

    def cdc_apply(self, changes: pd.DataFrame) -> None:
        """Publish one change file and apply it with an available-now query."""
        from iot_sensor_data_pipeline_spark.streaming.jobs import start_cdc_apply_bucketed

        spark = self.run.spark
        name = f"c{self.cdc_files:05d}.json"
        self.cdc_files += 1
        tmp = os.path.join(self.cdc_src, f".{name}")
        changes.to_json(tmp, orient="records", lines=True)
        os.rename(tmp, os.path.join(self.cdc_src, name))
        q = start_cdc_apply_bucketed(
            spark.readStream.schema("k long, v string, op string, seq long").json(self.cdc_src),
            self.cdc_snap, self.cdc_ck, keys=["k"], seq_col="seq",
            n_buckets=CDC_BUCKETS, available_now=True)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"CDC apply failed: {q.exception()}")

    def upsert(self) -> None:
        u, i, d = CDC_BATCH
        keys = np.array(sorted(self.cdc))
        pick = self.rng.choice(keys, u + d, replace=False)
        self.cdc_seq += 1
        seq = self.cdc_seq
        rows = [{"k": int(k), "v": f"u{k}-{seq}", "op": "update", "seq": seq} for k in pick[:u]]
        rows += [{"k": int(k), "v": None, "op": "delete", "seq": seq} for k in pick[u:]]
        new = range(self.cdc_next, self.cdc_next + i)
        self.cdc_next += i
        rows += [{"k": k, "v": f"i{k}", "op": "insert", "seq": seq} for k in new]
        before = _data_bytes(self.cdc_snap)
        self.timed("upsert", lambda: self.cdc_apply(pd.DataFrame(rows)))
        after = _data_bytes(self.cdc_snap)
        written = sum(b for p, b in after.items() if p not in before)
        self.note("streaming.cdc.write_amp_per_batch", written / (sum(after.values()) or 1))
        for r in rows:
            if r["op"] == "delete":
                self.cdc.pop(r["k"], None)
            else:
                self.cdc[r["k"]] = (r["v"], seq)

    def point_read(self) -> None:
        from iot_sensor_data_pipeline_spark.sources.manifest import prune_files, read_pruned

        spark = self.run.spark
        row = self.rows.iloc[int(self.rng.integers(0, len(self.rows)))]
        k = int(row["k"])
        got = self.timed("point_read",
                         lambda: read_pruned(spark, self.table, {"k": (k, k)}).collect())
        self.run.check("point_read", len(got) == 1 and got[0]["value"] == row["value"]
                       and got[0]["sensor_id"] == row["sensor_id"], f"k={k}: {got}")
        if self.run.trace:
            kept, _total = prune_files(spark, self.table, {"k": (k, k)})
            self.note("sources.manifest.files_read_per_point_read", len(kept))

    def delete(self) -> None:
        from pyspark.sql import functions as F

        from iot_sensor_data_pipeline_spark.sources.mutations import delete_where

        lo = int(self.rng.integers(0, self.settled() - DELETE_SPAN))
        hi = lo + DELETE_SPAN - 1
        before = _data_bytes(self.table)
        res = self.timed("delete", lambda: delete_where(
            self.run.spark, self.table, F.col("k").between(lo, hi),
            prune_predicates={"k": (lo, hi)}, manifest_cols=["k"], change_feed=True))
        gone = self.rows["k"].between(lo, hi)
        self.run.check("delete_count", res["n_rows_deleted"] == int(gone.sum()),
                       f"{res} vs {int(gone.sum())}")
        self.rows = self.rows[~gone].reset_index(drop=True)
        self._mutation_layers(res, before, int(gone.sum()))

    def merge(self) -> None:
        from iot_sensor_data_pipeline_spark.sources.mutations import merge_into

        n_upd, n_ins = MERGE_ROWS
        # updates land in one recent-ish key range, as upserts usually do
        settled = self.rows[self.rows["k"] < self.settled()].sort_values("k")
        start = int(self.rng.integers(0, len(settled) - MERGE_SPAN))
        idx = start + self.rng.choice(MERGE_SPAN, n_upd, replace=False)
        upd = settled.iloc[idx][["k", "sensor_id"]].copy()
        upd["value"] = np.round(self.rng.uniform(100, 200, n_upd), 2)
        src = pd.concat([upd, self.new_rows(n_ins)], ignore_index=True)
        before = _data_bytes(self.table)
        res = self.timed("merge", lambda: merge_into(
            self.run.spark, self.table, self.frame(src), on=["k"],
            manifest_cols=["k"], change_feed=True))
        self.run.check("merge_counts", res["n_rows_updated"] == n_upd
                       and res["n_rows_inserted"] == n_ins, str(res))
        rest = self.rows[~self.rows["k"].isin(upd["k"])]
        self.rows = pd.concat([rest, src], ignore_index=True)
        self._mutation_layers(res, before, n_upd + n_ins)

    def _mutation_layers(self, res: dict, before: dict, changed: int) -> None:
        added = sum(b for p, b in _data_bytes(self.table).items() if p not in before)
        self.note("sources.mutations.files_rewritten", res.get("n_files_rewritten", 0))
        self.note("sources.mutations.bytes_rewritten_per_row_changed", added / max(changed, 1))

    def mv_refresh(self) -> None:
        from iot_sensor_data_pipeline_spark.sources.matview import refresh_agg_view

        res = self.timed("mv_refresh",
                         lambda: refresh_agg_view(self.run.spark, self.table, self.mv))
        self.run.check("mv_refreshed", res["status"] == "refreshed", str(res))

    def round(self) -> None:
        self.append(APPEND_ROWS)
        self.upsert()
        self.point_read()
        self.delete()
        self.merge()
        self.mv_refresh()

    # -- end of run --------------------------------------------------------
    def optimize(self) -> float:
        from iot_sensor_data_pipeline_spark.streaming.orchestrator import (
            MaintenancePolicy,
            Pipeline,
        )

        pipe = Pipeline().track_table("readings", self.table, manifest_cols=["k"])
        policy = MaintenancePolicy(target_bytes=64 << 20, min_files=8,
                                   vacuum_min_reclaimable=1 << 30)
        before = _data_bytes(self.table)
        with self.run.tracer.span("pipeline.maintain"):
            t0 = time.perf_counter()
            report = pipe.maintain(self.run.spark, policy)
            dt = time.perf_counter() - t0
        actions = report["readings"].get("actions", {})
        self.run.check("optimize_ran", "optimize" in actions, str(report)[:300])
        self.note("sources.manifest.optimize_bytes_rewritten",
                  sum(b for p, b in _data_bytes(self.table).items() if p not in before))
        return dt

    def verify(self) -> None:
        from iot_sensor_data_pipeline_spark.sources.matview import read_agg_view
        from iot_sensor_data_pipeline_spark.streaming.jobs import read_cdc_snapshot_bucketed

        spark = self.run.spark
        got = spark.read.parquet(self.table).toPandas().sort_values("k").reset_index(drop=True)
        want = self.rows.sort_values("k").reset_index(drop=True)
        self.run.check("table_equals_op_log", got[list(want.columns)].equals(want),
                       f"{len(got)} rows vs {len(want)} expected")

        snap = read_cdc_snapshot_bucketed(spark, self.cdc_snap).select("k", "v").toPandas()
        want_c = {k: v for k, (v, _seq) in self.cdc.items()}
        got_c = {int(r.k): r.v for r in snap.itertuples()}
        self.run.check("cdc_snapshot_equals_op_log", got_c == want_c and len(snap) == len(want_c),
                       f"{len(snap)} rows vs {len(want_c)} expected")

        mv = read_agg_view(spark, self.mv).toPandas().set_index("sensor_id").sort_index()
        g = self.rows.groupby("sensor_id")["value"]
        exp = pd.DataFrame({"n": g.size(), "min": g.min(), "max": g.max(), "sum": g.sum()})
        ok = (
            list(mv.index) == list(exp.index)
            and (mv["n_rows"].astype(int) == exp["n"]).all()
            and np.allclose(mv.filter(like="min_").iloc[:, 0], exp["min"])
            and np.allclose(mv.filter(like="max_").iloc[:, 0], exp["max"])
            and np.allclose(mv.filter(like="sum_").iloc[:, 0], exp["sum"], rtol=1e-9)
        )
        self.run.check("mv_equals_op_log", bool(ok), f"{len(mv)} groups vs {len(exp)}")


def ops_phase(run: Run, lake: Lake) -> list[float]:
    """Time one round and the OPTIMIZE tick on a built ``lake``, then
    verify it; return the timed seconds."""
    lake.round()
    optimize_s = lake.optimize()
    lake.verify()

    med = {op: statistics.median(ts) for op, ts in lake.times.items()}
    run.named_metric("append_p50_s", med["append"], "s")
    run.named_metric("upsert_p50_s", med["upsert"], "s")
    run.named_metric("mutation_p50_s", statistics.median(lake.times["delete"] + lake.times["merge"]), "s")
    run.named_metric("point_read_p50_s", med["point_read"], "s")
    run.named_metric("mv_refresh_p50_s", med["mv_refresh"], "s")
    run.named_metric("optimize_s", optimize_s, "s")
    for name, values in lake.layer.items():
        run.layer(name, statistics.fmean(values), "ratio" if "amp" in name else
                  "bytes" if "bytes" in name else "count")
    for op, ms in med.items():
        run.layer(f"lakehouse.{op}_p50_ms", ms * 1000, "ms")
    run.layer("lakehouse.optimize_ms", optimize_s * 1000, "ms")
    return [t for ts in lake.times.values() for t in ts] + [optimize_s]
