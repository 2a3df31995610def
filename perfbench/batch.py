"""Query phase of ``batch_lakehouse``: registered plan queries over
tables generated from the seed, closed loop with one client.

Each query gets one untimed warm-up run, which is also its correctness
check, then one timed run to a ``noop`` write. Two groups:

- ``relational`` (planning- and scheduling-bound): a TPC-H scan and
  aggregate, and an event-stream sessionizing window query;
- ``text_vector`` (Python/Arrow-worker- and fold-bound): BM25 retrieval
  and a brute-force embedding k-NN.

Each query is compared with its DuckDB oracle under the repository's
oracle contract (``tests/oracle_harness.py``: row count, column names
and an order-insensitive value multiset).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.harness import Run

RELATIONAL = (
    "tpch_q1_pricing_summary",
    "events_sessionize",
)
TEXT_VECTOR = (
    "documents_bm25_topk",
    "embeddings_knn_brute_force",
)

#: rows per table (about the repository's sf0.01 fixture)
SIZES = {"lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500}
#: key ranges the lineitem foreign keys draw from (sf0.01 table sizes)
KEYS = {"orders": 15000, "part": 2000, "supplier": 100}
VOCAB = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def generate(rng, out: str, scale: float = 1.0) -> None:
    """Write the tables the queries read as ``out/<name>.parquet``."""
    os.makedirs(out, exist_ok=True)
    n = {k: max(20, int(v * scale)) for k, v in SIZES.items()}

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    def days(base, span, size):
        return base + rng.integers(0, span, size).astype("timedelta64[D]").astype("timedelta64[us]")

    nl = n["lineitem"]
    write("lineitem", {
        "l_orderkey": rng.integers(0, KEYS["orders"], nl),
        "l_partkey": rng.integers(0, KEYS["part"], nl),
        "l_suppkey": rng.integers(0, KEYS["supplier"], nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": days(EPOCH_1995 + np.timedelta64(1, "D"), 2500, nl),
    })
    ne = n["events"]
    write("events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, ne)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, ne),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], ne),
        "value": np.round(rng.exponential(50, ne), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nd = n["documents"]
    texts = [" ".join(rng.choice(VOCAB, int(k))) for k in rng.integers(10, 100, nd)]
    write("documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], nd),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    nv = n["embeddings"]
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, nv)
    vec = centers[label] + rng.normal(scale=1.5, size=(nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def query_fns() -> dict:
    """{name: (query function, DuckDB oracle SQL)} from the registries."""
    from iot_sensor_data_pipeline_spark.plans import EXTENDED_REGISTRY, REGISTRY

    out = {}
    for name in RELATIONAL + TEXT_VECTOR:
        q = REGISTRY.get(name) or EXTENDED_REGISTRY.get(name)
        out[name] = (q.fn, q.oracle)
    return out


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def check_queries(run: Run) -> tuple[str, dict]:
    """Generate the tables, then run every query once, untimed: the
    warm-up pass doubles as the correctness pass. Returns the table
    directory and the query functions."""
    from tests.oracle_harness import compare_query

    spark = run.spark
    sf = str(run.work / "tables")
    with run.tracer.span("generator.tables"):
        generate(np.random.default_rng(run.seed), sf, run.scale)
    fns = query_fns()
    for name in RELATIONAL + TEXT_VECTOR:
        fn, oracle = fns[name]
        with run.tracer.span(f"plans.{name}.check"):
            ok, msg = compare_query(spark, sf, fn, oracle)
            run.check(name, ok, msg)
    return sf, fns


def time_queries(run: Run, sf: str, fns: dict) -> list[float]:
    """Time every query once to a ``noop`` write; return the seconds."""
    order = list(RELATIONAL + TEXT_VECTOR)
    times = {}
    for name in order:
        fn, _oracle = fns[name]
        with run.tracer.span(f"plans.{name}"):
            t0 = time.perf_counter()
            noop(fn(run.spark, sf))
            times[name] = time.perf_counter() - t0
    run.named_metric("relational_s", sum(times[n] for n in RELATIONAL), "s")
    run.named_metric("text_vector_s", sum(times[n] for n in TEXT_VECTOR), "s")
    if run.trace:
        trace_plans(run, sf, fns, order, times)
    return list(times.values())


def trace_plans(run: Run, sf: str, fns: dict, order: list, times: dict) -> None:
    """Per-query layer split, on fresh frames after the timed pass:
    Catalyst time to ``executedPlan``, jobs under a job group, and the
    executed plan's shuffle and spill SQL metrics.

    No Python-worker time is reported: the text/vector queries run their
    Python stages behind ``localCheckpoint``, in jobs of their own, so
    the executed plan shows an ``RDDScanExec`` in their place and a sum
    over it reads 0."""
    from iot_sensor_data_pipeline_spark.plans.metrics import executed_metrics

    spark = run.spark
    sc = spark.sparkContext
    shuffle = spill = 0
    jobs = 0
    for name in order:
        fn, _oracle = fns[name]
        with run.tracer.span(f"plans.{name}.plan"):
            t0 = time.perf_counter()
            df = fn(spark, sf)
            df._jdf.queryExecution().executedPlan()
            plan_ms = (time.perf_counter() - t0) * 1000
        sc.setJobGroup(f"perfbench-{name}", name)
        with run.tracer.span(f"plans.{name}.execute"):
            nodes = executed_metrics(fn(spark, sf))
        jobs += len(sc.statusTracker().getJobIdsForGroup(f"perfbench-{name}"))
        sc.setLocalProperty("spark.jobGroup.id", None)
        for node in nodes:
            m = node.metrics
            spill += m.get("spillSize", 0)
            if node.cls == "ShuffleExchangeExec":
                shuffle += m.get("shuffleBytesWritten", 0)
        run.layer(f"plans.{name}.s", times[name], "s")
        run.layer(f"plans.{name}.plan_ms", plan_ms, "ms")
    run.layer("plans.jobs_total", jobs, "count")
    run.layer("plans.shuffle_bytes_total", shuffle, "bytes")
    run.layer("plans.spill_bytes_total", spill, "bytes")
    run.layer("plans.relational_s", sum(times[n] for n in RELATIONAL), "s")
    run.layer("plans.text_vector_s", sum(times[n] for n in TEXT_VECTOR), "s")
