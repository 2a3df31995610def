"""Streaming observability: a StreamingQueryListener collecting per-
batch progress (rows/sec, trigger duration and its phases, state
operators, observed metrics) into memory and optionally a JSON-lines
file.

The reference's only observability is print() per batch (reference
data_persistance.py:42,55 and siblings, SURVEY.md §2.5 K6); this is
the structured equivalent a dashboard/alerting stack consumes.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class BatchMetric:
    query_name: str
    batch_id: int
    num_input_rows: int
    input_rows_per_second: float
    process_rows_per_second: float
    #: the trigger's wall time, ``durationMs["triggerExecution"]`` — it
    #: spans every other phase, so the phases are never summed into it
    duration_ms: int
    #: per-phase durations: addBatch, queryPlanning, walCommit, ...
    phases_ms: dict[str, int] = field(default_factory=dict)
    #: one dict per stateful operator (rows total/updated, memory, ...)
    state_operators: list[dict] = field(default_factory=list)
    #: ``Dataset.observe`` metrics by name (see with_quality_metrics)
    observed_metrics: dict[str, dict] = field(default_factory=dict)


@dataclass
class MetricsCollector(StreamingQueryListener):
    """Attach with ``spark.streams.addListener(collector)``."""

    jsonl_path: str | None = None
    batches: list[BatchMetric] = field(default_factory=list)

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        # the progress JSON renders state operators and observed rows
        # as plain objects, ready for the JSONL dump
        full = json.loads(p.json)
        phases = full.get("durationMs", {})
        metric = BatchMetric(
            # p.id is a uuid.UUID in PySpark 4 — stringify or the JSONL
            # dump raises (and Spark swallows listener exceptions)
            query_name=str(p.name or p.id),
            batch_id=p.batchId,
            num_input_rows=p.numInputRows,
            input_rows_per_second=p.inputRowsPerSecond or 0.0,
            process_rows_per_second=p.processedRowsPerSecond or 0.0,
            duration_ms=phases.get("triggerExecution", 0),
            phases_ms=phases,
            state_operators=full.get("stateOperators", []),
            observed_metrics=full.get("observedMetrics", {}),
        )
        self.batches.append(metric)
        if self.jsonl_path:
            with open(self.jsonl_path, "a") as f:
                f.write(json.dumps(metric.__dict__) + "\n")

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def total_rows(self) -> int:
        return sum(b.num_input_rows for b in self.batches)


def with_quality_metrics(df, name: str = "quality"):
    """Attach observed metrics to a (batch or streaming) DataFrame:
    row count, null-value count, min/max event value — collected for
    free during execution via ``Dataset.observe`` (no extra pass over
    the data, unlike a separate count()). Read them from
    ``QueryExecutionListener`` / ``StreamingQueryProgress.observedMetrics``.
    """
    from pyspark.sql import functions as F

    return df.observe(
        name,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("n_null_values"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
