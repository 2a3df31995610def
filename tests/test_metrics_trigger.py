"""Streaming metrics listener + availableNow trigger semantics."""

from __future__ import annotations

import time

from iot_sensor_data_pipeline_spark.sources.json_ingest import ingest_readings
from iot_sensor_data_pipeline_spark.streaming.metrics import MetricsCollector
from tests.test_streaming import reading_json, write_batch


def test_metrics_collector_records_batches(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    jsonl = tmp_path / "metrics.jsonl"
    collector = MetricsCollector(jsonl_path=str(jsonl))
    spark.streams.addListener(collector)
    try:
        raw = spark.readStream.text(str(src))
        q = (
            ingest_readings(raw)
            .writeStream.queryName("metrics_smoke")
            .format("noop")
            .option("checkpointLocation", str(tmp_path / "chk"))
            .start()
        )
        write_batch(src, "b1.json", [reading_json("00:10", 22.0), reading_json("00:20", 23.0)])
        q.processAllAvailable()
        q.stop()
        deadline = time.monotonic() + 20
        while time.monotonic() < deadline and collector.total_rows() < 2:
            time.sleep(0.2)  # listener events are async
        assert collector.total_rows() >= 2
        named = [b for b in collector.batches if b.query_name and "metrics_smoke" in str(b.query_name)]
        assert named and all(b.duration_ms >= 0 for b in named)
        # the batch duration is the trigger's own wall time: it spans
        # every phase, so no phase (and no sum of them) is reported
        for b in named:
            assert b.duration_ms == b.phases_ms["triggerExecution"]
            assert "addBatch" in b.phases_ms
            assert all(v <= b.duration_ms for v in b.phases_ms.values())
        assert jsonl.exists() and jsonl.read_text().count("\n") >= 1
    finally:
        spark.streams.removeListener(collector)


def test_observed_metrics_in_streaming_progress(spark, tmp_path):
    """``with_quality_metrics`` reaches the query's progress AND the
    collector, which also keeps the stateful operator's row counts."""
    from iot_sensor_data_pipeline_spark.streaming.metrics import with_quality_metrics

    src = tmp_path / "src"
    src.mkdir()
    observed = with_quality_metrics(ingest_readings(spark.readStream.text(str(src))))
    collector = MetricsCollector()
    spark.streams.addListener(collector)
    q = (
        observed.groupBy().count()
        .writeStream.format("noop")
        .outputMode("complete")
        .queryName("observed_smoke")
        .option("checkpointLocation", str(tmp_path / "chk_o"))
        .start()
    )
    try:
        write_batch(src, "b1.json", [reading_json("00:10", 22.0), reading_json("00:20", 31.0)])
        q.processAllAvailable()
        metrics = q.lastProgress["observedMetrics"]["quality"]
        assert metrics["n_rows"] == 2
        assert metrics["n_null_values"] == 0
        assert metrics["min_value"] == 22.0 and metrics["max_value"] == 31.0
        deadline = time.monotonic() + 20
        while time.monotonic() < deadline and collector.total_rows() < 2:
            time.sleep(0.2)  # listener events are async
        (b,) = [b for b in collector.batches if b.num_input_rows == 2]
        assert b.observed_metrics["quality"]["n_rows"] == 2
        assert b.observed_metrics["quality"]["max_value"] == 31.0
        assert b.state_operators and b.state_operators[0]["numRowsTotal"] == 1
    finally:
        q.stop()
        spark.streams.removeListener(collector)


def test_available_now_trigger_processes_then_stops(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    write_batch(src, "b1.json", [reading_json("00:10", 22.0), reading_json("00:20", 31.0)])
    out = []
    q = (
        ingest_readings(spark.readStream.text(str(src)))
        .writeStream.foreachBatch(lambda df, eid: out.extend(df.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    assert q.awaitTermination(60)  # availableNow: drains backlog, then terminates itself
    assert len(out) == 2
