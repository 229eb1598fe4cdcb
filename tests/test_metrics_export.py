"""Prometheus exposition export (metrics/server.rs, registry.rs:251-381):
name surface, counter `_total` encode semantics, textfile + HTTP scrape,
and end-to-end values from a finished stream."""

from __future__ import annotations

import time
import urllib.request

import pytest
from pyspark.sql import functions as F

from kafka_backup_spark.metrics_export import (
    MetricsRegistry,
    MetricsServer,
    backup_registry,
    registry_from_progress,
)
from kafka_backup_spark.streaming.metrics import PROGRESS_SCHEMA, ProgressMetrics


def test_counter_gets_total_suffix_and_gauge_does_not():
    r = MetricsRegistry()
    r.register("kafka_backup_records", "h", "counter")
    r.register("kafka_backup_lag_records", "h", "gauge")
    r.inc("kafka_backup_records", 5)
    r.set("kafka_backup_lag_records", 7, {"topic": "click"})
    text = r.render()
    assert "# TYPE kafka_backup_records_total counter" in text
    assert "kafka_backup_records_total 5" in text
    assert 'kafka_backup_lag_records{topic="click"} 7' in text
    assert "kafka_backup_lag_records_total" not in text


def test_registry_from_progress_and_lag(spark):
    progress = spark.createDataFrame(
        [
            ("q1", 0, 100, 50.0, 40.0, 1000),
            ("q1", 1, 200, 80.0, 90.0, 2000),
        ],
        PROGRESS_SCHEMA,
    )
    lag = spark.createDataFrame(
        [("click", 30, 500, 20), ("view", 10, 100, 10)],
        "topic string, total_lag long, snapshot_total long, max_partition_lag long",
    )
    r = registry_from_progress(progress, lag)
    assert r.get("kafka_backup_records") == 300
    assert r.get("kafka_backup_throughput_records_per_sec") == 90.0
    assert r.get("kafka_backup_batches") == 2
    assert r.get("kafka_backup_lag_records", {"topic": "click"}) == 30
    assert r.get("kafka_backup_lag_records_sum") == 40
    assert r.get("kafka_backup_lag_records_max") == 20
    text = r.render()
    # full reference name surface present even when unobserved
    for name in (
        "kafka_backup_errors_total",
        "kafka_backup_retries_total",
        "kafka_backup_snapshot_records_target",
        "kafka_backup_duration_seconds",
    ):
        assert name in text


def test_textfile_and_http_scrape(tmp_path):
    r = backup_registry()
    r.inc("kafka_backup_records", 42)
    path = r.write_textfile(str(tmp_path / "kafka_backup.prom"))
    content = open(path).read()
    assert "kafka_backup_records_total 42" in content

    server = MetricsServer(r)
    port = server.start()
    try:
        resp = urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics", timeout=5)
        body = resp.read().decode()
    finally:
        server.stop()
    assert resp.headers["Content-Type"].startswith("text/plain; version=0.0.4")
    assert "kafka_backup_records_total 42" in body


def test_finished_stream_populates_registry(spark, tmp_path):
    """End-to-end: ProgressMetrics listener on a real availableNow stream →
    registry values match what the stream processed."""
    from kafka_backup_spark.schema import events_as_records, load_table
    from kafka_backup_spark.sources.segments import SegmentStore
    from kafka_backup_spark.streaming.backup_stream import run_incremental_backup

    records = events_as_records(
        load_table(spark, "/root/testdata/sf0.001", "events")
    ).filter(F.col("offset") < 2000)
    source = str(tmp_path / "src")
    records.write.parquet(source)

    listener = ProgressMetrics()
    spark.streams.addListener(listener)
    try:
        run_incremental_backup(
            spark, source, SegmentStore(str(tmp_path / "store")),
            str(tmp_path / "ckpt"),
        )
        # listener events are delivered asynchronously after termination
        deadline = time.monotonic() + 30
        expected = records.count()
        while time.monotonic() < deadline:
            if sum(r[2] for r in listener.rows) >= expected:
                break
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)
    progress = listener.to_dataframe(spark)
    reg = registry_from_progress(progress)
    assert reg.get("kafka_backup_records") == expected
    assert reg.get("kafka_backup_batches") >= 1
    assert "kafka_backup_records_total" in reg.render()


def test_metrics_server_live_rerender_and_shutdown():
    """MetricsServer (metrics_runtime.rs parity): values updated between
    scrapes are visible live, and stop() closes the socket."""
    import urllib.error
    import urllib.request

    from kafka_backup_spark.metrics_export import MetricsRegistry, MetricsServer

    reg = MetricsRegistry()
    reg.register("kafka_backup_store_records", "records")
    reg.set("kafka_backup_store_records", 5)
    server = MetricsServer(reg, port=0)
    port = server.start()

    def scrape(path="/metrics"):
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=5) as r:
            return r.read().decode()

    assert "kafka_backup_store_records 5" in scrape()
    reg.set("kafka_backup_store_records", 9)
    assert "kafka_backup_store_records 9" in scrape()  # re-rendered, not frozen
    with pytest.raises(urllib.error.HTTPError):
        scrape("/nope")
    server.stop(keep_alive_seconds=0.0)
    with pytest.raises(Exception):
        scrape()
    server.stop()  # idempotent


def test_metrics_server_health_endpoint():
    """metrics-runtime wires a HealthCheck: /health serves 200 JSON while
    operational and 503 once a component is unhealthy."""
    import json as jsonmod
    import urllib.error
    import urllib.request

    from kafka_backup_spark.health import HealthCheck
    from kafka_backup_spark.metrics_export import MetricsRegistry, MetricsServer

    health = HealthCheck()
    health.register_component("store_poll")
    server = MetricsServer(MetricsRegistry(), port=0, health=health)
    port = server.start()
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/health", timeout=5) as r:
            body = jsonmod.loads(r.read().decode())
        assert body["status"] == "healthy"
        health.mark_unhealthy("store_poll", "boom")
        with pytest.raises(urllib.error.HTTPError) as exc:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/health", timeout=5)
        assert exc.value.code == 503
    finally:
        server.stop()
