"""Health surface parity with kafka-backup-core/src/health.rs (tests at
health.rs:286-359) and the /health endpoint (metrics/server.rs:267-319)."""

import json
import urllib.request

from kafka_backup_spark.health import (
    DEGRADED,
    HEALTHY,
    UNHEALTHY,
    HealthCheck,
    observe_stream_progress,
)


class FakeClock:
    def __init__(self) -> None:
        self.t = 1000.0

    def __call__(self) -> float:
        return self.t

    def advance(self, dt: float) -> None:
        self.t += dt


def test_health_check_basic():
    health = HealthCheck()
    health.register_component("kafka")
    health.register_component("storage")
    assert health.status() == HEALTHY
    assert health.is_healthy()


def test_health_degraded():
    health = HealthCheck()
    health.register_component("kafka")
    health.mark_degraded("kafka", "High latency")
    assert health.status() == DEGRADED
    assert health.is_operational()
    assert not health.is_healthy()


def test_health_unhealthy_dominates():
    health = HealthCheck()
    health.register_component("kafka")
    health.register_component("storage")
    health.mark_degraded("storage", "slow listing")
    health.mark_unhealthy("kafka", "Connection failed")
    assert health.status() == UNHEALTHY
    assert not health.is_operational()


def test_health_recovery():
    health = HealthCheck()
    health.register_component("kafka")
    health.mark_unhealthy("kafka", "Connection failed")
    assert health.status() == UNHEALTHY
    health.mark_healthy("kafka")
    assert health.status() == HEALTHY


def test_update_unknown_component_registers_it():
    # health.rs:127-140: update on an unregistered name inserts it
    health = HealthCheck()
    health.update_component("webhook", DEGRADED, "timeout")
    rep = health.report()
    assert [c["name"] for c in rep["components"]] == ["webhook"]
    assert rep["components"][0]["last_success_ms"] is None  # never healthy


def test_throughput_window():
    clock = FakeClock()
    health = HealthCheck(clock=clock)
    health.record_records(100)
    clock.advance(5)
    health.record_records(200)
    # both within the 10s window: (100+200)/10
    assert health.current_throughput() == 30.0
    clock.advance(8)
    # first batch now 13s old -> only 200/10 counts
    assert health.current_throughput() == 20.0
    clock.advance(60)
    assert health.current_throughput() == 0.0


def test_health_report_shape():
    clock = FakeClock()
    health = HealthCheck(clock=clock)
    health.register_component("kafka")
    health.register_component("storage")
    health.record_records(1000)
    health.job_started()
    clock.advance(12.0)
    rep = health.report()
    assert rep["status"] == HEALTHY
    assert len(rep["components"]) == 2
    assert rep["active_jobs"] == 1
    assert rep["records_processed"] == 1000
    assert rep["uptime_secs"] == 12.0
    assert rep["components"][0]["last_success_ms"] == 12000
    text = health.render_text()
    assert "=== Health Report ===" in text and "kafka: healthy" in text


def test_health_endpoint_status_codes():
    from kafka_backup_spark.metrics_export import MetricsServer, backup_registry

    health = HealthCheck()
    health.register_component("kafka")
    server = MetricsServer(backup_registry(), health=health)
    port = server.start()
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/health", timeout=5) as resp:
            assert resp.status == 200
            doc = json.loads(resp.read())
        assert doc["status"] == "healthy"
        assert doc["components"][0]["name"] == "kafka"
        # unhealthy -> 503 (server.rs:305-309)
        health.mark_unhealthy("kafka", "Connection failed")
        try:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/health", timeout=5)
            raise AssertionError("expected HTTP 503")
        except urllib.error.HTTPError as e:
            assert e.code == 503
            assert json.loads(e.read())["status"] == "unhealthy"
    finally:
        server.stop()


def test_observe_stream_progress(spark):
    from kafka_backup_spark.streaming.metrics import PROGRESS_SCHEMA

    progress = spark.createDataFrame(
        [("q1", 0, 500, 100.0, 120.0, 4000), ("q1", 1, 700, 140.0, 150.0, 5000)],
        PROGRESS_SCHEMA,
    )
    health = observe_stream_progress(HealthCheck(), progress)
    rep = health.report()
    assert rep["status"] == HEALTHY
    assert rep["records_processed"] == 1200

    empty = spark.createDataFrame([], PROGRESS_SCHEMA)
    stale = observe_stream_progress(HealthCheck(), empty)
    assert stale.status() == DEGRADED
