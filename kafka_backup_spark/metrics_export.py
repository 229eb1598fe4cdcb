"""Prometheus exposition-format metrics export (metrics/server.rs:119-262,
registry names metrics/registry.rs:251-381).

The reference serves a prometheus-client registry over hyper; here the
registry is a tiny dict-of-series and the scrape surface is (a) a rendered
text blob, (b) a node-exporter-style textfile, or (c) a stdlib HTTP server
(:class:`MetricsServer`) — all driver-side.  Metric VALUES come from Spark:
the StreamingQueryListener history (streaming/metrics.py) and the
lag/manifest aggregation DataFrames, which do the distributed work; the
registry only holds the final scalars, so cardinality stays at partitions ×
metrics, never records.

Counter names follow prometheus-client encode semantics: a counter
registered as ``kafka_backup_records`` is EXPOSED as
``kafka_backup_records_total`` (registry.rs:1038-1069 pins this).
"""

from __future__ import annotations

from dataclasses import dataclass, field


def _fmt_value(v: float) -> str:
    f = float(v)
    return str(int(f)) if f.is_integer() else repr(f)


def _fmt_labels(labels: dict[str, str] | None) -> str:
    if not labels:
        return ""
    inner = ",".join(
        f'{k}="{str(v)}"' for k, v in sorted(labels.items())
    )
    return "{" + inner + "}"


@dataclass
class _Family:
    name: str
    help: str
    kind: str  # "counter" | "gauge"
    series: dict[tuple, tuple[dict, float]] = field(default_factory=dict)

    @property
    def exposed_name(self) -> str:
        if self.kind == "counter" and not self.name.endswith("_total"):
            return self.name + "_total"
        return self.name


class MetricsRegistry:
    """Register/observe/render — the prometheus_client::Registry surface the
    reference uses, minus the process machinery."""

    def __init__(self) -> None:
        self._families: dict[str, _Family] = {}

    def register(self, name: str, help_text: str, kind: str = "gauge") -> None:
        if kind not in ("counter", "gauge"):
            raise ValueError(f"unknown metric kind: {kind}")
        self._families.setdefault(name, _Family(name, help_text, kind))

    def set(self, name: str, value: float, labels: dict[str, str] | None = None) -> None:
        fam = self._families[name]
        key = tuple(sorted((labels or {}).items()))
        fam.series[key] = (dict(labels or {}), float(value))

    def inc(self, name: str, amount: float = 1.0, labels: dict[str, str] | None = None) -> None:
        fam = self._families[name]
        key = tuple(sorted((labels or {}).items()))
        _, cur = fam.series.get(key, ({}, 0.0))
        fam.series[key] = (dict(labels or {}), cur + float(amount))

    def get(self, name: str, labels: dict[str, str] | None = None) -> float | None:
        fam = self._families.get(name)
        if fam is None:
            return None
        entry = fam.series.get(tuple(sorted((labels or {}).items())))
        return entry[1] if entry else None

    def render(self) -> str:
        """Prometheus text exposition format 0.0.4 (the content-type the
        reference serves, server.rs:238)."""
        out: list[str] = []
        for name in sorted(self._families):
            fam = self._families[name]
            exposed = fam.exposed_name
            out.append(f"# HELP {exposed} {fam.help}")
            out.append(f"# TYPE {exposed} {fam.kind}")
            for _key, (labels, value) in sorted(fam.series.items()):
                out.append(f"{exposed}{_fmt_labels(labels)} {_fmt_value(value)}")
        return "\n".join(out) + "\n"

    def write_textfile(self, path: str) -> str:
        """node-exporter textfile-collector export (atomic replace)."""
        import os

        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(self.render())
        os.replace(tmp, path)
        return path


def backup_registry() -> MetricsRegistry:
    """The reference's metric-name surface (registry.rs:251-381), pre-
    registered so exports always carry the full name set."""
    r = MetricsRegistry()
    r.register("kafka_backup_records", "Cumulative records backed up", "counter")
    r.register("kafka_backup_bytes", "Cumulative bytes backed up", "counter")
    r.register(
        "kafka_backup_throughput_records_per_sec", "Records consumed per second"
    )
    r.register("kafka_backup_throughput_bytes_per_sec", "Bytes consumed per second")
    r.register("kafka_backup_batch_duration_ms", "Micro-batch trigger duration")
    r.register("kafka_backup_batches", "Completed micro-batches", "counter")
    r.register("kafka_backup_lag_records", "Records the backup consumer is behind")
    r.register("kafka_backup_lag_records_max", "Maximum lag across all partitions")
    r.register("kafka_backup_lag_records_sum", "Current lag summed across partitions")
    r.register(
        "kafka_backup_snapshot_records_target",
        "Total records in the captured snapshot offset range",
    )
    r.register("kafka_backup_duration_seconds", "Backup job duration")
    r.register("kafka_backup_errors", "Cumulative errors by category", "counter")
    r.register("kafka_backup_retries", "Cumulative retries by operation", "counter")
    return r


def registry_from_progress(
    progress_df, lag_df=None, registry: MetricsRegistry | None = None
) -> MetricsRegistry:
    """Fold a finished stream's progress history (streaming/metrics.py
    PROGRESS_SCHEMA) and an optional per-topic lag frame (A9 lag_metrics
    shape: topic, total_lag, snapshot_total, max_partition_lag) into the
    registry.  Aggregation happens in Spark; only the final scalars land
    driver-side."""
    from pyspark.sql import functions as F

    r = registry or backup_registry()
    if progress_df is not None:
        row = progress_df.agg(
            F.sum("num_input_rows").alias("records"),
            F.max("processed_rows_per_second").alias("peak_rps"),
            F.sum("batch_duration_ms").alias("batch_ms"),
            F.count(F.lit(1)).alias("batches"),
        ).collect()[0]
        r.inc("kafka_backup_records", row["records"] or 0)
        r.set("kafka_backup_throughput_records_per_sec", row["peak_rps"] or 0.0)
        r.set("kafka_backup_batch_duration_ms", row["batch_ms"] or 0)
        r.inc("kafka_backup_batches", row["batches"] or 0)
        r.set("kafka_backup_duration_seconds", (row["batch_ms"] or 0) / 1000.0)
    if lag_df is not None:
        total = 0
        mx = 0
        for lrow in lag_df.collect():  # per-topic rows: manifest-scale
            labels = {"topic": lrow["topic"]}
            r.set("kafka_backup_lag_records", lrow["total_lag"], labels)
            r.set(
                "kafka_backup_snapshot_records_target", lrow["snapshot_total"], labels
            )
            total += lrow["total_lag"]
            mx = max(mx, lrow["max_partition_lag"])
        r.set("kafka_backup_lag_records_sum", total)
        r.set("kafka_backup_lag_records_max", mx)
    return r


class MetricsServer:
    """Persistent exporter (commands/metrics_runtime.rs:8-56 +
    metrics/server.rs:119-262 run loop): serves ``/metrics`` and, with a
    :class:`~kafka_backup_spark.health.HealthCheck`, ``/health`` (200
    healthy/degraded, 503 unhealthy) on a daemon thread until :meth:`stop`.
    Every scrape re-renders the registry, so a concurrently-updating run
    shows live values.  ``stop(keep_alive_seconds=N)`` mirrors the reference's
    ``shutdown_after_operation``: the endpoint stays scrapable N seconds
    after the operation finishes (a final Prometheus scrape window), then
    closes.  Driver-side only — metric VALUES still come from Spark jobs."""

    def __init__(self, registry: MetricsRegistry, port: int = 0, health=None) -> None:
        self.registry = registry
        self._port = port
        self._health = health
        self._server = None
        self._thread = None

    def start(self) -> int:
        """Bind and serve in the background; returns the bound port."""
        import http.server
        import threading

        registry = self.registry
        health = self._health

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 (stdlib API)
                if health is not None and self.path == "/health":
                    body = health.to_json().encode()
                    self.send_response(200 if health.is_operational() else 503)
                    self.send_header("Content-Type", "application/json")
                elif self.path in ("/metrics", "/"):
                    body = registry.render().encode()  # live re-render
                    self.send_response(200)
                    self.send_header(
                        "Content-Type", "text/plain; version=0.0.4; charset=utf-8"
                    )
                else:
                    self.send_response(404)
                    self.end_headers()
                    return
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):  # quiet
                pass

        self._server = http.server.ThreadingHTTPServer(("127.0.0.1", self._port), Handler)
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self._server.server_address[1]

    def stop(self, keep_alive_seconds: float = 0.0) -> None:
        """Shut down, optionally after the reference's keep-alive window."""
        import time

        if self._server is None:
            return
        if keep_alive_seconds > 0:
            time.sleep(keep_alive_seconds)
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=5)
        self._server = None
