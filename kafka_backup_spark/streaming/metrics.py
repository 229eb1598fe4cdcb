"""Streaming metrics (A9): the reference exports per-partition lag,
throughput, and totals through a Prometheus registry
(metrics/registry.rs:251-381); on Spark the same numbers come from
StreamingQuery progress events — this module adapts them to the reference's
metric-name surface.

`ProgressMetrics` is a `StreamingQueryListener` that accumulates one row per
micro-batch; `to_dataframe` exposes the history for the same aggregation
queries the engine runs over batch watermark DataFrames (lag_metrics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from kafka_backup_spark.schema import local_frame

# reference metric names (metrics/registry.rs) → progress-event fields
METRIC_NAMES = {
    "kafka_backup_records_total": "numInputRows",
    "kafka_backup_throughput_records_per_sec": "processedRowsPerSecond",
    "kafka_backup_input_rate_records_per_sec": "inputRowsPerSecond",
    "kafka_backup_batch_duration_ms": "triggerExecution",
}

PROGRESS_SCHEMA = (
    "query_id string, batch_id long, num_input_rows long, "
    "input_rows_per_second double, processed_rows_per_second double, "
    "batch_duration_ms long"
)


class ProgressMetrics(StreamingQueryListener):
    """Accumulates micro-batch progress rows (driver-side, bounded: one row
    per trigger)."""

    def __init__(self) -> None:
        self.rows: list[tuple] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        self.rows.append(
            (
                str(p.id),
                p.batchId,
                p.numInputRows,
                float(p.inputRowsPerSecond or 0.0),
                float(p.processedRowsPerSecond or 0.0),
                int(p.durationMs.get("triggerExecution", 0)),
            )
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def to_dataframe(self, spark: SparkSession) -> DataFrame:
        return local_frame(spark, self.rows, PROGRESS_SCHEMA)


def throughput_summary(progress: DataFrame) -> DataFrame:
    """A9 rollup over the progress history: totals + peak/mean rates."""
    from pyspark.sql import functions as F

    return progress.agg(
        F.sum("num_input_rows").alias("records_total"),
        F.max("processed_rows_per_second").alias("peak_rps"),
        F.avg("processed_rows_per_second").alias("mean_rps"),
        F.sum("batch_duration_ms").alias("total_batch_ms"),
        F.count(F.lit(1)).alias("batches"),
    )
