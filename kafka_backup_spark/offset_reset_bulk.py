"""Bulk parallel offset reset — the reference's concurrency-50 fan-out with
per-partition retry/backoff (restore/offset_automation.rs:320-620,
commands/offset_reset_bulk.rs:38-150).

This is a driver-side control plane, NOT a Spark job, on purpose: committing
group offsets is admin-RPC work against the target cluster's group
coordinators — at most a few thousand groups, each one network round-trip.
The work is I/O-bound, so a bounded thread pool is the Python analogue of the
reference's tokio-semaphore tasks; a distributed shuffle would add nothing
but scheduling latency.  Everything that SCALES — building the offset plan
this module applies (J1/J3 as-of joins over billion-row mappings) — stays in
Spark (offset_reset.py); the split mirrors the reference, whose bulk reset
also runs client-side after the mapping is computed.

Latency percentiles reuse A10 ``reset_latency_percentiles`` so the report
numbers come from the same operator the oracle checks.
"""

from __future__ import annotations

import random
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field


@dataclass
class BulkResetConfig:
    """offset_automation.rs:30-56 defaults."""

    max_concurrent_requests: int = 50
    max_retry_attempts: int = 3
    retry_base_delay_ms: int = 100
    continue_on_error: bool = True


@dataclass
class GroupOutcome:
    group_id: str
    partitions_reset: int = 0
    partitions_failed: int = 0
    retry_attempts: int = 0
    duration_ms: float = 0.0
    errors: list = field(default_factory=list)


def _commit_once(admin, group_id: str, offsets: list[tuple[str, int, int]]):
    """One AlterConsumerGroupOffsets round-trip; returns
    [(topic, partition, error_code)] — 0 is success.  Accepts both the
    confluent-kafka result shape (TopicPartition.error) and plain fakes."""
    try:
        from confluent_kafka import ConsumerGroupTopicPartitions, TopicPartition  # type: ignore

        tps = [TopicPartition(t, p, o) for t, p, o in offsets]
        req = ConsumerGroupTopicPartitions(group_id, tps)
    except ImportError:
        from types import SimpleNamespace

        tps = [SimpleNamespace(topic=t, partition=p, offset=o) for t, p, o in offsets]
        req = SimpleNamespace(group_id=group_id, topic_partitions=tps)
    futures = admin.alter_consumer_group_offsets([req])
    results = []
    for _gid, f in futures.items():
        res = f.result()
        for tp in getattr(res, "topic_partitions", []):
            err = getattr(tp, "error", None)
            code = 0 if err in (None, 0) else getattr(err, "code", lambda: 1)()
            results.append((tp.topic, tp.partition, int(code) if code else 0))
    return results


def _reset_group_with_retry(
    admin_factory,
    bootstrap_servers: str,
    group_id: str,
    offsets: list[tuple[str, int, int]],
    config: BulkResetConfig,
    latencies_ms: list[float],
    sleep=time.sleep,
) -> GroupOutcome:
    """offset_automation.rs:528-620: commit, keep only the failed partitions,
    back off exponentially (base·2^(n−1) + 10% jitter), re-commit — at most
    max_retry_attempts retries; whatever still fails is reported."""
    out = GroupOutcome(group_id)
    admin = admin_factory(bootstrap_servers)
    start = time.monotonic()
    current = list(offsets)
    attempt = 0
    while True:
        t0 = time.monotonic()
        try:
            results = _commit_once(admin, group_id, current)
        except Exception as e:  # transport-level failure: every partition failed
            results = [(t, p, -1) for t, p, _ in current]
            out.errors.append(f"{type(e).__name__}: {e}")
        latencies_ms.append((time.monotonic() - t0) * 1000.0)
        failed = []
        by_tp = {(t, p): o for t, p, o in current}
        for topic, partition, code in results:
            if code == 0:
                out.partitions_reset += 1
            else:
                failed.append((topic, partition, by_tp[(topic, partition)]))
                out.errors.append(f"{topic}:{partition} error_code={code}")
        if not failed or attempt >= config.max_retry_attempts:
            out.partitions_failed = len(failed)
            break
        attempt += 1
        out.retry_attempts = attempt
        # exponential backoff with jitter (offset_automation.rs:596-600)
        backoff_ms = config.retry_base_delay_ms * 2 ** (attempt - 1)
        sleep((backoff_ms + backoff_ms * 0.1 * random.random()) / 1000.0)
        current = failed
        out.errors.clear()  # only the final attempt's errors are reported
    out.duration_ms = (time.monotonic() - start) * 1000.0
    return out


def bulk_reset_offsets(
    bootstrap_servers: str,
    mappings: list[tuple[str, str, int, int]],
    config: BulkResetConfig | None = None,
    admin_factory=None,
    sleep=time.sleep,
) -> dict:
    """Fan the reset out across groups with bounded concurrency.

    ``mappings``: (group_id, topic, partition, new_offset) rows — typically
    the resolved J3 plan.  Returns the BulkOffsetResetReport shape
    (offset_automation.rs:258-318): status, per-group outcomes, totals, and
    raw latencies for the A10 percentile aggregation.
    """
    config = config or BulkResetConfig()
    if admin_factory is None:
        from kafka_backup_spark.sources.kafka_io import _admin as admin_factory
    by_group: dict[str, list[tuple[str, int, int]]] = {}
    for group_id, topic, partition, offset in mappings:
        by_group.setdefault(group_id, []).append((topic, partition, offset))

    latencies_ms: list[float] = []
    start = time.monotonic()
    workers = max(1, min(config.max_concurrent_requests, len(by_group) or 1))
    with ThreadPoolExecutor(max_workers=workers) as pool:
        outcomes = list(
            pool.map(
                lambda item: _reset_group_with_retry(
                    admin_factory, bootstrap_servers, item[0], item[1],
                    config, latencies_ms, sleep,
                ),
                by_group.items(),
            )
        )
    duration_ms = (time.monotonic() - start) * 1000.0

    successful = sum(1 for o in outcomes if o.partitions_failed == 0)
    failed = sum(1 for o in outcomes if o.partitions_failed > 0)
    total_reset = sum(o.partitions_reset for o in outcomes)
    total_failed = sum(o.partitions_failed for o in outcomes)
    status = (
        "success" if failed == 0
        else "failed" if successful == 0 and total_reset == 0
        else "partial_success"
    )
    return {
        "status": status,
        "total_groups": len(by_group),
        "successful_groups": successful,
        "failed_groups": failed,
        "total_offsets_reset": total_reset,
        "total_offsets_failed": total_failed,
        "duration_ms": round(duration_ms, 3),
        "group_outcomes": [vars(o) for o in outcomes],
        "max_concurrency": workers,
        "total_retries": sum(o.retry_attempts for o in outcomes),
        "latencies_ms": latencies_ms,
        "offsets_per_second": (
            round(total_reset / (duration_ms / 1000.0), 1) if duration_ms > 0 else 0.0
        ),
    }


def performance_stats(spark, report: dict) -> dict:
    """A10 percentiles over the run's commit latencies via the SAME operator
    the oracle gate checks (offset_reset.reset_latency_percentiles)."""
    from kafka_backup_spark.offset_reset import reset_latency_percentiles
    from kafka_backup_spark.schema import local_frame

    lat = report.get("latencies_ms") or [0.0]
    df = local_frame(spark, [(float(x),) for x in lat], "latency_ms double")
    row = reset_latency_percentiles(df, exact=True).collect()[0]
    return {
        "avg_latency_ms": round(row["avg"], 3),
        "p50_latency_ms": round(row["p50"], 3),
        "p99_latency_ms": round(row["p99"], 3),
        "offsets_per_second": report["offsets_per_second"],
        "max_concurrency": report["max_concurrency"],
        "total_retries": report["total_retries"],
    }
