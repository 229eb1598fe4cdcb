"""Kafka source/sink configuration + admin operations (S1/S2/S3/S7/S10/S11).

The reference hand-rolls fetch loops, leader routing, batched ListOffsets,
produce retries and connection pooling (kafka/fetch.rs, kafka/partition_router.rs,
kafka/produce.rs — ~1500 LoC). On Spark all of that is the built-in Kafka
source/sink; what remains here is (a) option-dict construction — pure,
deterministic, unit-testable without a cluster — and (b) driver-side admin
calls, import-gated so the engine runs fully file-backed when no Kafka client
library is present.

Scale notes:
- snapshot mode (T2) pins ``endingOffsets`` to captured watermarks → a
  bounded batch read with per-partition parallelism = Kafka partitions
  (``minPartitions`` can fan a hot partition wider).
- rate limiting (T6) = ``maxOffsetsPerTrigger`` on the stream reader.
- the produce path (S7) through ``df.write.format("kafka")`` does not return
  broker-assigned offsets; offset-mapping capture uses the header
  reconciliation join in three_phase.py instead (SURVEY.md §7 plan B).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_backup_spark.functions.globs import glob_to_regex
from kafka_backup_spark.schema import local_frame

KAFKA_FORMAT = "kafka"


def source_options(
    bootstrap_servers: str,
    topics: list[str] | None = None,
    pattern: str | None = None,
    starting_offsets: str | dict = "earliest",
    ending_offsets: str | dict | None = None,
    max_offsets_per_trigger: int | None = None,
    extra: dict[str, str] | None = None,
) -> dict[str, str]:
    """Options for ``spark.read/readStream.format("kafka")``.

    ``starting_offsets``/``ending_offsets`` accept the sentinel strings or a
    ``{topic: {partition: offset}}`` dict (P6 offset ranges pinned
    per-partition — snapshot semantics when endings are captured watermarks).
    """
    opts: dict[str, str] = {"kafka.bootstrap.servers": bootstrap_servers}
    if topics and pattern:
        raise ValueError("subscribe and subscribePattern are mutually exclusive")
    if topics:
        opts["subscribe"] = ",".join(topics)
    elif pattern:
        # S3 discovery: glob patterns become regex subscriptions; new topics
        # matching the pattern are picked up by the source each batch
        opts["subscribePattern"] = glob_to_regex(pattern)
    else:
        raise ValueError("either topics or pattern is required")
    opts["startingOffsets"] = (
        starting_offsets if isinstance(starting_offsets, str) else json.dumps(starting_offsets)
    )
    if ending_offsets is not None:
        opts["endingOffsets"] = (
            ending_offsets if isinstance(ending_offsets, str) else json.dumps(ending_offsets)
        )
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    opts.update(extra or {})
    return opts


def snapshot_ending_offsets(watermarks: list[tuple[str, int, int]]) -> dict:
    """T2: pin endingOffsets to captured high watermarks.

    ``watermarks``: (topic, partition, high_watermark) triples (from
    ``list_offsets``). Equivalent to the reference's capture-then-stop-at
    loop (backup/engine.rs:806-848) without any per-partition loop code.
    """
    out: dict[str, dict[str, int]] = {}
    for topic, partition, hwm in watermarks:
        out.setdefault(topic, {})[str(partition)] = hwm
    return out


def read_kafka(spark: SparkSession, opts: dict[str, str], streaming: bool = False) -> DataFrame:
    """S1: the partition fetch loop — one line on Spark."""
    reader = spark.readStream if streaming else spark.read
    return reader.format(KAFKA_FORMAT).options(**opts).load()


def sink_options(bootstrap_servers: str, topic: str | None = None) -> dict[str, str]:
    opts = {"kafka.bootstrap.servers": bootstrap_servers}
    if topic:
        opts["topic"] = topic
    return opts


def write_kafka(records: DataFrame, opts: dict[str, str]) -> None:
    """S7: produce. The sink routes on the ``topic`` column (unless pinned in
    options) and partitions by key via the Java client's murmur2 — matching
    R1 without any custom code. Assigned offsets are NOT returned; use
    three_phase.build_offset_mapping for mapping capture."""
    (
        records.select(
            F.col("key").cast("binary").alias("key"),
            F.col("value").cast("binary").alias("value"),
            *([] if "topic" in opts else [F.col("topic")]),
            F.col("headers"),
        )
        .write.format(KAFKA_FORMAT)
        .options(**opts)
        .option("includeHeaders", "true")
        .save()
    )


# ── driver-side admin ─────────────────────────────────────────────────────
# Orchestration logic is real and cluster-independent; only the client
# construction is environment-gated.  ``set_admin_factory`` injects a test
# double (or a differently-configured real client) — the factory must return
# an object with the confluent-kafka AdminClient surface used below.

_admin_factory = None


def set_admin_factory(factory) -> None:
    """Inject an AdminClient factory: ``factory(bootstrap_servers) -> client``.
    Pass None to restore the default (confluent-kafka, import-gated)."""
    global _admin_factory
    _admin_factory = factory


def _admin(bootstrap_servers: str, client_conf: dict[str, str] | None = None):
    """``client_conf``: extra librdkafka keys (security.protocol, sasl.*,
    ssl.* — see security.rdkafka_options), merged over the bootstrap conf.
    Injected fakes receive only the bootstrap string, as before."""
    if _admin_factory is not None:
        return _admin_factory(bootstrap_servers)
    try:
        from confluent_kafka.admin import AdminClient  # type: ignore
    except ImportError as e:  # pragma: no cover - no client lib in container
        raise NotImplementedError(
            "Kafka admin operations require a Kafka client library "
            "(confluent-kafka); not available in this environment "
            "(inject one with set_admin_factory)"
        ) from e
    conf = {"bootstrap.servers": bootstrap_servers, **(client_conf or {})}
    return AdminClient(conf)  # pragma: no cover


class _PlainTP:
    """Hashable TopicPartition stand-in for fake clients (SimpleNamespace
    defines __eq__ without __hash__, so it can't key a futures dict)."""

    __slots__ = ("topic", "partition", "offset")

    def __init__(self, topic: str, partition: int, offset: int | None):
        self.topic, self.partition, self.offset = topic, partition, offset

    def __hash__(self):
        return hash((self.topic, self.partition))

    def __eq__(self, other):
        return (self.topic, self.partition) == (other.topic, other.partition)


def _tp(topic: str, partition: int, offset: int | None = None):
    """TopicPartition from the client lib, or a plain stand-in under a fake."""
    try:
        from confluent_kafka import TopicPartition  # type: ignore

        return TopicPartition(topic, partition) if offset is None else TopicPartition(
            topic, partition, offset
        )
    except ImportError:
        return _PlainTP(topic, partition, offset)


def list_offsets(
    bootstrap_servers: str,
    partitions: list[tuple[str, int]],
    spec: str = "latest",
) -> dict[tuple[str, int], int]:
    """S2: batched earliest/latest resolution → {(topic, partition): offset}.

    One admin request for ALL partitions; the client library groups it per
    leader broker internally, so the reference's 2·B-not-2·N ListOffsets
    batching (partition_router.rs:370-436) comes for free."""
    admin = _admin(bootstrap_servers)
    try:
        from confluent_kafka.admin import OffsetSpec  # type: ignore

        off_spec = OffsetSpec.latest() if spec == "latest" else OffsetSpec.earliest()
    except ImportError:
        off_spec = spec  # fake clients take the plain string
    futures = admin.list_offsets({_tp(t, p): off_spec for t, p in partitions})
    return {(tp.topic, tp.partition): f.result().offset for tp, f in futures.items()}


def fetch_watermarks(
    spark, bootstrap_servers: str, partitions: list[tuple[str, int]]
):
    """Target-cluster watermarks as a DataFrame (topic, partition, earliest,
    latest) — two batched ListOffsets calls (earliest + latest), the
    validation input shape for A4/A5 (validation/context.rs watermark fetch;
    commands/validate_restore.rs orchestration)."""
    earliest = list_offsets(bootstrap_servers, partitions, "earliest")
    latest = list_offsets(bootstrap_servers, partitions, "latest")
    rows = [
        (t, p, earliest.get((t, p), -1), latest.get((t, p), -1))
        for t, p in partitions
    ]
    return local_frame(
        spark, rows, "topic string, partition int, earliest long, latest long"
    )


def ensure_topics_exist(
    bootstrap_servers: str, topics: dict[str, int], timeout_s: float = 30.0
) -> list[str]:
    """S11: create missing topics with target partition counts and wait until
    metadata shows them ready (restore/engine.rs:1104-1255).  Returns the
    topics actually created (existing ones are left untouched, partition
    counts NOT altered — matching the reference's create-only semantics)."""
    import time as _time

    admin = _admin(bootstrap_servers)
    existing = set(admin.list_topics(timeout=timeout_s).topics)
    missing = {t: n for t, n in topics.items() if t not in existing}
    if not missing:
        return []
    try:
        from confluent_kafka.admin import NewTopic  # type: ignore

        reqs = [NewTopic(t, num_partitions=n) for t, n in missing.items()]
    except ImportError:
        reqs = [(t, n) for t, n in missing.items()]  # fake clients take tuples
    for f in admin.create_topics(reqs).values():
        f.result()  # raise on per-topic failure
    # ready-wait: poll metadata until every created topic is visible
    deadline = _time.monotonic() + timeout_s
    pending = set(missing)
    while pending:
        pending -= set(admin.list_topics(timeout=timeout_s).topics)
        if not pending:
            break
        if _time.monotonic() > deadline:
            raise TimeoutError(f"topics not ready after {timeout_s}s: {sorted(pending)}")
        _time.sleep(0.2)
    return sorted(missing)


def purge_topics(
    bootstrap_servers: str, partitions: list[tuple[str, int, int]]
) -> dict[tuple[str, int], int]:
    """S10: DeleteRecords to advance each partition's log-start-offset
    (restore/engine.rs:785-853) — empties data below ``before_offset``
    without deleting the topic.  Returns the new low-watermarks."""
    admin = _admin(bootstrap_servers)
    futures = admin.delete_records([_tp(t, p, off) for t, p, off in partitions])
    out = {}
    for tp, f in futures.items():
        res = f.result()
        out[(tp.topic, tp.partition)] = getattr(res, "low_watermark", getattr(res, "offset", -1))
    return out


def commit_group_offsets(
    bootstrap_servers: str,
    commits: list[tuple[str, str, int, int]],
    client_conf: dict[str, str] | None = None,
) -> dict[str, int]:
    """Phase-3 apply: alter committed offsets per consumer group
    (offset_reset.rs execute path).  ``commits``: (group_id, topic,
    partition, target_offset).  ``client_conf``: librdkafka security keys
    from the shared CLI flags (security_args.rs twin).  Returns
    {group_id: partitions_committed}."""
    from collections import defaultdict

    admin = _admin(bootstrap_servers, client_conf)
    by_group: dict[str, list] = defaultdict(list)
    for group, topic, part, offset in commits:
        by_group[group].append(_tp(topic, part, offset))
    try:
        from confluent_kafka import ConsumerGroupTopicPartitions  # type: ignore

        reqs = [ConsumerGroupTopicPartitions(g, tps) for g, tps in by_group.items()]
    except ImportError:
        from types import SimpleNamespace

        reqs = [
            SimpleNamespace(group_id=g, topic_partitions=tps) for g, tps in by_group.items()
        ]
    results: dict[str, int] = {}
    for req in reqs:
        futures = admin.alter_consumer_group_offsets([req])
        for gid, f in futures.items():
            res = f.result()
            results[gid] = len(getattr(res, "topic_partitions", by_group[gid]))
    return results


def target_partition_counts(
    manifest_partitions: DataFrame, repartition_to: int | None = None
) -> DataFrame:
    """S11 analysis step (pure DataFrame): target partition count per topic =
    repartition target > manifest original count > max(partition)+1."""
    counts = manifest_partitions.groupBy("topic").agg(
        (F.max("partition") + 1).alias("observed_partitions")
    )
    if repartition_to is not None:
        return counts.select("topic", F.lit(repartition_to).alias("target_partitions"))
    return counts.select("topic", F.col("observed_partitions").alias("target_partitions"))
