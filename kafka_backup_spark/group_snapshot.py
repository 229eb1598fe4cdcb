"""Consumer-group snapshots (commands/snapshot_groups.rs:38-160): capture
committed offsets for backed-up topics into
``{backup_id}/consumer-groups-snapshot.json``, inspect them later, and feed
them into the J4 snapshot-import join at restore time
(``auto_consumer_groups``).

Wire shape matches the reference serde exactly::

    {"snapshot_time": ms, "groups": [
        {"group_id": g, "offsets": {topic: {"<partition>": offset}}}]}

Capture is admin-RPC orchestration (cluster-gated, injectable client);
inspection and the restore-side load are file-backed.  The snapshot is
manifest-scale data (groups × topics), so driver-side JSON is the right
tool — the Spark side starts at ``load_snapshot``, which hands the flat
(group_id, topic, partition, offset) frame to import_group_snapshot (J4).
"""

from __future__ import annotations

import json
import os

SNAPSHOT_NAME = "consumer-groups-snapshot.json"


def snapshot_path(store_root: str, backup_id: str) -> str:
    return os.path.join(store_root, backup_id, SNAPSHOT_NAME)


def build_snapshot_doc(
    rows: list[tuple[str, str, int, int]], snapshot_time_ms: int
) -> dict:
    """Nest flat (group_id, topic, partition, offset) rows into the reference
    wire shape; negative offsets are dropped (snapshot_groups.rs:112)."""
    groups: dict[str, dict[str, dict[str, int]]] = {}
    for group_id, topic, partition, offset in rows:
        if offset < 0:
            continue
        groups.setdefault(group_id, {}).setdefault(topic, {})[str(partition)] = offset
    return {
        "snapshot_time": snapshot_time_ms,
        "groups": [
            {"group_id": g, "offsets": topics}
            for g, topics in sorted(groups.items())
        ],
    }


def write_snapshot(store_root: str, backup_id: str, doc: dict) -> str:
    from kafka_backup_spark import fsio

    path = snapshot_path(store_root, backup_id)
    fsio.write_text(path, json.dumps(doc, indent=2, sort_keys=True))
    return path


def read_snapshot(store_root: str, backup_id: str) -> dict | None:
    from kafka_backup_spark import fsio

    path = snapshot_path(store_root, backup_id)
    if not fsio.exists(path):
        return None
    return json.loads(fsio.read_text(path))


def flatten_snapshot(doc: dict) -> list[tuple[str, str, int, int]]:
    """Wire shape → flat rows, ready for local_frame / J4 import."""
    return [
        (g["group_id"], topic, int(p), int(off))
        for g in doc.get("groups", [])
        for topic, parts in sorted(g.get("offsets", {}).items())
        for p, off in sorted(parts.items(), key=lambda kv: int(kv[0]))
    ]


def load_snapshot(spark, store_root: str, backup_id: str):
    """Snapshot file → (group_id, topic, partition, offset) DataFrame — the
    input to offset_reset.import_group_snapshot (J4, restore/engine.rs
    auto_consumer_groups path).  None when no snapshot exists."""
    from kafka_backup_spark.schema import local_frame

    doc = read_snapshot(store_root, backup_id)
    if doc is None:
        return None
    return local_frame(
        spark,
        flatten_snapshot(doc),
        "group_id string, topic string, partition int, offset long",
    )


def capture_group_offsets(
    bootstrap_servers: str, backed_topics: set[str], admin_factory=None
) -> list[tuple[str, str, int, int]]:
    """List every consumer group, fetch its committed offsets, keep those on
    backed-up topics (snapshot_groups.rs:80-135).  Cluster-gated: uses the
    injectable AdminClient factory; raises NotImplementedError without a
    client library, like every other admin op."""
    if admin_factory is None:
        from kafka_backup_spark.sources.kafka_io import _admin as admin_factory
    admin = admin_factory(bootstrap_servers)
    listing = admin.list_consumer_groups().result()
    group_ids = [g.group_id for g in getattr(listing, "valid", listing)]
    try:
        from confluent_kafka import ConsumerGroupTopicPartitions  # type: ignore

        reqs = [ConsumerGroupTopicPartitions(g) for g in group_ids]
    except ImportError:
        from types import SimpleNamespace

        reqs = [SimpleNamespace(group_id=g, topic_partitions=None) for g in group_ids]
    rows: list[tuple[str, str, int, int]] = []
    for req in reqs:
        futures = admin.list_consumer_group_offsets([req])
        for _gid, f in futures.items():
            res = f.result()
            gid = getattr(res, "group_id", _gid)
            for tp in getattr(res, "topic_partitions", []) or []:
                if tp.topic in backed_topics and tp.offset >= 0:
                    rows.append((gid, tp.topic, tp.partition, tp.offset))
    return rows
