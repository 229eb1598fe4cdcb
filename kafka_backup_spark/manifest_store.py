"""Manifest persistence: the reference's ``{backup_id}/manifest.json``
document (manifest.rs:6-165; writer backup/engine.rs:1214-1301) as a JSON
artifact next to the segment store, with merge-on-write precedence.

The document shape mirrors the reference: top-level backup metadata, per
topic ``original_partition_count`` + partitions, per partition ordered
segment lists. Segments live in the manifest DataFrame (manifest.py); this
module only converts DataFrame ⇄ document and applies the save-time merge
(stored wins) so restart double-writes stay idempotent.

Driver-side JSON I/O is deliberate: a manifest is ~1 row per 128 MB of data
(≈800k rows at 100 TB, a few hundred MB of JSON at most), and the reference
makes the same single-writer assumption for the manifest object.  The loaded
frame is built from Arrow batches (schema.local_frame) and decoded in the JVM:
a ``LocalRelation`` held in driver memory, as the collected document already
is, up to ``spark.sql.execution.arrow.localRelationThreshold`` (48 MiB by
default), a JVM RDD of those batches above it.  No action on it starts a
Python worker.
"""

from __future__ import annotations

import json
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from kafka_backup_spark import manifest as mani
from kafka_backup_spark.schema import local_frame

MANIFEST_SCHEMA = (
    "topic string, partition int, key string, start_offset long, end_offset long, "
    "start_ts long, end_ts long, record_count long, uncompressed_size long, "
    "compressed_size long"
)

SEGMENT_FIELDS = [
    "key", "start_offset", "end_offset", "start_ts", "end_ts",
    "record_count", "uncompressed_size", "compressed_size",
]


def manifest_to_doc(
    manifest: DataFrame,
    backup_id: str,
    source_cluster_id: str | None = None,
    compression: str = "zstd",
    created_at_ms: int | None = None,
    segment_span: int | None = None,
) -> dict[str, Any]:
    """DataFrame → BackupManifest document (manifest.rs:6-28 field surface).
    One driver collect of segment-granularity rows (see module docstring)."""
    rows = manifest.orderBy("topic", "partition", "start_offset").collect()
    topics: dict[str, dict[str, Any]] = {}
    for r in rows:
        t = topics.setdefault(
            r["topic"], {"name": r["topic"], "partitions": {}}
        )
        p = t["partitions"].setdefault(
            r["partition"], {"partition": r["partition"], "segments": []}
        )
        p["segments"].append({f: r[f] for f in SEGMENT_FIELDS})
    topic_list = []
    for name in sorted(topics):
        t = topics[name]
        parts = [t["partitions"][k] for k in sorted(t["partitions"])]
        for p in parts:
            p["last_offset"] = max(s["end_offset"] for s in p["segments"])
        topic_list.append(
            {
                "name": name,
                "original_partition_count": max(p["partition"] for p in parts) + 1,
                "partitions": parts,
            }
        )
    doc: dict[str, Any] = {
        "backup_id": backup_id,
        "created_at": created_at_ms if created_at_ms is not None else int(time.time() * 1000),
        "source_cluster_id": source_cluster_id,
        "compression": compression,
        "topics": topic_list,
    }
    if segment_span is not None:
        # persisted so a later rescan (validate) derives the SAME segment keys
        # the backup wrote — without it a non-default span makes every segment
        # look missing
        doc["segment_span"] = segment_span
    return doc


def doc_to_manifest(spark: SparkSession, doc: dict[str, Any]) -> DataFrame:
    # (topic, partition, *SEGMENT_FIELDS) is MANIFEST_SCHEMA's column order
    rows = [
        (t["name"], p["partition"], *[s[f] for f in SEGMENT_FIELDS])
        for t in doc["topics"]
        for p in t["partitions"]
        for s in p["segments"]
    ]
    return local_frame(spark, rows, MANIFEST_SCHEMA)


class ManifestStore:
    """JSON manifest persistence rooted at the store path."""

    def __init__(self, root: str, backup_id: str):
        self.root = root.rstrip("/")
        self.backup_id = backup_id

    def path(self) -> str:
        return f"{self.root}/{self.backup_id}/manifest.json"

    def load_doc(self) -> dict[str, Any] | None:
        # fsio routes remote store roots (s3a://…) through the Hadoop
        # filesystem — the manifest must live NEXT TO the segments, not on
        # the driver's local disk under a directory named like the URI
        from kafka_backup_spark import fsio

        if not fsio.exists(self.path()):
            return None
        return json.loads(fsio.read_text(self.path()))

    def load(self, spark: SparkSession) -> DataFrame | None:
        doc = self.load_doc()
        return doc_to_manifest(spark, doc) if doc is not None else None

    def save(
        self,
        current: DataFrame,
        source_cluster_id: str | None = None,
        created_at_ms: int | None = None,
        segment_span: int | None = None,
    ) -> dict[str, Any]:
        """S8 merge-on-write: load stored manifest, union-merge with
        ``current`` (stored wins on key/start_offset collisions —
        backup/engine.rs:1240-1301), write back atomically."""
        prior = self.load_doc()
        if prior is None:
            merged = current
        else:
            existing = doc_to_manifest(current.sparkSession, prior)
            merged = mani.merge_manifests(existing, current)
            if segment_span is None:
                segment_span = prior.get("segment_span")
        doc = manifest_to_doc(
            merged,
            self.backup_id,
            source_cluster_id,
            created_at_ms=created_at_ms,
            segment_span=segment_span,
        )
        from kafka_backup_spark import fsio

        fsio.write_text(self.path(), json.dumps(doc, sort_keys=True))
        return doc
