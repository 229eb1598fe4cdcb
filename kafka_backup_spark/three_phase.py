"""Three-phase restore (reference: restore/three_phase.rs:101-266):

  Phase 1 (backup time): provenance headers on every record
      (P9, operators/projections.inject_backup_headers).
  Phase 2 (restore): replay records and build the source→target offset
      mapping.  Two capture paths:
      - Plan A (produce_capture.produce_with_offset_capture): this engine
        owns the produce step via mapInPandas + delivery callbacks, so the
        broker-assigned offsets come back directly — no headers needed
        (reference ProduceResponse.base_offset semantics,
        kafka/produce.rs:22-32); needs a client library on executors.
      - Plan B (build_offset_mapping below): header-reconciliation join —
        re-read the target topic and recover each record's source offset
        from its ``x-original-offset`` header; exact and idempotent, costs
        one extra scan, works when any producer (e.g. Spark's Kafka sink)
        wrote the records with injection on.
  Phase 3: consumer-group reset plan via the as-of lookup over that mapping
      (offset_reset.generate_group_plan), applied by the driver through an
      AdminClient (sources/kafka_io, import-gated).

Everything here is a pure DataFrame program, testable file-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_backup_spark.offset_reset import generate_group_plan, plan_summary
from kafka_backup_spark.operators.projections import H_ORIGINAL_OFFSET, extract_source_offset


def build_offset_mapping(
    target_records: DataFrame, restored_only: bool | str = "auto"
) -> DataFrame:
    """Phase-2 mapping capture: (topic, partition, source_offset,
    target_offset, timestamp) from re-reading the restored stream.

    ``target_records``: canonical-schema records as they exist on the target
    (their ``offset`` is the broker-assigned one; their headers carry the
    original).

    ``restored_only`` controls what happens to records WITHOUT a parseable
    ``x-original-offset`` header:

    - ``True`` — drop them.  On a live/shared target topic, pre-existing
      records have no header, and an identity fallback would mint bogus
      pairs (foreign record at offset 50 → mapping 50→50) that the as-of
      lookup then prefers over the correct restored pair — resetting
      consumer groups onto foreign records.
    - ``False`` — identity-map them (P10 fallback).  Correct only when the
      target holds exclusively restored records written WITHOUT header
      injection.
    - ``"auto"`` (default) — if ANY record carries the header, behave like
      ``True`` (the restore injected headers, so header-less records are
      foreign); if none do, behave like ``False`` (a header-less restore —
      the whole target IS the mapping).  Costs one ``limit(1)`` probe.
    """
    hv = F.try_element_at(
        F.filter(F.col("headers"), lambda h: h["key"] == F.lit(H_ORIGINAL_OFFSET)),
        F.lit(1),
    )["value"]
    recovered = extract_source_offset(target_records, "source_offset")
    if restored_only == "auto":
        restored_only = recovered.filter(hv.isNotNull()).limit(1).count() > 0
    if restored_only:
        recovered = recovered.filter(hv.isNotNull())
    return recovered.select(
        "topic",
        "partition",
        "source_offset",
        F.col("offset").alias("target_offset"),
        F.unix_millis("timestamp").alias("timestamp"),
    )


def mapping_ranges(detailed: DataFrame) -> DataFrame:
    """Collapse a detailed mapping to per-partition range entries
    (manifest.rs:438-471 OffsetRangeMapping) for the interpolation fallback."""
    return detailed.groupBy("topic", "partition").agg(
        F.min("source_offset").alias("source_first_offset"),
        F.max("source_offset").alias("source_last_offset"),
        F.min("target_offset").alias("target_first_offset"),
        F.max("target_offset").alias("target_last_offset"),
        F.min("timestamp").alias("first_timestamp"),
        F.max("timestamp").alias("last_timestamp"),
    )


def run_phase3(
    group_offsets: DataFrame,
    detailed_mapping: DataFrame,
    ranges: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Phase 3: reset plan + per-group summary. The plan DataFrame is what
    the driver feeds to AdminClient commits (or emits with ``toJSON`` as the
    reference's shell-script/JSON alternatives, offset_reset.rs:451-520).

    The plan is materialized once (a few rows per group partition): reading
    the plan rows and the summary then re-runs neither the as-of lookup nor
    the scan of the target behind ``detailed_mapping``."""
    plan = generate_group_plan(group_offsets, detailed_mapping, ranges).localCheckpoint(eager=True)
    return plan, plan_summary(plan)
