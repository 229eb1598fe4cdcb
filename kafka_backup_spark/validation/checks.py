"""Validation checks (A4–A7, A11) as DataFrame programs.

Reference: validation/message_count.rs, validation/offset_range.rs,
validation/consumer_group.rs, validation/mod.rs:121-192, commands/validate.rs.
Each check is a join of manifest-side expectations against live-cluster
watermarks (or a file listing), returning one row per (topic, partition) plus
a summary — the reference's ValidationCheck trait surface (X1) becomes
"callable returning a DataFrame".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

KEYS = ["topic", "partition"]


def message_count_check(
    manifest: DataFrame, watermarks: DataFrame, fail_threshold: int = 0
) -> DataFrame:
    """A4: expected = Σ manifest record_count per partition; restored =
    latest − earliest from the live cluster; discrepancy beyond the threshold
    fails (validation/message_count.rs:34-132).

    ``watermarks``: (topic, partition, earliest, latest).
    """
    expected = manifest.groupBy(*KEYS).agg(F.sum("record_count").alias("expected_count"))
    joined = expected.join(watermarks, KEYS, "full_outer")
    restored = F.col("latest") - F.col("earliest")
    discrepancy = F.abs(F.coalesce(F.col("expected_count"), F.lit(0)) - F.coalesce(restored, F.lit(0)))
    return joined.select(
        *KEYS,
        F.coalesce(F.col("expected_count"), F.lit(0)).alias("expected_count"),
        F.coalesce(restored, F.lit(0)).alias("restored_count"),
        discrepancy.alias("discrepancy"),
        F.when(F.col("latest").isNull(), F.lit("error"))
        .when(discrepancy > fail_threshold, F.lit("failed"))
        .otherwise(F.lit("passed"))
        .alias("status"),
    )


def offset_range_check(manifest: DataFrame, watermarks: DataFrame) -> DataFrame:
    """A5: pass iff live HWM ≥ max(end_offset) + 1; partitions with no
    segments auto-pass (validation/offset_range.rs:25-130)."""
    expected = manifest.groupBy(*KEYS).agg(
        F.min("start_offset").alias("expected_low"),
        F.max("end_offset").alias("expected_high"),
        F.sum("record_count").alias("record_count"),
    )
    joined = expected.join(watermarks, KEYS, "left")
    return joined.select(
        *KEYS,
        "expected_low",
        "expected_high",
        F.col("latest").alias("live_high_watermark"),
        F.when(F.coalesce(F.col("record_count"), F.lit(0)) == 0, F.lit("passed"))
        .when(F.col("latest").isNull(), F.lit("error"))
        .when(F.col("latest") >= F.col("expected_high") + 1, F.lit("passed"))
        .otherwise(F.lit("failed"))
        .alias("status"),
    )


def consumer_group_check(group_offsets: DataFrame) -> DataFrame:
    """A6: per-group counts + error-code flags
    (validation/consumer_group.rs:35-135). ``group_offsets``:
    (group_id, topic, partition, offset, error_code)."""
    return group_offsets.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("offset_count"),
        F.count_distinct("topic").alias("topic_count"),
        F.sum(F.when(F.col("error_code") != 0, 1).otherwise(0)).alias("errors"),
        F.when(F.sum(F.when(F.col("error_code") != 0, 1).otherwise(0)) > 0, F.lit("failed"))
        .otherwise(F.lit("passed"))
        .alias("status"),
    )


def validation_summary(*check_results: DataFrame) -> DataFrame:
    """A7: counts by status; overall = failed if any failed, else warning if
    any warned, else passed (validation/mod.rs:121-192).  Integrity-scan
    statuses count too: a valid segment passed, a missing or corrupted one
    failed."""
    status = (
        F.when(F.col("status") == "valid", F.lit("passed"))
        .when(F.col("status").isin("missing", "corrupted"), F.lit("failed"))
        .otherwise(F.col("status"))
    )
    statuses = None
    for df in check_results:
        s = df.select(status.alias("status"))
        statuses = s if statuses is None else statuses.unionByName(s)
    assert statuses is not None
    counts = statuses.groupBy().agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(F.col("status") == "passed", 1).otherwise(0)).alias("passed"),
        F.sum(F.when(F.col("status") == "failed", 1).otherwise(0)).alias("failed"),
        F.sum(F.when(F.col("status") == "error", 1).otherwise(0)).alias("errors"),
        F.sum(F.when(F.col("status") == "warning", 1).otherwise(0)).alias("warnings"),
    )
    overall = (
        F.when(F.col("failed") + F.col("errors") > 0, F.lit("failed"))
        .when(F.col("warnings") > 0, F.lit("warning"))
        .otherwise(F.lit("passed"))
    )
    return counts.withColumn("overall", overall)


def integrity_scan(manifest: DataFrame, observed: DataFrame) -> DataFrame:
    """A11: manifest ⋈ re-scanned store. ``observed``: per segment-key actual
    (record_count, start_offset, end_offset) from re-reading the files
    (commands/validate.rs:48-233 deep mode; CRC itself is parquet-native).
    Status per segment: missing | corrupted | valid."""
    j = manifest.alias("m").join(
        observed.select(
            "key",
            F.col("record_count").alias("obs_count"),
            F.col("start_offset").alias("obs_start"),
            F.col("end_offset").alias("obs_end"),
        ),
        "key",
        "left",
    )
    # null-SAFE inequality (<=>): a NULL observed/manifest offset means the
    # re-scan could not vouch for the segment — that is 'corrupted', not
    # 'valid'.  Plain != evaluates to NULL against NULL and the WHEN falls
    # through, silently under-reporting corruption.
    differs = (
        ~F.col("obs_count").eqNullSafe(F.col("record_count"))
        | ~F.col("obs_start").eqNullSafe(F.col("start_offset"))
        | ~F.col("obs_end").eqNullSafe(F.col("end_offset"))
    )
    return j.select(
        "key",
        "topic",
        "partition",
        F.when(F.col("obs_count").isNull(), F.lit("missing"))
        .when(differs, F.lit("corrupted"))
        .otherwise(F.lit("valid"))
        .alias("status"),
    )
