"""Validation checks A4–A7, A11."""

from __future__ import annotations

from kafka_backup_spark.validation.checks import (
    consumer_group_check,
    integrity_scan,
    message_count_check,
    offset_range_check,
    validation_summary,
)

MANIFEST_COLS = (
    "topic string, partition int, key string, start_offset long, end_offset long,"
    " start_ts long, end_ts long, record_count long, uncompressed_size long, compressed_size long"
)


def _manifest(spark):
    return spark.createDataFrame(
        [
            ("t", 0, "k0", 0, 99, 0, 1, 100, 0, 0),
            ("t", 0, "k1", 100, 199, 0, 1, 100, 0, 0),
            ("t", 1, "k2", 0, 49, 0, 1, 50, 0, 0),
            ("t", 2, "k3", 0, 0, 0, 1, 0, 0, 0),  # empty segment partition
        ],
        MANIFEST_COLS,
    )


def test_message_count_check(spark):
    wm = spark.createDataFrame(
        [("t", 0, 0, 200), ("t", 1, 0, 40), ("t", 2, 0, 0)],
        "topic string, partition int, earliest long, latest long",
    )
    got = {
        (r["topic"], r["partition"]): r
        for r in message_count_check(_manifest(spark), wm).collect()
    }
    assert got[("t", 0)]["status"] == "passed"
    assert got[("t", 1)]["status"] == "failed" and got[("t", 1)]["discrepancy"] == 10
    assert got[("t", 2)]["status"] == "passed"


def test_offset_range_check(spark):
    wm = spark.createDataFrame(
        [("t", 0, 0, 200), ("t", 1, 0, 40)],
        "topic string, partition int, earliest long, latest long",
    )
    got = {
        (r["topic"], r["partition"]): r["status"]
        for r in offset_range_check(_manifest(spark), wm).collect()
    }
    assert got[("t", 0)] == "passed"  # 200 >= 199 + 1
    assert got[("t", 1)] == "failed"  # 40 < 49 + 1
    assert got[("t", 2)] == "passed"  # zero records auto-pass


def test_consumer_group_and_summary(spark):
    go = spark.createDataFrame(
        [("g1", "t", 0, 10, 0), ("g1", "t", 1, 20, 0), ("g2", "t", 0, 5, 3)],
        "group_id string, topic string, partition int, offset long, error_code int",
    )
    cg = consumer_group_check(go)
    got = {r["group_id"]: r for r in cg.collect()}
    assert got["g1"]["status"] == "passed" and got["g1"]["offset_count"] == 2
    assert got["g2"]["status"] == "failed"

    wm = spark.createDataFrame(
        [("t", 0, 0, 200), ("t", 1, 0, 200), ("t", 2, 0, 1)],
        "topic string, partition int, earliest long, latest long",
    )
    summary = validation_summary(
        message_count_check(_manifest(spark), wm), offset_range_check(_manifest(spark), wm), cg
    ).collect()[0]
    assert summary["overall"] == "failed"
    assert summary["total"] == 8


def test_integrity_scan(spark):
    m = _manifest(spark)
    observed = spark.createDataFrame(
        [("k0", 100, 0, 99), ("k1", 90, 100, 199), ("k3", 0, 0, 0)],
        "key string, record_count long, start_offset long, end_offset long",
    )
    got = {r["key"]: r["status"] for r in integrity_scan(m, observed).collect()}
    assert got == {"k0": "valid", "k1": "corrupted", "k2": "missing", "k3": "valid"}


def test_summary_counts_integrity_scan_statuses(spark):
    """A missing or corrupted segment fails the summary; a valid one passes."""
    observed = spark.createDataFrame(
        [("k0", 100, 0, 99), ("k1", 90, 100, 199), ("k3", 0, 0, 0)],
        "key string, record_count long, start_offset long, end_offset long",
    )
    summary = validation_summary(integrity_scan(_manifest(spark), observed)).collect()[0]
    assert summary.asDict() == {
        "total": 4, "passed": 2, "failed": 2, "errors": 0, "warnings": 0,
        "overall": "failed",
    }


def test_integrity_scan_flags_null_observations_as_corrupted(spark):
    """A segment whose re-scan yields NULL offsets cannot be vouched for —
    it must report 'corrupted', not fall through NULL comparisons to
    'valid'."""
    from kafka_backup_spark.validation.checks import integrity_scan

    manifest = spark.createDataFrame(
        [("k1", "t", 0, 10, 0, 9), ("k2", "t", 1, 10, 0, 9)],
        "key string, topic string, partition int, record_count long, "
        "start_offset long, end_offset long",
    )
    observed = spark.createDataFrame(
        [("k1", 10, None, None), ("k2", 10, 0, 9)],
        "key string, record_count long, start_offset long, end_offset long",
    )
    status = {r["key"]: r["status"] for r in integrity_scan(manifest, observed).collect()}
    assert status == {"k1": "corrupted", "k2": "valid"}
