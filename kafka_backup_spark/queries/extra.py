"""Second wave of operator-inventory queries: header provenance round-trip
(P8/P9/P10 + F7 LE codecs), snapshot import (J4), consumer-group validation
(A6), validation summary (A7), integrity scan (A11), lag metrics (A9),
reset-plan rollup (J3), and epoch formatting (F8).

Synthetic "live cluster" inputs (committed offsets, error codes, observed
segment stats) are derived deterministically from the record stream so the
DuckDB oracle can rebuild them exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_backup_spark import artifacts
from kafka_backup_spark import manifest as mani
from kafka_backup_spark.offset_reset import generate_group_plan, import_group_snapshot, plan_summary
from kafka_backup_spark.operators import projections
from kafka_backup_spark.queries.common import (
    MAPPING_CTE,
    RECORDS_CTE,
    detailed_mapping_df,
    manifest_cte,
    manifest_df,
    records_df,
    watermarks_df,
)
from kafka_backup_spark.validation.checks import (
    consumer_group_check,
    integrity_scan,
    message_count_check,
    offset_range_check,
    validation_summary,
)


# ── P8/P9/P10 + F7: header injection → LE-binary codec → recovery ─────────
# Inject provenance headers, then overwrite `offset` with a simulated
# broker-assigned offset (+999); the original offset must come back from the
# 8-byte little-endian header, NOT the fallback path.


def q_header_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: this is a pure projection emitting O(n) rows, so the per-row
    # no per-query spread(): records_df is session-pinned pre-spread when
    # small (common.records_df) and streams with the scan's own splits when
    # large — either way an extra round-robin exchange here would only
    # re-shuffle rows that already sit at full parallelism
    r = records_df(spark, sf_dir).select(
        "topic", "partition", "offset", "timestamp", "headers"
    )
    injected = projections.inject_restore_headers(r)
    reassigned = injected.withColumn("offset", F.col("offset") + 999)
    out = projections.extract_source_offset(reassigned)
    return out.select("topic", "partition", "offset", "source_offset")


SQL_HEADER_ROUNDTRIP = f"""
WITH {RECORDS_CTE}
SELECT topic, "partition", "offset" + 999 AS "offset", "offset" AS source_offset
FROM records
"""


# ── J4: consumer-group snapshot import (rename + invalid-drop) ────────────

SNAP_TOPIC_MAPPING = {"click": "click_v2"}
SNAP_PARTITION_MAPPING = {1: 11}


def _snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic consumer-group snapshot: per (group, topic, partition) max
    committed offset, with partition-0 entries planted invalid (-1)."""
    r = records_df(spark, sf_dir)
    base = r.groupBy("topic", "partition").agg(F.max("offset").alias("offset"))
    g0 = base.withColumn("group_id", F.lit("g0"))
    g1 = base.withColumn("group_id", F.lit("g1")).withColumn(
        "offset", F.when(F.col("partition") == 0, F.lit(-1)).otherwise(F.col("offset"))
    )
    return g0.unionByName(g1).select("group_id", "topic", "partition", "offset")


_SNAPSHOT_CTE = """
snapshot AS (
    SELECT 'g0' AS group_id, topic, "partition", max("offset") AS "offset"
    FROM records GROUP BY topic, "partition"
    UNION ALL
    SELECT 'g1' AS group_id, topic, "partition",
           CASE WHEN "partition" = 0 THEN -1 ELSE max("offset") END AS "offset"
    FROM records GROUP BY topic, "partition"
)
"""


def q_snapshot_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    snap = _snapshot(spark, sf_dir)
    return import_group_snapshot(snap, SNAP_TOPIC_MAPPING, SNAP_PARTITION_MAPPING)


SQL_SNAPSHOT_IMPORT = f"""
WITH {RECORDS_CTE}, {_SNAPSHOT_CTE}
SELECT group_id,
       CASE topic WHEN 'click' THEN 'click_v2' ELSE topic END AS topic,
       CAST(CASE "partition" WHEN 1 THEN 11 ELSE "partition" END AS INTEGER) AS "partition",
       "offset"
FROM snapshot WHERE "offset" >= 0
"""


# ── J3 rollup: reset-plan per-group summary ───────────────────────────────


def q_reset_plan_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = records_df(spark, sf_dir)
    groups = (
        r.filter(F.col("offset") % 3 == 0)
        .groupBy("topic", "partition")
        .agg(F.max("offset").alias("offset"))
        .withColumn("group_id", F.lit("g0"))
        .select("group_id", "topic", "partition", "offset")
    )
    mapping = detailed_mapping_df(spark, sf_dir).drop("timestamp")
    return plan_summary(generate_group_plan(groups, mapping))


SQL_RESET_PLAN_SUMMARY = f"""
WITH {RECORDS_CTE}, {MAPPING_CTE},
groups AS (
    SELECT 'g0' AS group_id, topic, "partition", max("offset") AS committed
    FROM records WHERE "offset" % 3 = 0 GROUP BY topic, "partition"
),
looked AS (
    SELECT g.group_id,
           m.target_offset + (g.committed - m.source_offset) AS target_offset
    FROM groups g
    ASOF LEFT JOIN mapping m
      ON g.topic = m.topic AND g."partition" = m."partition" AND g.committed >= m.source_offset
)
SELECT group_id, count(*) AS offsets,
       CAST(sum(CASE WHEN target_offset IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS mapped,
       bool_and(target_offset IS NOT NULL) AS complete
FROM looked GROUP BY group_id
"""


# ── A6: consumer-group offset check ───────────────────────────────────────


def q_consumer_group_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = records_df(spark, sf_dir)
    offsets = (
        r.groupBy("topic", "partition")
        .agg(F.max("offset").alias("offset"))
        .withColumn("group_id", F.concat(F.lit("grp-"), (F.col("partition") % 2).cast("string")))
        .withColumn(
            "error_code", F.when(F.col("offset") % 7 == 0, F.lit(1)).otherwise(F.lit(0))
        )
    )
    return consumer_group_check(offsets)


_GROUP_OFFSETS_CTE = """
grp_offsets AS (
    SELECT topic, "partition", max("offset") AS "offset",
           'grp-' || CAST("partition" % 2 AS VARCHAR) AS group_id,
           CASE WHEN max("offset") % 7 = 0 THEN 1 ELSE 0 END AS error_code
    FROM records GROUP BY topic, "partition"
)
"""

SQL_CONSUMER_GROUP_CHECK = f"""
WITH {RECORDS_CTE}, {_GROUP_OFFSETS_CTE}
SELECT group_id, count(*) AS offset_count,
       CAST(count(DISTINCT topic) AS BIGINT) AS topic_count,
       CAST(sum(CASE WHEN error_code != 0 THEN 1 ELSE 0 END) AS BIGINT) AS errors,
       CASE WHEN sum(CASE WHEN error_code != 0 THEN 1 ELSE 0 END) > 0
            THEN 'failed' ELSE 'passed' END AS status
FROM grp_offsets GROUP BY group_id
"""


# ── A7: validation summary over message-count + offset-range checks ───────

WATERMARKS_CTE = """
watermarks AS (
    SELECT topic, "partition",
           min("offset") AS earliest,
           CASE WHEN "partition" % 2 = 0
                THEN min("offset") + count(*)
                ELSE max("offset") + 1 END AS latest
    FROM records GROUP BY topic, "partition"
)
"""


def _watermarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return watermarks_df(spark, sf_dir)


def q_validation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # summarize over the CACHED check results (validation/mod.rs:121-192
    # composes over completed check outputs; each check ran once per run)
    from kafka_backup_spark.queries.core import message_count_result, offset_range_result

    return validation_summary(
        message_count_result(spark, sf_dir), offset_range_result(spark, sf_dir)
    )


SQL_VALIDATION_SUMMARY = f"""
WITH {RECORDS_CTE}, {manifest_cte()}, {WATERMARKS_CTE},
mc_expected AS (
    SELECT topic, "partition", CAST(sum(record_count) AS BIGINT) AS expected_count
    FROM manifest GROUP BY topic, "partition"
),
mc AS (
    SELECT CASE WHEN w.latest IS NULL THEN 'error'
                WHEN abs(coalesce(e.expected_count, 0)
                         - coalesce(w.latest - w.earliest, 0)) > 0 THEN 'failed'
                ELSE 'passed' END AS status
    FROM mc_expected e FULL OUTER JOIN watermarks w
      ON e.topic = w.topic AND e."partition" = w."partition"
),
or_expected AS (
    SELECT topic, "partition",
           max(end_offset) AS expected_high,
           CAST(sum(record_count) AS BIGINT) AS record_count
    FROM manifest GROUP BY topic, "partition"
),
orc AS (
    SELECT CASE WHEN coalesce(e.record_count, 0) = 0 THEN 'passed'
                WHEN w.latest IS NULL THEN 'error'
                WHEN w.latest >= e.expected_high + 1 THEN 'passed'
                ELSE 'failed' END AS status
    FROM or_expected e LEFT JOIN watermarks w
      ON e.topic = w.topic AND e."partition" = w."partition"
),
statuses AS (SELECT status FROM mc UNION ALL SELECT status FROM orc)
SELECT count(*) AS total,
       CAST(sum(CASE WHEN status = 'passed' THEN 1 ELSE 0 END) AS BIGINT) AS passed,
       CAST(sum(CASE WHEN status = 'failed' THEN 1 ELSE 0 END) AS BIGINT) AS failed,
       CAST(sum(CASE WHEN status = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
       CAST(sum(CASE WHEN status = 'warning' THEN 1 ELSE 0 END) AS BIGINT) AS warnings,
       CASE WHEN sum(CASE WHEN status IN ('failed', 'error') THEN 1 ELSE 0 END) > 0 THEN 'failed'
            WHEN sum(CASE WHEN status = 'warning' THEN 1 ELSE 0 END) > 0 THEN 'warning'
            ELSE 'passed' END AS overall
FROM statuses
"""


# ── A11: integrity scan (missing / corrupted / valid) ─────────────────────
# Observed store = manifest minus segments at 5000-aligned offsets (planted
# missing), with record counts perturbed on partition 2 (planted corruption).


def q_integrity_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = manifest_df(spark, sf_dir)
    observed = (
        m.filter(F.col("start_offset") % 5000 != 0)
        .withColumn(
            "record_count",
            F.when(F.col("partition") == 2, F.col("record_count") + 1).otherwise(
                F.col("record_count")
            ),
        )
        .select("key", "record_count", "start_offset", "end_offset")
    )
    return integrity_scan(m, observed)


SQL_INTEGRITY_SCAN = f"""
WITH {RECORDS_CTE}, {manifest_cte()},
observed AS (
    SELECT key,
           CASE WHEN "partition" = 2 THEN record_count + 1 ELSE record_count END AS obs_count,
           start_offset AS obs_start, end_offset AS obs_end
    FROM manifest WHERE start_offset % 5000 != 0
)
SELECT m.key, m.topic, m."partition",
       CASE WHEN o.obs_count IS NULL THEN 'missing'
            -- IS DISTINCT FROM = the Spark side's null-safe <=> inequality:
            -- a NULL observed offset is 'corrupted', never silently 'valid'
            WHEN o.obs_count IS DISTINCT FROM m.record_count
                 OR o.obs_start IS DISTINCT FROM m.start_offset
                 OR o.obs_end IS DISTINCT FROM m.end_offset THEN 'corrupted'
            ELSE 'valid' END AS status
FROM manifest m LEFT JOIN observed o ON m.key = o.key
"""


# ── A9: lag / progress metrics ────────────────────────────────────────────
# lag = high watermark − committed; snapshot_remaining = Σ(latest − earliest)
# − processed, per topic (backup/engine.rs:928-937, 830-848 semantics).


def q_lag_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _watermarks(spark, sf_dir)
    committed = w.select(
        "topic", "partition", (F.col("latest") - (F.col("partition") + 1) * 10).alias("current")
    )
    j = w.join(committed, ["topic", "partition"])
    return j.groupBy("topic").agg(
        F.sum(F.col("latest") - F.col("current")).alias("total_lag"),
        F.sum(F.col("latest") - F.col("earliest")).alias("snapshot_total"),
        F.max(F.col("latest") - F.col("current")).alias("max_partition_lag"),
    )


SQL_LAG_METRICS = f"""
WITH {RECORDS_CTE}, {WATERMARKS_CTE},
j AS (
    SELECT topic, "partition", earliest, latest,
           latest - ("partition" + 1) * 10 AS current
    FROM watermarks
)
SELECT topic,
       CAST(sum(latest - current) AS BIGINT) AS total_lag,
       CAST(sum(latest - earliest) AS BIGINT) AS snapshot_total,
       CAST(max(latest - current) AS BIGINT) AS max_partition_lag
FROM j GROUP BY topic
"""


# ── F8: epoch-millis → formatted datetime (describe-style) ────────────────


def q_time_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = manifest_df(spark, sf_dir)
    return m.select(
        "key",
        F.date_format(
            F.timestamp_seconds(F.floor(F.col("start_ts") / 1000)), "yyyy-MM-dd HH:mm:ss"
        ).alias("start_fmt"),
        (F.col("start_ts") % 1000).alias("start_millis"),
        F.date_format(
            F.timestamp_seconds(F.floor(F.col("end_ts") / 1000)), "yyyy-MM-dd HH:mm:ss"
        ).alias("end_fmt"),
    )


SQL_TIME_FORMAT = f"""
WITH {RECORDS_CTE}, {manifest_cte()}
SELECT key,
       strftime(make_timestamp((start_ts // 1000) * 1000000), '%Y-%m-%d %H:%M:%S') AS start_fmt,
       start_ts % 1000 AS start_millis,
       strftime(make_timestamp((end_ts // 1000) * 1000000), '%Y-%m-%d %H:%M:%S') AS end_fmt
FROM manifest
"""


# ── F5/A4: evidence integrity digest ──────────────────────────────────────


def q_evidence_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_backup_spark.evidence import integrity_digest
    from kafka_backup_spark.queries.core import message_count_result

    return integrity_digest(message_count_result(spark, sf_dir))


SQL_EVIDENCE_DIGEST = f"""
WITH {RECORDS_CTE}, {manifest_cte()}, {WATERMARKS_CTE},
expected AS (
    SELECT topic, "partition", CAST(sum(record_count) AS BIGINT) AS expected_count
    FROM manifest GROUP BY topic, "partition"
),
checkrows AS (
    SELECT coalesce(e.topic, w.topic) AS topic,
           coalesce(e."partition", w."partition") AS "partition",
           coalesce(e.expected_count, 0) AS expected_count,
           coalesce(w.latest - w.earliest, 0) AS restored_count
    FROM expected e FULL OUTER JOIN watermarks w
      ON e.topic = w.topic AND e."partition" = w."partition"
),
lines AS (
    SELECT topic || ':' || CAST("partition" AS VARCHAR) || ':'
           || CAST(expected_count AS VARCHAR) || ':' || CAST(restored_count AS VARCHAR) AS line
    FROM checkrows
)
SELECT sha256(string_agg(line, chr(10) ORDER BY line)) AS sha256_hex FROM lines
"""


# ── Phase-2 offset-mapping capture (header reconciliation join) ───────────


def q_offset_mapping_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_backup_spark.three_phase import build_offset_mapping

    r = records_df(spark, sf_dir)
    injected = projections.inject_restore_headers(r)
    # simulate broker-assigned offsets on the target (+999 per partition)
    on_target = injected.withColumn("offset", F.col("offset") + 999)
    return build_offset_mapping(on_target.drop("ts_ms"))


SQL_OFFSET_MAPPING_CAPTURE = f"""
WITH {RECORDS_CTE}
SELECT topic, "partition", "offset" AS source_offset,
       "offset" + 999 AS target_offset, ts_ms AS "timestamp"
FROM records
"""


# ── T5 batch twin: event-time windowed throughput ─────────────────────────
# The same windowed_throughput plan Structured Streaming runs (streaming/
# backup_stream.py), executed in batch so the oracle gate can hash it.


def q_windowed_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_backup_spark.streaming.backup_stream import windowed_throughput

    r = records_df(spark, sf_dir).drop("ts_ms")
    out = windowed_throughput(r, "1 hour")
    return out.select(
        F.unix_millis("window_start").alias("window_start_ms"),
        "topic",
        "n_records",
        "n_bytes",
    )


SQL_WINDOWED_THROUGHPUT = f"""
WITH {RECORDS_CTE}
SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, make_timestamp(ts_ms * 1000))) AS window_start_ms,
       topic, count(*) AS n_records,
       CAST(sum(octet_length(key) + octet_length(value)) AS BIGINT) AS n_bytes
FROM records
GROUP BY 1, topic
"""


# ── T8 batch twin: at-least-once dedup by record identity ─────────────────


def q_dedup_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = records_df(spark, sf_dir)
    overlap = r.filter(F.col("offset") % 4 == 0)  # simulated re-fetch
    doubled = r.unionByName(overlap)
    return (
        doubled.dropDuplicates(["topic", "partition", "offset"])
        .groupBy("topic")
        .agg(F.count(F.lit(1)).alias("n_records"), F.max("offset").alias("max_offset"))
    )


SQL_DEDUP_RECORDS = f"""
WITH {RECORDS_CTE},
doubled AS (
    SELECT * FROM records
    UNION ALL
    SELECT * FROM records WHERE "offset" % 4 = 0
),
dedup AS (
    SELECT DISTINCT topic, "partition", "offset" FROM doubled
)
SELECT topic, count(*) AS n_records, max("offset") AS max_offset
FROM dedup GROUP BY topic
"""


# ── Skew-safe salted aggregation (must equal the plain plan) ──────────────


def q_salted_topic_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_backup_spark.operators.skew import salted_aggregate

    r = records_df(spark, sf_dir)
    return salted_aggregate(
        r,
        ["topic"],
        {
            "n_records": "count(*)",
            "min_offset": "min(offset)",
            "max_offset": "max(offset)",
            "sum_offset": "sum(offset)",
        },
    )


SQL_SALTED_TOPIC_AGG = f"""
WITH {RECORDS_CTE}
SELECT topic, count(*) AS n_records, min("offset") AS min_offset,
       max("offset") AS max_offset, CAST(sum("offset") AS BIGINT) AS sum_offset
FROM records GROUP BY topic
"""


def q_legacy_segment_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 dual-format reader round-trip: materialize a deterministic subset of
    the record stream as legacy JSON segments (reference serde
    manifest.rs:183-266 — base64 key/value, header structs, epoch-ms
    timestamps; partition 0 gzipped to exercise extension-based
    decompression, compression.rs:46-54), read them back through
    SegmentStore.read_legacy, and emit the decoded records.  The oracle
    reproduces the same subset straight from `events`, so any decode fault
    (base64, null keys, header mapping, ms timestamps, path-derived
    topic/partition) breaks the hash."""
    import hashlib
    import os

    from kafka_backup_spark.sources.segments import SegmentStore, write_legacy_segments

    # Fixture-size cap: the `.collect()` below writes the JSON segments
    # single-threaded on the driver, which is fine ONLY because this bound
    # keeps the subset at oracle scale (≤5000 rows/partition).  For a real
    # legacy-format export use write_legacy_segments over foreachPartition,
    # never a driver collect.
    r = records_df(spark, sf_dir).filter(F.col("offset") < 5000)
    # null out every 10th key: exercises the optional-key decode branch
    r = r.withColumn(
        "key", F.when(F.col("offset") % 10 == 0, F.lit(None)).otherwise(F.col("key"))
    )
    rows = r.select("topic", "partition", "offset", "ts_ms", "key", "value").collect()
    # cache key covers the SOURCE CONTENT, not just the path: if the driver
    # regenerates testdata between rounds, a path-keyed fixture would go
    # stale and hash-mismatch the oracle. size+mtime of every events parquet
    # part is cheap and changes whenever the data does.
    stat = []
    ev_dir = f"{sf_dir}/events.parquet"
    for p in sorted([ev_dir] if os.path.isfile(ev_dir) else [
        os.path.join(ev_dir, f) for f in os.listdir(ev_dir)
    ]):
        st = os.stat(p)
        stat.append(f"{p}:{st.st_size}:{st.st_mtime_ns}")
    fingerprint = hashlib.sha256((sf_dir + "|" + "|".join(stat)).encode()).hexdigest()[:12]
    root = "/tmp/kbs-legacy-v2-" + fingerprint
    if not os.path.isdir(root):  # deterministic content → safe to reuse
        write_legacy_segments(
            root,
            (
                {
                    "topic": row["topic"],
                    "partition": row["partition"],
                    "offset": row["offset"],
                    "ts_ms": row["ts_ms"],
                    "key": row["key"],
                    "value": row["value"],
                    "headers": [("x-source", row["topic"].encode())],
                }
                for row in rows
            ),
            gzip_partitions=frozenset({0}),
        )
    out = SegmentStore(root).read_legacy(spark)
    # key/value surface as HEX strings (not raw binary): the driver's
    # canonicalizer sorts pandas frames, and bytearray cells are unhashable
    # there — the decode path stays byte-exact internally, only the query
    # projection is stringified.  Spark hex() and DuckDB hex() both emit
    # uppercase and both propagate NULL.
    return out.select(
        F.hex("key").alias("key_hex"),
        F.hex("value").alias("value_hex"),
        "topic",
        "partition",
        "offset",
        F.unix_millis("timestamp").alias("ts_ms"),
        F.element_at("headers", 1)["value"].cast("string").alias("hdr_src"),
    )


SQL_LEGACY_SEGMENT_READ = f"""
WITH {RECORDS_CTE}
SELECT CASE WHEN "offset" % 10 = 0 THEN NULL ELSE hex(key) END AS key_hex,
       hex(value) AS value_hex, topic, "partition", "offset", ts_ms,
       topic AS hdr_src
FROM records WHERE "offset" < 5000
"""


def q_offset_gap_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming.offset_gap_monitor (A11-adjacent): per
    (topic, partition) offset-continuity scan via a lag window — each jump
    bigger than +1 is a gap of lost records.  The streaming form keeps the
    expected-next offset in applyInPandasWithState state instead of a lag
    window, so it spans micro-batches."""
    from pyspark.sql import Window

    r = records_df(spark, sf_dir)
    w = Window.partitionBy("topic", "partition").orderBy("offset")
    prev = F.lag("offset").over(w)
    return (
        r.select("topic", "partition", "offset", prev.alias("prev_offset"))
        .filter(F.col("prev_offset").isNotNull() & (F.col("offset") > F.col("prev_offset") + 1))
        .select(
            "topic",
            "partition",
            (F.col("prev_offset") + 1).alias("gap_start"),
            (F.col("offset") - 1).alias("gap_end"),
            (F.col("offset") - F.col("prev_offset") - 1).alias("n_missing"),
        )
    )


SQL_OFFSET_GAP_SCAN = f"""
WITH {RECORDS_CTE}
SELECT topic, "partition",
       prev_offset + 1 AS gap_start,
       "offset" - 1 AS gap_end,
       "offset" - prev_offset - 1 AS n_missing
FROM (
    SELECT topic, "partition", "offset",
           lag("offset") OVER (PARTITION BY topic, "partition" ORDER BY "offset") AS prev_offset
    FROM records
)
WHERE prev_offset IS NOT NULL AND "offset" > prev_offset + 1
"""


# ── W1/A2 on the INGEST-side bucketed segment layout (r14) ────────────────
# SegmentStore.compact_bucketed produces the co-partitioned layout at the
# compaction boundary (where the reference keys its segments,
# backup/engine.rs:1156-1162); this query READS it in the measured path:
# the (topic, partition) describe-rollup every restore/validation sweep
# starts from, exchange-free on the bucket hash-partitioning (plan pinned
# in test_bucketed_layout/test_plan_quality).  The store build + one-time
# compaction are session-scoped fixtures like header_roundtrip's segment
# materialization; min-of-N reports the warm query cost by design.


def _reraise(exc: OSError) -> None:
    raise exc


def _source_fingerprint(sf_dir: str) -> str:
    """Cheap content key for the record stream under ``sf_dir``: md5 over
    the sorted (relpath, size, mtime_ns) of events.parquet's files.  A
    dataset regenerated in place gets a NEW fingerprint, so the temp
    segment store below is never mistaken for current (ADVICE r14 #1).
    Remote / unwalkable paths fall back to the path hash — those datasets
    are immutable fixtures in this harness.  A stat that fails mid-walk
    takes the same path-only fallback (with one WARNING), never a hash of
    a partial file list."""
    import hashlib
    import logging
    import os

    src = os.path.join(sf_dir, "events.parquet")
    h = hashlib.md5(sf_dir.encode())
    path_only = h.hexdigest()[:12]
    try:
        if os.path.isfile(src):
            st = os.stat(src)
            h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
        elif os.path.isdir(src):
            for root, _dirs, files in sorted(os.walk(src, onerror=_reraise)):
                for f in sorted(files):
                    st = os.stat(os.path.join(root, f))
                    rel = os.path.relpath(os.path.join(root, f), src)
                    h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns}".encode())
    except OSError as exc:
        logging.getLogger(__name__).warning(
            "cannot fingerprint %s (%s); keying its segment store by path only",
            src, exc,
        )
        return path_only
    return h.hexdigest()[:12]


def _segments_bucketed(spark: SparkSession, sf_dir: str) -> str:
    """Catalog table name of the session's compacted bucketed segment
    store for sf_dir (built on first use).  Table name is sf_dir-keyed so
    one session can hold several scales without tripping the
    one-store-per-name guard.  The on-disk store path is keyed by a DATA
    fingerprint (not just the path), and a write is only trusted when its
    completion marker exists — a regenerated dataset or a crashed prior
    write triggers a clean rebuild instead of silently compacting stale or
    torn data (ADVICE r14 #1).  The table name is a session artifact of
    kind ``segments``."""
    return artifacts.get_or_build(
        spark, "segments", sf_dir, lambda: _build_segments_bucketed(spark, sf_dir)
    )


def _build_segments_bucketed(spark: SparkSession, sf_dir: str) -> str:
    import hashlib
    import os
    import shutil
    import tempfile

    from kafka_backup_spark.sources.segments import SegmentStore

    app = spark.sparkContext.applicationId
    fp = _source_fingerprint(sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    table = f"segments_q{tag}_{fp[:6]}_b"
    root = os.path.join(tempfile.gettempdir(), f"kbs_segq_{fp}_{app}")
    store = SegmentStore(root)
    marker = os.path.join(root, "_KBS_STORE_COMPLETE")
    if not os.path.isfile(marker):
        if os.path.isdir(root):  # torn prior write: rebuild from scratch
            shutil.rmtree(root, ignore_errors=True)
        store.write(records_df(spark, sf_dir))
        with open(marker, "w") as f:
            f.write(fp)
    store.compact_bucketed(spark, table=table)
    return table


def q_segment_rollup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = spark.table(_segments_bucketed(spark, sf_dir))
    return t.groupBy("topic", "partition").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.min("offset").alias("start_offset"),
        F.max("offset").alias("end_offset"),
        F.expr("max_by(unix_millis(timestamp), offset)").alias("last_ts_ms"),
    )


SQL_SEGMENT_ROLLUP_BUCKETED = f"""
WITH {RECORDS_CTE}
SELECT topic, "partition",
       CAST(count(*) AS BIGINT) AS n_records,
       min("offset") AS start_offset,
       max("offset") AS end_offset,
       max_by(ts_ms, "offset") AS last_ts_ms
FROM records GROUP BY topic, "partition"
"""


EXTRA_QUERIES: dict[str, tuple] = {
    "segment_rollup_bucketed": (q_segment_rollup_bucketed, SQL_SEGMENT_ROLLUP_BUCKETED),
    "legacy_segment_read": (q_legacy_segment_read, SQL_LEGACY_SEGMENT_READ),
    "offset_gap_scan": (q_offset_gap_scan, SQL_OFFSET_GAP_SCAN),
    "evidence_digest": (q_evidence_digest, SQL_EVIDENCE_DIGEST),
    "offset_mapping_capture": (q_offset_mapping_capture, SQL_OFFSET_MAPPING_CAPTURE),
    "windowed_throughput": (q_windowed_throughput, SQL_WINDOWED_THROUGHPUT),
    "dedup_records": (q_dedup_records, SQL_DEDUP_RECORDS),
    "salted_topic_agg": (q_salted_topic_agg, SQL_SALTED_TOPIC_AGG),
    "header_roundtrip": (q_header_roundtrip, SQL_HEADER_ROUNDTRIP),
    "snapshot_import": (q_snapshot_import, SQL_SNAPSHOT_IMPORT),
    "reset_plan_summary": (q_reset_plan_summary, SQL_RESET_PLAN_SUMMARY),
    "consumer_group_check": (q_consumer_group_check, SQL_CONSUMER_GROUP_CHECK),
    "validation_summary": (q_validation_summary, SQL_VALIDATION_SUMMARY),
    "integrity_scan": (q_integrity_scan, SQL_INTEGRITY_SCAN),
    "lag_metrics": (q_lag_metrics, SQL_LAG_METRICS),
    "time_format": (q_time_format, SQL_TIME_FORMAT),
}
