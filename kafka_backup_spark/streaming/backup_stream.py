"""Streaming backup modes (SURVEY.md §2.9, M5): the reference's continuous /
incremental loops re-expressed as Structured Streaming.

Reference semantics → Spark primitive:
- T1 incremental resume (start at stored last_offset+1, at-least-once;
  backup/engine.rs:904-916) → checkpointLocation; every micro-batch commits
  source offsets transactionally, so a restart resumes exactly where the
  SQLite offset store would have.
- T3 continuous poll loop (100 ms cycles, re-discovery;
  backup/engine.rs:352-586) → ``trigger(processingTime=...)``; topic
  re-discovery is the source's job (Kafka ``subscribePattern`` /
  file-source directory listing).
- T4 checkpoint cadence (5 s local / 30 s object store; config.rs:549-555)
  → per-micro-batch checkpointing, strictly stronger.
- T2 snapshot bound → batch read with pinned endingOffsets (not streaming).
- T8 stateful dedup (absent in reference; added for the pipeline) →
  ``dropDuplicatesWithinWatermark`` keyed on (topic, partition, offset).

Against a real cluster the source is ``readStream.format("kafka")``; tests
use the file source over the same canonical record schema — every operator
downstream is source-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafka_backup_spark.schema import RECORD_SCHEMA
from kafka_backup_spark.sources.segments import DEFAULT_MAX_RECORDS_PER_FILE, SegmentStore


def read_record_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming scan of a directory of canonical-schema parquet (the
    file-source stand-in for ``readStream.format("kafka")``).

    ``max_files_per_trigger`` is the file-source face of T6 rate limiting
    (config.rs:662-668 → BackupConfig.rate_limit_records_per_sec): the Kafka
    source expresses the same cap as ``maxOffsetsPerTrigger``
    (kafka_io.source_options); both bound work per micro-batch so a backfill
    can't starve the live stream."""
    reader = spark.readStream.schema(RECORD_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(source_dir)


def stream_backup(
    records: DataFrame,
    store: SegmentStore,
    checkpoint_dir: str,
    trigger: dict | None = None,
    compression: str | None = "zstd",
    zstd_level: int | None = None,
    max_records_per_file: int = DEFAULT_MAX_RECORDS_PER_FILE,
) -> StreamingQuery:
    """T1/T3/T4: continuous backup of a record stream into the segment store.

    ``trigger``: kwargs for ``DataStreamWriter.trigger`` —
    ``{"availableNow": True}`` = incremental one-shot (drain everything new,
    then stop: the reference's resume-from-checkpoint one-shot run);
    ``{"processingTime": "..."}`` = continuous mode.

    The sink goes through the store's layout step (``SegmentStore.layout``),
    as ``SegmentStore.write`` and ``compact`` do: the canonical column
    projection, the (topic, partition) shuffle, bounded file sizes via
    ``maxRecordsPerFile``, and zstd by default (a streaming-backed store
    must not silently end up snappy next to zstd batch segments, which
    would falsify the manifest's compressed_size model).  Each micro-batch
    therefore adds one file per (topic, partition) it touches (more only
    past ``maxRecordsPerFile``).  For a Kafka source the shuffle also
    merges the ``minPartitions`` splits of one partition, as the batch path
    already does.

    Unlike the batch writers, the sink does not sort by offset: Structured
    Streaming rejects ``sortWithinPartitions`` on a streaming frame, so
    stream-written files stay offset-unsorted until ``compact`` rewrites
    them.
    """
    frame, options = store.layout(records, max_records_per_file, compression, zstd_level)
    return (
        frame.writeStream.format("parquet")
        .options(**options)
        .option("path", store.topics_path())
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("topic", "partition")
        .outputMode("append")
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def dedup_stream(records: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T8: drop re-fetched duplicates (at-least-once overlap) within a
    watermark, keyed by record identity (topic, partition, offset)."""
    return records.withWatermark("timestamp", watermark).dropDuplicatesWithinWatermark(
        ["topic", "partition", "offset"]
    )


def windowed_throughput(records: DataFrame, window: str = "1 minute") -> DataFrame:
    """A9/T5: event-time windowed ingest metrics (records + bytes per
    (topic, window)) with late-data tolerance via watermark — the streaming
    twin of the manifest describe rollup."""
    return (
        records.withWatermark("timestamp", window)
        .groupBy(F.window("timestamp", window).alias("w"), F.col("topic"))
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum(
                F.coalesce(F.octet_length("key"), F.lit(0))
                + F.coalesce(F.octet_length("value"), F.lit(0))
            ).alias("n_bytes"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "topic",
            "n_records",
            "n_bytes",
        )
    )


GAP_EVENT_SCHEMA = (
    "topic string, partition int, kind string, from_offset long, to_offset long, n long"
)
_GAP_STATE_SCHEMA = "next_expected long"


def offset_gap_monitor(
    records: DataFrame, noncontiguous_topics: set[str] | None = None
) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-partition
    offset-continuity monitor across micro-batches.

    For append-only topics, offsets within a partition are contiguous, so a
    stream that skips ahead has LOST records (emit ``gap``); revisited
    offsets are at-least-once re-fetches (emit ``overlap`` — benign with T8
    dedup downstream, but worth metering).  Log-COMPACTED topics and topics
    with transactional producers are legitimately non-contiguous (compaction
    removes offsets; commit/abort control markers occupy offsets that are
    never delivered) — name those in ``noncontiguous_topics`` and their
    skips emit ``kind='skip'`` instead of ``gap``, so alerting built on gap
    events doesn't fire continuously on healthy streams while the
    overlap/continuity accounting keeps working.

    The expected-next-offset lives in the state store, so detection spans
    micro-batches and survives restarts via the checkpoint — semantics no
    built-in operator (watermark dedup, windowed agg) can express, hence the
    custom state.  The streaming twin of the batch integrity scan (A11).

    State per (topic, partition): one long — bounded regardless of
    throughput, so 10⁶ partitions cost MBs of state at any scale.
    """
    import pandas as pd

    expected_skips = frozenset(noncontiguous_topics or ())

    def monitor(key, pdfs, state):
        topic, partition = key
        gap_kind = "skip" if topic in expected_skips else "gap"
        next_expected = state.get[0] if state.exists else None
        out = []
        # a group's rows can span several Arrow chunks in arbitrary order —
        # gather the micro-batch's offsets (ints only, bounded by batch size)
        # and walk them sorted ONCE, or chunk boundaries would fabricate
        # gap+overlap event pairs
        offsets = sorted(int(o) for pdf in pdfs for o in pdf["offset"])
        for off in offsets:
            if next_expected is None:
                next_expected = off + 1
                continue
            if off > next_expected:
                out.append(
                    (topic, partition, gap_kind, next_expected, off - 1, off - next_expected)
                )
            elif off < next_expected:
                out.append((topic, partition, "overlap", off, off, 1))
            next_expected = max(next_expected, off + 1)
        state.update((next_expected,))
        if out:
            yield pd.DataFrame(
                out, columns=["topic", "partition", "kind", "from_offset", "to_offset", "n"]
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return records.groupBy("topic", "partition").applyInPandasWithState(
        monitor,
        GAP_EVENT_SCHEMA,
        _GAP_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def run_incremental_backup(
    spark: SparkSession,
    source_dir: str,
    store: SegmentStore,
    checkpoint_dir: str,
    timeout_sec: int = 300,
) -> None:
    """One incremental cycle: drain all unseen files from ``source_dir`` into
    the store and stop (the reference's one-shot run with resume, T1)."""
    q = stream_backup(
        read_record_stream(spark, source_dir), store, checkpoint_dir, {"availableNow": True}
    )
    q.awaitTermination(timeout_sec)
    if q.isActive:  # pragma: no cover - defensive
        q.stop()
