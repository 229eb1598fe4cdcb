"""Shared fixtures for the oracle-paired query catalog.

Every query exists twice: a Spark plan (built from the operator modules) and
an ANSI-SQL oracle DuckDB runs on the same parquet tables. The record stream
is derived from `events` (FIXTURES.md §2): event_type ↔ topic, user_id % 4 ↔
partition, event_id ↔ offset, ts ↔ timestamp. Timestamps surface as epoch-ms
longs on both sides so hashing is timezone-proof; money-like aggregates go
through fixed-point BIGINT (integer cents) so sums are exact and stay in the
codegen long path, then convert to DOUBLE identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_backup_spark import artifacts, fsio
from kafka_backup_spark import manifest as mani
from kafka_backup_spark.schema import events_as_records, load_table

SEGMENT_SPAN = 1000

# Twin-planting rule shared by every planted-duplicate corpus (ADVICE r14
# #3): a doc with doc_id % TWIN_MODULUS == 0 gets one replica at
# doc_id + TWIN_SHIFT.  Consumed by pipeline's exact-dup corpus (_corpus,
# q_dedup_keep_best, the sidecar algebra in _corpus_groups, the
# fair-storage DuckDB twin _FP_GROUPS_SQL) and textops' near-dup corpus
# (_near_corpus + its CTE) — one definition, so the fast paths and the
# oracles can never silently diverge.  A planted id may land inside the
# real id RANGE at larger scales (canonical sf10 ids reach ~9.9e8) —
# harmless, because group identity is the CONTENT hash and raw texts are
# unique per id (the invariant make_sf1.py's amplifier guard protects),
# so a planted row can only ever share a group with its own source.
TWIN_MODULUS = 10
TWIN_SHIFT = 1_000_000


def spread(df: DataFrame, parts: int | None = None) -> DataFrame:
    """Round-robin repartition a narrow input for parallel consumption.
    Small-SF testdata arrives as one parquet file → one task; at 100 TB the
    scan itself yields thousands of splits and AQE coalesces the extra
    shuffle away. (No ``df.rdd`` probe here: materializing the RDD lineage
    per query just to read a partition count costs more than the
    unconditional narrow repartition it tried to avoid.)

    ``parts`` defaults to the session parallelism; pass a size-derived
    count (``spread_parts``) for pinned inputs — r6 measured that a 0.6 MB
    table spread over 32 partitions makes every consumer schedule 32
    near-empty tasks whose launch overhead exceeds the whole query
    (simhash 0.48 s @32 → 0.20 s @8 at sf0.1)."""
    return df.repartition(parts or df.sparkSession.sparkContext.defaultParallelism)


_SPREAD_BYTES_PER_PART = 512 << 10  # ~0.5 MB of source parquet per pinned partition
# (tuned on the tier smoke: at 1 MB/part the 20× amplified corpus pinned at
# 12 partitions and minhash's 30M-row shingle explode plateaued; 0.5 MB
# keeps sf0.1 fixtures at the floor of 8 while the amplified tiers climb
# back toward full parallelism.  TPC-H consumption stays capped by
# _VIEW_PARTS regardless.)  Both this and COMPACT_PARTS were tuned on
# local[32]; SCALE.md "Tuning constants" records the sizing guidance.


def spread_parts(spark: SparkSession, nbytes: int) -> int:
    """Partition count for a pinned table: proportional to its size with a
    floor of 8 (keeps CPU-heavy consumers like the gram explodes parallel
    even on tiny fixtures) and a cap at the session parallelism.  Only
    consulted UNDER the pin gate — streamed tables keep their scan splits —
    so the constant tunes small-input overhead, not cluster scans."""
    dp = spark.sparkContext.defaultParallelism
    want = -(-nbytes // _SPREAD_BYTES_PER_PART)
    return min(dp, max(8, int(want)))

# ── Spark side ────────────────────────────────────────────────────────────


def build_records_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncached record-stream derivation from the events table."""
    r = events_as_records(load_table(spark, sf_dir, "events"))
    return r.withColumn("ts_ms", F.unix_millis("timestamp"))


def small_table(sf_dir: str, name: str) -> bool:
    """True when this specific table is under the pin gate (same decision
    hot_table makes) — callers use it to know whether the frame they got
    back is the pinned spread copy (safe to coalesce for task-count
    control) or a streamed parquet scan (must keep its natural splits)."""
    try:
        return fsio.dataset_bytes(f"{sf_dir}/{name}.parquet") <= _HOT_TABLE_MAX_BYTES
    except OSError:
        return False


def small_inputs(sf_dir: str) -> bool:
    """True when the sf_dir's fact table is under the hot-table gate — the
    same condition that pins the record stream.  Metadata-family queries use
    this to COALESCE tiny derived frames before a shuffle: a 24k-row union
    spread over 32 pinned partitions schedules 64 near-empty map tasks, and
    the task-launch overhead (~5 ms each on local mode, worse with real
    executor RPC) dominates the query.  Beyond the gate the inputs stream at
    their natural (data-proportional) parallelism."""
    return small_table(sf_dir, "events")


# map-side width for small-gated metadata queries: enough slots to overlap
# task startup, few enough that scheduling doesn't dominate (measured on the
# as-of family: 32→8 map tasks ≈ 2× end-to-end at sf0.1).
COMPACT_PARTS = 8


def compact_small(df: DataFrame, sf_dir: str) -> DataFrame:
    """Narrow coalesce for small-gated inputs; identity at scale."""
    return df.coalesce(COMPACT_PARTS) if small_inputs(sf_dir) else df


def records_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical record stream, session-pinned at small scale.

    ~28 catalog queries start from this frame; small-SF testdata is one
    parquet row group, so without pinning each of them re-runs the scan +
    mapping serially on a single task.  The record stream is the FACT table,
    so the pin is gated on the source size exactly like hot_table — beyond
    the gate (100-TB backups) it streams from parquet and the scan's own
    splits provide the parallelism."""
    try:
        nbytes = fsio.dataset_bytes(f"{sf_dir}/events.parquet")
        small = nbytes <= _HOT_TABLE_MAX_BYTES
    except OSError:  # missing: stream, and let the scan report it
        small = False
    if not small:
        return build_records_df(spark, sf_dir)
    return _shared_meta(
        spark, sf_dir, "records",
        lambda: spread(build_records_df(spark, sf_dir), spread_parts(spark, nbytes)),
        parts=None,
    )


# Session-scoped cache for the derived METADATA frames (manifest, live
# watermarks, offset mapping).  In the reference these are persisted
# artifacts, not per-query derivations: the manifest is a JSON file the
# backup run writes once (manifest.rs), offset mappings are files restore
# emits (offset_mapping.rs), and `validate` fetches cluster watermarks ONCE
# and runs every check against them (commands/validate.rs).  Re-deriving
# them from the record stream on every catalog call — the previous shape —
# paid an events-scan plus two shuffles per query for frames whose size is
# bounded by segment/partition counts, not data volume (a 100 TB backup's
# manifest is ~millions of rows of metadata — MEMORY_AND_DISK persists it
# on one executor-cluster comfortably, and every validation/describe/reset
# query starts from it instead of the raw stream).  Each pin is a session
# artifact of kind ``meta`` (kafka_backup_spark.artifacts).


def _shared_meta(
    spark: SparkSession, sf_dir: str, kind: str, build, parts: int | None = 1
) -> DataFrame:
    """``parts=1`` (default) stores the frame as ONE cached partition: these
    are manifest/watermark/check frames of at most ~10⁶ rows at 100 TB (the
    reference keeps the manifest in a single JSON file), and a 32-partition
    layout makes every downstream stage schedule 32 near-empty tasks.  Pass
    ``parts=None`` for data-proportional frames (the offset mapping) to keep
    the build's natural partitioning."""

    def pin() -> DataFrame:
        df = build()
        return (df if parts is None else df.coalesce(parts)).persist()

    return artifacts.get_or_build(spark, "meta", (sf_dir, kind), pin)


_HOT_TABLE_MAX_BYTES = 256 << 20


def hot_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Session-pinned base table for repeatedly-queried inputs.

    Small-SF testdata arrives as ONE parquet row group, so a cold scan runs
    as a single task and every downstream operator serializes behind it; the
    reference engine has the same working set pinned by the OS page cache /
    its own segment mmaps across commands.  Pin the table once per session
    (spread to the session's parallelism, MEMORY_AND_DISK), and every
    catalog query starts from a parallel in-memory columnar scan.

    Scale gate: tables larger than _HOT_TABLE_MAX_BYTES (256 MB) stream
    straight from parquet — at that size the scan itself
    yields enough splits for parallelism and pinning a fact table would be
    wrong at 100 TB.  Object-store and ``file://`` paths are sized through
    the Hadoop filesystem (fsio.dataset_bytes) and pin under the gate too;
    a missing path streams, and the scan reports it."""
    path = f"{sf_dir}/{name}.parquet"
    try:
        nbytes = fsio.dataset_bytes(path)
        if nbytes > _HOT_TABLE_MAX_BYTES:
            return spark.read.parquet(path)
    except OSError:  # missing: stream, and let the scan report it
        return spark.read.parquet(path)
    return _shared_meta(
        spark, sf_dir, f"table:{name}",
        lambda: spread(spark.read.parquet(path), spread_parts(spark, nbytes)),
        parts=None,
    )


def cold_table(spark: SparkSession, sf_dir: str, name: str, *columns: str) -> DataFrame:
    """Unpinned vectorized parquet scan for single-pass WIDE-PAYLOAD
    consumers (whole-`text` hash scans like dedup_exact's corpus build).

    Reading the wide payload back out of the deserialized in-memory pin is
    measurably SLOWER than the columnar parquet scan it replaces (r5
    measured ~0.48-0.55 s pinned vs ~0.32-0.36 s direct at sf0.1 for
    dedup_exact): the pin trades a cheap re-scan for deserialized row
    access, which wins for the ~28 narrow-column consumers and loses when
    the consumer streams every byte of `text` exactly once.  At 100 TB the
    distinction disappears — hot_table's size gate streams from parquet
    either way — so this helper only changes the small-SF plan, and plan
    tests pin the no-pin path for wide reads."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return df.select(*columns) if columns else df


def build_manifest_df(spark: SparkSession, sf_dir: str, span: int = SEGMENT_SPAN) -> DataFrame:
    """Uncached manifest derivation (one events scan + one groupBy shuffle).
    Plan-shape tests pin THIS builder; catalog queries go through the cached
    ``manifest_df``."""
    return mani.build_manifest(records_df(spark, sf_dir), span)


def manifest_df(spark: SparkSession, sf_dir: str, span: int = SEGMENT_SPAN) -> DataFrame:
    return _shared_meta(
        spark, sf_dir, f"manifest:{span}", lambda: build_manifest_df(spark, sf_dir, span)
    )


def watermarks_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic live-cluster watermarks: earliest/latest per partition, with
    even partitions shifted to plant count discrepancies (FIXTURES.md §3).
    Cached — `validate` fetches watermarks once per run, every check reuses
    them (commands/validate.rs)."""

    def build() -> DataFrame:
        r = records_df(spark, sf_dir)
        return r.groupBy("topic", "partition").agg(
            F.min("offset").alias("earliest"),
            F.when(F.col("partition") % 2 == 0, F.min("offset") + F.count(F.lit(1)))
            .otherwise(F.max("offset") + 1)
            .alias("latest"),
        )

    return _shared_meta(spark, sf_dir, "watermarks", build)


def detailed_mapping_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detailed offset-mapping fixture: every 10th record, target = offset +
    100000.  Cached — the reference persists offset mappings to files at
    restore time and reset plans re-read them (offset_mapping.rs)."""

    def build() -> DataFrame:
        r = records_df(spark, sf_dir)
        return r.filter(F.col("offset") % 10 == 0).select(
            "topic",
            "partition",
            F.col("offset").alias("source_offset"),
            (F.col("offset") + 100000).alias("target_offset"),
            F.col("ts_ms").alias("timestamp"),
        )

    # mapping size is data-proportional (one row per restored-sample record),
    # so keep the natural partitioning at scale; under the small gate the
    # natural layout is 32 near-empty partitions inherited from the records
    # pin, and every as-of consumer schedules 32 no-op map tasks per query —
    # coalesce the PIN itself so the fix lands once (r6, VERDICT #2)
    parts = 1 if small_inputs(sf_dir) else None
    return _shared_meta(spark, sf_dir, "mapping", build, parts=parts)


# ── DuckDB side (kept textually in sync with the Spark builders above) ────

RECORDS_CTE = """
records AS (
    SELECT
        CAST(CAST(user_id AS VARCHAR) AS BLOB) AS key,
        CAST(props AS BLOB) AS value,
        event_type AS topic,
        CAST(user_id % 4 AS INTEGER) AS "partition",
        event_id AS "offset",
        epoch_ms(ts) AS ts_ms
    FROM events
)
"""


def manifest_cte(name: str = "manifest", source: str = "records", where: str = "TRUE") -> str:
    return f"""
{name} AS (
    SELECT
        r.topic,
        r."partition",
        'topics/' || r.topic || '/partition=' || CAST(r."partition" AS VARCHAR)
            || '/segment-' || lpad(CAST(min(r."offset") AS VARCHAR), 20, '0')
            || '.parquet' AS key,
        min(r."offset") AS start_offset,
        max(r."offset") AS end_offset,
        min(r.ts_ms) AS start_ts,
        max(r.ts_ms) AS end_ts,
        count(*) AS record_count,
        CAST(sum(octet_length(r.key) + octet_length(r.value)) AS BIGINT) AS uncompressed_size,
        CAST(sum(octet_length(r.key) + octet_length(r.value)) AS BIGINT) // 3 AS compressed_size
    FROM {source} r
    WHERE {where}
    GROUP BY r.topic, r."partition", r."offset" // {SEGMENT_SPAN}
)
"""


MAPPING_CTE = """
mapping AS (
    SELECT topic, "partition", "offset" AS source_offset,
           "offset" + 100000 AS target_offset, ts_ms AS "timestamp"
    FROM records WHERE "offset" % 10 = 0
)
"""
