"""Canonical record schema + adapters.

The unit of data is the Kafka record envelope (reference:
crates/kafka-backup-core/src/segment/format.rs:137-144, manifest.rs:183-204):
opaque key/value bytes, ms timestamp, source offset, repeated string-keyed
byte-valued headers. This is deliberately identical to the output schema of
Spark's own ``spark.read.format("kafka")`` source, so real-Kafka and
file-backed paths share every downstream operator.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

HEADER_TYPE = StructType(
    [
        StructField("key", StringType(), False),
        # null header value allowed (reference format.rs:383-386)
        StructField("value", BinaryType(), True),
    ]
)

# Matches Spark's Kafka source output column-for-column.
RECORD_SCHEMA = StructType(
    [
        StructField("key", BinaryType(), True),
        StructField("value", BinaryType(), True),
        StructField("topic", StringType(), False),
        StructField("partition", IntegerType(), False),
        StructField("offset", LongType(), False),
        StructField("timestamp", TimestampType(), False),
        StructField("timestampType", IntegerType(), True),
        # duplicate header keys allowed → array-of-struct, not MapType
        StructField("headers", ArrayType(HEADER_TYPE), True),
    ]
)

RECORD_COLUMNS = [f.name for f in RECORD_SCHEMA.fields]

#: Partition count used when deriving a record stream from the `events` table.
EVENTS_NUM_PARTITIONS = 4


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: StructType | str
) -> DataFrame:
    """Driver-held rows → a DataFrame decoded in the JVM, never by Python workers.

    ``spark.createDataFrame(list_of_tuples)`` plans as ``Scan ExistingRDD``
    over a pickled Python RDD, so every action on the frame starts Python
    workers and unpickles the rows again.  A ``pyarrow.Table`` typed from
    ``schema`` is instead handed to the JVM as Arrow batches: below
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MiB by default)
    it becomes a ``LocalRelation`` (``LocalTableScan``), above it a JVM RDD
    of Arrow batches (``Scan ExistingRDD arrow``).  Neither path starts a
    Python worker.  ``rows`` are positional tuples in ``schema``'s field
    order; ``schema`` is a StructType or a DDL string.  Every product-side
    rows-to-DataFrame call goes through here (tests/test_local_frame.py
    guards it)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata parquet table, robust to any caller-built session.

    The testdata ``events`` table stores ``ts`` as parquet TIMESTAMP(NANOS),
    which vanilla Spark rejects (PARQUET_TYPE_ILLEGAL) unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is on.  The driver harness builds
    its own SparkSession and calls ``queries()`` directly, so we must not rely
    on session.py (or ``entry()``) having configured it — set the conf here,
    at the only choke point every table read goes through.  The conf is
    runtime-settable (verified on Spark 4.x); if a future Spark rejects it we
    still attempt the plain read so non-events tables keep working.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # DuckDB renders naive timestamps; Spark renders TimestampType in the
        # session TZ.  Pin UTC so oracle comparisons are TZ-independent even on
        # sessions we did not build.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:  # pragma: no cover - conf refused; plain read may still work
        pass
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def events_as_records(events: DataFrame, num_partitions: int = EVENTS_NUM_PARTITIONS) -> DataFrame:
    """Map the synthetic ``events`` table onto the canonical record stream.

    FIXTURES.md §2: event_type ↔ topic, user_id % N ↔ partition,
    event_id ↔ offset, ts ↔ timestamp, props ↔ value,
    cast(user_id as string) ↔ key. Deterministic and SQL-expressible so the
    DuckDB oracle can reproduce it exactly.
    """
    from pyspark.sql.types import LongType as _Long

    ts_field = events.schema["ts"].dataType
    if isinstance(ts_field, _Long):
        # nanos-as-long (see session.py); integer div keeps int64 precision
        ts_col = F.timestamp_micros(F.expr("ts div 1000"))
    else:
        ts_col = F.col("ts").cast("timestamp")
    events = events.withColumn("_ts", ts_col)
    return events.select(
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.col("props").cast("binary").alias("value"),
        F.col("event_type").alias("topic"),
        F.pmod(F.col("user_id"), F.lit(num_partitions)).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("_ts").alias("timestamp"),
        F.lit(0).alias("timestampType"),
        F.array(
            F.struct(
                F.lit("x-source").alias("key"),
                F.col("event_type").cast("binary").alias("value"),
            )
        ).alias("headers"),
    )


# DuckDB-side equivalent of events_as_records (headers omitted — DuckDB
# comparisons never need them). Keep in sync with the Spark projection above.
EVENTS_AS_RECORDS_SQL = """
SELECT
    CAST(CAST(user_id AS VARCHAR) AS BLOB) AS key,
    CAST(props AS BLOB) AS value,
    event_type AS topic,
    CAST(user_id % {n} AS INTEGER) AS partition,
    event_id AS "offset",
    ts AS timestamp
FROM events
"""


def events_records_sql(num_partitions: int = EVENTS_NUM_PARTITIONS) -> str:
    return EVENTS_AS_RECORDS_SQL.format(n=num_partitions)
