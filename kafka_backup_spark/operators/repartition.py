"""R1/R2: record repartitioning — Kafka murmur2 keyed routing or round-robin.

The reference builds an N-reader/M-writer tokio channel mesh for this
(restore/repartition.rs:83-451, ~370 lines); in Spark the same dataflow is a
column assignment plus the built-in shuffle:

- murmur2 strategy: ``target_partition = (murmur2(key) & 0x7fffffff) % N``;
  empty (zero-byte) keys ARE hashed; null keys round-robin
  (repartition.rs:36-75; empty-key test repartition.rs:499-506).  The hash
  runs on the Arrow-batched numpy kernel in Python workers, which import
  this package: ``session.get_spark`` puts it on every executor's
  PYTHONPATH, as the catalog UDFs, ``produce_capture`` and ``mock_kafka``
  also require.  On a cluster whose executors cannot import it, a murmur2
  restore fails with the worker's ImportError.
- automatic strategy: round-robin everything.

Round-robin is ``(source_partition + source_offset) mod N`` — offsets are
sequential within a source partition, so each source reader cycles through
the N targets exactly like the reference's per-reader atomic counter, but
deterministically (reproducible across runs and engines).  It is a pure
projection: no window, no extra shuffle, no single-task bottleneck — the
row_number() formulation used previously funneled the whole stream through
one reducer, which dies at cluster scale.

CONTIGUITY ASSUMPTION: the arithmetic form is uniform only when offsets are
contiguous within each source partition.  After PITR/record filters or on
compacted topics, surviving offsets can carry a periodic stride; if that
stride shares a factor with N, records pile onto few targets (unlike the
reference's counter, which is stride-blind).  The ``dispersed`` strategy
trades determinism-across-engines for stride-independence by hashing
(partition, offset) with xxhash64 — still deterministic across runs, still
a pure projection.  Pick it whenever the input stream has been filtered.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_backup_spark.functions.murmur2 import kafka_partition_expr


def _round_robin_expr(num_partitions: int) -> Column:
    return F.pmod(F.col("partition") + F.col("offset"), F.lit(num_partitions)).cast("int")


def _dispersed_expr(num_partitions: int) -> Column:
    # stride-independent round-robin for filtered/compacted streams: any
    # periodic offset pattern is scrambled before the mod (ADVICE r2)
    return F.pmod(F.xxhash64("partition", "offset"), F.lit(num_partitions)).cast("int")


def assign_target_partitions(
    df: DataFrame,
    num_partitions: int,
    strategy: str = "murmur2",
    key_col: str = "key",
    out_col: str = "target_partition",
) -> DataFrame:
    if strategy == "automatic":
        return df.withColumn(out_col, _round_robin_expr(num_partitions))
    if strategy == "dispersed":
        return df.withColumn(out_col, _dispersed_expr(num_partitions))
    if strategy != "murmur2":
        raise ValueError(f"unknown repartitioning strategy: {strategy}")
    hashed = kafka_partition_expr(F.col(key_col), num_partitions)
    # null-key fallback costs nothing: coalesce of two narrow expressions
    return df.withColumn(out_col, F.coalesce(hashed, _round_robin_expr(num_partitions)))


def repartition_records(
    df: DataFrame, num_partitions: int, strategy: str = "murmur2"
) -> DataFrame:
    """Assign target partitions and physically co-locate rows by them.

    ``repartition(n, col)`` is the entire reader/writer mesh of the
    reference: Spark's shuffle provides the channels, backpressure and
    cancellation (SURVEY.md §2.10 R3).
    """
    out = assign_target_partitions(df, num_partitions, strategy)
    return out.repartition(num_partitions, F.col("target_partition")).withColumn(
        "partition", F.col("target_partition")
    ).drop("target_partition")
