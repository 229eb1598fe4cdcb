"""Murmur2 bit-compatibility with the Apache Kafka Java client.

Golden values are the published vectors from Apache Kafka's
``UtilsTest.testMurmur2`` (clients/src/test/.../UtilsTest.java) — public
knowledge; the reference delegates to the murmur2 crate with the same seed
(repartition.rs:30-31, tests at repartition.rs:453-541).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from kafka_backup_spark.functions.murmur2 import (
    KAFKA_SEED,
    kafka_partition,
    kafka_partition_expr,
    murmur2,
    murmur2_pandas_expr,
    to_positive,
)

# Apache Kafka UtilsTest.testMurmur2 vectors
KAFKA_VECTORS = {
    b"21": -973932308,
    b"foobar": -790332482,
    b"a-little-bit-long-string": -985981536,
    b"a-little-bit-longer-string": -1486304829,
    b"lkjh234lh9fiuh90y23oiuhsafujhadof229phr9h19h89h8": -58897971,
    b"abc": 479470107,
}


def test_seed_constant():
    assert KAFKA_SEED == 0x9747B28C


@pytest.mark.parametrize("key,expected", list(KAFKA_VECTORS.items()))
def test_known_vectors(key, expected):
    assert murmur2(key) == expected


def test_known_vectors_through_executor_kernel(spark):
    df = spark.createDataFrame([(k,) for k in KAFKA_VECTORS], "key binary")
    rows = df.select(
        "key",
        murmur2_pandas_expr("key").alias("h"),
        kafka_partition_expr("key", 7).alias("p"),
    ).collect()
    got = {bytes(r["key"]): (r["h"], r["p"]) for r in rows}
    assert got == {k: (h, to_positive(h) % 7) for k, h in KAFKA_VECTORS.items()}


def test_determinism_and_spread():
    assert murmur2(b"hello") == murmur2(b"hello")
    assert murmur2(b"hello") != murmur2(b"world")


def test_to_positive_masks_sign_bit():
    for key in [b"hello", b"test-key", b"", b"order-12345", b"\xff\xff"]:
        assert to_positive(murmur2(key)) >= 0
    # mask, not abs: Java parity for Integer.MIN_VALUE-like hashes
    assert to_positive(-2147483648) == 0


def test_empty_key_is_hashed_null_is_not():
    # zero-byte key hashes deterministically (reference repartition.rs:499-506)
    assert kafka_partition(b"", 10) == kafka_partition(b"", 10)
    assert kafka_partition(None, 10) is None


def test_partition_expr_matches_python(spark):
    keys = [b"hello", b"21", b"foobar", b"", b"order-12345", None, b"\xff\xfe\x00\x01"]
    df = spark.createDataFrame([(k,) for k in keys], "key binary")
    got = {
        bytes(r["key"]) if r["key"] is not None else None: r["p"]
        for r in df.withColumn("p", kafka_partition_expr("key", 6)).collect()
    }
    for k in keys:
        assert got[k] == kafka_partition(k, 6), f"mismatch for {k!r}"
