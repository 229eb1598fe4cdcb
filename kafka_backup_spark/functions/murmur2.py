"""Kafka-compatible murmur2 hash + default partitioner.

Spark's built-in ``hash()`` is Murmur3-x86-32 with seed 42; Kafka's default
partitioner uses murmur2 with seed 0x9747b28c (public Apache Kafka
``org.apache.kafka.common.utils.Utils.murmur2``; reference behavior at
crates/kafka-backup-core/src/restore/repartition.rs:36-75). Bit-compatibility
matters: a restored topic must route each key to the same partition the Java
client would pick, so we reimplement it here and verify against the published
Kafka test vectors (tests/test_murmur2.py).

Three surfaces:
- ``murmur2(bytes)`` — pure-Python scalar (driver-side / the tests' reference)
- ``murmur2_pandas_expr(col)`` / ``kafka_partition_expr(col, n)`` — one
  Arrow-batched numpy kernel for executor-side use. Hashing is the only part
  of the repartition path that leaves the JVM; the shuffle itself is Spark's.
  The kernel runs in Python workers, so the package must be importable on
  every executor (``session.get_spark`` puts it on their PYTHONPATH).
- ``murmur2_duckdb_sql(col)`` — the same hash as DuckDB SQL (the oracle).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType

KAFKA_SEED = 0x9747B28C
_M = 0x5BD1E995
_R = 24
_MASK = 0xFFFFFFFF


def murmur2(data: bytes, seed: int = KAFKA_SEED) -> int:
    """murmur2 over ``data``, returned as a *signed* 32-bit int (Java parity)."""
    length = len(data)
    h = (seed ^ length) & _MASK
    n4 = length & ~3
    for i in range(0, n4, 4):
        k = data[i] | (data[i + 1] << 8) | (data[i + 2] << 16) | (data[i + 3] << 24)
        k = (k * _M) & _MASK
        k ^= k >> _R
        k = (k * _M) & _MASK
        h = (h * _M) & _MASK
        h ^= k
    rem = length & 3
    if rem == 3:
        h ^= data[n4 + 2] << 16
    if rem >= 2:
        h ^= data[n4 + 1] << 8
    if rem >= 1:
        h ^= data[n4]
        h = (h * _M) & _MASK
    h ^= h >> 13
    h = (h * _M) & _MASK
    h ^= h >> 15
    return h - (1 << 32) if h >= (1 << 31) else h


def to_positive(h: int) -> int:
    """Kafka's toPositive: mask the sign bit (NOT abs)."""
    return h & 0x7FFFFFFF


def kafka_partition(key: bytes | None, num_partitions: int) -> int | None:
    """Partition for a non-null key; None for null keys (round-robin path).

    Empty (zero-byte) keys ARE hashed — only null keys round-robin
    (reference repartition.rs:64 and its test_empty_key_is_hashed).
    """
    if key is None:
        return None
    return to_positive(murmur2(key)) % num_partitions


def murmur2_numpy(keys: list) -> "object":
    """Vectorized murmur2 over a batch of byte keys → int64 numpy array
    (None keys → the caller masks them; this function requires non-null).

    The whole batch becomes a padded uint8 matrix (one vectorized scatter —
    no per-row Python), then the hash runs as ~maxlen/4 full-batch uint32
    passes; numpy's native uint32 wraparound IS the mod-2^32 arithmetic.
    Measured on local[32] at 20M keys: 14.2M keys/s end-to-end vs 1.7M/s for
    a per-element Python map and 0.5M/s for an interpreted JVM hex fold
    (SCALE.md)."""
    import numpy as np

    n = len(keys)
    lens = np.fromiter((len(k) for k in keys), dtype=np.int64, count=n)
    total = int(lens.sum())
    flat = np.frombuffer(b"".join(keys), dtype=np.uint8, count=total)
    maxlen = int(lens.max()) if n else 0
    mat = np.zeros((n, max(maxlen, 4) + 4), dtype=np.uint8)  # slack: safe tail gathers
    offsets = np.concatenate(([0], np.cumsum(lens)[:-1]))
    row_idx = np.repeat(np.arange(n), lens)
    col_idx = np.arange(total) - np.repeat(offsets, lens)
    mat[row_idx, col_idx] = flat

    M = np.uint32(_M)
    h = (np.uint32(KAFKA_SEED) ^ lens.astype(np.uint32)).astype(np.uint32)
    nwords = lens // 4
    for w in range(int(nwords.max()) if n else 0):
        active = nwords > w
        c = 4 * w
        k = (
            mat[:, c].astype(np.uint32)
            | (mat[:, c + 1].astype(np.uint32) << np.uint32(8))
            | (mat[:, c + 2].astype(np.uint32) << np.uint32(16))
            | (mat[:, c + 3].astype(np.uint32) << np.uint32(24))
        )
        k *= M
        k ^= k >> np.uint32(_R)
        k *= M
        h = np.where(active, (h * M) ^ k, h)
    rem = (lens & 3).astype(np.int64)
    n4 = (nwords * 4).astype(np.int64)
    rows = np.arange(n)
    t = h.copy()
    b2 = mat[rows, n4 + 2].astype(np.uint32) << np.uint32(16)
    b1 = mat[rows, n4 + 1].astype(np.uint32) << np.uint32(8)
    b0 = mat[rows, n4].astype(np.uint32)
    t = np.where(rem == 3, t ^ b2, t)
    t = np.where(rem >= 2, t ^ b1, t)
    t = np.where(rem >= 1, (t ^ b0) * M, t).astype(np.uint32)
    t ^= t >> np.uint32(13)
    t *= M
    t ^= t >> np.uint32(15)
    return t.view(np.int32).astype(np.int64)


@F.pandas_udf(LongType())
def _murmur2_udf(keys: pd.Series) -> pd.Series:
    if len(keys) == 0:
        return pd.Series([], dtype="float64")
    mask = keys.notna()
    vals = [bytes(b) for b in keys[mask]]
    out = pd.Series([None] * len(keys), dtype="object")
    if vals:
        out[mask] = list(murmur2_numpy(vals))
    return out


def murmur2_pandas_expr(col: Column | str) -> Column:
    """Signed-32 murmur2 of a binary column via the Arrow-batched numpy
    kernel (14.2M keys/s on local[32] at 20M keys, SCALE.md).  Null keys
    yield null."""
    return _murmur2_udf(F.col(col) if isinstance(col, str) else col)


def kafka_partition_expr(col: Column | str, num_partitions: int) -> Column:
    """Kafka default-partitioner target partition for a binary key column,
    ``(murmur2(key) & 0x7fffffff) % num_partitions`` on the numpy kernel.

    Null keys yield null (callers overlay round-robin for those — see
    operators/repartition.py).  Verified against the Kafka vectors
    (tests/test_murmur2.py).
    """
    h = murmur2_pandas_expr(col)
    return F.pmod(h.bitwiseAND(F.lit(0x7FFFFFFF)), F.lit(num_partitions)).cast(IntegerType())


def _duck_byte(hx: str, i: str) -> str:
    """DuckDB SQL: decimal value of byte ``i`` (0-based) of hex string col."""
    return (
        f"((strpos('0123456789ABCDEF', substring({hx}, 2*({i})+1, 1))-1)*16"
        f" + strpos('0123456789ABCDEF', substring({hx}, 2*({i})+2, 1))-1)"
    )


def murmur2_duckdb_sql(col: str) -> str:
    """DuckDB SQL expression computing the same signed-32 murmur2 over a BLOB
    column — the oracle twin of ``murmur2_pandas_expr`` (a hex-decoded word
    fold; validated against the Kafka vectors in tests/test_murmur2.py)."""
    hx = f"upper(hex({col}))"
    length = f"octet_length({col})"
    nw = f"({length} // 4)"
    n4 = f"({nw}*4)"
    rem = f"({length} % 4)"

    def word(w0: str) -> str:
        i = f"(4*({w0}))"
        return (
            f"({_duck_byte(hx, i)} + {_duck_byte(hx, f'{i}+1')}*256"
            f" + {_duck_byte(hx, f'{i}+2')}*65536 + {_duck_byte(hx, f'{i}+3')}*16777216)"
        )

    k0 = word("w-1")
    k1 = f"(({k0} * {_M}) % 4294967296)"
    k2 = f"xor({k1}, {k1} >> {_R})"
    k3 = f"(({k2} * {_M}) % 4294967296)"
    step = f"(h, w) -> xor((h * {_M}) % 4294967296, {k3})"
    body = (
        f"list_reduce(list_prepend(CAST(xor({KAFKA_SEED}, {length}) AS BIGINT), "
        f"[CAST(w AS BIGINT) for w in range(1, {nw}+1)]), {step})"
    )
    # let-bind every stage via single-element list_transform (DuckDB's
    # lambda-binding idiom) so each stage evaluates ONCE per row.  Naive
    # textual substitution — each stage splicing its predecessor into both
    # CASE branches — expands the whole word fold ~96× per row, and DuckDB
    # does not CSE the copies: the oracle ran ~8× slower than this form.
    def let(val: str, template: str) -> str:
        # template refers to the bound value as `_v`
        return f"list_transform([{val}], _v -> {template})[1]"

    t3 = let(body, f"CASE WHEN {rem} = 3 THEN xor(_v, {_duck_byte(hx, n4 + '+2')}*65536) ELSE _v END")
    t2 = let(t3, f"CASE WHEN {rem} >= 2 THEN xor(_v, {_duck_byte(hx, n4 + '+1')}*256) ELSE _v END")
    t1 = let(t2, f"CASE WHEN {rem} >= 1 THEN (xor(_v, {_duck_byte(hx, n4)}) * {_M}) % 4294967296 ELSE _v END")
    f1 = let(t1, "xor(_v, _v >> 13)")
    f2 = f"(({f1} * {_M}) % 4294967296)"
    f3 = let(f2, "xor(_v, _v >> 15)")
    return let(f3, "CASE WHEN _v >= 2147483648 THEN _v - 4294967296 ELSE _v END")
