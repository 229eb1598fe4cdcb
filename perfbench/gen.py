"""Seeded generator for canonical-``RECORD_SCHEMA`` parquet.

One process, numpy + pyarrow, no Spark: the program under test receives
only the files written here.  The same ``Shape`` and seed always give the
same bytes, so a content checksum pins the input of a run.

Layout of the generated stream:

- ``topics`` x ``partitions`` slots; each slot's share of the records is a
  Zipf law with exponent ``zipf_s`` over a seeded permutation of the slots
  (``zipf_s = 0`` is uniform), drawn with one multinomial.
- offsets are contiguous within a slot, starting at a seeded base.
- timestamps rise with the offset inside a slot and spread over
  ``ts_spread_ms`` from ``TS0_MS``.
- keys are ``key_bytes`` uniform random bytes; a ``null_key_share`` of them
  is null.
- values are ``value_bytes`` long: a ``compressibility`` share of each value
  comes from a 16-letter alphabet, the rest is uniform random bytes.
- records are ordered by timestamp and cut into ``files`` files of equal
  record count, the way a consumer would land them in arrival order.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TS0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
_ALPHABET = np.frombuffer(b"abcdefghijklmnop", dtype=np.uint8)  # contiguous letters

ARROW_SCHEMA = pa.schema(
    [
        pa.field("key", pa.binary()),
        pa.field("value", pa.binary()),
        pa.field("topic", pa.string(), nullable=False),
        pa.field("partition", pa.int32(), nullable=False),
        pa.field("offset", pa.int64(), nullable=False),
        pa.field("timestamp", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("timestampType", pa.int32()),
        pa.field(
            "headers",
            pa.list_(
                pa.struct(
                    [pa.field("key", pa.string(), nullable=False), pa.field("value", pa.binary())]
                )
            ),
        ),
    ]
)


@dataclass(frozen=True)
class Shape:
    records: int
    key_bytes: int
    value_bytes: int
    compressibility: float
    topics: int
    partitions: int
    zipf_s: float = 0.0
    null_key_share: float = 0.0
    ts_spread_ms: int = 3_600_000
    files: int = 1
    topic_prefix: str = "orders"


@dataclass(frozen=True)
class Generated:
    files: list[str]
    records: int
    payload_bytes: int  # Σ key + value bytes, the reference tool's size unit
    slot_counts: dict[tuple[str, int], int]


def topic_names(shape: Shape) -> list[str]:
    return [f"{shape.topic_prefix}-{i:02d}" for i in range(shape.topics)]


def slot_weights(shape: Shape, rng: np.random.Generator) -> np.ndarray:
    """Share of records per (topic, partition) slot, topic-major order."""
    n = shape.topics * shape.partitions
    ranks = rng.permutation(n) + 1.0
    w = ranks ** -float(shape.zipf_s)
    return w / w.sum()


def _binary(width: int, n: int, data: np.ndarray, valid: np.ndarray | None) -> pa.Array:
    offsets = np.arange(n + 1, dtype=np.int32) * np.int32(width)
    if valid is None:
        return pa.Array.from_buffers(
            pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(data)]
        )
    # null entries keep their bytes in the data buffer but are masked out;
    # zero them in the offsets so the array stays compact
    lens = np.where(valid, width, 0).astype(np.int32)
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    packed = data.reshape(n, width)[valid].ravel()
    mask = pa.array(valid).buffers()[1]
    return pa.Array.from_buffers(
        pa.binary(), n, [mask, pa.py_buffer(offsets), pa.py_buffer(packed)]
    )


def generate(shape: Shape, seed: int, out_dir: str) -> Generated:
    """Write ``shape.files`` parquet files into ``out_dir``."""
    rng = np.random.default_rng(seed)
    n = shape.records
    counts = rng.multinomial(n, slot_weights(shape, rng))
    slot = np.repeat(np.arange(counts.size), counts)

    starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
    base = rng.integers(0, 1_000_000, counts.size)
    offset = (np.arange(n) - np.repeat(starts, counts) + np.repeat(base, counts)).astype(np.int64)
    # per-slot sorted uniform times: sort once by (slot, draw)
    draw = rng.integers(0, shape.ts_spread_ms * 1000, n)
    draw = draw[np.lexsort((draw, slot))]
    ts_us = (TS0_MS * 1000 + draw).astype(np.int64)

    # arrival order; keys and values are drawn per record, so they are drawn
    # directly in this order
    order = np.argsort(ts_us, kind="stable")
    slot, offset, ts_us = slot[order], offset[order], ts_us[order]

    keys = rng.integers(0, 256, n * shape.key_bytes, dtype=np.uint8)
    key_valid = None
    if shape.null_key_share > 0:
        key_valid = rng.random(n) >= shape.null_key_share
    vb = shape.value_bytes
    n_text = int(round(vb * shape.compressibility))
    values = np.empty((n, vb), dtype=np.uint8)
    values[:, :n_text] = rng.integers(0, _ALPHABET.size, (n, n_text), dtype=np.uint8) + _ALPHABET[0]
    values[:, n_text:] = rng.integers(0, 256, (n, vb - n_text), dtype=np.uint8)

    names = topic_names(shape)
    table = pa.Table.from_arrays(
        [
            _binary(shape.key_bytes, n, keys, key_valid),
            _binary(vb, n, values.ravel(), None),
            pa.DictionaryArray.from_arrays(
                pa.array((slot // shape.partitions).astype(np.int32)), pa.array(names)
            ).cast(pa.string()),
            pa.array((slot % shape.partitions).astype(np.int32)),
            pa.array(offset),
            pa.array(ts_us, pa.timestamp("us", tz="UTC")),
            pa.array(np.zeros(n, dtype=np.int32)),
            pa.nulls(n, ARROW_SCHEMA.field("headers").type),
        ],
        schema=ARROW_SCHEMA,
    )

    os.makedirs(out_dir, exist_ok=True)
    files = []
    bounds = np.linspace(0, n, shape.files + 1).astype(int)
    for i in range(shape.files):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        files.append(path)
    n_keys = n if key_valid is None else int(key_valid.sum())
    slot_counts = {
        (names[s // shape.partitions], s % shape.partitions): int(c)
        for s, c in enumerate(counts)
        if c
    }
    return Generated(files, n, n_keys * shape.key_bytes + n * vb, slot_counts)


CHECKSUM_SQL = """
SELECT count(*) AS n,
       coalesce(sum(hash(topic::VARCHAR, partition::INTEGER, "offset"::BIGINT, key, value)::HUGEINT), 0) AS h
FROM read_parquet({src}, hive_partitioning = {hive})
"""


def checksum(con, paths: list[str] | str, hive: bool = False) -> tuple[int, int]:
    """(rows, Σ hash(topic, partition, offset, key, value)) computed by DuckDB.

    ``hive=True`` reads a segment store, whose topic and partition live in
    the ``topic=…/partition=…`` directory names."""
    src = [paths] if isinstance(paths, str) else paths
    row = con.sql(CHECKSUM_SQL.format(src=src, hive="true" if hive else "false")).fetchone()
    return int(row[0]), int(row[1])
