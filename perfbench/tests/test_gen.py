import duckdb
import numpy as np
import pytest

from perfbench import gen

SMALL = gen.Shape(
    records=20_000, key_bytes=8, value_bytes=48, compressibility=0.5,
    topics=2, partitions=8, zipf_s=1.2, null_key_share=0.1, files=5,
)


def test_same_seed_same_checksum(tmp_path):
    con = duckdb.connect()
    a = gen.generate(SMALL, 11, str(tmp_path / "a"))
    b = gen.generate(SMALL, 11, str(tmp_path / "b"))
    c = gen.generate(SMALL, 12, str(tmp_path / "c"))
    assert gen.checksum(con, a.files) == gen.checksum(con, b.files)
    assert gen.checksum(con, a.files) != gen.checksum(con, c.files)
    assert len(a.files) == SMALL.files
    assert gen.checksum(con, a.files)[0] == SMALL.records


def test_zipf_skew_sets_hottest_share(tmp_path):
    shape = gen.Shape(
        records=200_000, key_bytes=4, value_bytes=8, compressibility=0.0,
        topics=4, partitions=16, zipf_s=1.1,
    )
    g = gen.generate(shape, 3, str(tmp_path / "z"))
    slots = shape.topics * shape.partitions
    want = 1.0 / np.sum(np.arange(1, slots + 1) ** -1.1)
    got = max(g.slot_counts.values()) / g.records
    assert got == pytest.approx(want, rel=0.03)


def test_uniform_and_contiguous(tmp_path):
    shape = gen.Shape(
        records=40_000, key_bytes=4, value_bytes=8, compressibility=0.0, topics=2, partitions=4,
    )
    g = gen.generate(shape, 5, str(tmp_path / "u"))
    assert max(g.slot_counts.values()) / g.records == pytest.approx(1 / 8, rel=0.1)
    con = duckdb.connect()
    gaps = con.sql(
        f"""SELECT count(*) FROM (
              SELECT topic, partition, max("offset") - min("offset") + 1 AS span, count(*) AS n,
                     bool_and(ts_ok) AS ts_ok
              FROM (SELECT *, timestamp >= lag(timestamp) OVER w IS NOT FALSE AS ts_ok
                    FROM read_parquet({g.files}) WINDOW w AS (PARTITION BY topic, partition ORDER BY "offset"))
              GROUP BY ALL) WHERE span != n OR NOT ts_ok"""
    ).fetchone()[0]
    assert gaps == 0


def test_null_keys_and_payload(tmp_path):
    g = gen.generate(SMALL, 2, str(tmp_path / "n"))
    con = duckdb.connect()
    nulls, payload = con.sql(
        f"SELECT count(*) FILTER (WHERE key IS NULL), sum(coalesce(octet_length(key), 0) + octet_length(value))"
        f" FROM read_parquet({g.files})"
    ).fetchone()
    assert nulls / SMALL.records == pytest.approx(SMALL.null_key_share, abs=0.01)
    assert payload == g.payload_bytes
