"""autosize_shuffle_partitions: the input-proportional reduce-task sizing
(r11).  Contract: ceil(total_parquet_bytes / 8MB) clamped to
[2, defaultParallelism]; non-local URIs are a no-op; the session conf is
actually set.  The measured A/B behind the 8 MB target lives in SCALE.md."""

from __future__ import annotations

import os

from kafka_backup_spark.session import autosize_shuffle_partitions


def _mkfile(path: str, size: int) -> None:
    with open(path, "wb") as fh:
        fh.write(b"\0" * size)


def test_small_input_floors_at_two(spark, tmp_path):
    _mkfile(str(tmp_path / "t.parquet"), 1024)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        n = autosize_shuffle_partitions(spark, str(tmp_path))
        assert n == 2
        assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_scales_with_bytes_and_caps_at_parallelism(spark, tmp_path):
    d = tmp_path / "sfbig"
    os.makedirs(d / "lineitem.parquet")
    # 3 x 8MB + 1 byte -> ceil = 4, exactly the local[4] cap
    _mkfile(str(d / "lineitem.parquet" / "part-0.parquet"), 3 * (8 << 20) + 1)
    # hidden/metadata files must not count toward the footprint
    _mkfile(str(d / "lineitem.parquet" / "_SUCCESS"), 1 << 30)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        n = autosize_shuffle_partitions(spark, str(d))
        assert n == 4  # ceil(24MB+1 / 8MB) = 4
        cap = spark.sparkContext.defaultParallelism
        _mkfile(str(d / "lineitem.parquet" / "part-1.parquet"), 100 << 20)
        assert autosize_shuffle_partitions(spark, str(d)) == cap
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_remote_uri_is_a_noop(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    n = autosize_shuffle_partitions(spark, "s3a://bucket/prefix")
    assert n == int(before)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_mixed_local_then_remote_is_all_or_nothing(spark, tmp_path):
    # a remote URI listed AFTER a local path must still make the whole call a
    # no-op — never size from a partial (local-only) total (VERDICT r11 #3)
    _mkfile(str(tmp_path / "t.parquet"), 100 << 20)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    n = autosize_shuffle_partitions(spark, str(tmp_path), "s3a://bucket/prefix")
    assert n == int(before)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_only_parquet_files_count(spark, tmp_path):
    # JSON manifests and media blobs beside the tables must not skew the
    # footprint (ADVICE r11 #3): 1 GiB of non-parquet still floors at 2
    _mkfile(str(tmp_path / "t.parquet"), 1024)
    _mkfile(str(tmp_path / "manifest.json"), 64 << 20)
    _mkfile(str(tmp_path / "media.bin"), 1 << 30)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        assert autosize_shuffle_partitions(spark, str(tmp_path)) == 2
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)

