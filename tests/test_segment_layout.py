"""Segment-store layout: the one layout step that batch write, compaction
and the streaming sink share, per-write zstd level, and the store read's
directory list."""

from __future__ import annotations

import glob
import json
import os
from collections import Counter

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from kafka_backup_spark.schema import events_as_records, load_table
from kafka_backup_spark.sources.segments import ZSTD_LEVEL_CONF, SegmentStore, write_legacy_segments
from kafka_backup_spark.streaming.backup_stream import read_record_stream, stream_backup


@pytest.fixture(scope="module")
def records(spark, sf_dir):
    return events_as_records(load_table(spark, sf_dir, "events"))


def _keys(df) -> set:
    return {tuple(r) for r in df.select("topic", "partition", "offset").collect()}


def _sink_log(topics_path: str) -> dict[int, list[str]]:
    """Files committed per micro-batch, read from the file sink's log."""
    out = {}
    for entry in glob.glob(f"{topics_path}/_spark_metadata/*"):
        name = os.path.basename(entry)
        if name.isdigit():
            with open(entry) as fh:
                lines = fh.read().splitlines()[1:]  # first line is the version
            out[int(name)] = [json.loads(line)["path"] for line in lines if line]
    return out


def test_stream_backup_writes_one_file_per_partition_per_batch(spark, records, tmp_path):
    """Six mixed-partition input files drained two per trigger: each
    micro-batch reads several splits, yet adds at most one file to each
    topic=/partition= directory."""
    source = str(tmp_path / "src")
    for i in range(6):
        records.filter(F.col("offset") % 6 == i).coalesce(1).write.mode("append").parquet(source)
    store = SegmentStore(str(tmp_path / "store"))
    q = stream_backup(read_record_stream(spark, source, max_files_per_trigger=2), store,
                      str(tmp_path / "ckpt"), {"availableNow": True})
    q.awaitTermination(120)
    assert q.exception() is None

    log = _sink_log(store.topics_path())
    assert len(log) == 3
    for batch, files in log.items():
        per_dir = Counter(os.path.dirname(f) for f in files)
        assert max(per_dir.values()) == 1, (batch, per_dir.most_common(3))
    on_disk = glob.glob(f"{store.topics_path()}/topic=*/partition=*/*.parquet")
    assert len(on_disk) == sum(len(f) for f in log.values())
    assert _keys(store.read(spark)) == _keys(records)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(f"{path}/**/*.parquet", recursive=True))


def test_zstd_level_is_a_per_write_option(spark, records, tmp_path):
    """A zstd_level write compresses harder without leaving the level in
    the session's shared Hadoop conf, so the next default write is
    unaffected."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    frame = records.repartition(1)
    sizes = []
    for name, level in (("default", None), ("level19", 19), ("default_again", None)):
        store = SegmentStore(str(tmp_path / name))
        store.write(frame, compression="zstd", zstd_level=level)
        assert conf.get(ZSTD_LEVEL_CONF) is None
        sizes.append(_dir_bytes(store.topics_path()))
    default, level19, default_again = sizes
    assert level19 < default
    assert default_again == default


def test_read_hands_spark_the_topic_dirs(spark, records, tmp_path, monkeypatch):
    """read() passes the concrete topic= directories (not a glob Spark's
    sink-log probe would stat), skips legacy JSON segment dirs, and returns
    the same rows as a glob read; read_legacy() passes concrete files."""
    from pyspark.sql.readwriter import DataFrameReader

    two = records.filter(F.col("topic").isin("click", "purchase"))
    store = SegmentStore(str(tmp_path / "store"))
    store.write(two)
    write_legacy_segments(store.root, [
        {"topic": "legacy", "partition": 0, "offset": 0, "ts_ms": 0, "key": None,
         "value": b"v", "headers": []},
    ])
    want = [f"{store.topics_path()}/topic=click", f"{store.topics_path()}/topic=purchase"]
    assert store.topic_dirs(spark) == want

    seen = []
    parquet, json_ = DataFrameReader.parquet, DataFrameReader.json

    def spy_parquet(self, *paths, **kw):
        seen.append(paths)
        return parquet(self, *paths, **kw)

    def spy_json(self, paths, **kw):
        seen.append(paths)
        return json_(self, paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy_parquet)
    monkeypatch.setattr(DataFrameReader, "json", spy_json)
    got = store.read(spark)
    legacy = store.read_legacy(spark)
    monkeypatch.undo()
    assert seen[0] == tuple(want)
    # the legacy reader likewise gets the concrete segment file, not its glob
    assert [p.split("/topics/", 1)[1] for p in seen[1]] == [
        "legacy/partition=0/segment-00000000000000000000.json"]
    assert legacy.count() == 1

    globbed = spark.read.option("basePath", store.topics_path()).parquet(
        f"{store.topics_path()}/topic=*")
    assert got.count() == two.count()
    assert _keys(got) == _keys(globbed) == _keys(two)
    assert dict(got.dtypes)["partition"] == "int"


def test_read_of_an_empty_store_still_fails(spark, tmp_path):
    """No topic= directory: read() hands Spark the glob, which fails as on
    an empty store."""
    store = SegmentStore(str(tmp_path / "empty"))
    assert store.topic_dirs(spark) == []
    with pytest.raises(AnalysisException):
        store.read(spark)
    os.makedirs(store.topics_path())
    with pytest.raises(AnalysisException):
        store.read(spark)
