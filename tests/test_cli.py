"""End-to-end CLI flow: backup → list → describe → dry-run → restore →
validate → show-offset-mapping, all file-backed."""

from __future__ import annotations

import json

import pytest

from kafka_backup_spark.__main__ import main
from kafka_backup_spark.engine import BackupEngine
from kafka_backup_spark.manifest_store import ManifestStore
from kafka_backup_spark.sources.segments import SegmentStore

CFG = """
mode: backup
backup_id: bk-cli
source:
  cluster_id: cli-src
backup:
  inject_headers: true
restore:
  window_start_ms: 1704067200000
  inject_headers: true
"""


@pytest.fixture(scope="module")
def cfg_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("cfg") / "cfg.yaml"
    p.write_text(CFG)
    return str(p)


@pytest.fixture(scope="module")
def store_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("cli") / "store")


def run(capsys, argv) -> dict:
    rc = main(argv)
    assert rc == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_cli_backup(spark, capsys, cfg_path, store_dir, sf_dir):
    out = run(capsys, [
        "backup", "--config", cfg_path, "--store", store_dir,
        "--source-parquet", f"{sf_dir}/events.parquet",
    ])
    assert out["backup_id"] == "bk-cli"
    assert out["segments"] > 0


def test_cli_list_describe_dryrun(spark, capsys, cfg_path, store_dir):
    listed = run(capsys, ["list", "--store", store_dir])
    assert listed["backups"][0]["backup_id"] == "bk-cli"
    assert listed["backups"][0]["total_records"] > 0

    desc = run(capsys, ["describe", "--store", store_dir, "--backup-id", "bk-cli"])
    assert any(r["topic"] is None for r in desc["describe"])  # global rollup level

    est = run(capsys, ["dry-run", "--config", cfg_path, "--store", store_dir])
    assert len(est["estimate"]) > 0


def test_cli_restore_and_validate(spark, capsys, cfg_path, store_dir, tmp_path):
    out_dir = str(tmp_path / "restored")
    res = run(capsys, [
        "restore", "--config", cfg_path, "--store", store_dir, "--out", out_dir,
    ])
    assert res["restored_records"] > 0

    val = run(capsys, ["validate", "--store", store_dir, "--backup-id", "bk-cli"])
    assert val["summary"]["overall"] == "passed"
    assert all(s["status"] == "valid" for s in val["segments"])

    mapping = run(capsys, [
        "show-offset-mapping", "--store", store_dir, "--target-parquet", out_dir,
    ])
    assert len(mapping["ranges"]) > 0


def test_cli_status(spark, capsys, store_dir):
    st = run(capsys, ["status", "--store", store_dir, "--backup-id", "bk-cli"])
    assert st["backup_id"] == "bk-cli"
    assert st["segment_span"] == 1000  # persisted by backup, read back here
    assert st["total_records"] > 0
    assert len(st["topics"]) > 0


def test_cli_three_phase_and_offset_reset(spark, capsys, cfg_path, store_dir, tmp_path):
    out_dir = str(tmp_path / "tp-restored")
    groups = tmp_path / "groups.json"
    groups.write_text(json.dumps([
        {"group_id": "g1", "topic": "click", "partition": 0, "offset": 100},
        {"group_id": "g1", "topic": "click", "partition": 1, "offset": 5},
        {"group_id": "g2", "topic": "view", "partition": 2, "offset": 50},
    ]))
    tp = run(capsys, [
        "three-phase-restore", "--config", cfg_path, "--store", store_dir,
        "--out", out_dir, "--groups-json", str(groups),
    ])
    assert tp["restored_records"] > 0
    assert len(tp["mapping_ranges"]) > 0
    assert {s["group_id"] for s in tp["summary"]} == {"g1", "g2"}

    # the target is scanned by the header probe and by the one phase-3 plan
    # materialization; the emitted plan and summary both read the latter
    n, plan = _parquet_scans(spark, out_dir, lambda: run(capsys, [
        "offset-reset", "plan", "--store", store_dir,
        "--groups-json", str(groups), "--target-parquet", out_dir,
    ]))
    assert n == 2, n
    assert len(plan["plan"]) == 3
    mapped = [r for r in plan["plan"] if r["target_offset"] is not None]
    assert len(mapped) > 0

    script_path = tmp_path / "reset.sh"
    sc = run(capsys, [
        "offset-reset", "script", "--store", store_dir,
        "--groups-json", str(groups), "--target-parquet", out_dir,
        "--bootstrap-servers", "broker:9092", "--out", str(script_path),
    ])
    body = script_path.read_text()
    assert sc["commands"] == len(mapped)
    assert "kafka-consumer-groups.sh --bootstrap-server broker:9092" in body
    assert "--reset-offsets --to-offset" in body


def test_cli_offset_reset_execute_via_fake_admin(spark, capsys, store_dir, tmp_path):
    from tests.test_kafka_admin_fake import FakeAdmin
    from kafka_backup_spark.sources import kafka_io

    out_dir = str(tmp_path / "tp2")
    groups = tmp_path / "g.json"
    groups.write_text(json.dumps([
        {"group_id": "g1", "topic": "click", "partition": 0, "offset": 100},
    ]))
    run(capsys, [
        "three-phase-restore", "--store", store_dir, "--out", out_dir,
        "--groups-json", str(groups),
    ])
    fake = FakeAdmin()
    kafka_io.set_admin_factory(lambda servers: fake)
    try:
        res = run(capsys, [
            "offset-reset", "execute", "--store", store_dir,
            "--groups-json", str(groups), "--target-parquet", out_dir,
            "--bootstrap-servers", "broker:9092",
        ])
    finally:
        kafka_io.set_admin_factory(None)
    if res["committed"]:  # mapping resolved → commit reached the admin client
        assert fake.committed[0][0] == "g1"


def test_cli_offset_rollback(spark, capsys, tmp_path):
    snaps = str(tmp_path / "snaps")
    before = tmp_path / "before.json"
    before.write_text(json.dumps([
        {"group_id": "g1", "topic": "click", "partition": 0, "offset": 100},
    ]))
    after = tmp_path / "after.json"
    after.write_text(json.dumps([
        {"group_id": "g1", "topic": "click", "partition": 0, "offset": 170},
    ]))
    snap = run(capsys, [
        "offset-rollback", "snapshot", "--store", snaps,
        "--groups-json", str(before), "--snapshot-id", "s1",
    ])
    assert snap["snapshot_id"] == "s1"
    plan = run(capsys, [
        "offset-rollback", "plan", "--store", snaps,
        "--groups-json", str(after), "--snapshot-id", "s1",
    ])
    assert len(plan["rollback"]) == 1


def test_cli_validate_nondefault_span(spark, capsys, tmp_path, sf_dir):
    """ADVICE fix: validate must rescan with the span the backup wrote
    (persisted in the manifest), or every segment looks missing."""
    cfg = tmp_path / "span.yaml"
    cfg.write_text(
        "mode: backup\nbackup_id: bk-span\nbackup:\n  segment_span: 250\n"
    )
    store = str(tmp_path / "span-store")
    run(capsys, [
        "backup", "--config", str(cfg), "--store", store,
        "--source-parquet", f"{sf_dir}/events.parquet",
    ])
    val = run(capsys, ["validate", "--store", store, "--backup-id", "bk-span"])
    assert val["summary"]["overall"] == "passed"
    assert all(s["status"] == "valid" for s in val["segments"])


SPAN_CFG = "mode: backup\nbackup_id: {}\nbackup:\n  segment_span: 250\n"


def test_cli_validate_and_evidence_fail_on_missing_segments(spark, capsys, tmp_path, sf_dir):
    """A deleted partition directory fails validate (exit 1) and the
    evidence report's validation verdict."""
    import shutil

    cfg = tmp_path / "span.yaml"
    cfg.write_text(SPAN_CFG.format("bk-gone"))
    store = str(tmp_path / "gone-store")
    run(capsys, [
        "backup", "--config", str(cfg), "--store", store,
        "--source-parquet", f"{sf_dir}/events.parquet",
    ])
    shutil.rmtree(f"{store}/topics/topic=click/partition=0")
    argv = ["--store", store, "--backup-id", "bk-gone"]
    assert main(["validate", *argv]) == 1
    val = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    missing = sum(s["status"] == "missing" for s in val["segments"])
    assert missing > 0
    assert val["summary"]["failed"] == missing
    assert val["summary"]["passed"] == len(val["segments"]) - missing
    assert val["summary"]["overall"] == "failed"
    ev = run(capsys, ["evidence", *argv])
    assert ev["report"]["validation"] == val["summary"]


def test_cli_validate_and_evidence_take_the_config_span(spark, capsys, tmp_path, sf_dir):
    """A manifest saved without its segment span is rescanned with the
    --config span by both validate and evidence."""
    from kafka_backup_spark.engine import BackupConfig
    from kafka_backup_spark.schema import events_as_records, load_table

    store = str(tmp_path / "lib-store")
    records = events_as_records(load_table(spark, sf_dir, "events"))
    m = BackupEngine(SegmentStore(store), BackupConfig(segment_span=250)).run(records)
    assert "segment_span" not in ManifestStore(store, "bk-lib").save(m)
    cfg = tmp_path / "span.yaml"
    cfg.write_text(SPAN_CFG.format("bk-lib"))
    argv = ["--config", str(cfg), "--store", store, "--backup-id", "bk-lib"]
    val = run(capsys, ["validate", *argv])
    assert val["summary"]["overall"] == "passed"
    assert val["summary"]["passed"] == len(val["segments"]) > 0
    ev = run(capsys, ["evidence", *argv])
    assert ev["report"]["validation"] == val["summary"]


def _parquet_scans(spark, path: str, run_cli):
    """(SQL executions started by ``run_cli()`` whose plan scans parquet
    files under ``path``, ``run_cli()``'s result)."""
    sql = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty()
        ex = sql.executionsList()
        return [ex.apply(i) for i in range(ex.size())]

    last = max((e.executionId() for e in executions()), default=-1)
    result = run_cli()
    plans = [e.physicalPlanDescription() for e in executions() if e.executionId() > last]
    return sum("Scan parquet" in p and path in p for p in plans), result


def test_cli_validate_scans_the_store_once(spark, capsys, store_dir, tmp_path):
    """validate and evidence rescan the store in ONE SQL execution; the
    emitted rows and the summary read the materialized scan.
    validate-restore likewise reads its target once."""
    argv = ["--store", store_dir, "--backup-id", "bk-cli"]
    n, val = _parquet_scans(spark, store_dir, lambda: run(capsys, ["validate", *argv]))
    assert n == 1 and val["summary"]["overall"] == "passed", n
    n, ev = _parquet_scans(spark, store_dir, lambda: run(capsys, ["evidence", *argv]))
    assert n == 1 and ev["report"]["backup"]["total_records"] > 0, n

    target = str(tmp_path / "vr-once-target")
    spark.read.parquet(f"{store_dir}/topics").write.parquet(target)
    # events-derived offsets are sparse, so the verdict itself may fail
    n, _rc = _parquet_scans(spark, target, lambda: main(
        ["validate-restore", *argv, "--target-parquet", target]))
    assert n == 1, n
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["message_count"] and out["offset_range"]


def test_cli_evidence_signed(spark, capsys, store_dir, tmp_path):
    from kafka_backup_spark import evidence

    priv, pub = evidence.generate_signing_key()
    key_path = tmp_path / "key.pem"
    key_path.write_bytes(priv)
    out_path = str(tmp_path / "report.json")
    pdf_path = str(tmp_path / "report.pdf")
    res = run(capsys, [
        "evidence", "--store", store_dir, "--backup-id", "bk-cli",
        "--sign-key", str(key_path), "--out", out_path, "--pdf", pdf_path,
    ])
    assert res["report"]["report_id"] == "evidence-bk-cli"
    assert res["report"]["backup"]["total_records"] > 0
    assert res["signature"]["algorithm"] == "ECDSA-P256-SHA256"
    # the written report + .sig verify against the public key
    report = json.loads(open(out_path).read())
    bundle = evidence.from_sig_file(open(out_path + ".sig").read())
    assert evidence.verify_report(report, bundle, pub)
    # the PDF twin exists, is well-formed, and carries the signature block
    assert pdf_path in res["files"]
    pdf = open(pdf_path, "rb").read()
    assert pdf.startswith(b"%PDF-1.4") and pdf.rstrip().endswith(b"%%EOF")
    assert b"Evidence Report" in pdf and bundle["report_sha256"].encode() in pdf


def test_cli_three_phase_skips_reset_when_repartitioned(spark, capsys, store_dir, tmp_path):
    """three_phase.rs:119-131: repartitioned data has no valid source->target
    offset mapping, so phase 3 is skipped with a warning."""
    cfg = tmp_path / "rp.yaml"
    cfg.write_text(
        "mode: restore\nbackup_id: bk-cli\nrestore:\n  repartition_to: 8\n"
    )
    groups = tmp_path / "rg.json"
    groups.write_text(json.dumps([
        {"group_id": "g1", "topic": "click", "partition": 0, "offset": 100},
    ]))
    out = run(capsys, [
        "three-phase-restore", "--config", str(cfg), "--store", store_dir,
        "--out", str(tmp_path / "rp-out"), "--groups-json", str(groups),
    ])
    assert "plan" not in out
    assert any("Repartitioned" in w for w in out["warnings"])


def test_cli_status_watch_ticks(spark, capsys, store_dir):
    """Live status mode: one JSON line per tick with human-formatted totals
    and a rate once two samples exist."""
    rc = main([
        "status", "--store", store_dir, "--backup-id", "bk-cli",
        "--watch", "--interval", "0.1", "--iterations", "2",
    ])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == 2
    assert lines[0]["records"] > 0 and "KB" in lines[0]["bytes_h"] or "B" in lines[0]["bytes_h"]
    assert "records_per_sec" in lines[1]


def _contiguous_store(spark, tmp_path):
    """Backup a contiguous-offset fixture (watermark-derived counts only
    match A4 when offsets have no holes — see verify-skill gotcha)."""
    import datetime

    from kafka_backup_spark.engine import BackupConfig, BackupEngine
    from kafka_backup_spark.manifest_store import ManifestStore
    from kafka_backup_spark.schema import RECORD_SCHEMA
    from kafka_backup_spark.sources.segments import SegmentStore

    ts = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    rows = [
        (b"k", b"v", "click", p, o, ts, 0, [])
        for p in (0, 1)
        for o in range(100)
    ]
    records = spark.createDataFrame(rows, RECORD_SCHEMA)
    store_dir = str(tmp_path / "vr-store")
    store = SegmentStore(store_dir)
    manifest = BackupEngine(store, BackupConfig(inject_headers=False)).run(records)
    ManifestStore(store_dir, "bk-vr").save(manifest, source_cluster_id="src")
    return store_dir, records


def test_cli_validate_restore_passes_file_backed(spark, capsys, tmp_path):
    store_dir, records = _contiguous_store(spark, tmp_path)
    target = str(tmp_path / "vr-target")
    records.write.parquet(target)
    out = run(capsys, [
        "validate-restore", "--store", store_dir, "--backup-id", "bk-vr",
        "--target-parquet", target,
    ])
    assert out["summary"]["overall"] == "passed"
    assert all(r["status"] == "passed" for r in out["message_count"])
    assert all(r["status"] == "passed" for r in out["offset_range"])


def test_cli_validate_restore_reports_failed_on_wrong_counts(spark, capsys, tmp_path):
    from tests.test_kafka_admin_fake import FakeAdmin
    from kafka_backup_spark.sources import kafka_io

    store_dir, _records = _contiguous_store(spark, tmp_path)
    fake = FakeAdmin()
    # target cluster holds fewer records than the manifest promises
    fake.offsets = {("click", 0): (0, 40), ("click", 1): (0, 100)}
    kafka_io.set_admin_factory(lambda servers: fake)
    try:
        rc = main([
            "validate-restore", "--store", store_dir, "--backup-id", "bk-vr",
            "--bootstrap-servers", "broker:9092",
        ])
    finally:
        kafka_io.set_admin_factory(None)
    assert rc == 1
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["summary"]["overall"] == "failed"
    bad = {r["partition"]: r["status"] for r in out["message_count"]}
    assert bad[0] == "failed" and bad[1] == "passed"


def test_cli_offset_reset_bulk_via_fake_admin(spark, capsys, store_dir, tmp_path):
    from tests.test_offset_reset_bulk import FlakyAdmin
    from kafka_backup_spark.sources import kafka_io

    out_dir = str(tmp_path / "bulk-target")
    groups = tmp_path / "bulk-groups.json"
    groups.write_text(json.dumps([
        {"group_id": "g1", "topic": "click", "partition": 0, "offset": 100},
        {"group_id": "g2", "topic": "click", "partition": 0, "offset": 200},
    ]))
    run(capsys, [
        "three-phase-restore", "--store", store_dir, "--out", out_dir,
        "--groups-json", str(groups),
    ])
    fake = FlakyAdmin()
    kafka_io.set_admin_factory(lambda servers: fake)
    try:
        res = run(capsys, [
            "offset-reset", "bulk", "--store", store_dir,
            "--groups-json", str(groups), "--target-parquet", out_dir,
            "--bootstrap-servers", "broker:9092", "--max-concurrent", "2",
        ])
    finally:
        kafka_io.set_admin_factory(None)
    assert res["status"] == "success"
    assert "p50_latency_ms" in res["performance"]
    if res["total_offsets_reset"]:  # mapping resolved → commits reached admin
        assert fake.attempts


def test_cli_snapshot_groups_capture_and_show(spark, capsys, tmp_path):
    from types import SimpleNamespace

    from kafka_backup_spark.sources import kafka_io

    store_dir, _records = _contiguous_store(spark, tmp_path)

    class _Done:
        def __init__(self, v):
            self._v = v

        def result(self):
            return self._v

    class SnapshotAdmin:
        """list_consumer_groups + list_consumer_group_offsets surface."""

        def list_consumer_groups(self):
            return _Done(SimpleNamespace(valid=[
                SimpleNamespace(group_id="g-app"),
                SimpleNamespace(group_id="g-other"),
            ]))

        def list_consumer_group_offsets(self, reqs):
            offsets = {
                "g-app": [
                    SimpleNamespace(topic="click", partition=0, offset=42),
                    SimpleNamespace(topic="click", partition=1, offset=7),
                    SimpleNamespace(topic="unrelated", partition=0, offset=9),
                ],
                "g-other": [
                    SimpleNamespace(topic="click", partition=0, offset=-1),  # invalid
                ],
            }
            return {
                r.group_id: _Done(SimpleNamespace(
                    group_id=r.group_id, topic_partitions=offsets[r.group_id]
                ))
                for r in reqs
            }

    kafka_io.set_admin_factory(lambda servers: SnapshotAdmin())
    try:
        cap = run(capsys, [
            "snapshot-groups", "capture", "--store", store_dir,
            "--backup-id", "bk-vr", "--bootstrap-servers", "broker:9092",
        ])
    finally:
        kafka_io.set_admin_factory(None)
    # unrelated topic filtered (not in manifest), negative offset dropped,
    # g-other therefore empty and omitted
    assert cap["groups"] == 1 and cap["offsets"] == 2

    shown = run(capsys, [
        "snapshot-groups", "show", "--store", store_dir, "--backup-id", "bk-vr",
    ])
    g = shown["groups"][0]
    assert g["group_id"] == "g-app"
    assert g["offsets"] == [
        {"topic": "click", "partition": 0, "offset": 42},
        {"topic": "click", "partition": 1, "offset": 7},
    ]

    # restore-side J4 load: flat frame matches the wire file
    from kafka_backup_spark.group_snapshot import load_snapshot

    df = load_snapshot(spark, store_dir, "bk-vr")
    assert {(r["group_id"], r["topic"], r["partition"], r["offset"])
            for r in df.collect()} == {("g-app", "click", 0, 42), ("g-app", "click", 1, 7)}


def test_cli_config_show_resolves_defaults(capsys, cfg_path):
    out = run(capsys, ["config", "show", "--config", cfg_path])
    assert out["mode"] == "backup" and out["backup_id"] == "bk-cli"
    # defaults the YAML never mentions are resolved to their engine values
    assert out["backup"]["segment_span"] == 1000
    assert out["restore"]["repartition_strategy"] == "murmur2"
    assert out["restore"]["window_start_ms"] == 1704067200000


def test_cli_config_validate_ok_and_invalid(capsys, cfg_path, tmp_path):
    out = run(capsys, ["config", "validate", "--config", cfg_path])
    assert out == {"valid": True, "mode": "backup", "backup_id": "bk-cli"}
    bad = tmp_path / "bad.yaml"
    bad.write_text("mode: sideways\nbackup_id: x\n")
    rc = main(["config", "validate", "--config", str(bad)])
    assert rc == 1
    verdict = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert verdict["valid"] is False and "mode" in verdict["error"]


def test_cli_config_expands_env_vars(capsys, tmp_path, monkeypatch):
    monkeypatch.setenv("KBS_TEST_BACKUP_ID", "bk-from-env")
    p = tmp_path / "env.yaml"
    p.write_text("mode: backup\nbackup_id: ${KBS_TEST_BACKUP_ID}\n")
    out = run(capsys, ["config", "show", "--config", str(p)])
    assert out["backup_id"] == "bk-from-env"
    # unset variable -> empty string -> backup_id missing -> invalid
    monkeypatch.delenv("KBS_TEST_BACKUP_ID")
    import warnings as _w
    with _w.catch_warnings():
        _w.simplefilter("ignore")
        rc = main(["config", "validate", "--config", str(p)])
    assert rc == 1


def test_cli_metrics_runtime_ticks(spark, capsys, store_dir):
    # two ticks over the already-written store: each emits port + totals,
    # endpoint closes cleanly after the loop (keep-alive 0)
    rc = main([
        "metrics-runtime", "--store", store_dir,
        "--interval", "0.05", "--iterations", "2", "--keep-alive", "0",
    ])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()[-2:]]
    assert [l["tick"] for l in lines] == [0, 1]
    assert lines[0]["port"] > 0 and lines[0]["records"] > 0
    assert lines[0]["records"] == lines[1]["records"]


def test_cli_corpus_add_and_list(spark, capsys, sf_dir, tmp_path):
    root = str(tmp_path / "corpus")
    src = str(tmp_path / "batch.parquet")
    spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50).write.parquet(src)
    e0 = run(capsys, ["corpus", "add", "--store", root, "--source-parquet", src])
    assert (e0["version"], e0["n_new"]) == (0, 50)
    e1 = run(capsys, ["corpus", "add", "--store", root, "--source-parquet", src])
    assert (e1["version"], e1["n_new"]) == (1, 0)  # full overlap: nothing new
    listed = run(capsys, ["corpus", "list", "--store", root])
    assert [v["version"] for v in listed["versions"]] == [0, 1]


def test_cli_corpus_stats_empty_store(spark, capsys, tmp_path):
    out = run(capsys, ["corpus", "stats", "--store", str(tmp_path / "nothing")])
    assert out == {"stats": []}


def test_cli_corpus_stats(spark, capsys, sf_dir, tmp_path):
    root = str(tmp_path / "corpus")
    src = str(tmp_path / "batch.parquet")
    spark.read.parquet(f"{sf_dir}/documents.parquet").limit(30).write.parquet(src)
    run(capsys, ["corpus", "add", "--store", root, "--source-parquet", src])
    out = run(capsys, ["corpus", "stats", "--store", root])
    assert sum(r["n_docs"] for r in out["stats"]) == 30
    assert all(r["version"] == 0 and r["n_chars"] > 0 for r in out["stats"])


def test_cli_corpus_stats_dup_spans(spark, capsys, tmp_path):
    """corpus stats --dup-spans (VERDICT r6 #8): the M10b extents operator
    reachable outside the catalog harness — a planted near-whole-document
    duplicate must surface in the summary and the worst-offender list."""
    root = str(tmp_path / "corpus")
    src = str(tmp_path / "batch.parquet")
    base = "the quick brown fox jumps over the lazy dog and keeps on running far away " * 4
    rows = [
        (1, "en", "s", base + " alpha ending one"),
        (2, "en", "s", base + " totally different closing words here"),
        (3, "en", "s", "short unique text with no duplication at all present whatsoever"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    ).write.parquet(src)
    run(capsys, ["corpus", "add", "--store", root, "--source-parquet", src])
    out = run(capsys, ["corpus", "stats", "--store", root, "--dup-spans"])
    s = out["dup_spans"]
    assert s["n_docs"] == 3
    assert s["docs_with_dup_spans"] == 2  # the two sharing the long prefix
    assert s["dup_chars"] > 2 * len(base) // 2
    assert len(out["top_docs"]) == 2
    assert all(t["spans"] and t["clean_hash"] for t in out["top_docs"])

    # --write-clean materializes the excision: cleaned parquet, spans gone
    clean_path = str(tmp_path / "clean.parquet")
    out2 = run(capsys, [
        "corpus", "stats", "--store", root, "--dup-spans",
        "--write-clean", clean_path,
    ])
    assert out2["dup_spans"] == s  # identical summary either way
    cleaned = {
        r["doc_id"]: r for r in spark.read.parquet(clean_path).collect()
    }
    assert len(cleaned) == 3
    import hashlib

    by_id = {t["doc_id"]: t for t in out2["top_docs"]}
    for d, r in cleaned.items():
        assert base not in r["clean_text"]  # the shared block is excised
        if d in by_id:  # clean_text hashes to the reported clean_hash
            assert hashlib.md5(r["clean_text"].encode()).hexdigest() == by_id[d]["clean_hash"]


def test_cli_corpus_add_excise_spans_and_index_stats(spark, capsys, tmp_path):
    """corpus add --excise-spans (VERDICT r7 #8): the second batch lands
    span-trimmed, and corpus stats --dup-spans reports source "index" —
    served from the persisted span-hash index, not a text re-scan."""
    root = str(tmp_path / "corpus")
    header = (
        "this standard license header paragraph is repeated verbatim across "
        "every file of the project and carries no information at all"
    )
    rows0 = [(1, "en", "s", header + " original body about offsets and manifests")]
    rows1 = [(2, "en", "s", header + " fresh follow-up body on restore validation")]
    for i, rows in enumerate((rows0, rows1)):
        src = str(tmp_path / f"batch{i}.parquet")
        spark.createDataFrame(
            rows, "doc_id long, lang string, source string, text string"
        ).write.parquet(src)
        run(capsys, [
            "corpus", "add", "--store", root, "--source-parquet", src,
            "--excise-spans",
        ])
    out = run(capsys, ["corpus", "stats", "--store", root, "--dup-spans"])
    assert out["source"] == "index"
    assert out["dup_spans"]["n_docs"] == 2
    from kafka_backup_spark.corpus_store import CorpusStore

    stored = {
        r["doc_id"]: r["text"]
        for r in CorpusStore(root).read_corpus(spark).collect()
    }
    assert "standard license header paragraph" not in stored[2]
    assert "restore validation" in stored[2]


def test_cli_corpus_stats_cluster_balance(spark, capsys, sf_dir, tmp_path):
    """corpus stats --cluster-balance: rollup over a user-supplied
    embeddings parquet; cell sizes must sum to the vector count and the
    flag without --embeddings-parquet is a clean usage error."""
    from kafka_backup_spark.__main__ import main

    emb = str(tmp_path / "emb.parquet")
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(300).write.parquet(emb)
    out = run(capsys, [
        "corpus", "stats", "--store", str(tmp_path / "c"),
        "--cluster-balance", "--embeddings-parquet", emb,
    ])
    assert out["n_vectors"] == 300
    assert sum(r["n_vectors"] for r in out["cluster_balance"]) == 300
    assert all(0 < r["purity_ppm"] <= 1_000_000 for r in out["cluster_balance"])

    rc = main(["corpus", "stats", "--store", str(tmp_path / "c"), "--cluster-balance"])
    assert rc == 2
    assert "--embeddings-parquet" in capsys.readouterr().err


def test_cli_compact_dry_run_and_rewrite(spark, capsys, cfg_path, store_dir, sf_dir):
    """compact --dry-run prints the greedy-prefix packing plan from the
    manifest (metadata only); the real mode rewrites the store losslessly
    (record count identical, plan checked against manifest totals)."""
    run(capsys, [
        "backup", "--config", cfg_path, "--store", store_dir,
        "--source-parquet", f"{sf_dir}/events.parquet",
    ])
    out = run(capsys, [
        "compact", "--store", store_dir, "--backup-id", "bk-cli",
        "--dry-run", "--target-bytes", "4096",
    ])
    assert out["target_bytes"] == 4096
    assert 0 < out["n_output_segments"] <= out["n_input_segments"]
    for r in out["plan"]:
        assert r["n_segments"] >= 1 and r["start_offset"] <= r["end_offset"]
        assert r["bucket_bytes"] > 0
    # greedy prefix: buckets per partition are consecutive from 0
    by_part: dict = {}
    for r in out["plan"]:
        by_part.setdefault((r["topic"], r["partition"]), []).append(r["bucket"])
    for buckets in by_part.values():
        assert sorted(buckets) == list(range(len(buckets)))

    out2 = run(capsys, ["compact", "--store", store_dir])
    assert out2["compacted"] is True
    assert out2["records_before"] == out2["records_after"] > 0

    # compact --bucketed: the layout root lands next to the store and the
    # bucketed table carries every record (content parity checked by
    # test_bucketed_layout's round-trip; here the CLI surface + counts)
    out3 = run(capsys, ["compact", "--store", store_dir, "--bucketed", "--buckets", "4"])
    try:
        assert out3["bucketed"] is True and out3["buckets"] == 4
        assert out3["records_before"] == out3["records_after"] > 0
        assert out3["layout_root"].endswith("/bucketed")
        import os
        assert os.path.exists(f"{out3['layout_root']}/bucketed_layout.json")
    finally:
        spark.sql("DROP TABLE IF EXISTS segments_b")


def test_catalog_list_and_explain(capsys, spark):
    rc = main(["catalog", "list"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "pitr_window" in out and "checked" in out and "tail" in out
    assert "driver-hash-checked" in out
    rc = main(["catalog", "explain", "--query", "pitr_window",
               "--sf-dir", "/root/testdata/sf0.001"])
    assert rc == 0
    assert "Physical Plan" in capsys.readouterr().out
    assert main(["catalog", "explain", "--query", "nope"]) == 2


def test_catalog_explain_requires_sf_dir(capsys, monkeypatch):
    """ADVICE r6: no machine-specific default — omitting --sf-dir without
    $SPARK_GRAFT_SF_DIR must be a clean usage error, not an opaque parquet
    stack from a nonexistent hardcoded path."""
    monkeypatch.delenv("SPARK_GRAFT_SF_DIR", raising=False)
    rc = main(["catalog", "explain", "--query", "pitr_window"])
    assert rc == 2
    assert "--sf-dir" in capsys.readouterr().err
