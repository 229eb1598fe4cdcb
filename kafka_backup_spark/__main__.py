"""CLI mirroring the reference's command surface (kafka-backup-cli/src/
main.rs:29-233): backup, restore, dry-run, describe, list, validate,
show-offset-mapping, offset-reset — each a thin driver over the engine
modules, file-backed so every command runs without a Kafka cluster (cluster
I/O goes through sources/kafka_io and is import-gated).

    python -m kafka_backup_spark backup  --config cfg.yaml --source-parquet events.parquet --store /data/bk
    python -m kafka_backup_spark restore --config cfg.yaml --store /data/bk --out /data/restored
    python -m kafka_backup_spark dry-run --config cfg.yaml --store /data/bk
    python -m kafka_backup_spark describe --store /data/bk --backup-id bk-1
    python -m kafka_backup_spark validate --store /data/bk --backup-id bk-1
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from kafka_backup_spark import config as cfgmod
from kafka_backup_spark import manifest as mani
from kafka_backup_spark.engine import BackupEngine, RestoreConfig, RestoreEngine
from kafka_backup_spark.manifest_store import ManifestStore, doc_to_manifest
from kafka_backup_spark.schema import local_frame
from kafka_backup_spark.session import get_spark
from kafka_backup_spark.sources.segments import SegmentStore
from kafka_backup_spark.storage_path import store_from_path


def _rows(df) -> list[dict]:
    return [r.asDict() for r in df.collect()]


def _emit(obj) -> None:
    print(json.dumps(obj, default=str))


def cmd_config(args, _doc) -> int:
    """Inspect a YAML config without touching any store or session
    (commands/config.rs env-expansion + validate-on-load semantics).
    ``config validate`` exits 0/1 with a one-line verdict; ``config show``
    prints the effective document — env-expanded, defaults resolved — so
    users see exactly what a run would use."""
    if not args.config:
        print("config requires --config", file=sys.stderr)
        return 2
    import yaml

    try:
        doc = cfgmod.load_config(args.config)
    except (cfgmod.ConfigError, OSError, ValueError, yaml.YAMLError) as exc:
        # yaml.YAMLError is NOT a ValueError — without it, malformed YAML
        # would traceback instead of producing the clean exit-1 verdict
        _emit({"valid": False, "error": str(exc)})
        return 1
    if args.action == "validate":
        _emit({"valid": True, "mode": doc.get("mode"), "backup_id": doc.get("backup_id")})
        return 0
    _emit(cfgmod.effective_config(doc))
    return 0


def cmd_backup(args, doc) -> int:
    spark = get_spark("cli-backup")
    from kafka_backup_spark.schema import events_as_records

    records = events_as_records(spark.read.parquet(args.source_parquet))
    store = store_from_path(spark, args.store)
    bcfg = cfgmod.backup_config(doc)
    engine = BackupEngine(store, bcfg)
    manifest = engine.run(records)
    mstore = ManifestStore(args.store, doc["backup_id"])
    docjson = mstore.save(
        manifest, source_cluster_id=bcfg.source_cluster, segment_span=bcfg.segment_span
    )
    _emit({"backup_id": doc["backup_id"], "segments": sum(
        len(p["segments"]) for t in docjson["topics"] for p in t["partitions"]
    )})
    return 0


def cmd_restore(args, doc) -> int:
    spark = get_spark("cli-restore")
    store = store_from_path(spark, args.store)
    engine = RestoreEngine(store, cfgmod.restore_config(doc))
    out = engine.plan(spark)
    out.write.mode("overwrite").parquet(args.out)
    _emit({"restored_records": spark.read.parquet(args.out).count(), "out": args.out})
    return 0


def cmd_dry_run(args, doc) -> int:
    spark = get_spark("cli-dryrun")
    m = ManifestStore(args.store, doc["backup_id"]).load(spark)
    if m is None:
        print("no manifest found", file=sys.stderr)
        return 1
    r = cfgmod.restore_config(doc)
    est = mani.dry_run_estimate(m, r.window_start_ms, r.window_end_ms)
    _emit({"estimate": _rows(est.orderBy("topic", "partition"))})
    return 0


def cmd_describe(args, _doc) -> int:
    spark = get_spark("cli-describe")
    m = ManifestStore(args.store, args.backup_id).load(spark)
    if m is None:
        print("no manifest found", file=sys.stderr)
        return 1
    _emit({"describe": _rows(mani.describe(m).orderBy("topic", "partition"))})
    return 0


def cmd_list(args, _doc) -> int:
    spark = get_spark("cli-list")
    import glob as globmod
    import os

    from kafka_backup_spark.fsio import _local

    out = []
    for path in sorted(globmod.glob(f"{_local(args.store)}/*/manifest.json")):
        backup_id = os.path.basename(os.path.dirname(path))
        m = ManifestStore(args.store, backup_id).load(spark)
        totals = mani.manifest_totals(m).collect()[0].asDict()
        out.append({"backup_id": backup_id, **totals})
    _emit({"backups": out})
    return 0


def _integrity_scan(spark, args, doc):
    """A11, as ``validate`` and ``evidence`` both run it: the manifest vs a
    re-scan of the store.  Returns ``(manifest doc, manifest, per-segment
    scan)``, or None when the backup has no manifest."""
    from kafka_backup_spark.validation.checks import integrity_scan

    docjson = ManifestStore(args.store, args.backup_id).load_doc()
    if docjson is None:
        print("no manifest found", file=sys.stderr)
        return None
    m = doc_to_manifest(spark, docjson)
    # the rescan must derive segment keys with the SAME span the backup used:
    # manifest doc first, then --config, else the default — a non-default span
    # otherwise reports every segment missing
    span = docjson.get("segment_span")
    if span is None and doc is not None:
        span = cfgmod.backup_config(doc).segment_span
    rescan = mani.build_manifest(store_from_path(spark, args.store).read(spark), span or 1000)
    observed = rescan.select("key", "record_count", "start_offset", "end_offset")
    # one rescan of the store: every output reads the materialized scan
    return docjson, m, integrity_scan(m, observed).localCheckpoint(eager=True)


def cmd_validate(args, doc) -> int:
    """A11-style integrity scan: manifest vs a re-scan of the store.  Exit
    code 1 when overall != passed, like ``validate-restore``."""
    spark = get_spark("cli-validate")
    from kafka_backup_spark.validation.checks import validation_summary

    scanned = _integrity_scan(spark, args, doc)
    if scanned is None:
        return 1
    _docjson, _m, scan = scanned
    summary = _rows(validation_summary(scan))[0]
    _emit({"segments": _rows(scan.orderBy("key")), "summary": summary})
    return 0 if summary["overall"] == "passed" else 1


def cmd_validate_restore(args, _doc) -> int:
    """validate-restore (commands/validate_restore.rs:5-46 + validation.rs
    full-run orchestration): post-restore validation of the TARGET as one
    entry point — load the manifest, resolve target watermarks, run A4
    message-count + A5 offset-range + A7 summary, emit the report.

    Watermark source: ``--bootstrap-servers`` fetches live earliest/latest
    via the (injectable) AdminClient; ``--target-parquet`` derives them from
    restored records (earliest = min offset, latest = max offset + 1) for
    file-backed runs.  Exit code 1 when overall != passed, mirroring the
    reference's exit-on-invalid."""
    spark = get_spark("cli-validate-restore")
    from pyspark.sql import functions as F

    from kafka_backup_spark.validation.checks import (
        message_count_check,
        offset_range_check,
        validation_summary,
    )

    m = ManifestStore(args.store, args.backup_id).load(spark)
    if m is None:
        print("no manifest found", file=sys.stderr)
        return 1
    if args.bootstrap_servers:
        from kafka_backup_spark.sources.kafka_io import fetch_watermarks

        parts = [
            (r["topic"], r["partition"])
            for r in m.select("topic", "partition").distinct().collect()
        ]
        watermarks = fetch_watermarks(spark, args.bootstrap_servers, parts)
    elif args.target_parquet:
        # materialized once: both checks, each emitted and summarized, then
        # read these few rows instead of rescanning the target four times
        watermarks = (
            spark.read.parquet(args.target_parquet)
            .groupBy("topic", "partition")
            .agg(
                F.min("offset").alias("earliest"),
                (F.max("offset") + 1).alias("latest"),
            )
            .localCheckpoint(eager=True)
        )
    else:
        print("validate-restore needs --bootstrap-servers or --target-parquet",
              file=sys.stderr)
        return 2
    counts = message_count_check(m, watermarks)
    ranges = offset_range_check(m, watermarks)
    summary = _rows(validation_summary(counts, ranges))[0]
    _emit({
        "backup_id": args.backup_id,
        "message_count": _rows(counts.orderBy("topic", "partition")),
        "offset_range": _rows(ranges.orderBy("topic", "partition")),
        "summary": summary,
    })
    return 0 if summary["overall"] == "passed" else 1


def cmd_show_offset_mapping(args, _doc) -> int:
    spark = get_spark("cli-mapping")
    from kafka_backup_spark.three_phase import build_offset_mapping, mapping_ranges

    target = spark.read.parquet(args.target_parquet)
    detailed = build_offset_mapping(target)
    _emit({"ranges": _rows(mapping_ranges(detailed).orderBy("topic", "partition"))})
    return 0


def _store_totals(spark, store: SegmentStore) -> tuple[int, int]:
    """(records, key+value bytes) snapshot of a segment store — the ONE
    definition `status --watch` and `metrics-runtime` both report.  A store
    whose path doesn't exist yet reads as empty (bootstrap: watch/export
    may start before the first backup writes); any other failure (executor
    loss, corrupt footers, stopped context) propagates — silently reporting
    0 would make an outage look like an idle store."""
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    try:
        snap = store.read(spark).agg(
            F.count(F.lit(1)).alias("records"),
            F.sum(
                F.coalesce(F.octet_length("key"), F.lit(0))
                + F.coalesce(F.octet_length("value"), F.lit(0))
            ).alias("bytes"),
        ).collect()[0]
    except AnalysisException:  # store not created yet
        return 0, 0
    return snap["records"], snap["bytes"] or 0


def cmd_status(args, _doc) -> int:
    """Status (commands/status.rs). Static mode: totals + per-topic rollup of
    a completed backup. ``--watch`` (live mode): poll the STORE itself each
    interval and emit one JSON line per tick with record/byte deltas — a
    concurrently-running backup (this process or another) shows up as
    records/sec, the file-backed analogue of the reference's offset-db
    polling."""
    spark = get_spark("cli-status")
    mstore = ManifestStore(args.store, args.backup_id)
    if args.watch:
        import time as _time

        from kafka_backup_spark.functions.formatting import format_bytes, format_number

        store = store_from_path(spark, args.store)
        prev_records = prev_bytes = prev_t = None
        for _tick in range(args.iterations):
            records, nbytes = _store_totals(spark, store)
            line = {
                "records": records,
                "records_h": format_number(records),
                "bytes": nbytes,
                "bytes_h": format_bytes(nbytes),
            }
            now = _time.monotonic()
            if prev_records is not None:
                # rate over MEASURED wall clock, not the nominal interval:
                # each tick also spends the snapshot-scan time, which grows
                # with store size and would overstate the rate (ADVICE r2)
                elapsed = max(now - prev_t, 1e-9)
                line["records_per_sec"] = round((records - prev_records) / elapsed, 1)
                line["bytes_per_sec"] = round((nbytes - prev_bytes) / elapsed, 1)
            prev_records, prev_bytes, prev_t = records, nbytes, now
            _emit(line)
            if _tick < args.iterations - 1:
                _time.sleep(args.interval)
        return 0
    docjson = mstore.load_doc()
    if docjson is None:
        print("no manifest found", file=sys.stderr)
        return 1
    m = doc_to_manifest(spark, docjson)
    totals = mani.manifest_totals(m).collect()[0].asDict()
    _emit({
        "backup_id": args.backup_id,
        "created_at": docjson.get("created_at"),
        "source_cluster_id": docjson.get("source_cluster_id"),
        "segment_span": docjson.get("segment_span"),
        **totals,
        "topics": _rows(mani.describe(m).orderBy("topic", "partition")),
    })
    return 0


def cmd_metrics_runtime(args, _doc) -> int:
    """Persistent Prometheus exporter (commands/metrics_runtime.rs): serve
    /metrics continuously while polling the store each ``--interval``, so a
    concurrently-running backup is scrapable live.  ``--iterations`` bounds
    the loop (tests use small values; the default is effectively forever),
    then the endpoint honors the reference's keep-alive (one final scrape
    window) and closes.  Emits one JSON line per tick with the bound port."""
    import time as _time

    from kafka_backup_spark.health import HealthCheck
    from kafka_backup_spark.metrics_export import MetricsServer, backup_registry

    spark = get_spark("cli-metrics")
    store = store_from_path(spark, args.store)
    registry = backup_registry()
    registry.register("kafka_backup_store_records", "records in the segment store")
    registry.register("kafka_backup_store_bytes", "key+value bytes in the segment store")
    health = HealthCheck()
    health.register_component("store_poll")
    server = MetricsServer(registry, port=args.port, health=health)
    port = server.start()
    try:
        for _tick in range(args.iterations):
            try:
                records, nbytes = _store_totals(spark, store)
                health.mark_healthy("store_poll")
            except Exception as exc:
                # keep serving: /health flips unhealthy (503) instead of the
                # exporter dying mid-scrape or silently reporting an empty
                # store; the gauges keep their last good values
                health.mark_unhealthy("store_poll", str(exc))
                _emit({"port": port, "tick": _tick, "error": str(exc)})
                if _tick < args.iterations - 1:
                    _time.sleep(args.interval)
                continue
            registry.set("kafka_backup_store_records", records)
            registry.set("kafka_backup_store_bytes", nbytes)
            _emit({"port": port, "tick": _tick, "records": records, "bytes": nbytes})
            if _tick < args.iterations - 1:
                _time.sleep(args.interval)
    finally:
        server.stop(keep_alive_seconds=args.keep_alive)
    return 0


def cmd_catalog(args, _doc) -> int:
    """Operator-catalog introspection: ``catalog list`` prints every
    oracle-paired query with its driver-window position; ``catalog explain
    --query NAME`` prints the formatted physical plan Catalyst chose for it
    against ``--sf-dir`` — the plan-first audit loop SCALE.md's tables come
    from, exposed as a CLI surface so an operator can check pushdown /
    broadcast / exchange shape on their own data."""
    from kafka_backup_spark import catalog as cat

    names = list(cat.ALL_QUERIES)
    if args.action == "list":
        for i, n in enumerate(names):
            window = "checked" if i < 50 else "tail"
            oracle = "oracle" if cat.ALL_QUERIES[n][1] is not None else "rows-only"
            print(f"{n:30s} {window:8s} {oracle}")
        print(f"# {len(names)} queries; first 50 are driver-hash-checked")
        return 0
    if not args.query or args.query not in cat.ALL_QUERIES:
        print(
            f"catalog explain: unknown query {args.query!r} — run "
            "`catalog list` for names",
            file=sys.stderr,
        )
        return 2
    if not args.sf_dir:
        # a usage message, not an opaque parquet-read stack on whatever a
        # hardcoded default would point at on this host (ADVICE r6)
        print(
            "catalog explain: --sf-dir is required (or set $SPARK_GRAFT_SF_DIR)"
            " — a directory holding the parquet tables to plan against",
            file=sys.stderr,
        )
        return 2
    from kafka_backup_spark.session import get_spark

    spark = get_spark("catalog-explain")
    df = cat.queries()[args.query](spark, args.sf_dir)
    df.explain("formatted")
    return 0


def cmd_corpus(args, _doc) -> int:
    """Versioned corpus snapshots (pipeline extension — corpus_store.py):
    ``corpus add`` ingests a documents parquet as a new version keeping only
    never-seen content; ``corpus list`` prints the lineage manifest."""
    from kafka_backup_spark.corpus_store import CorpusStore

    store = CorpusStore(args.store)
    if args.action == "list":
        _emit({"versions": store.versions()})
        return 0
    spark = get_spark("cli-corpus")
    if args.action == "stats":
        import os as _os

        from pyspark.sql import functions as F

        if getattr(args, "cluster_balance", False):
            # semantic cluster balance over an embeddings parquet (M10; the
            # corpus store holds text, embeddings arrive as a side table the
            # user computed for it) — same rollup the catalog query runs
            if not args.embeddings_parquet:
                print(
                    "corpus stats --cluster-balance requires "
                    "--embeddings-parquet (vec_id, embedding[, label])",
                    file=sys.stderr,
                )
                return 2
            from kafka_backup_spark.queries.textops import cluster_balance_frame

            emb = spark.read.parquet(args.embeddings_parquet)
            if "label" not in emb.columns:  # unlabeled: purity is trivial 1.0
                emb = emb.withColumn("label", F.lit(0))
            n = emb.count()
            rollup = cluster_balance_frame(
                spark, emb, n, f"cli:{args.embeddings_parquet}"
            ).orderBy("cell")
            _emit({"cluster_balance": _rows(rollup), "n_vectors": n})
            return 0
        if not _os.path.isdir(store.corpus_path()):
            # never-written store: no corpus dir yet — empty document in the
            # SHAPE the caller asked for (ADVICE r7: a --dup-spans caller
            # expects the dup_spans document, not the stats rollup), not a
            # traceback.  (Only this case; a real read failure on an
            # existing corpus must surface, not exit 0 with empty stats.)
            if getattr(args, "dup_spans", False):
                _emit({
                    "dup_spans": {"n_docs": 0, "docs_with_dup_spans": 0, "dup_chars": 0},
                    "top_docs": [],
                })
            else:
                _emit({"stats": []})
            return 0
        if getattr(args, "dup_spans", False):
            # duplicated-span extents over the stored corpus (M10b): summary
            # + the worst offenders, so an operator sees both the corpus-
            # level contamination and where to look.  Served from the
            # PERSISTED span index when every version has one (ingests with
            # --excise-spans, or a store.ensure_span_index retrofit) — at
            # corpus scale that skips re-hashing every text window; the
            # scan fallback keeps partially-indexed stores correct.
            from kafka_backup_spark.queries.pipeline import dup_span_extents_frame

            if store.span_index_covers():
                source = "index"
                ext = store.dup_span_extents_from_index(
                    spark, with_clean_text=bool(args.write_clean)
                )
            else:
                source = "scan"
                ext = dup_span_extents_frame(
                    store.read_corpus(spark).select("doc_id", "text"),
                    with_clean_text=bool(args.write_clean),
                )
            if args.write_clean:
                # materialize the excision (the Lee et al. pipeline's real
                # output): cleaned corpus parquet, spans removed
                ext.select("doc_id", "n_spans", "dup_chars", "clean_text").write.mode(
                    "overwrite"
                ).parquet(args.write_clean)
                ext = ext.drop("clean_text")
            summary = ext.agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum((F.col("n_spans") > 0).cast("long")).alias("docs_with_dup_spans"),
                F.sum("dup_chars").alias("dup_chars"),
            ).collect()[0]
            top = ext.filter(F.col("n_spans") > 0).orderBy(
                F.col("dup_chars").desc(), "doc_id"
            ).limit(10)
            _emit({
                "dup_spans": summary.asDict(),
                "top_docs": _rows(top),
                "source": source,
            })
            return 0
        corpus = store.read_corpus(spark)
        rollup = (
            corpus.groupBy("version", "lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.length("text")).alias("n_chars"),
            )
            .orderBy("version", "lang")
        )
        _emit({"stats": _rows(rollup)})
        return 0
    entry = store.write_version(
        spark.read.parquet(args.source_parquet),
        near_dedup=args.near_dedup,
        excise_spans=getattr(args, "excise_spans", False),
    )
    _emit(entry)
    return 0


def _load_groups(spark, path: str):
    """Group offsets from a JSON file: [{group_id, topic, partition, offset}]."""
    import json as jsonmod

    with open(path) as fh:
        rows = jsonmod.load(fh)
    return local_frame(
        spark,
        [(r["group_id"], r["topic"], int(r["partition"]), int(r["offset"])) for r in rows],
        "group_id string, topic string, partition int, offset long",
    )


def _reset_plan(spark, args):
    from kafka_backup_spark.three_phase import build_offset_mapping, mapping_ranges, run_phase3

    groups = _load_groups(spark, args.groups_json)
    target = spark.read.parquet(args.target_parquet)
    detailed = build_offset_mapping(target)
    return run_phase3(groups, detailed, mapping_ranges(detailed))


def _cli_client_conf(args) -> dict[str, str]:
    """Shared SASL/SSL flags → librdkafka admin-client conf
    (commands/security_args.rs twin: one flag set for the whole
    offset-reset family, env-var credential conventions preserved)."""
    from kafka_backup_spark.security import rdkafka_options, security_from_cli

    return rdkafka_options(
        security_from_cli(
            security_protocol=getattr(args, "security_protocol", None),
            sasl_mechanism=getattr(args, "sasl_mechanism", None),
            sasl_keytab=getattr(args, "sasl_keytab", None),
            sasl_krb5_config=getattr(args, "sasl_krb5_config", None),
            sasl_kerberos_service_name=getattr(args, "sasl_kerberos_service_name", None),
        )
    )


def cmd_offset_reset(args, _doc) -> int:
    """offset-reset plan|script|execute|bulk (main.rs:560-615;
    commands/offset_reset_bulk.rs:38).

    plan:    J3 reset plan as JSON (offset_reset.rs generate_json_report)
    script:  kafka-consumer-groups.sh script (offset_reset.rs:450-518)
    execute: commit via AdminClient — cluster-gated; plan/script never need one
    bulk:    parallel commit fan-out with retry/backoff + p50/p99 report
             (offset_automation.rs:320-620)
    """
    spark = get_spark("cli-offset-reset")
    plan, summary = _reset_plan(spark, args)
    client_conf = _cli_client_conf(args)
    if args.action == "bulk":
        from kafka_backup_spark.offset_reset_bulk import (
            BulkResetConfig,
            bulk_reset_offsets,
            performance_stats,
        )
        from kafka_backup_spark.sources.kafka_io import _admin

        mappings = [
            (r["group_id"], r["topic"], r["partition"], r["target_offset"])
            for r in plan.collect()
            if r["target_offset"] is not None
        ]
        cfg = BulkResetConfig(
            max_concurrent_requests=args.max_concurrent,
            max_retry_attempts=args.max_retries,
        )
        report = bulk_reset_offsets(
            args.bootstrap_servers,
            mappings,
            cfg,
            admin_factory=lambda bs: _admin(bs, client_conf),
        )
        report["performance"] = performance_stats(spark, report)
        del report["latencies_ms"]  # raw samples fold into the percentiles
        _emit(report)
        return 0 if report["status"] != "failed" else 1
    if args.action == "plan":
        _emit({
            "plan": _rows(plan.orderBy("group_id", "topic", "partition")),
            "summary": _rows(summary.orderBy("group_id")),
        })
        return 0
    if args.action == "script":
        lines = [
            "#!/bin/bash",
            "# Offset Reset Script",
            f"# Backup ID: {args.backup_id or ''}",
            "#",
            "# WARNING: This script will reset consumer group offsets.",
            "# Review the commands below before executing.",
            "#",
            "set -e",
            "",
        ]
        bootstrap = args.bootstrap_servers or "localhost:9092"
        for r in plan.orderBy("group_id", "topic", "partition").collect():
            if r["target_offset"] is None:
                lines.append(
                    f"# UNRESOLVED: {r['group_id']} {r['topic']}:{r['partition']}"
                    f" source_offset={r['source_offset']}"
                )
                continue
            lines += [
                f"# Partition {r['partition']}: source_offset={r['source_offset']}"
                f" -> target_offset={r['target_offset']}",
                f"kafka-consumer-groups.sh --bootstrap-server {bootstrap} \\",
                f"  --group {r['group_id']} \\",
                f"  --topic {r['topic']}:{r['partition']} \\",
                f"  --reset-offsets --to-offset {r['target_offset']} --execute",
                "",
            ]
        lines.append('echo "Offset reset complete!"')
        script = "\n".join(lines) + "\n"
        if args.out:
            with open(args.out, "w") as fh:
                fh.write(script)
            _emit({"script": args.out, "commands": sum(1 for l in lines if l.startswith("kafka-consumer-groups"))})
        else:
            print(script)
        return 0
    # execute: needs a live cluster + client library
    from kafka_backup_spark.sources.kafka_io import commit_group_offsets

    results = commit_group_offsets(
        args.bootstrap_servers,
        [
            (r["group_id"], r["topic"], r["partition"], r["target_offset"])
            for r in plan.collect()
            if r["target_offset"] is not None
        ],
        client_conf=client_conf,
    )
    _emit({"committed": results})
    return 0


def cmd_three_phase_restore(args, doc) -> int:
    """Three-phase restore driver (restore/three_phase.rs:101-266): restore
    with provenance headers on → re-read target → offset mapping → reset
    plan; file-backed end to end."""
    spark = get_spark("cli-three-phase")
    from kafka_backup_spark.three_phase import build_offset_mapping, mapping_ranges, run_phase3

    rcfg = cfgmod.restore_config(doc) if doc is not None else RestoreConfig()
    rcfg.inject_headers = True  # phase 1 provenance is the point
    engine = RestoreEngine(store_from_path(spark, args.store), rcfg)
    out = engine.plan(spark)
    out.write.mode("overwrite").parquet(args.out)
    target = spark.read.parquet(args.out)
    detailed = build_offset_mapping(target)
    # emitted AND fed to phase 3: one target scan for both
    ranges = mapping_ranges(detailed).localCheckpoint(eager=True)
    result = {
        "restored_records": target.count(),
        "out": args.out,
        "mapping_ranges": _rows(ranges.orderBy("topic", "partition")),
    }
    if rcfg.repartition_to is not None:
        # reference three_phase.rs:119-131: no valid source->target offset
        # mapping exists for repartitioned data - phase 3 must be skipped
        result["warnings"] = [
            "Repartitioned topics skipped for offset reset: "
            "source->target offset mapping is not available for repartitioned data"
        ]
    elif args.groups_json:
        plan, summary = run_phase3(_load_groups(spark, args.groups_json), detailed, ranges)
        result["plan"] = _rows(plan.orderBy("group_id", "topic", "partition"))
        result["summary"] = _rows(summary.orderBy("group_id"))
    _emit(result)
    return 0


def cmd_offset_rollback(args, _doc) -> int:
    """offset-rollback snapshot|plan (main.rs:639+): capture an immutable
    group-offset snapshot; later diff live offsets against it."""
    spark = get_spark("cli-rollback")
    from kafka_backup_spark.offset_rollback import OffsetSnapshotStore

    store = OffsetSnapshotStore(args.store)
    if args.action == "snapshot":
        store.capture(_load_groups(spark, args.groups_json), args.snapshot_id)
        _emit({"snapshot_id": args.snapshot_id})
        return 0
    live = _load_groups(spark, args.groups_json)
    plan = store.rollback_plan(spark, args.snapshot_id, live)
    _emit({"rollback": _rows(plan.orderBy("group_id", "topic", "partition"))})
    return 0


def cmd_snapshot_groups(args, _doc) -> int:
    """snapshot-groups capture|show (commands/snapshot_groups.rs:38-160).

    capture: list groups on the source cluster (injectable admin), keep
             committed offsets on the manifest's backed-up topics, write
             {backup_id}/consumer-groups-snapshot.json (reference wire shape)
    show:    read the snapshot from the store and render per-group offsets
    """
    import time as _time

    from kafka_backup_spark import group_snapshot as gs

    if args.action == "capture":
        spark = get_spark("cli-snapshot-groups")
        m = ManifestStore(args.store, args.backup_id).load(spark)
        if m is None:
            print("no manifest found", file=sys.stderr)
            return 1
        backed = {r["topic"] for r in m.select("topic").distinct().collect()}
        from kafka_backup_spark.sources.kafka_io import _admin

        conf = _cli_client_conf(args)
        rows = gs.capture_group_offsets(
            args.bootstrap_servers, backed, admin_factory=lambda bs: _admin(bs, conf)
        )
        doc = gs.build_snapshot_doc(rows, int(_time.time() * 1000))
        path = gs.write_snapshot(args.store, args.backup_id, doc)
        _emit({"snapshot": path, "groups": len(doc["groups"]),
               "offsets": sum(len(p) for g in doc["groups"]
                              for p in g["offsets"].values())})
        return 0
    # show: pure file read — no Spark session needed
    doc = gs.read_snapshot(args.store, args.backup_id)
    if doc is None:
        print("no consumer-groups snapshot found", file=sys.stderr)
        return 1
    _emit({
        "snapshot_time": doc["snapshot_time"],
        "groups": [
            {
                "group_id": g["group_id"],
                "topics": len(g["offsets"]),
                "offsets": [
                    {"topic": t, "partition": int(p), "offset": o}
                    for t, parts in sorted(g["offsets"].items())
                    for p, o in sorted(parts.items(), key=lambda kv: int(kv[0]))
                ],
            }
            for g in doc["groups"]
        ],
    })
    return 0


def cmd_evidence(args, doc) -> int:
    """Evidence report (evidence/report.rs + signing.rs): validate the backup,
    assemble the signed report document, optionally write report.json + .sig."""
    import hashlib
    import time

    spark = get_spark("cli-evidence")
    from pyspark.sql import functions as F

    from kafka_backup_spark import evidence
    from kafka_backup_spark.validation.checks import validation_summary

    scanned = _integrity_scan(spark, args, doc)
    if scanned is None:
        return 1
    docjson, m, scan = scanned
    summary = _rows(validation_summary(scan))[0]
    check = m.select(
        "topic", "partition",
        F.col("record_count").alias("expected_count"),
        F.col("record_count").alias("restored_count"),
    )
    digest = evidence.integrity_digest(check).collect()[0]["sha256_hex"]
    totals = mani.manifest_totals(m).collect()[0].asDict()
    manifest_sha = hashlib.sha256(
        json.dumps(docjson, sort_keys=True, separators=(",", ":")).encode()
    ).hexdigest()
    report = evidence.build_report(
        args.backup_id,
        summary,
        digest,
        backup_info={"source_cluster_id": docjson.get("source_cluster_id"), **totals},
        generated_at=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        manifest_sha256=manifest_sha,
    )
    out: dict = {"report": report}
    bundle = None
    if args.sign_key:
        with open(args.sign_key, "rb") as fh:
            priv = fh.read()
        bundle = evidence.sign_report(report, priv)
        out["signature"] = bundle
        if args.out:
            with open(args.out, "w") as fh:
                json.dump(report, fh, sort_keys=True, separators=(",", ":"))
            with open(args.out + ".sig", "w") as fh:
                fh.write(evidence.to_sig_file(bundle))
            out["files"] = [args.out, args.out + ".sig"]
    if args.pdf:
        from kafka_backup_spark.evidence_pdf import write_report_pdf

        out.setdefault("files", []).append(
            write_report_pdf(args.pdf, report, bundle)
        )
    _emit(out)
    return 0


def cmd_compact(args, _doc) -> int:
    """Operational segment compaction (the reference's 128 MB segment
    discipline re-applied to an incrementally-grown store).  ``--dry-run``
    prints the greedy-prefix packing plan from the persisted manifest —
    pure metadata, no record data touched; without it the store is
    rewritten via :meth:`SegmentStore.compact` (write-new → swap)."""
    spark = get_spark("cli-compact")
    from kafka_backup_spark.manifest import compaction_plan

    if args.dry_run:
        if not args.backup_id:
            print("compact --dry-run requires --backup-id (manifest to plan from)",
                  file=sys.stderr)
            return 2
        m = ManifestStore(args.store, args.backup_id).load(spark)
        if m is None:
            print("no manifest found", file=sys.stderr)
            return 1
        plan = compaction_plan(m, args.target_bytes).orderBy(
            "topic", "partition", "bucket"
        )
        rows = _rows(plan)
        _emit({
            "target_bytes": args.target_bytes,
            "n_output_segments": len(rows),
            "n_input_segments": sum(r["n_segments"] for r in rows),
            "plan": rows,
        })
        return 0
    store = SegmentStore(args.store)
    before = store.read(spark).count()
    if args.bucketed:
        # compact-to-bucketed (r13): land the records as a co-partitioned
        # layout root the analytics session re-attaches — the layout
        # produced at the ingest boundary, like the reference's
        # partition-aligned segments (backup/engine.rs:1156-1162)
        entry = store.compact_bucketed(spark, buckets=args.buckets)
        after = spark.table(next(iter(entry["tables"].values()))["name"]).count()
        _emit({
            "compacted": True, "bucketed": True,
            "buckets": entry["buckets"],
            "layout_root": f"{store.root}/bucketed",
            "records_before": before, "records_after": after,
        })
        return 0 if before == after else 1
    store.compact(spark)
    after = store.read(spark).count()
    _emit({"compacted": True, "records_before": before, "records_after": after})
    return 0 if before == after else 1


COMMANDS = {
    "backup": cmd_backup,
    "restore": cmd_restore,
    "dry-run": cmd_dry_run,
    "describe": cmd_describe,
    "list": cmd_list,
    "status": cmd_status,
    "validate": cmd_validate,
    "validate-restore": cmd_validate_restore,
    "show-offset-mapping": cmd_show_offset_mapping,
    "offset-reset": cmd_offset_reset,
    "three-phase-restore": cmd_three_phase_restore,
    "offset-rollback": cmd_offset_rollback,
    "snapshot-groups": cmd_snapshot_groups,
    "evidence": cmd_evidence,
    "config": cmd_config,
    "metrics-runtime": cmd_metrics_runtime,
    "corpus": cmd_corpus,
    "catalog": cmd_catalog,
    "compact": cmd_compact,
}

# commands that inspect local files only — no segment/manifest store needed
_NO_STORE = {"config", "catalog"}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="kafka_backup_spark")
    ap.add_argument("command", choices=sorted(COMMANDS))
    ap.add_argument("action", nargs="?", help="subaction: offset-reset plan|script|execute; offset-rollback snapshot|plan")
    ap.add_argument("--config", help="YAML config (reference document shape)")
    ap.add_argument("--store", help="segment/manifest store root (required for every command except `config`)")
    ap.add_argument("--backup-id", help="backup id (for describe/status/validate)")
    ap.add_argument("--source-parquet", help="backup: source events parquet")
    ap.add_argument("--target-parquet", help="offset mapping: restored records parquet")
    ap.add_argument("--out", help="restore/three-phase: output parquet; offset-reset script: file path")
    ap.add_argument("--groups-json", help="consumer group offsets JSON [{group_id, topic, partition, offset}]")
    ap.add_argument("--snapshot-id", help="offset-rollback: snapshot id")
    ap.add_argument("--sign-key", help="evidence: ECDSA P-256 private key PEM path")
    ap.add_argument("--pdf", help="evidence: also render the report as PDF to this path")
    ap.add_argument("--watch", action="store_true", help="status: live polling mode")
    ap.add_argument("--dry-run", action="store_true",
                    help="compact: print the packing plan from the manifest, touch nothing")
    ap.add_argument("--target-bytes", type=int, default=128 << 20,
                    help="compact --dry-run: output segment size target (default 128 MB)")
    ap.add_argument("--bucketed", action="store_true",
                    help="compact: land the records as a bucketed co-partitioned "
                         "layout root ({store}/bucketed) instead of rewriting the "
                         "partitioned store — (topic, partition) joins/rollups and "
                         "offset windows read it exchange- and sort-free")
    ap.add_argument("--buckets", type=int,
                    help="compact --bucketed: bucket count (default: input-"
                         "proportional, ~24 MB/bucket clamped to parallelism)")
    ap.add_argument("--interval", type=float, default=2.0, help="status --watch: seconds between ticks")
    ap.add_argument("--iterations", type=int, default=2**31, help="status --watch / metrics-runtime: tick count (tests use small values)")
    ap.add_argument("--port", type=int, default=0, help="metrics-runtime: bind port (0 = ephemeral)")
    ap.add_argument("--keep-alive", type=float, default=0.0, help="metrics-runtime: seconds the endpoint stays up after the loop ends")
    ap.add_argument("--bootstrap-servers", help="offset-reset script/execute/bulk: target cluster")
    ap.add_argument("--max-concurrent", type=int, default=50, help="offset-reset bulk: parallel group commits")
    ap.add_argument("--max-retries", type=int, default=3, help="offset-reset bulk: per-partition retry attempts")
    # shared SASL/SSL flags for the admin-client commands (security_args.rs
    # twin; env fallbacks KAFKA_SASL_MECHANISM / KAFKA_SASL_KEYTAB /
    # KAFKA_KRB5_CONFIG / KAFKA_SASL_KERBEROS_SERVICE_NAME, credentials via
    # KAFKA_USERNAME / KAFKA_PASSWORD, CA via KAFKA_SSL_CA_CERT)
    ap.add_argument("--security-protocol", help="PLAINTEXT | SSL | SASL_SSL | SASL_PLAINTEXT")
    ap.add_argument("--sasl-mechanism", help="PLAIN | SCRAM-SHA256 | SCRAM-SHA512 | GSSAPI")
    ap.add_argument("--sasl-keytab", help="GSSAPI: keytab path (else kinit ticket cache)")
    ap.add_argument("--sasl-krb5-config", help="GSSAPI: krb5.conf path")
    ap.add_argument("--sasl-kerberos-service-name", help="GSSAPI: broker service name (default kafka)")
    ap.add_argument("--near-dedup", action="store_true",
                    help="corpus add: also drop LSH band-matches of any stored doc (persistent signature index)")
    ap.add_argument("--excise-spans", action="store_true",
                    help="corpus add: cut spans the corpus already stores out of incoming docs (persistent span-hash index)")
    ap.add_argument("--dup-spans", action="store_true",
                    help="corpus stats: duplicated-span extents summary + worst offenders (Lee et al. exact-substring signal)")
    ap.add_argument("--cluster-balance", action="store_true",
                    help="corpus stats: semantic cluster-balance rollup over --embeddings-parquet")
    ap.add_argument("--embeddings-parquet",
                    help="corpus stats --cluster-balance: parquet with (vec_id, embedding[, label])")
    ap.add_argument("--write-clean",
                    help="corpus stats --dup-spans: also write the span-excised corpus parquet here")
    ap.add_argument("--query", help="catalog explain: catalog query name")
    # no machine-specific absolute default (ADVICE r6): on another host that
    # path silently points nowhere and dies with an opaque parquet error.
    # Env var fallback keeps the driver/test harness one-liner working.
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="catalog explain: parquet table directory to plan against "
                         "(default: $SPARK_GRAFT_SF_DIR; required if unset)")
    args = ap.parse_args(argv)

    if args.command == "offset-reset" and args.action not in {"plan", "script", "execute", "bulk"}:
        ap.error("offset-reset requires an action: plan | script | execute | bulk")
    if args.command == "offset-rollback" and args.action not in {"snapshot", "plan"}:
        ap.error("offset-rollback requires an action: snapshot | plan")
    if args.command == "snapshot-groups" and args.action not in {"capture", "show"}:
        ap.error("snapshot-groups requires an action: capture | show")
    if args.command == "corpus" and args.action not in {"add", "list", "stats"}:
        ap.error("corpus requires an action: add | list | stats")
    if args.command == "catalog" and args.action not in {"list", "explain"}:
        ap.error("catalog requires an action: list | explain")
    if args.command == "config":
        if args.action not in {"show", "validate"}:
            ap.error("config requires an action: show | validate")
        # config does its own load so invalid YAML is a clean exit-1 verdict,
        # not a traceback from the shared preload below
        return cmd_config(args, None)
    if not args.store and args.command not in _NO_STORE:
        ap.error("--store is required")
    if args.store:
        # resolve the store grammar ONCE so segments, manifests, snapshots
        # and the corpus store all target the same resolved filesystem
        # (review finding: ManifestStore previously got the raw s3://
        # scheme while segments went to s3a://, splitting the backup)
        from kafka_backup_spark.storage_path import StoragePathError, resolve_cli_store

        try:
            args.store = resolve_cli_store(args.store)
        except StoragePathError as e:
            ap.error(str(e))

    doc = None
    if args.config:
        doc = cfgmod.load_config(args.config)
        if not args.backup_id:
            args.backup_id = doc.get("backup_id")
    # commands that read the config document unconditionally (backup/restore
    # engine knobs, backup_id routing) must fail with a usage error, not an
    # AttributeError deep inside config.py
    _NEEDS_CONFIG = {"backup", "restore", "dry-run"}
    if doc is None and args.command in _NEEDS_CONFIG:
        ap.error(f"{args.command} requires --config")
    return COMMANDS[args.command](args, doc)


if __name__ == "__main__":
    raise SystemExit(main())
