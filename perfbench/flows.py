"""The product flows the benchmark drives, one class per workload.

Each flow calls the package's public functions in the order the CLI does.
``prepare`` builds the inputs (part of set-up), ``iteration`` runs one
closed-loop pass of the flow and returns its step times, ``check``
compares the pass's outputs with an independent DuckDB computation, and
``fragments`` (traced runs only) re-runs each layer alone on the same plan
so a layer's cost is the difference between neighbouring fragments.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
from dataclasses import dataclass, field

import numpy as np

from perfbench import gen
from perfbench.trace import Cost, cost, mark, metric_sum

BACKUP_ID = "bench"
SEGMENT_SPAN = 1000


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def parquet_bytes(root: str) -> int:
    """On-disk bytes of the data files under ``root`` (no logs, no CRCs)."""
    total = 0
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if f.endswith(".parquet") and not f.startswith(("_", ".")))
    return total


@dataclass
class Pass:
    """One iteration's measured steps (seconds) and sizes."""

    step: Cost  # the ingest step: records in to manifest saved
    validate: Cost
    flow: Cost
    payload_bytes: int
    records: int
    written_bytes: int
    out: dict = field(default_factory=dict)  # paths and results for the checks
    layers: dict = field(default_factory=dict)  # traced runs: per-layer values


# -- shared steps, as the CLI runs them ----------------------------------------


def integrity_validate(spark, root: str) -> dict:
    """``python -m kafka_backup_spark validate`` (cmd_validate)."""
    from kafka_backup_spark import manifest as mani
    from kafka_backup_spark.manifest_store import ManifestStore
    from kafka_backup_spark.storage_path import store_from_path
    from kafka_backup_spark.validation.checks import integrity_scan, validation_summary

    mstore = ManifestStore(root, BACKUP_ID)
    m = mstore.load(spark)
    span = (mstore.load_doc() or {}).get("segment_span")
    rescan = mani.build_manifest(store_from_path(spark, root).read(spark), span or SEGMENT_SPAN)
    scan = integrity_scan(m, rescan.select("key", "record_count", "start_offset", "end_offset"))
    segments = scan.orderBy("key").collect()
    summary = validation_summary(scan).collect()[0].asDict()
    valid = sum(r["status"] == "valid" for r in segments)
    return {"segments": len(segments), "valid": valid, "summary": summary}


def check_store(con, name: str, root: str, input_files: list[str]) -> list[tuple[str, bool]]:
    """The store re-read by DuckDB holds exactly the input records, and the
    saved manifest's per-partition count and offset range match a DuckDB
    group-by of the input."""
    store_glob = f"{root}/topics/topic=*/partition=*/*.parquet"
    same = gen.checksum(con, store_glob, hive=True) == gen.checksum(con, input_files)
    with open(f"{root}/{BACKUP_ID}/manifest.json") as fh:
        doc = json.load(fh)
    got = sorted(
        (t["name"], p["partition"], sum(s["record_count"] for s in p["segments"]),
         min(s["start_offset"] for s in p["segments"]), max(s["end_offset"] for s in p["segments"]))
        for t in doc["topics"] for p in t["partitions"]
    )
    want = sorted(con.sql(
        f"""SELECT topic, partition, count(*), min("offset"), max("offset")
            FROM read_parquet({input_files}) GROUP BY ALL"""
    ).fetchall())
    return [(f"{name}.store_checksum", same), (f"{name}.manifest_partitions", got == want)]


def check_integrity(name: str, root: str, result: dict) -> tuple[str, bool]:
    """Every segment the saved manifest lists re-scans as valid."""
    with open(f"{root}/{BACKUP_ID}/manifest.json") as fh:
        doc = json.load(fh)
    listed = sum(len(p["segments"]) for t in doc["topics"] for p in t["partitions"])
    s = result["summary"]
    return (f"{name}.integrity_all_valid",
            s["overall"] == "passed" and listed == s["total"] == result["segments"] == result["valid"])


def manifest_layers(root: str, manifest_rows: int) -> dict:
    with open(f"{root}/{BACKUP_ID}/manifest.json") as fh:
        doc = json.load(fh)
    claimed = sum(s["compressed_size"] for t in doc["topics"] for p in t["partitions"]
                  for s in p["segments"])
    committed = parquet_bytes(f"{root}/topics")
    return {
        "manifest.segments": manifest_rows,
        "manifest.compressed_size_error": abs(claimed - committed) / committed,
        "manifest_store.doc_bytes": os.path.getsize(f"{root}/{BACKUP_ID}/manifest.json"),
    }


def validation_fragments(spark, tr, root: str, layers: dict) -> None:
    """Store scan alone, then the validate rescan (scan + manifest
    aggregation) alone; their SQL metrics give the read-side counters."""
    from kafka_backup_spark import manifest as mani
    from kafka_backup_spark.sources.segments import SegmentStore

    store = SegmentStore(root)
    with tr.span("fragment.store_scan") as s:
        noop(store.read(spark))
    rows = tr.sql_metrics(s)
    with tr.span("fragment.rescan") as r:
        noop(mani.build_manifest(store.read(spark), SEGMENT_SPAN))
    layers["segments.read_s"] = s.seconds
    layers["segments.files_read"] = metric_sum(rows, "Scan parquet", "number of files read")
    layers["segments.bytes_read"] = metric_sum(rows, "Scan parquet", "size of files read")
    layers["validation.rescan_s"] = r.seconds


# -- workloads --------------------------------------------------------------------


class BackupBulk:
    """Batch snapshot backup as cmd_backup runs it (``BackupEngine.run`` +
    ``ManifestStore.save``), then the integrity validate (cmd_validate).

    ~200 B records (16 B keys, 184 B values, half of each value text), uniform
    keys and contiguous offsets over 8 topics x 16 partitions: the shape of
    the ROADMAP's re-anchor measurement, at an eighth of its 4M records.
    Warm, on 4 cores, 500k records back up at 5.8 MB/s/core against 7.0 at
    1M and the ROADMAP's 7.2 at 4M; 1M would not fit a traced run into the
    time a run may take."""

    name = "backup-bulk"
    why = ("batch BackupEngine.run + manifest save + integrity validate of 500k ~200 B uniform records "
           "over 8x16 partitions: writer, parquet encoding, persist, header codecs")
    shape = gen.Shape(records=500_000, key_bytes=16, value_bytes=184, compressibility=0.5,
                      topics=8, partitions=16, files=8)

    def prepare(self, spark, work: str, seed: int) -> None:
        self.data = gen.generate(self.shape, seed, f"{work}/input")

    def iteration(self, spark, tr, it_dir: str) -> Pass:
        from kafka_backup_spark.engine import BackupConfig, BackupEngine
        from kafka_backup_spark.manifest_store import ManifestStore
        from kafka_backup_spark.storage_path import store_from_path

        store = store_from_path(spark, it_dir)
        t0 = mark()
        with tr.span("engine.backup") as run_span:
            manifest = BackupEngine(store, BackupConfig()).run(spark.read.parquet(*self.data.files))
        with tr.span("manifest_store.save") as save_span:
            ManifestStore(it_dir, BACKUP_ID).save(manifest, segment_span=SEGMENT_SPAN)
        t1 = mark()
        with tr.span("validation.integrity") as val_span:
            result = integrity_validate(spark, it_dir)
        t2 = mark()
        p = Pass(cost(t0, t1), cost(t1, t2), cost(t0, t2), self.data.payload_bytes, self.data.records,
                 parquet_bytes(f"{it_dir}/topics"), out={"root": it_dir, "validate": result})
        if tr.enabled:
            rows = tr.sql_metrics(run_span)
            p.layers.update({
                "engine.backup_s": run_span.seconds,
                "segments.files_written": metric_sum(rows, "", "number of written files"),
                "segments.bytes_written": metric_sum(rows, "", "written output"),
                "manifest_store.save_s": save_span.seconds,
                "validation.integrity_s": val_span.seconds,
                **manifest_layers(it_dir, manifest.count()),
            })
        return p

    def fragments(self, spark, tr, p: Pass, scratch: str) -> None:
        """r15/r16 fragment method: raw scan, plan, write alone, manifest
        aggregation alone, each to a noop sink; a layer is the difference to
        its input.  Then the store scan and the validate rescan alone."""
        from kafka_backup_spark import manifest as mani
        from kafka_backup_spark.engine import BackupConfig, BackupEngine
        from kafka_backup_spark.sources.segments import SegmentStore

        engine = BackupEngine(SegmentStore(scratch), BackupConfig())
        records = spark.read.parquet(*self.data.files)
        with tr.span("fragment.scan") as scan:
            noop(records)
        with tr.span("fragment.plan") as plan:
            noop(engine.plan(records))
        with tr.span("fragment.write") as write:
            engine.store.write(engine.plan(records))
        with tr.span("fragment.manifest") as build:
            noop(mani.build_manifest(engine.plan(records), SEGMENT_SPAN))
        persisted = engine.plan(records).persist()
        try:
            persisted.count()
            infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
            held = sum(i.memSize() + i.diskSize() for i in infos)
        finally:
            persisted.unpersist(blocking=True)
        p.layers.update({
            "projections.backup_headers_s": plan.seconds - scan.seconds,
            "segments.write_s": write.seconds - plan.seconds,
            "manifest.build_s": build.seconds - plan.seconds,
            "engine.persist_mb": held / 1e6,
        })
        validation_fragments(spark, tr, p.out["root"], p.layers)

    def check(self, con, p: Pass) -> list[tuple[str, bool]]:
        return [*check_store(con, self.name, p.out["root"], self.data.files),
                check_integrity(self.name, p.out["root"], p.out["validate"])]


def murmur2_partition(keys: np.ndarray, n: int) -> np.ndarray:
    """Kafka's default partitioner for fixed-width keys, ``keys`` an
    (rows, width) uint8 array: (murmur2(key) & 0x7fffffff) % n."""
    m, seed = np.uint32(0x5BD1E995), np.uint32(0x9747B28C)
    rows, width = keys.shape
    with np.errstate(over="ignore"):
        h = np.full(rows, seed ^ np.uint32(width), dtype=np.uint32)
        n4 = width & ~3
        words = keys[:, :n4].copy().view("<u4")
        for w in range(n4 // 4):
            k = words[:, w] * m
            k ^= k >> np.uint32(24)
            h = (h * m) ^ (k * m)
        rem = width & 3
        if rem == 3:
            h ^= keys[:, n4 + 2].astype(np.uint32) << np.uint32(16)
        if rem >= 2:
            h ^= keys[:, n4 + 1].astype(np.uint32) << np.uint32(8)
        if rem >= 1:
            h ^= keys[:, n4].astype(np.uint32)
            h = h * m
        h ^= h >> np.uint32(13)
        h = h * m
        h ^= h >> np.uint32(15)
    return ((h & np.uint32(0x7FFFFFFF)) % np.uint32(n)).astype(np.int32)


class StreamRestorePitr:
    """Incremental backup through Structured Streaming, then a PITR restore
    of the store it wrote.

    Ingest, as ``run_incremental_backup`` runs it (``stream_backup`` over
    ``read_record_stream``, availableNow) with a cap of four input files per
    micro-batch; then ``SegmentStore.compact`` (cmd_compact) and a manifest
    build + save over the store.  (The integrity validate runs on
    backup-bulk.)
    Small records (8 B keys, 56 B values) with 5 % null keys, Zipf-skewed
    (s = 1.1) over 4 topics x 8 partitions, landed as 12 input files: many
    small appends, then a rewrite where the skew hits the
    one-task-per-partition shuffle.  The ingest bypasses the header codecs
    and murmur2.

    Restore of the middle third of the time range:

    1. restore (cmd_restore): restore headers, topic rename and a murmur2
       repartition 8 -> 6 partitions, written as parquet.
    2. three-phase restore (cmd_three_phase_restore) of the same window
       without the repartition, which is what lets phase 3 run: restore
       headers and rename to parquet, the Plan-B offset mapping over the
       written target, and a phase-3 reset plan for generated group offsets.
    3. validate-restore (cmd_validate_restore, ``--target-parquet``) of that
       target against the manifest the restore plan implies: the window of
       the store, renamed, aggregated by ``build_manifest`` and saved with
       ``ManifestStore``."""

    name = "stream-restore-pitr"
    why = ("streaming backup of 120k ~64 B Zipf-skewed records from 12 files, compact, manifest; then PITR "
           "restore with murmur2 repartition, three-phase mapping and validate-restore")
    shape = gen.Shape(records=120_000, key_bytes=8, value_bytes=56, compressibility=0.5,
                      topics=4, partitions=8, zipf_s=1.1, null_key_share=0.05, files=12,
                      ts_spread_ms=3 * 3_600_000, topic_prefix="events")
    files_per_trigger = 4
    target_partitions = 6
    groups = 3

    def prepare(self, spark, work: str, seed: int) -> None:
        import duckdb

        self.source_dir = f"{work}/input"
        self.data = gen.generate(self.shape, seed, self.source_dir)
        third = self.shape.ts_spread_ms // 3
        self.window = (gen.TS0_MS + third, gen.TS0_MS + 2 * third)
        self.topic_mapping = {t: f"{t}-restored" for t in gen.topic_names(self.shape)}
        con = duckdb.connect()
        self.expected = con.sql(self._window_sql(
            "count(*), sum(coalesce(octet_length(key), 0) + octet_length(value))")).fetchone()
        ranges = con.sql(self._window_sql('topic, partition, min("offset"), max("offset")', "GROUP BY ALL")
                         ).fetchall()
        con.close()
        rng = np.random.default_rng(seed)
        self.group_rows = [
            (f"group-{g}", self.topic_mapping[t], p, int(rng.integers(lo, hi + 1)))
            for g in range(self.groups)
            for t, p, lo, hi in sorted(ranges)
        ]

    def _window_sql(self, select: str, tail: str = "") -> str:
        a, b = self.window
        return (f"SELECT {select} FROM read_parquet({self.data.files}) "
                f"WHERE epoch_us(timestamp) BETWEEN {a * 1000} AND {b * 1000} {tail}")

    def config(self, repartition: bool, headers: bool = True):
        from kafka_backup_spark.engine import RestoreConfig

        return RestoreConfig(window_start_ms=self.window[0], window_end_ms=self.window[1],
                             topic_mapping=self.topic_mapping, inject_headers=headers,
                             repartition_to=self.target_partitions if repartition else None)

    def iteration(self, spark, tr, it_dir: str) -> Pass:
        from kafka_backup_spark import manifest as mani
        from kafka_backup_spark.manifest_store import ManifestStore
        from kafka_backup_spark.storage_path import store_from_path
        from kafka_backup_spark.streaming.backup_stream import read_record_stream, stream_backup

        store = store_from_path(spark, f"{it_dir}/store")
        t0 = mark()
        with tr.span("streaming.drain") as drain_span:
            q = stream_backup(read_record_stream(spark, self.source_dir, self.files_per_trigger),
                              store, f"{it_dir}/_checkpoint", {"availableNow": True})
            q.awaitTermination(300)
            if q.exception() is not None or q.isActive:
                q.stop()
                raise RuntimeError(f"stream backup did not drain: {q.exception()}")
        with tr.span("segments.compact") as compact_span:
            store.compact(spark)
        with tr.span("manifest.build") as build_span:
            manifest = mani.build_manifest(store.read(spark), SEGMENT_SPAN).localCheckpoint(eager=True)
        with tr.span("manifest_store.save") as save_span:
            ManifestStore(f"{it_dir}/store", BACKUP_ID).save(manifest, segment_span=SEGMENT_SPAN)
        t1 = mark()
        restore = self.restore(spark, tr, store, it_dir)
        p = Pass(cost(t0, t1), restore["validate_cost"], cost(t0, mark()),
                 self.data.payload_bytes, self.data.records, parquet_bytes(f"{it_dir}/store/topics"),
                 out={"root": f"{it_dir}/store", **restore})
        if tr.enabled:
            progress = [b for b in q.recentProgress if b.numInputRows > 0]
            trig = [b.durationMs.get("triggerExecution", 0) / 1e3 for b in progress]
            rows = tr.sql_metrics(drain_span)
            p.layers.update({
                "streaming.batches": len(progress),
                "streaming.batch_p50_s": statistics.median(trig),
                "streaming.batch_p90_s": float(np.quantile(trig, 0.9)),
                "streaming.add_batch_s": sum(b.durationMs.get("addBatch", 0) for b in progress) / 1e3,
                "streaming.commit_s": sum(b.durationMs.get("walCommit", 0)
                                          + b.durationMs.get("commitOffsets", 0) for b in progress) / 1e3,
                "segments.files_written": metric_sum(rows, "", "number of written files"),
                "segments.bytes_written": metric_sum(rows, "", "written output"),
                "segments.compact_s": compact_span.seconds,
                "segments.compact_task_skew": tr.task_skew(compact_span),
                "manifest.build_s": build_span.seconds,
                "manifest_store.save_s": save_span.seconds,
                **manifest_layers(f"{it_dir}/store", manifest.count()),
                **restore["layers"],
            })
        return p

    def restore(self, spark, tr, store, it_dir: str) -> dict:
        """Steps 1-3 of the restore; returns their outputs and costs."""
        from pyspark.sql import functions as F

        from kafka_backup_spark import manifest as mani
        from kafka_backup_spark.engine import RestoreEngine
        from kafka_backup_spark.manifest_store import ManifestStore
        from kafka_backup_spark.three_phase import build_offset_mapping, mapping_ranges, run_phase3
        from kafka_backup_spark.validation.checks import (
            message_count_check, offset_range_check, validation_summary)

        repartitioned, target = f"{it_dir}/repartitioned", f"{it_dir}/target"
        t0 = mark()
        with tr.span("engine.restore") as restore_span:
            RestoreEngine(store, self.config(True)).plan(spark).write.mode("overwrite").parquet(repartitioned)
        with tr.span("engine.restore_three_phase"):
            RestoreEngine(store, self.config(False)).plan(spark).write.mode("overwrite").parquet(target)
        t1 = mark()
        with tr.span("three_phase.mapping") as map_span:
            detailed = build_offset_mapping(spark.read.parquet(target))
            ranges = mapping_ranges(detailed)
            range_rows = ranges.orderBy("topic", "partition").collect()
        with tr.span("three_phase.phase3") as p3_span:
            groups = spark.createDataFrame(
                self.group_rows, "group_id string, topic string, partition int, offset long")
            plan, summary = run_phase3(groups, detailed, ranges)
            plan_rows = plan.orderBy("group_id", "topic", "partition").collect()
            summary.orderBy("group_id").collect()
        t2 = mark()
        with tr.span("validation.restore_checks") as val_span:
            expected = ManifestStore(f"{it_dir}/expected", BACKUP_ID)
            implied = RestoreEngine(store, self.config(False, headers=False)).plan(spark)
            expected.save(mani.build_manifest(implied, SEGMENT_SPAN), segment_span=SEGMENT_SPAN)
            m = expected.load(spark)
            watermarks = spark.read.parquet(target).groupBy("topic", "partition").agg(
                F.min("offset").alias("earliest"), (F.max("offset") + 1).alias("latest"))
            counts = message_count_check(m, watermarks)
            offsets = offset_range_check(m, watermarks)
            counts.orderBy("topic", "partition").collect()
            offsets.orderBy("topic", "partition").collect()
            verdict = validation_summary(counts, offsets).collect()[0].asDict()
        t3 = mark()
        out = {"repartitioned": repartitioned, "target": target, "ranges": len(range_rows),
               "plan_rows": len(plan_rows), "verdict": verdict, "restore_cost": cost(t0, t1),
               "mapping_cost": cost(t1, t2), "validate_cost": cost(t2, t3), "layers": {}}
        out["mapped"] = detailed.count()
        if tr.enabled:
            rows = tr.sql_metrics(restore_span)
            window_mb = 2 * int(self.expected[1]) / 1e6
            cores = spark.sparkContext.defaultParallelism
            out["layers"] = {
                "restore.mb_s_core": window_mb / out["restore_cost"].net / cores,
                "restore.mapping_s": out["mapping_cost"].net,
                "segments.files_read": metric_sum(rows, "Scan parquet", "number of files read"),
                "segments.bytes_read": metric_sum(rows, "Scan parquet", "size of files read"),
                "filters.scan_rows": metric_sum(rows, "Scan parquet", "number of output rows"),
                "filters.rows_out": metric_sum(rows, "Filter", "number of output rows"),
                "repartition.shuffle_bytes": metric_sum(rows, "Exchange", "shuffle bytes written"),
                "repartition.python_bytes": metric_sum(rows, "", "data sent to Python workers")
                + metric_sum(rows, "", "data returned from Python workers"),
                "three_phase.mapping_s": map_span.seconds,
                "three_phase.phase3_s": p3_span.seconds,
                "asof.probe_rows": len(self.group_rows),
                "validation.restore_checks_s": val_span.seconds,
            }
        return out

    def fragments(self, spark, tr, p: Pass, scratch: str) -> None:
        """The store scan alone, then the restore's layers alone on the same
        store: windowed scan, murmur2 assignment, header decode."""
        from kafka_backup_spark.engine import RestoreConfig, RestoreEngine
        from kafka_backup_spark.operators.projections import extract_source_offset
        from kafka_backup_spark.operators.repartition import assign_target_partitions
        from kafka_backup_spark.storage_path import store_from_path

        store = store_from_path(spark, p.out["root"])
        with tr.span("fragment.store_scan") as scan:
            noop(store.read(spark))
        windowed = RestoreEngine(store, RestoreConfig(window_start_ms=self.window[0],
                                                      window_end_ms=self.window[1])).plan(spark)
        target = spark.read.parquet(p.out["target"])
        with tr.span("fragment.window") as window:
            noop(windowed)
        with tr.span("fragment.assign") as assign:
            noop(assign_target_partitions(windowed, self.target_partitions))
        with tr.span("fragment.target_scan") as target_scan:
            noop(target)
        with tr.span("fragment.source_offset") as source_offset:
            noop(extract_source_offset(target))
        p.layers.update({
            "segments.read_s": scan.seconds,
            "repartition.assign_s": assign.seconds - window.seconds,
            "projections.source_offset_s": source_offset.seconds - target_scan.seconds,
        })

    def check(self, con, p: Pass) -> list[tuple[str, bool]]:
        rep, target = p.out["repartitioned"], p.out["target"]
        rename = " ".join(f"WHEN '{a}' THEN '{b}'" for a, b in self.topic_mapping.items())
        renamed = f"CASE topic {rename} END"
        want = con.sql(self._window_sql(
            f"""count(*), sum(hash({renamed}, "offset"::BIGINT, key, value)::HUGEINT)""")).fetchone()
        want_parts = con.sql(self._window_sql(
            f"""count(*), sum(hash({renamed}, partition, "offset"::BIGINT, key, value)::HUGEINT)""")).fetchone()
        got = con.sql(f"""SELECT count(*), sum(hash(topic, "offset"::BIGINT, key, value)::HUGEINT)
                          FROM read_parquet('{rep}/*.parquet')""").fetchone()
        got_target = con.sql(f"""SELECT count(*), sum(hash(topic, partition, "offset"::BIGINT, key, value)::HUGEINT)
                                 FROM read_parquet('{target}/*.parquet')""").fetchone()
        keys, parts = con.sql(f"""SELECT key, partition FROM read_parquet('{rep}/*.parquet')
                                  WHERE key IS NOT NULL""").fetchnumpy().values()
        key_matrix = np.frombuffer(b"".join(keys), dtype=np.uint8).reshape(-1, self.shape.key_bytes)
        routed = np.array_equal(murmur2_partition(key_matrix, self.target_partitions),
                                np.asarray(parts, dtype=np.int32))
        skew = con.sql(f"SELECT max(n) / avg(n) FROM (SELECT count(*) n FROM read_parquet('{rep}/*.parquet') "
                       "GROUP BY partition)").fetchone()[0]
        p.layers["repartition.target_skew"] = float(skew)
        slots = con.sql(self._window_sql("count(DISTINCT (topic, partition))")).fetchone()[0]
        v = p.out["verdict"]
        return [
            *check_store(con, self.name, p.out["root"], self.data.files),
            (f"{self.name}.restored_set", tuple(map(int, want)) == tuple(map(int, got))),
            (f"{self.name}.murmur2_routing", routed),
            (f"{self.name}.three_phase_target_set", tuple(map(int, want_parts)) == tuple(map(int, got_target))),
            (f"{self.name}.mapping_rows", p.out["mapped"] == int(want[0])),
            (f"{self.name}.mapping_ranges", p.out["ranges"] == slots),
            (f"{self.name}.phase3_plan_rows", p.out["plan_rows"] == len(self.group_rows)),
            (f"{self.name}.validate_restore_passed",
             v["overall"] == "passed" and v["total"] == v["passed"] == 2 * slots),
        ]


WORKLOADS = {w.name: w for w in (BackupBulk, StreamRestorePitr)}


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
