#!/usr/bin/env python
"""Tier-scaling smoke: amplify the documents corpus 1×/5×/20× and measure
warm per-query throughput for the text-pipeline family on the CURRENT
architecture (hot pins + plan cache + shared gram/LSH index).

Replicas get a perturbed suffix so they are near-dups, not exact dups (the
near-dup path must do real candidate work, not collapse on identical
hashes).  Caches are released before each tier, so "cold" prices the full
index/pin build and "warm" prices the steady-state query.

The 20× tier additionally runs with the hot-table pin gate forced OFF
(common._HOT_TABLE_MAX_BYTES = 1) to demonstrate the streamed path — what a
100-TB corpus would take — scales the same way.

Usage: python tier_smoke.py [--factors 1,5,20] [--out /tmp/tier_smoke]
Prints one JSON line per (tier, mode, query).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

QUERIES = ["dedup_exact", "simhash", "minhash_signatures", "lsh_candidates",
           "near_dup_pipeline", "text_analysis", "dup_span_fraction",
           "dup_span_extents"]
# metadata/as-of family (VERDICT r5 #7): these read the EVENTS-derived
# record stream + offset mapping, so the events table is amplified too —
# per-partition mapping depth grows with the tier, which is exactly what
# the union-window as-of shape must absorb
ASOF_QUERIES = ["asof_offset_lookup", "timestamp_asof", "group_reset_plan"]
# cluster family (VERDICT r6 #5): dup_clusters rides the amplified
# documents; the embedding pair reads the amplified embeddings table —
# replicas are UNIT-NORM PERTURBED so ANN does real candidate work
CLUSTER_QUERIES = ["dup_clusters", "embedding_dup_clusters", "cluster_balance"]


def lsh_cap_recall_row(spark, tier_dir: str, factor: int) -> dict:
    """Measured recall impact of the LSH bucket cap (VERDICT r7 #3/#4): the
    candidate pair count with the shipped cap vs an effectively-uncapped
    run over the same amplified corpus.  At high tiers the replicated
    near-dup buckets exceed the cap, so retained_ppm < 1e6 is EXPECTED —
    the number quantifies the recall a production corpus would trade for
    the quadratic-bucket guard."""
    from kafka_backup_spark.queries.textops import (
        _band_candidates,
        _shared_band_table,
        _shared_gram_arrays,
    )

    arrs = _shared_gram_arrays(spark, tier_dir)
    bands = _shared_band_table(spark, tier_dir)
    capped = _band_candidates(arrs, bands).count()
    spark.conf.set("spark.kafkaBackupSpark.lshBucketCap", "1000000000")
    try:
        uncapped = _band_candidates(arrs, bands).count()
    finally:
        spark.conf.unset("spark.kafkaBackupSpark.lshBucketCap")
    return {
        "tier": factor,
        "query": "lsh_cap_recall",
        "capped_pairs": capped,
        "uncapped_pairs": uncapped,
        "retained_ppm": round(capped * 1_000_000 / uncapped) if uncapped else 1_000_000,
    }


def ann_recall_row(spark, qs, tier_dir: str, factor: int) -> dict:
    """recall@k of the IVF index vs exact ground truth on the amplified
    embeddings — the quality floor the index must hold as data grows
    (VERDICT r7 #5)."""
    r = qs["ann_recall"](spark, tier_dir).collect()[0]
    return {
        "tier": factor,
        "query": "ann_recall",
        "n_true": r["n_true"],
        "n_hit": r["n_hit"],
        "recall_ppm": r["recall_ppm"],
    }


def amplify_events(spark, src_dir: str, factor: int, out_dir: str) -> int:
    """Replicate events with shifted event_id (offset) and ts: same topics
    and partitions, ×factor offsets/mapping-pairs per partition and an
    extended time range — the axis the as-of lookups scale along."""
    from pyspark.sql.types import LongType

    ev = spark.read.parquet(f"{src_dir}/events.parquet")
    n = ev.count()
    maxid = ev.agg(F.max("event_id")).collect()[0][0] + 1
    ts_is_long = isinstance(ev.schema["ts"].dataType, LongType)  # nanos-as-long
    reps = []
    for i in range(factor):
        shifted = (
            F.col("ts") + F.lit(i * 3_600_000_000_000)  # +i hours of nanos
            if ts_is_long
            else F.col("ts") + F.expr(f"make_interval(0, 0, 0, 0, {i}, 0, 0)")
        )
        reps.append(
            ev.select(
                (F.col("event_id") + maxid * i).alias("event_id"),
                "event_type",
                "user_id",
                "props",
                shifted.alias("ts"),
            )
        )
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    out.repartition(8).write.mode("overwrite").parquet(f"{out_dir}/events.parquet")
    return n * factor


def amplify(spark, src_dir: str, factor: int, out_dir: str) -> int:
    docs = spark.read.parquet(f"{src_dir}/documents.parquet")
    n = docs.count()
    reps = []
    for i in range(factor):
        text = (
            F.concat(F.col("text"), F.lit(f" tiervariant{i}")) if i else F.col("text")
        )
        reps.append(
            docs.select(
                (F.col("doc_id") + 10_000_000 * i).alias("doc_id"),
                text.alias("text"), "lang", "source",
            ).withColumn("n_chars", F.length("text").cast("long"))
        )
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    out.repartition(8).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")
    return n * factor


def amplify_embeddings(spark, src_dir: str, factor: int, out_dir: str) -> int:
    """Replicate embeddings with new vec_ids and a tiny per-replica
    perturbation on one rotating dimension — replicas stay near their
    originals in cosine space (real near-dup candidates for the ANN path)
    without being bit-identical (which would collapse the verify stage)."""
    emb = spark.read.parquet(f"{src_dir}/embeddings.parquet")
    n = emb.count()
    reps = []
    for i in range(factor):
        vec = (
            F.expr(f"transform(embedding, (x, j) -> x + IF(j = {i % 16}, {i} * 1e-3, 0.0))")
            .cast("array<float>")
            if i
            else F.col("embedding")
        )
        reps.append(
            emb.select(
                (F.col("vec_id") + 10_000_000 * i).alias("vec_id"),
                vec.alias("embedding"),
                "label",
            )
        )
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    out.repartition(8).write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")
    return n * factor


# ── LSS round-count smoke (VERDICT r6 #5): chain / star / random graphs ───
# The O(log n) claim was proven only on a 64-node chain fixture; this mode
# amplifies the PAIR GRAPH itself across shapes and depths and records the
# round count — flat-ish (log-bounded) rounds as depth grows 20× is the
# evidence that a 10⁶-deep component at 100 TB converges in ~20 rounds.


def graph_smoke(spark, factors: list[int]) -> None:
    from kafka_backup_spark.queries import textops

    base = 2000
    for factor in factors:
        n = base * factor
        shapes = {
            # worst case for label propagation: diameter = n
            "chain": spark.range(n).selectExpr("id AS a", "id + 1 AS b"),
            # best case: diameter 2, max degree n
            "star": spark.range(n).selectExpr("CAST(0 AS LONG) AS a", "id + 1 AS b"),
            # functional random graph: d(u) = hash(u) mod n — many components
            # of varied depth (deterministic: no Date/random in scripts)
            "random": spark.range(n).selectExpr(
                "id AS a", f"pmod(xxhash64(id), {n}) AS b"
            ),
            # mixture: a deep chain welded to a wide star through node 0
            "chain+star": spark.range(n).selectExpr("id AS a", "id + 1 AS b")
            .union(
                spark.range(n).selectExpr(f"CAST({n} AS LONG) AS a", f"id + {n + 1} AS b")
            ),
        }
        for shape, pairs in shapes.items():
            stats: dict = {}
            t0 = time.perf_counter()
            out = textops._components(
                spark, pairs, f"gsmoke:{shape}:{factor}", stats=stats
            )
            rows = out.agg(
                F.count(F.lit(1)).alias("n_clusters"),
                F.sum("n_members").alias("n_nodes"),
            ).collect()[0]
            wall = time.perf_counter() - t0
            print(json.dumps({
                "graph": shape, "factor": factor, "edges": n,
                "rounds": stats.get("rounds"), "wall_s": round(wall, 2),
                "n_clusters": rows["n_clusters"], "n_nodes": int(rows["n_nodes"]),
            }))


def span_index_smoke(spark, src_dir: str, version_tiers: list[int], out: str) -> None:
    """Incremental span-index scaling smoke (VERDICT r8 #7): ingest N
    versions with excise_spans=True — every batch shares its boilerplate
    prefix with the stored corpus, so each ingest excises against the
    PERSISTED index — then serve the dup-span extents report from the index
    and from a full re-scan.  Claims proven by the printed rows:
    per-version ingest cost stays ~flat as the index grows (the excise
    semi-join ships narrow (doc_id, i, hash) rows, never text), and the
    index-served report beats the scan (it skips re-hashing every text
    window).  Parity of the two paths is pinned separately by
    test_corpus_store.test_dup_span_stats_from_index_match_scan."""
    from kafka_backup_spark.corpus_store import CorpusStore
    from kafka_backup_spark.queries.pipeline import dup_span_extents_frame

    base = (
        spark.read.parquet(f"{src_dir}/documents.parquet")
        .select("doc_id", "lang", "text")
    )
    n_batch = base.count()
    for nv in version_tiers:
        path = f"{out}/span_store_v{nv}"
        shutil.rmtree(path, ignore_errors=True)
        store = CorpusStore(path)
        ingest_s = []
        for v in range(nv):
            batch = base.select(
                (F.col("doc_id") + F.lit(v * 10_000_000)).alias("doc_id"),
                "lang",
                F.concat(F.col("text"), F.lit(f" edition tail v{v}")).alias("text"),
            )
            t0 = time.perf_counter()
            store.write_version(batch, excise_spans=True)
            ingest_s.append(round(time.perf_counter() - t0, 3))
        t0 = time.perf_counter()
        idx_rows = store.dup_span_extents_from_index(spark).count()
        index_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        scan_rows = dup_span_extents_frame(
            store.read_corpus(spark).select("doc_id", "text")
        ).count()
        scan_s = time.perf_counter() - t0
        print(json.dumps({
            "span_index_versions": nv,
            "batch_docs": n_batch,
            "ingest_s": ingest_s,
            "ingest_first_s": ingest_s[0],
            "ingest_last_s": ingest_s[-1],
            "index_report_s": round(index_s, 3),
            "scan_report_s": round(scan_s, 3),
            "index_rows": idx_rows,
            "scan_rows": scan_rows,
        }))


def soak_batches_dir(spark, out: str, batches: int, per_batch: int) -> str:
    """One parquet file per micro-batch under ``out``: every batch re-ships
    each doc slot's stable ≥SPAN_LEN base span (batch 0 stores it; later
    batches must excise it), wrapped in batch-unique header/tail so the
    post-excision text is never corpus-seen — every version does real
    excision work AND real writes."""
    from kafka_backup_spark.queries.pipeline import SPAN_LEN

    src = f"{out}/soak_src"
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src, exist_ok=True)
    span_words = (SPAN_LEN // 4) + 4
    for b in range(batches):
        df = (
            spark.range(per_batch)
            .selectExpr(
                f"id + {b * per_batch} AS doc_id",
                # stable per-slot span (identical across batches); word
                # first-chars and lengths VARY so the content-defined
                # anchor predicate ((len·31 + first-char) % 4 == 0) fires
                # inside the span regardless of slot width
                "concat_ws(' ', transform(sequence(1, "
                f"{span_words}), i -> concat(chr(97 + pmod(id * 7 + i, 26)), "
                f"repeat('q', pmod(i, 3)), pmod(id, {per_batch}), 'z', i))) AS base",
                "id AS slot",
            )
            .selectExpr(
                "doc_id",
                f"concat('hdr{b} slot', slot, ' ', base, ' tail{b} doc', doc_id) AS text",
            )
        )
        stage = f"{src}/_stage"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        os.replace(f"{stage}/{part}", f"{src}/b{b:05d}.parquet")
        shutil.rmtree(stage, ignore_errors=True)
    return src


def ingest_soak(spark, out: str, batches: int, per_batch: int = 400) -> dict:
    """Streaming-ingest soak (VERDICT r9 #6): drive stream_into_corpus
    (excise_spans=True) through ``batches`` foreachBatch micro-batches
    (file source, maxFilesPerTrigger=1) while a side thread samples the
    block-manager storage.  The r8 leak fix is per-call pytest-proven;
    this proves it HOLDS over a long run: cached RDDs stay bounded at any
    sample (at most the one in-flight excised frame plus the session's
    tagged pins) and per-batch ingest time stays flat in stored versions.
    Returns the summary dict (also printed as JSON rows per batch)."""
    import threading

    from kafka_backup_spark.corpus_store import CorpusStore, stream_into_corpus

    src = soak_batches_dir(spark, out, batches, per_batch)
    store_dir, ckpt = f"{out}/soak_store", f"{out}/soak_ckpt"
    shutil.rmtree(store_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    store = CorpusStore(store_dir)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    samples, stop = [], threading.Event()
    # baseline: cached frames OTHER code left in a shared session (tagged
    # pins from earlier tests) are not the soak's to count — the invariant
    # is about growth ABOVE the pre-stream state
    base_ids = {
        i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }

    def sampler() -> None:
        sc = spark.sparkContext
        while not stop.is_set():
            infos = [
                i
                for i in sc._jsc.sc().getRDDStorageInfo()
                if i.id() not in base_ids
            ]
            samples.append(
                (len(infos), sum(i.memSize() + i.diskSize() for i in infos))
            )
            stop.wait(0.25)

    t = threading.Thread(target=sampler, daemon=True)
    t.start()
    try:
        q = stream_into_corpus(stream, store, ckpt, excise_spans=True)
        q.awaitTermination()
    finally:
        stop.set()
        t.join()
    entries = store.versions()
    # excision evidence: batch 0 stores full docs, every later version is
    # span-trimmed — avg stored chars must drop after version 0
    chars = {
        r["version"]: r["avg_chars"]
        for r in store.read_corpus(spark)
        .groupBy("version")
        .agg(F.avg(F.length("text")).alias("avg_chars"))
        .collect()
    }
    durs = [
        (entries[i]["created_at"] - entries[i - 1]["created_at"]) / 1000
        for i in range(1, len(entries))
    ]
    for i, e in enumerate(entries):
        print(json.dumps({
            "batch": e["version"], "n_input": e["n_input"], "n_new": e["n_new"],
            "avg_chars": round(chars.get(e["version"], 0), 1),
            "ingest_s": round(durs[i - 1], 3) if i else None,
        }))
    head = durs[1:6]
    tail = durs[-5:]
    summary = {
        "query": "ingest_soak", "batches": len(entries),
        "max_cached_rdds": max((n for n, _ in samples), default=0),
        "max_cached_bytes": max((b for _, b in samples), default=0),
        "head_mean_s": round(sum(head) / len(head), 3) if head else None,
        "tail_mean_s": round(sum(tail) / len(tail), 3) if tail else None,
        # chars.get(0): if batch 0 produced no rows the baseline version is
        # absent — report the invariant as FAILED rather than KeyError
        # (ADVICE r10 #4)
        "excision_held": bool(
            len(chars) > 1
            and 0 in chars
            and max(v for k, v in chars.items() if k > 0) < chars[0]
        ),
        "residual_cached_rdds": len(
            [
                i
                for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
                if i.id() not in base_ids
            ]
        ),
    }
    print(json.dumps(summary))
    return summary


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factors", default="1,5,20")
    ap.add_argument("--out", default="/tmp/tier_smoke")
    ap.add_argument("--src", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--graphs", action="store_true",
                    help="run the LSS round-count smoke instead of the query tiers")
    ap.add_argument("--span-index", action="store_true",
                    help="run the incremental span-index ingest/report smoke "
                         "(--factors = version counts, e.g. 2,10)")
    ap.add_argument("--soak", type=int, default=0, metavar="N",
                    help="run the N-micro-batch streaming-ingest soak "
                         "(excise_spans=True) instead of the query tiers")
    ap.add_argument("--families", default="text,asof,cluster",
                    help="comma list of query families to run (text,asof,cluster)")
    args = ap.parse_args()

    from kafka_backup_spark import artifacts, catalog
    from kafka_backup_spark.queries import common
    from kafka_backup_spark.session import get_spark

    spark = get_spark("tier-smoke")
    if args.soak:
        s = ingest_soak(spark, args.out, args.soak)
        spark.stop()
        # structural invariants, not timing ones (VM noise): the per-batch
        # cache must stay bounded and fully released at end-of-stream, and
        # every post-0 version must actually be span-trimmed
        ok = (
            s["max_cached_rdds"] <= 4
            and s["residual_cached_rdds"] == 0
            and s["excision_held"]
        )
        return 0 if ok else 1
    if args.graphs:
        graph_smoke(spark, [int(f) for f in args.factors.split(",")])
        spark.stop()
        return 0
    if args.span_index:
        span_index_smoke(
            spark, args.src, [int(f) for f in args.factors.split(",")], args.out
        )
        spark.stop()
        return 0
    spark.read.parquet(f"{args.src}/documents.parquet").count()
    qs = catalog.queries()

    def run(name: str, sf_dir: str) -> float:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    for factor in [int(f) for f in args.factors.split(",")]:
        tier_dir = f"{args.out}/t{factor}"
        shutil.rmtree(tier_dir, ignore_errors=True)
        os.makedirs(tier_dir, exist_ok=True)
        fams = set(args.families.split(","))
        todo = (
            (QUERIES if "text" in fams else [])
            + (ASOF_QUERIES if "asof" in fams else [])
            + (CLUSTER_QUERIES if "cluster" in fams else [])
        )
        ndocs = amplify(spark, args.src, factor, tier_dir)
        nevents = amplify_events(spark, args.src, factor, tier_dir)
        nvecs = (
            amplify_embeddings(spark, args.src, factor, tier_dir)
            if "cluster" in fams else 0
        )
        modes = [("pinned", None)] + ([("streamed", 1)] if factor == max(
            int(f) for f in args.factors.split(",")) else [])
        for mode, gate in modes:
            saved = common._HOT_TABLE_MAX_BYTES
            if gate is not None:
                common._HOT_TABLE_MAX_BYTES = gate
            try:
                artifacts.release(spark)
                for name in todo:
                    rows = (
                        nevents if name in ASOF_QUERIES
                        else nvecs if name in ("embedding_dup_clusters", "cluster_balance")
                        else ndocs
                    )
                    cold = run(name, tier_dir)
                    warm = min(run(name, tier_dir) for _ in range(3))
                    print(json.dumps({
                        "tier": factor, "docs": rows, "mode": mode,
                        "query": name, "cold_s": round(cold, 3),
                        "warm_s": round(warm, 3),
                        "warm_docs_per_s": round(rows / warm),
                    }))
            finally:
                common._HOT_TABLE_MAX_BYTES = saved
        if "text" in fams:
            print(json.dumps(lsh_cap_recall_row(spark, tier_dir, factor)))
        if "cluster" in fams:
            print(json.dumps(ann_recall_row(spark, qs, tier_dir, factor)))
        artifacts.release(spark)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
