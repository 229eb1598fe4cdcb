#!/usr/bin/env python
"""q16 pre-distinct A/B on data with REALISTIC pair duplication (VERDICT
r14 #1, fixture-dependence caveat from the r13 retry note).

The canonical fixture draws l_suppkey independently, so (l_partkey,
l_suppkey) pairs are ~98.5% unique and a distinct-pair pre-aggregate can
shrink the countDistinct input by at most ~1.5% — the pinned negative.
Real TPC-H binds 4 suppliers per part through partsupp, so the same
pre-aggregate shrinks 60M rows to ~4·|part|.  This probe derives a
realistic-pairs lineitem (l_suppkey := (l_partkey·7 + l_orderkey%4) mod S
+ 1 — exactly 4 suppliers per part), builds the partkey bucket family on
it, and re-runs the A/B:

  v_ship   shipped join-first shape (q_tpch_q16 against the derived dir)
  v_pre    distinct (l_partkey, l_suppkey) ON the bucketed scan
           (exchange-free), then the broadcast joins + countDistinct

Parity is checked v_ship vs v_pre on the SAME derived data before timing.
Writes nothing into the canonical /tmp/sf10.
"""
import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from kafka_backup_spark.queries import layout  # noqa: E402
from kafka_backup_spark.queries.pipeline import (  # noqa: E402
    _dim_broadcastable,
    _gated_orderkey,
    _view,
    q_tpch_q16,
)
from kafka_backup_spark.session import get_spark  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/sf10")
DERIVED = os.environ.get("Q16_REAL_DIR", "/tmp/q16_real")
N = int(os.environ.get("PROBE_REPEATS", "6"))


def build_derived(spark):
    if os.path.isdir(f"{DERIVED}/lineitem.parquet"):
        return
    os.makedirs(DERIVED, exist_ok=True)
    for t in ("part", "supplier"):
        src, dst = f"{SRC}/{t}.parquet", f"{DERIVED}/{t}.parquet"
        if not os.path.exists(dst):
            (shutil.copytree if os.path.isdir(src) else shutil.copy)(src, dst)
    n_supp = spark.read.parquet(f"{SRC}/supplier.parquet").count()
    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    li.withColumn(
        "l_suppkey",
        (F.col("l_partkey") * 7 + F.col("l_orderkey") % 4) % n_supp + 1,
    ).write.mode("overwrite").parquet(f"{DERIVED}/lineitem.parquet")


def main():
    spark = get_spark("q16_realistic", master="local[32]", shuffle_partitions=32)
    build_derived(spark)
    out = f"{DERIVED}/bucketed"
    layout.materialize_bucketed(spark, DERIVED, out, families=("partkey",))

    pairs = spark.read.parquet(f"{DERIVED}/lineitem.parquet").select(
        "l_partkey", "l_suppkey"
    )
    stats = pairs.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("l_partkey", "l_suppkey").alias("distinct_pairs"),
    ).collect()[0]
    print(f"rows {stats.rows}  distinct pairs {stats.distinct_pairs} "
          f"({100.0 * stats.distinct_pairs / stats.rows:.1f}%)")

    def v_ship():
        return q_tpch_q16(spark, DERIVED)

    def v_pre():
        _view(
            spark, DERIVED, "part", "supplier", "lineitem",
            bucketed=_gated_orderkey(spark, DERIVED, "lineitem@partkey"),
        )
        pf = (
            spark.table("part")
            .where(
                (F.col("p_brand") != "Brand#3")
                & (F.col("p_type") != "MEDIUM")
                & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
            )
            .select("p_partkey", "p_brand", "p_type", "p_size")
        )
        if _dim_broadcastable(DERIVED, "part", 8_000_000):
            pf = F.broadcast(pf)
        bad = spark.table("supplier").where(F.col("s_acctbal") < 0).select("s_suppkey")
        if _dim_broadcastable(DERIVED, "supplier", 4_000_000):
            bad = F.broadcast(bad)
        return (
            spark.table("lineitem")
            .select("l_partkey", "l_suppkey")
            .groupBy("l_partkey", "l_suppkey")  # exchange-free on the bucket
            .agg(F.lit(1))
            .join(pf, F.col("p_partkey") == F.col("l_partkey"))
            .join(bad, F.col("s_suppkey") == F.col("l_suppkey"), "left_anti")
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
        )

    a = {tuple(r) for r in v_ship().collect()}
    b = {tuple(r) for r in v_pre().collect()}
    assert a == b, f"parity FAILED: {len(a)} vs {len(b)} rows"
    print(f"parity OK ({len(a)} rows)")

    variants = {"v_ship": v_ship, "v_pre": v_pre}

    def run(fn):
        t0 = time.monotonic()
        fn().write.format("noop").mode("overwrite").save()
        return time.monotonic() - t0

    times = {k: [] for k in variants}
    for k in variants:
        run(variants[k])  # warm
    for _ in range(N):
        for k, fn in variants.items():
            times[k].append(run(fn))
    for k, ts in times.items():
        print(f"{k:8s} min {min(ts):6.3f}  repeats {[round(t, 3) for t in ts]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
