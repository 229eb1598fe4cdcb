#!/usr/bin/env python
"""q16 stage decomposition at sf10 (VERDICT r14 #1): name the
countDistinct floor with the same cumulative-prefix recipe that pinned
q5's (q5_decompose.py).

Fragments are CUMULATIVE prefixes of the shipped join-first plan, each
ended with a noop write so the measured cost is the real executed
pipeline up to that point:

  F0  lineitem (l_partkey, l_suppkey) scan (partkey-bucketed when gated)
  F1  F0 ⋈ broadcast filtered part            (the 1/8-selectivity probe)
  F2  F1 anti⋈ broadcast negative suppliers   (the NOT IN exclusion)
  F3  F2 + groupBy(brand,type,size) count(*)  (agg WITHOUT distinct)
  F4  F2 + manual distinct: partial dedupe on (b,t,s,suppkey), then count
  F5  full shipped q16 (countDistinct)

Interpretation: F5−F3 is the distinct surcharge over a plain hash agg —
the floor candidate; F4 vs F5 shows whether Spark's expand-based
countDistinct differs from the manual two-level form (r10 measured a
wash); F1−F0 and F2−F1 price the broadcast probes.

Protocol: one session, warm pass, then min-of-N interleaved.
"""
import os
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from kafka_backup_spark.queries.pipeline import (  # noqa: E402
    _dim_broadcastable,
    _gated_orderkey,
    _view,
    q_tpch_q16,
)
from kafka_backup_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/sf10")
N = int(os.environ.get("PROBE_REPEATS", "6"))


def fragments(spark, sf_dir):
    _view(
        spark, sf_dir, "part", "supplier", "lineitem",
        bucketed=_gated_orderkey(spark, sf_dir, "lineitem@partkey"),
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
    if _dim_broadcastable(sf_dir, "part", 8_000_000):
        pf = F.broadcast(pf)
    bad = spark.table("supplier").where(F.col("s_acctbal") < 0).select("s_suppkey")
    if _dim_broadcastable(sf_dir, "supplier", 4_000_000):
        bad = F.broadcast(bad)
    li = spark.table("lineitem").select("l_partkey", "l_suppkey")
    joined = li.join(pf, F.col("p_partkey") == F.col("l_partkey"))
    survivors = joined.join(bad, F.col("s_suppkey") == F.col("l_suppkey"), "left_anti")
    return {
        "F0_li_scan": lambda: li,
        "F1_x_part": lambda: joined,
        "F2_anti_supp": lambda: survivors,
        "F3_plain_agg": lambda: survivors.groupBy("p_brand", "p_type", "p_size").agg(
            F.count(F.lit(1)).alias("n")
        ),
        "F4_manual_distinct": lambda: (
            survivors.groupBy("p_brand", "p_type", "p_size", "l_suppkey")
            .agg(F.lit(1))
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.count(F.lit(1)).cast("long").alias("supplier_cnt"))
        ),
        "F5_full_q16": lambda: q_tpch_q16(spark, SF_DIR),
    }


def main():
    spark = get_spark("q16_decompose", master="local[32]", shuffle_partitions=32)
    frags = fragments(spark, SF_DIR)

    def run(fn):
        t0 = time.monotonic()
        fn().write.format("noop").mode("overwrite").save()
        return time.monotonic() - t0

    times = {k: [] for k in frags}
    for k in frags:  # warm the scans once
        run(frags[k])
    for _ in range(N):
        for k, fn in frags.items():
            times[k].append(run(fn))
    for k, ts in times.items():
        print(f"{k:20s} min {min(ts):6.3f}  repeats {[round(t, 3) for t in ts]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
