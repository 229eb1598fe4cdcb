#!/usr/bin/env python
"""q3 stage decomposition at sf10 (r13): q3 is the last >2× TPC-H query
without a named floor — say where its ~1.7-2.0 s goes.

Fragments are CUMULATIVE prefixes of the shipped (layout-served) plan,
each ended with a noop write (the q5_decompose recipe).  Views are bound
to the bucketed layout exactly as the shipped query binds them, so the
SHJ fragment measures the co-located join the chain actually runs:

  F0  lineitem scan + shipdate filter + cents projection
  F1  orders scan + orderdate filter
  F2  F1 ⋈ BUILDING customers (BHJ build side of the SHJ)
  F3  F0 ⋈ F2 via SHUFFLE_HASH (co-bucketed: no exchange either side)
  F4  F3 + the (l_orderkey, o_orderdate, o_orderpriority) rollup
  F5  full shipped q3 (adds dollar reconstruction + top-10)

Protocol: one session, min-of-N interleaved fragments, layout served.
"""
import os
import sys
import time

sys.path.insert(0, "/root/repo")

from kafka_backup_spark.queries import layout  # noqa: E402
from kafka_backup_spark.queries.pipeline import (  # noqa: E402
    _cents_sql,
    _gated_orderkey,
    _money_single,
    _money_sum,
    _view,
    q_tpch_q3,
)
from kafka_backup_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/sf10")
OUT = os.environ.get("BUCKETED_OUT", "/tmp/kbs_bucketed_sf10")
N = int(os.environ.get("PROBE_REPEATS", "5"))

_LI = """
  SELECT l_orderkey, l_shipdate,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
         CAST(round(l_discount * 100) AS BIGINT) AS dc
  FROM lineitem
  WHERE l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
"""


def fragments(spark, sf_dir):
    _view(
        spark, sf_dir, "customer", "orders", "lineitem",
        bucketed=_gated_orderkey(spark, sf_dir, "lineitem", "orders"),
    )
    rev = _money_sum("pc * (100 - dc)", "rev_hi", "rev_lo", "div", _money_single(spark, sf_dir))
    sql = lambda s: spark.sql(_cents_sql(s))  # noqa: E731
    return {
        "F0_li_scan": lambda: sql(f"SELECT l_orderkey, pc, dc FROM ({_LI})"),
        "F1_orders_scan": lambda: sql("""
            SELECT o_orderkey, o_custkey, o_orderdate, o_orderpriority FROM orders
            WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'"""),
        "F2_orders_x_cust": lambda: sql("""
            SELECT o_orderkey, o_orderdate, o_orderpriority
            FROM customer JOIN orders ON c_custkey = o_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'"""),
        "F3_shj": lambda: sql(f"""
            WITH li AS ({_LI})
            SELECT /*+ SHUFFLE_HASH(li) */ l_orderkey, o_orderdate, o_orderpriority, pc, dc
            FROM customer, orders, li
            WHERE c_mktsegment = 'BUILDING'
              AND c_custkey = o_custkey
              AND l_orderkey = o_orderkey
              AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'"""),
        "F4_rollup": lambda: sql(f"""
            WITH li AS ({_LI})
            SELECT /*+ SHUFFLE_HASH(li) */ l_orderkey, o_orderdate, o_orderpriority,
                   {rev}
            FROM customer, orders, li
            WHERE c_mktsegment = 'BUILDING'
              AND c_custkey = o_custkey
              AND l_orderkey = o_orderkey
              AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority"""),
        "F5_full_q3": lambda: q_tpch_q3(spark, sf_dir),
    }


def main():
    spark = get_spark("q3_decompose", master="local[32]", shuffle_partitions=32)
    layout.register_bucketed(spark, OUT)
    spark.conf.set("spark.kafkaBackupSpark.bucketedLayout", OUT)
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
        print(f"{k:22s} min {min(ts):6.3f}  repeats {[round(t, 3) for t in ts]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
