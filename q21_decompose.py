#!/usr/bin/env python
"""tpch_q21 stage decomposition (r16, VERDICT r15 #3: the 0.56 s entry —
the largest TPC-H bench entry — was never decomposed).

Cumulative fragments of the shipped window-form plan (r9 decorrelation +
r12 bucketed SHUFFLE_HASH), noop sink, min-of-N interleaved, bucketed
layout served exactly as the bench serves it:

  F0  noop floor (1-row literal)
  F1  lf: lineitem ⋈ orders (status='F') narrow projection
  F2  F1 + per_os rollup (groupBy orderkey, suppkey)
  F3  F2 + the two per-order window aggregates
  F4  full shipped q21 (+ filter + supplier join + s_name agg)

If F3−F2 dominates, the window sort over the orderkey exchange is the
target; if F2−F1 dominates, the rollup hash agg is; if F1 is most of F4,
the fact join itself is the floor (the bucketed SHJ already removed its
exchanges and r9 pinned the join-order/strategy alternatives).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kafka_backup_spark.queries.pipeline import (
    _cents_sql,
    _gated_orderkey,
    _is_bucketed_view,
    _view,
    q_tpch_q21,
)
from kafka_backup_spark.session import autosize_shuffle_partitions, get_spark


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_PROBE_REPEATS", "8"))
    spark = get_spark("q21_decompose")
    sc = spark.sparkContext
    autosize_shuffle_partitions(spark, sf_dir)

    _view(
        spark, sf_dir, "supplier", "lineitem", "orders",
        bucketed=_gated_orderkey(spark, sf_dir, "lineitem", "orders"),
    )
    hint = (
        "/*+ SHUFFLE_HASH(orders) */ "
        if _is_bucketed_view(spark, "orders", sf_dir)
        else ""
    )
    lf = f"""
  SELECT {hint}l_orderkey, l_suppkey, l_returnflag
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'"""
    per_os = f"""
  SELECT l_orderkey, l_suppkey,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS r_rows
  FROM ({lf}) GROUP BY l_orderkey, l_suppkey"""
    win = f"""
  SELECT l_suppkey, r_rows,
         count(*) OVER (PARTITION BY l_orderkey) AS n_supp,
         sum(CASE WHEN r_rows > 0 THEN 1 ELSE 0 END)
             OVER (PARTITION BY l_orderkey) AS n_supp_r
  FROM ({per_os})"""
    frags = {
        "F0_noop_floor": spark.range(1),
        "F1_lf_join": spark.sql(_cents_sql(lf)),
        "F2_per_os": spark.sql(_cents_sql(per_os)),
        "F3_windows": spark.sql(_cents_sql(win)),
        "F4_full_q21": q_tpch_q21(spark, sf_dir),
    }

    for name, df in frags.items():  # warm
        sc.setJobDescription(f"q21:warm:{name}")
        noop(df)
    times = {k: [] for k in frags}
    for rep in range(reps):
        for name, df in frags.items():
            sc.setJobDescription(f"q21:{name}#r{rep}")
            t0 = time.monotonic()
            noop(df)
            times[name].append(time.monotonic() - t0)
    sc.setJobDescription(None)
    print(json.dumps(
        {k: {"min": round(min(v), 3), "all": [round(x, 3) for x in v]} for k, v in times.items()},
        indent=2,
    ))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
