#!/usr/bin/env python
"""tpch_q21 window-vs-conditional-agg A/B (r16, follows q21_decompose.py:
the two per-order window aggregates add +0.20 s of the 0.60 s total — the
largest fragment — and a window needs a SORT of the ~550k per_os rows that
a hash aggregate does not).

V_win : the shipped r9 window form (count/sum OVER (PARTITION BY orderkey)).
V_agg : per-order CONDITIONAL aggregates.  The final filter keeps rows with
        r_rows > 0 AND n_supp ≥ 2 AND n_supp_r = 1 — when n_supp_r = 1
        there is EXACTLY ONE supplier with r_rows > 0 per order, so that
        supplier and its count can be pulled through the same groupBy:

          n_supp   = count(*)
          n_supp_r = sum(r_rows > 0)
          suppkey  = max(CASE WHEN r_rows > 0 THEN l_suppkey END)
          rr       = max(CASE WHEN r_rows > 0 THEN r_rows END)

        filter n_supp ≥ 2 AND n_supp_r = 1, join supplier, sum(rr) by
        s_name.  The multiset of (suppkey, r_rows) rows entering the final
        aggregate is identical (max over a single qualifying value IS the
        value), so results match bit-for-bit.  No window sort, no second
        rollup + self-join (the r9 shared-exchange form that lost at sf10);
        the orderkey agg reuses the same clustered distribution the
        (orderkey, suppkey) rollup established.

Parity: sorted-row hash, plus the DuckDB oracle via selfcheck after
adoption.  min-of-N interleaved, noop sink, bucketed layout as served by
the bench.
"""

from __future__ import annotations

import hashlib
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


def rows_hash(df) -> str:
    rows = sorted(tuple(r) for r in df.collect())
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def build_v_agg(spark, sf_dir):
    _view(
        spark, sf_dir, "supplier", "lineitem", "orders",
        bucketed=_gated_orderkey(spark, sf_dir, "lineitem", "orders"),
    )
    hint = (
        "/*+ SHUFFLE_HASH(orders) */ "
        if _is_bucketed_view(spark, "orders", sf_dir)
        else ""
    )
    return spark.sql(_cents_sql(f"""
WITH lf AS (
  SELECT {hint}l_orderkey, l_suppkey, l_returnflag
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
), per_os AS (
  SELECT l_orderkey, l_suppkey,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS r_rows
  FROM lf GROUP BY l_orderkey, l_suppkey
), per_o AS (
  SELECT l_orderkey,
         count(*) AS n_supp,
         sum(CASE WHEN r_rows > 0 THEN 1 ELSE 0 END) AS n_supp_r,
         max(CASE WHEN r_rows > 0 THEN l_suppkey END) AS l_suppkey,
         max(CASE WHEN r_rows > 0 THEN r_rows END) AS r_rows
  FROM per_os GROUP BY l_orderkey
)
SELECT s_name, CAST(sum(r_rows) AS BIGINT) AS numwait
FROM per_o JOIN supplier ON s_suppkey = l_suppkey
WHERE n_supp >= 2 AND n_supp_r = 1
GROUP BY s_name
"""))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_PROBE_REPEATS", "10"))
    spark = get_spark("q21_ab")
    sc = spark.sparkContext
    autosize_shuffle_partitions(spark, sf_dir)

    v_win = q_tpch_q21(spark, sf_dir)
    v_agg = build_v_agg(spark, sf_dir)

    h_win, h_agg = rows_hash(v_win), rows_hash(v_agg)
    print("parity:", json.dumps({"V_win": h_win, "V_agg": h_agg}))
    assert h_win == h_agg, "parity MISMATCH"

    variants = {"V_win": v_win, "V_agg": v_agg}
    for name, df in variants.items():  # warm
        sc.setJobDescription(f"q21_ab:warm:{name}")
        noop(df)
    times = {k: [] for k in variants}
    for rep in range(reps):
        for name, df in variants.items():
            sc.setJobDescription(f"q21_ab:{name}#r{rep}")
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
