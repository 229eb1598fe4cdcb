#!/usr/bin/env python
"""Scale-crossover probe for a subset of catalog queries: run the Spark
query AND its DuckDB twin at one sf_dir (min-of-N both sides, Spark via
noop write), print one JSON line per query plus a summary.

Built for the VERDICT r8 #2 question the per-round sf0.1 bench cannot
answer: the TPC-H/small-join family is constant-factor slower than DuckDB
at sf0.1 and sf1 — does it cross over at sf10?  Point this at a
`make_sf1.py --factor 100` (or re-amplified) output:

    python crossover_bench.py --sf-dir /tmp/sf10 --repeats 3

Query selection defaults to the sf1 weak set (TPC-H family + dedup_exact
+ leakage_safe_split + cosine_topk).  DuckDB twins whose first run
exceeds --slow-once-sec keep that single sample (named in output).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb

from kafka_backup_spark import catalog

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

WEAK_SET = [
    "tpch_q1_pricing", "tpch_q3_priority", "tpch_q5_region_volume",
    "tpch_q6_forecast", "tpch_q10_returns", "tpch_q13_order_dist",
    "tpch_q16_supplier_cnt", "tpch_q17_small_qty", "tpch_q18_large_orders",
    "tpch_q22_dormant_balance", "tpch_q7_nation_volume", "tpch_q9_profit",
    "tpch_q15_top_supplier", "tpch_q21_sole_returns",
    "dedup_exact", "leakage_safe_split", "cosine_topk",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--slow-once-sec", type=float, default=30.0)
    ap.add_argument("--queries", help="comma list (default: the sf1 weak set)")
    ap.add_argument(
        "--oracle-layout",
        help="layout root: point DuckDB's lineitem/orders views at the "
        "orderkey-SORTED bucketed copies, removing the Spark-only layout "
        "asymmetry (a 24.9%% oracle-side refund at sf10, SCALE.md "
        "'Round-13: the oracle-layout asymmetry, bounded') — recorded in "
        "the summary JSON",
    )
    args = ap.parse_args()

    names = args.queries.split(",") if args.queries else WEAK_SET

    from kafka_backup_spark.session import get_spark

    spark = get_spark("crossover")
    spark.read.parquet(f"{args.sf_dir}/lineitem.parquet").count()  # warm
    qs = catalog.queries()
    sqls = catalog.oracle_sql()


    # resolve the sorted-copy paths from the layout MANIFEST, not a
    # hardcoded naming convention — a root built with other families (or
    # renamed tables) must fail loudly, not read the wrong copies
    # (ADVICE r13 #5)
    layout_paths: dict[str, str] = {}
    oracle_fp = False
    if args.oracle_layout:
        mpath = os.path.join(args.oracle_layout, "bucketed_layout.json")
        with open(mpath) as fh:
            man = json.load(fh)
        for t in ("lineitem", "orders"):
            spec = man.get("tables", {}).get(t)  # orderkey family = bare name
            if spec is None:
                raise SystemExit(
                    f"--oracle-layout {args.oracle_layout}: manifest has no "
                    f"orderkey-family entry for {t!r}; build it with "
                    "materialize_bucketed(families=('orderkey',...)) first"
                )
            layout_paths[t] = spec["path"]
        fp_spec = man.get("tables", {}).get("documents@fp")
        if fp_spec is not None:
            layout_paths["documents_fp"] = fp_spec["path"]
            oracle_fp = True

    con = duckdb.connect()
    for t in TABLES:
        p = f"{args.sf_dir}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        if t in layout_paths:
            src = f"{layout_paths[t]}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    if oracle_fp:
        # fair-storage twin for the content-group queries: DuckDB reads the
        # SAME ingest-computed fingerprint sidecar the Spark side serves
        # (pipeline.SQL_*_FP; standard oracles keep hashing raw text)
        from kafka_backup_spark.queries.pipeline import (
            SQL_DEDUP_EXACT_FP,
            SQL_LEAKAGE_SAFE_SPLIT_FP,
        )

        con.sql(
            "CREATE VIEW documents_fp AS SELECT * FROM "
            f"'{layout_paths['documents_fp']}/*.parquet'"
        )
        sqls = dict(sqls)
        sqls["dedup_exact"] = SQL_DEDUP_EXACT_FP
        sqls["leakage_safe_split"] = SQL_LEAKAGE_SAFE_SPLIT_FP

    rows = []
    for name in names:
        s_ts, o_ts = [], []
        for _ in range(args.repeats):
            t0 = time.perf_counter()
            qs[name](spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            s_ts.append(time.perf_counter() - t0)
        for _ in range(args.repeats):
            t0 = time.perf_counter()
            con.sql(sqls[name]).fetchall()
            o_ts.append(time.perf_counter() - t0)
            if o_ts[-1] > args.slow_once_sec:
                break  # slow twin: keep the honest single/partial sample
        row = {
            "query": name,
            "spark_s": round(min(s_ts), 3),
            "duck_s": round(min(o_ts), 3),
            "ratio": round(min(s_ts) / max(min(o_ts), 1e-3), 2),
            "spark_repeats": [round(x, 3) for x in s_ts],
            "duck_repeats": [round(x, 3) for x in o_ts],
        }
        rows.append(row)
        print(json.dumps(row), flush=True)
    total_s = sum(r["spark_s"] for r in rows)
    total_o = sum(r["duck_s"] for r in rows)

    # fixed per-engine CPU anchors (VERDICT r14 #2): the sf10 chains are
    # the measurements that need box-drift normalization MOST (cross-round
    # deltas have moved ±40% on drift alone), so the chain carries the
    # same anchors bench.py emits.  Run AFTER the query loop — the JVM is
    # JIT-warm there, matching bench.py's measurement point (a cold-start
    # anchor read ~2.7× slower on this box and would poison cross-round
    # normalization).  Per-row `*_anchor_units` = seconds / this session's
    # anchor seconds, per engine — comparable across rounds and boxes.
    from bench import cpu_anchor, cpu_anchor_duck

    anchor_spark = cpu_anchor(spark)
    anchor_duck = cpu_anchor_duck()
    for r in rows:
        r["spark_anchor_units"] = round(r["spark_s"] / anchor_spark, 2)
        r["duck_anchor_units"] = round(r["duck_s"] / anchor_duck, 3)
    print(json.dumps({
        "metric": "crossover_summary",
        "sf_dir": args.sf_dir,
        "oracle_layout": args.oracle_layout or None,
        "oracle_fp_sidecar": oracle_fp,
        "queries": len(rows),
        "spark_total_s": round(total_s, 3),
        "duck_total_s": round(total_o, 3),
        "ratio": round(total_s / max(total_o, 1e-3), 2),
        "cpu_anchor_sec": anchor_spark,
        "cpu_anchor_duck_sec": anchor_duck,
        # per-query normalized units land here (the per-row lines print
        # before the warm anchors run): [spark_s/anchor, duck_s/anchor]
        "anchor_units": {
            r["query"]: [r["spark_anchor_units"], r["duck_anchor_units"]]
            for r in rows
        },
        "spark_faster": sorted(r["query"] for r in rows if r["ratio"] < 1.0),
        "under_2x": sorted(r["query"] for r in rows if r["ratio"] < 2.0),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
