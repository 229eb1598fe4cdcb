#!/usr/bin/env python
"""Dump `.explain("formatted")` for catalog queries to plans/<tag>/.

Usage: python plans_dump.py <out_dir> <suffix> [query ...]
  out_dir  directory to write <query>_<suffix>.txt files into
  suffix   e.g. "before" / "after"
  query    names (default: the bench HEADLINE set)

Mirrors bench.py's serving conditions (bucketed layout + fp sidecar,
autosized shuffle partitions) so the captured plans are the plans the
bench actually times.  Reads $SPARK_GRAFT_SF_DIR (default sf0.1).
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kafka_backup_spark import artifacts, catalog
from kafka_backup_spark.session import autosize_shuffle_partitions, get_spark


def main() -> int:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    if not names:
        import bench

        names = list(bench.HEADLINE)
    os.makedirs(out_dir, exist_ok=True)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("plans_dump")
    autosize_shuffle_partitions(spark, sf_dir)

    if os.environ.get("SPARK_GRAFT_BENCH_LAYOUT", "1") != "0":
        from kafka_backup_spark.queries import layout as _layout

        root = os.environ.get("SPARK_GRAFT_BUCKETED_LAYOUT") or os.path.join(
            tempfile.gettempdir(),
            f"kbs_bucketed_{os.path.basename(sf_dir.rstrip('/'))}",
        )
        spark.conf.set("spark.kafkaBackupSpark.bucketedLayout", root)
        entry = _layout.register_bucketed(spark, root)
        if entry is None or entry.get("sf_dir") != sf_dir:
            entry = _layout.materialize_bucketed(spark, sf_dir, root)
        if getattr(_layout, "FP_KEY", None) and _layout.FP_KEY not in entry.get(
            "tables", {}
        ):
            _layout.materialize_fingerprints(spark, sf_dir, root)
            artifacts.release(spark)

    qs = catalog.queries()
    for name in names:
        if name not in qs:
            print(f"SKIP {name}: not in catalog")
            continue
        df = qs[name](spark, sf_dir)
        text = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        print(f"WROTE {path} ({len(text)} bytes)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
