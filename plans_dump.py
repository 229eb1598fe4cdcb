#!/usr/bin/env python
"""Dump `.explain("formatted")` for catalog queries to plans/<tag>/.

Usage: python plans_dump.py <out_dir> <suffix> [query ...]
  out_dir  directory to write <query>_<suffix>.txt files into
  suffix   e.g. "before" / "after"
  query    names (default: the bench HEADLINE set)

Puts the session in bench.py's serving conditions (``bench.serve``:
autosized shuffle partitions, bucketed layout + fp sidecar), so the captured
plans are the plans the bench times.  Reads $SPARK_GRAFT_SF_DIR (default
sf0.1).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench
from kafka_backup_spark import catalog
from kafka_backup_spark.session import get_spark


def main() -> int:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or list(bench.HEADLINE)
    os.makedirs(out_dir, exist_ok=True)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("plans_dump")
    bench.serve(spark, sf_dir)

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
