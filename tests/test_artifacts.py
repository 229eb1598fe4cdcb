"""The session-artifact registry: one release rebuilds everything built on a
rewritten input, and a restarted SparkContext never sees the stopped one's
entries."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap

import duckdb
import pyarrow.parquet as pq

from kafka_backup_spark import artifacts, catalog
from kafka_backup_spark.queries import textops

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_release_rebuilds_grams_after_in_place_rewrite(spark, sf_dir, tmp_path):
    """Rewrite documents.parquet in place, call the one release, and the
    near-dup corpus and lsh_candidates must see the new rows — including
    the gram arrays, which are built from the documents pin."""
    sf = str(tmp_path)
    path = f"{sf}/documents.parquet"
    shutil.copy(f"{sf_dir}/documents.parquet", path)
    q = catalog.queries()
    q["lsh_candidates"](spark, sf).count()  # warm grams, bands and the pin
    before = textops._near_corpus(spark, sf).count()

    # keep the ten lowest doc_ids: one planted twin (doc_id % 10 == 0)
    table = pq.read_table(path).sort_by("doc_id").slice(0, 10)
    os.remove(path)
    pq.write_table(table, path)
    want_corpus = 10 + sum(1 for d in table.column("doc_id").to_pylist() if d % 10 == 0)
    assert want_corpus < before

    artifacts.release(spark)
    assert textops._near_corpus(spark, sf).count() == want_corpus
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    want = sorted(tuple(r) for r in con.sql(catalog.oracle_sql()["lsh_candidates"]).fetchall())
    got = sorted(map(tuple, q["lsh_candidates"](spark, sf).collect()))
    assert got == want
    artifacts.release(spark)


_RESTART = textwrap.dedent(
    """
    import sys

    from kafka_backup_spark import artifacts, catalog
    from kafka_backup_spark.session import get_spark

    sf = sys.argv[1]

    def warm(spark):
        catalog.queries()["text_metrics"](spark, sf).count()
        catalog.queries()["tpch_q6_forecast"](spark, sf).count()
        assert artifacts.entries(spark, "meta") and artifacts.entries(spark, "view")
        return spark.sparkContext.applicationId

    spark = get_spark("artifacts-a", master="local[2]", shuffle_partitions=2)
    old = warm(spark)
    spark.stop()

    spark = get_spark("artifacts-b", master="local[2]", shuffle_partitions=2)
    assert spark.sparkContext.applicationId != old
    assert not artifacts.entries(spark, "meta")  # first access drops them
    assert list(artifacts._SESSIONS) == [spark.sparkContext.applicationId]
    warm(spark)
    spark.stop()

    artifacts.release()  # unpersist through the stopped context
    assert not any(artifacts._SESSIONS.values())
    print("RESTART-OK")
    """
)


def test_stopped_context_entries_are_dropped(sf_dir):
    """Entries built under a SparkContext that has since stopped are
    dropped on first access from the next context in the same process, and
    releasing them after a stop raises nothing.  Runs in a child process:
    the test session's own context must stay up."""
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, "-c", _RESTART, sf_dir],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "RESTART-OK" in out.stdout
