"""Contract tests for bench.py's driver-facing output.

Round 6 lost its machine-readable bench artifact because the per-repeat
spreads grew the single output line past the driver's stdout tail capture
(`BENCH_r06.json` "parsed": null).  These tests pin the r7 fix: the FINAL
stdout line is a compact summary with a bounded key set, spreads travel on
an earlier line / side file, and every headline name resolves in the
catalog (with a DuckDB oracle twin, so oracle_bench.py covers it too).
"""

from __future__ import annotations

import json
import sys

sys.path.insert(0, "/root/repo")

import bench
from kafka_backup_spark import catalog


def test_headline_names_all_resolve_with_oracles():
    sqls = catalog.oracle_sql()
    missing = [n for n in bench.HEADLINE if n not in catalog.ALL_QUERIES]
    assert not missing, f"headline names absent from catalog: {missing}"
    no_oracle = [n for n in bench.HEADLINE if sqls.get(n) is None]
    assert not no_oracle, f"headline names without a DuckDB oracle: {no_oracle}"


def test_headline_includes_r6_operators():
    for name in (
        "dup_span_fraction",
        "cluster_balance",
        "tpch_q13_order_dist",
        "tpch_q22_dormant_balance",
    ):
        assert name in bench.HEADLINE


def test_summary_line_is_compact_and_spread_free():
    timings = {n: 0.1 for n in bench.HEADLINE}
    spreads = {n: [0.5, 0.2, 0.1, 0.15, 0.12] for n in bench.HEADLINE}
    spread_doc, summary_doc = bench.build_output(
        timings, spreads, 0.03, 0.1, 5, anchors=(0.93, 5.2)
    )

    # the summary must never carry the per-repeat spreads, and its key set
    # is pinned so a future addition consciously re-checks the size budget
    assert "repeat_times" not in summary_doc
    assert set(summary_doc) == {
        "metric", "value", "unit", "queries", "sf", "repeats",
        "noop_floor_sec", "net_total_sec",
        "cpu_anchor_sec", "cpu_anchor_duck_sec",
    }
    assert summary_doc["cpu_anchor_sec"] == 0.93
    assert summary_doc["cpu_anchor_duck_sec"] == 5.2
    # the driver's tail buffer is finite; with ~33 queries the compact line
    # must stay well under 4 KiB (observed r6 failure: ~3.5 KiB of spreads
    # pushed the combined line past the capture)
    assert len(json.dumps(summary_doc)) < 4096

    assert spread_doc["repeat_times"] == spreads
    assert summary_doc["value"] == round(sum(timings.values()), 3)
    assert summary_doc["net_total_sec"] == round(
        sum(max(t - 0.03, 0.0) for t in timings.values()), 3
    )


def test_cpu_anchor_deterministic_and_engine_agreeing(spark):
    """The calibration anchor (VERDICT r13 #4) is only useful if it is a
    CONSTANT computation: both engines must produce the pinned value (the
    anchor functions assert it internally) and return a positive time."""
    # shrink the range for test speed — the pinned value only holds at the
    # shipped N, so drive the internal assertion path directly instead
    t_spark = None
    import time as _time

    t0 = _time.perf_counter()
    got = (
        spark.range(0, bench._ANCHOR_N, 1, 4)
        .selectExpr(f"{bench._ANCHOR_EXPR} AS s")
        .collect()[0].s
    )
    t_spark = _time.perf_counter() - t0
    assert got == bench._ANCHOR_VALUE
    assert t_spark > 0

    import duckdb

    con = duckdb.connect()
    sql = f"SELECT {bench._ANCHOR_EXPR.replace('id', 'i')} FROM range({bench._ANCHOR_N}) t(i)"
    assert int(con.sql(sql).fetchall()[0][0]) == bench._ANCHOR_VALUE
    con.close()


def test_profile_entry_reads_counters_and_operator_metrics(spark, sf_dir):
    """bench's per-query profile: the timed run's span yields engine
    counters and per-operator SQL metrics, in a JSON-ready entry."""
    query = catalog.queries()["tpch_q6_forecast"]
    tracer = bench.StageSafeTracer(spark, "test")
    seconds, span = bench.timed_run(
        tracer, "tpch_q6_forecast",
        lambda: query(spark, sf_dir).write.format("noop").mode("overwrite").save(),
    )
    entry = bench.profile_entry(tracer, span, seconds)

    assert entry["jobs"] >= 1
    assert entry["tasks"] >= 1
    assert entry["seconds"] > 0
    assert entry["executor_run_s"] >= 0
    assert any(isinstance(v, float) for _op, _metric, v in entry["operators"])
    assert json.loads(json.dumps(entry)) == entry


def test_metric_value_keeps_unparseable_text():
    """AQEShuffleRead reports a per-task metric whose max carries
    "(driver)" instead of "(stage …: task …)"; sqlmetrics.parse rejects it,
    and bench keeps the raw text rather than aborting the profile."""
    text = (
        "total (min, med, max (stageId: taskId))\n"
        "2.5 MiB (1283.1 KiB, 1283.1 KiB, 1283.1 KiB (driver))"
    )
    assert bench.metric_value(text) == text
    assert bench.metric_value("64.2 MiB") == 64.2 * (1 << 20)


def test_stage_walk_skips_evicted_stage_ids():
    """A job can list a stage id the status store has already evicted (a
    reused, skipped stage); bench's stage walk skips it instead of raising
    out of the profile."""
    from types import SimpleNamespace as NS

    from py4j.protocol import Py4JJavaError

    done = NS(status=lambda: NS(toString=lambda: "COMPLETE"))

    def last_stage_attempt(stage_id):
        if stage_id == 2:
            raise Py4JJavaError("No stage with id 2", NS(_target_id="o1"))
        return done

    ids = [1, 2, 3]
    tracer = object.__new__(bench.StageSafeTracer)
    tracer._core = NS(lastStageAttempt=last_stage_attempt)
    tracer._job = lambda jid: NS(stageIds=lambda: NS(size=lambda: len(ids), apply=ids.__getitem__))
    assert list(tracer._stages([7])) == [done, done]
