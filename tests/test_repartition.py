"""R2 round-robin strategies: arithmetic (contiguous offsets) vs dispersed
(strided offsets after PITR/compaction) — reference repartition.rs counter
semantics, ADVICE r2 stride-skew finding."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_backup_spark.operators.repartition import assign_target_partitions


def _dist(df, n, strategy):
    out = assign_target_partitions(df, n, strategy=strategy)
    return {
        r["target_partition"]: r["cnt"]
        for r in out.groupBy("target_partition").agg(F.count("*").alias("cnt")).collect()
    }


def test_round_robin_uniform_on_contiguous_offsets(spark):
    df = spark.range(0, 1200).select(
        F.lit(0).alias("partition"), F.col("id").alias("offset")
    )
    dist = _dist(df, 8, "automatic")
    assert set(dist) == set(range(8)) and all(v == 150 for v in dist.values())


def test_round_robin_skews_on_strided_offsets_dispersed_does_not(spark):
    # stride 8 shares every factor with N=8: the arithmetic form maps ALL
    # records to one target; the dispersed form spreads them
    df = spark.range(0, 1000).select(
        F.lit(0).alias("partition"), (F.col("id") * 8).alias("offset")
    )
    arith = _dist(df, 8, "automatic")
    assert len(arith) == 1  # the documented failure mode
    disp = _dist(df, 8, "dispersed")
    assert len(disp) == 8
    assert max(disp.values()) < 1000 * 0.25  # no target hoards the stream


def test_dispersed_is_deterministic_across_runs(spark):
    df = spark.range(0, 500).select(
        (F.col("id") % 3).cast("int").alias("partition"),
        (F.col("id") * 7).alias("offset"),
    )
    a = _dist(df, 5, "dispersed")
    b = _dist(df, 5, "dispersed")
    assert a == b


def test_auto_impl_uses_kernel_when_probe_succeeds(spark):
    """impl="auto" (the default) must resolve to the Arrow-batched numpy
    kernel on executors where the package imports (this environment), and
    the probe must run at most once per session."""
    from kafka_backup_spark import artifacts

    artifacts.release(spark, "kernel-probe")
    df = spark.range(0, 10).select(
        F.lit(0).alias("partition"),
        F.col("id").alias("offset"),
        F.col("id").cast("string").cast("binary").alias("key"),
    )
    out = assign_target_partitions(df, 4)  # impl defaults to "auto"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan  # kernel path chosen
    assert artifacts.entries(spark, "kernel-probe") == {"murmur2": True}
    # second call: no new probe entry, same resolution
    out2 = assign_target_partitions(df, 4)
    assert "ArrowEvalPython" in out2._jdf.queryExecution().executedPlan().toString()
    assert artifacts.entries(spark, "kernel-probe") == {"murmur2": True}


def test_auto_impl_falls_back_to_jvm_on_probe_failure(spark):
    """Portability: when the executor probe fails (package/numpy missing on
    executors), impl="auto" must fall back to the pure-JVM fold — zero
    Python nodes in the plan — and produce identical partitions."""
    from kafka_backup_spark import artifacts

    artifacts.release(spark, "kernel-probe")
    artifacts.get_or_build(spark, "kernel-probe", "murmur2", lambda: False)  # a failed probe
    try:
        df = spark.range(0, 50).select(
            F.lit(0).alias("partition"),
            F.col("id").alias("offset"),
            F.col("id").cast("string").cast("binary").alias("key"),
        )
        out = assign_target_partitions(df, 4)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        jvm_rows = {r["offset"]: r["target_partition"] for r in out.collect()}
    finally:
        artifacts.release(spark, "kernel-probe")
    forced = assign_target_partitions(df, 4, impl="pandas")
    pandas_rows = {r["offset"]: r["target_partition"] for r in forced.collect()}
    assert jvm_rows == pandas_rows  # bit-identical impls


def test_murmur2_null_keys_fall_back_to_round_robin(spark):
    df = spark.range(0, 100).select(
        F.lit(0).alias("partition"),
        F.col("id").alias("offset"),
        F.lit(None).cast("binary").alias("key"),
    )
    out = assign_target_partitions(df, 4, strategy="murmur2")
    dist = {
        r["target_partition"]: r["cnt"]
        for r in out.groupBy("target_partition").agg(F.count("*").alias("cnt")).collect()
    }
    assert set(dist) == set(range(4)) and all(v == 25 for v in dist.values())
