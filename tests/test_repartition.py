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


def test_murmur2_restore_plan_runs_no_extra_jobs(spark, sf_dir, tmp_path):
    """Key routing is a column projection: building a restore plan with a
    murmur2 repartition runs no more Spark jobs than building it without
    one, even in a session whose artifacts were just released."""
    from kafka_backup_spark import artifacts
    from kafka_backup_spark.engine import RestoreConfig, RestoreEngine
    from kafka_backup_spark.schema import events_as_records, load_table
    from kafka_backup_spark.sources.segments import SegmentStore

    store = SegmentStore(str(tmp_path / "store"))
    store.write(events_as_records(load_table(spark, sf_dir, "events")))
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()

    def plan_jobs(repartition_to):
        artifacts.release(spark)
        before = scheduler.nextJobId()
        RestoreEngine(store, RestoreConfig(repartition_to=repartition_to)).plan(spark)
        return scheduler.nextJobId() - before

    # the repartitioned plan is built first, so any listing or schema cache
    # the first build warms favours the plain one
    assert plan_jobs(6) <= plan_jobs(None)
