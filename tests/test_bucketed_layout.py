"""Bucketed co-partitioned fact layout (queries/layout.py + the _view
opt-in): results must be identical to the plain-parquet path, and the
bucket hash-partitioning must actually remove exchanges (the whole point
— one write-side shuffle amortized across every orderkey join/rollup)."""

from __future__ import annotations

import contextlib

import pytest

from kafka_backup_spark.queries import layout, pipeline
from kafka_backup_spark.queries.pipeline import (
    q_tpch_q3,
    q_tpch_q5,
    q_tpch_q13,
    q_tpch_q16,
    q_tpch_q17,
    q_tpch_q18,
    q_tpch_q21,
    q_tpch_q22,
)

QUERIES = {
    "q3": q_tpch_q3,
    "q5": q_tpch_q5,
    "q13": q_tpch_q13,  # custkey family (orders@custkey ⋈ customer@custkey)
    "q16": q_tpch_q16,  # partkey family (bucketed scan under join-first, r13)
    "q17": q_tpch_q17,  # partkey family (single-table distribution+sort)
    "q18": q_tpch_q18,
    "q21": q_tpch_q21,
    "q22": q_tpch_q22,  # custkey family
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@contextlib.contextmanager
def _layout_enabled(spark, root: str):
    """Enable the layout conf with full cache hygiene on both edges (the
    plan cache and view memo hold whichever layout they were built on).
    Forces the AQE-crossover footprint gate OPEN so the gated queries
    (q1/q3/q4/q5/q6/q7/q21) exercise their bucketed path at test scale."""
    from kafka_backup_spark import artifacts

    gate = pipeline._ORDERKEY_GATE_BYTES
    pipeline._ORDERKEY_GATE_BYTES = 0
    spark.conf.set("spark.kafkaBackupSpark.bucketedLayout", root)
    artifacts.release(spark)
    try:
        yield
    finally:
        pipeline._ORDERKEY_GATE_BYTES = gate
        spark.conf.unset("spark.kafkaBackupSpark.bucketedLayout")
        artifacts.release(spark)
        for t in (
            "lineitem_b",
            "orders_b",
            "orders_custkey_b",
            "customer_custkey_b",
            "lineitem_partkey_b",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.fixture(scope="module")
def bucketed_root(spark, sf_dir, tmp_path_factory) -> str:
    root = str(tmp_path_factory.mktemp("bucketed"))
    layout.materialize_bucketed(spark, sf_dir, root, buckets=4)
    return root


def _rows(df):
    return sorted(
        tuple(round(v, 4) if isinstance(v, float) else v for v in r)
        for r in df.collect()
    )


def test_bucketed_results_match_plain(spark, sf_dir, bucketed_root):
    plain = {n: _rows(fn(spark, sf_dir)) for n, fn in QUERIES.items()}
    with _layout_enabled(spark, bucketed_root):
        for n, fn in QUERIES.items():
            assert pipeline._bucketed_layout(spark) is not None
            got = _rows(fn(spark, sf_dir))
            assert got == plain[n], f"{n} diverged under the bucketed layout"
            assert pipeline._is_bucketed_view(spark, "lineitem", sf_dir)
    # after disable, views self-heal back to the plain parquet path
    assert not pipeline._is_bucketed_view(spark, "lineitem", sf_dir)
    for n, fn in QUERIES.items():
        assert _rows(fn(spark, sf_dir)) == plain[n]


def test_bucketed_scan_removes_exchanges(spark, sf_dir, bucketed_root):
    plain_q18 = _plan(q_tpch_q18(spark, sf_dir))
    with _layout_enabled(spark, bucketed_root):
        b_q18 = _plan(q_tpch_q18(spark, sf_dir))
        b_q21 = _plan(q_tpch_q21(spark, sf_dir))
    # the q18 rollup reads the bucket distribution: its groupBy(l_orderkey)
    # needs no exchange at all — strictly fewer than the plain plan
    assert b_q18.count("Exchange") < plain_q18.count("Exchange")
    assert "lineitem_b" in b_q18
    # q21's layout-conditional co-located SHJ: hash join, zero exchanges
    # between the two bucketed fact scans (the only exchanges left serve
    # the window/agg tail)
    assert "ShuffledHashJoin" in b_q21
    assert "lineitem_b" in b_q21 and "orders_b" in b_q21


def test_q3_drops_hint_under_layout(spark, sf_dir, bucketed_root):
    """q3's layout-conditional hint (r13): plain views keep r9's
    SHUFFLE_HASH(li); bucketed views drop it so the fact join zips the
    storage-sorted buckets — no Sort node feeds it (the sortBy metadata
    is the whole point), and no exchange sits between the bucketed
    scans."""
    import re

    plain = _plan(q_tpch_q3(spark, sf_dir))
    assert "ShuffledHashJoin" in plain  # the r9 hint on plain views
    with _layout_enabled(spark, bucketed_root):
        b = _plan(q_tpch_q3(spark, sf_dir))
    assert "lineitem_b" in b and "orders_b" in b
    assert "ShuffledHashJoin" not in b  # hint dropped
    # no Sort node anywhere in the bucketed plan: the fact join's order
    # comes from storage, and the top-10 is TakeOrderedAndProject
    assert not re.search(r"\bSort\b", b), b


def test_custkey_family_removes_exchanges(spark, sf_dir, bucketed_root):
    """q13/q22 bind to the custkey family: the o_custkey rollup / DISTINCT
    runs on the bucket distribution and the customer join is co-located —
    strictly fewer exchanges than the plain plans, serving the
    family-qualified catalog tables."""
    plain_q13 = _plan(q_tpch_q13(spark, sf_dir))
    plain_q22 = _plan(q_tpch_q22(spark, sf_dir))
    with _layout_enabled(spark, bucketed_root):
        b_q13 = _plan(q_tpch_q13(spark, sf_dir))
        b_q22 = _plan(q_tpch_q22(spark, sf_dir))
        assert pipeline._is_bucketed_view(spark, "orders", sf_dir)
        assert pipeline._is_bucketed_view(spark, "customer", sf_dir)
    assert "orders_custkey_b" in b_q13 and "customer_custkey_b" in b_q13
    assert "orders_custkey_b" in b_q22 and "customer_custkey_b" in b_q22
    assert b_q13.count("Exchange") < plain_q13.count("Exchange")
    assert b_q22.count("Exchange") < plain_q22.count("Exchange")


def test_partkey_family_removes_window_exchange_and_sort(spark, sf_dir, bucketed_root):
    """q17 binds lineitem to the partkey family: the PARTITION BY
    l_partkey window reads the bucket hash-distribution (no exchange) and
    — with spark.sql.legacy.bucketedTableScan.outputOrdering on, which
    the session sets because the layout guarantees one file per bucket —
    the per-file sortBy order (no window sort)."""
    import re

    plain = _plan(q_tpch_q17(spark, sf_dir))
    with _layout_enabled(spark, bucketed_root):
        b = _plan(q_tpch_q17(spark, sf_dir))
    assert "lineitem_partkey_b" in b
    # the window subtree: no Sort and no Exchange between Window and scan
    seg = b[b.index("Window") :]
    seg = seg[: seg.index("FileScan")]
    assert "Sort" not in seg and "Exchange" not in seg
    plain_seg = plain[plain.index("Window") :]
    plain_seg = plain_seg[: plain_seg.index("FileScan")]
    assert "Sort" in plain_seg  # the plain plan pays the sort the layout removes


def test_footprint_gate_serves_plain_below_threshold(spark, sf_dir, bucketed_root):
    """With the layout ON but the fact footprint under the AQE-crossover
    gate (any test fixture is), the gated queries bind plain views — the
    measured sf1 regression regime (AQE's runtime broadcast beats
    co-location on small facts) must not be re-entered by default."""
    from kafka_backup_spark import artifacts

    spark.conf.set("spark.kafkaBackupSpark.bucketedLayout", bucketed_root)
    artifacts.release(spark)
    try:
        p5 = _plan(q_tpch_q5(spark, sf_dir))
        assert "lineitem_b" not in p5 and "orders_b" not in p5
        assert not pipeline._is_bucketed_view(spark, "lineitem", sf_dir)
        # ungated rollup-shaped opt-in still binds bucketed
        p18 = _plan(q_tpch_q18(spark, sf_dir))
        assert "lineitem_b" in p18
    finally:
        spark.conf.unset("spark.kafkaBackupSpark.bucketedLayout")
        artifacts.release(spark)
        for t in (
            "lineitem_b", "orders_b", "orders_custkey_b",
            "customer_custkey_b", "lineitem_partkey_b",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_family_merge_reuses_existing(spark, sf_dir, tmp_path):
    """materialize_bucketed against an existing root MERGES: the families
    already in the manifest keep their files (same mtime), the missing
    family is added with the same bucket count."""
    import os

    root = str(tmp_path / "merge")
    layout.materialize_bucketed(spark, sf_dir, root, buckets=4, families=("orderkey",))
    m1 = os.path.getmtime(os.path.join(root, "lineitem_b"))
    entry = layout.materialize_bucketed(spark, sf_dir, root, families=("orderkey", "custkey"))
    assert entry["buckets"] == 4  # inherited, not re-derived
    assert sorted(entry["tables"]) == [
        "customer@custkey", "lineitem", "orders", "orders@custkey",
    ]
    assert os.path.getmtime(os.path.join(root, "lineitem_b")) == m1
    for t in ("lineitem_b", "orders_b", "orders_custkey_b", "customer_custkey_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_merge_conflicting_buckets_raises(spark, sf_dir, tmp_path):
    """An explicit bucket count that conflicts with the existing
    same-sf_dir manifest must raise, not silently orphan the prior
    families' files (ADVICE r12 #1)."""
    root = str(tmp_path / "conflict")
    layout.materialize_bucketed(spark, sf_dir, root, buckets=4, families=("orderkey",))
    try:
        with pytest.raises(ValueError, match="bucket count conflict"):
            layout.materialize_bucketed(
                spark, sf_dir, root, buckets=8, families=("custkey",)
            )
        # same explicit count is NOT a conflict — the merge proceeds
        entry = layout.materialize_bucketed(
            spark, sf_dir, root, buckets=4, families=("custkey",)
        )
        assert entry["buckets"] == 4
        assert "lineitem" in entry["tables"]  # carried over, not dropped
    finally:
        for t in ("lineitem_b", "orders_b", "orders_custkey_b", "customer_custkey_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_merge_registers_carried_over_families(spark, sf_dir, tmp_path):
    """The merge path must re-register carried-over families in the
    session catalog — a fresh session calling materialize_bucketed against
    an existing root gets a manifest whose tables ALL resolve (ADVICE r12
    #2) — and must verify the prior files still exist."""
    import json
    import os
    import shutil

    root = str(tmp_path / "reattach")
    layout.materialize_bucketed(spark, sf_dir, root, buckets=4, families=("orderkey",))
    # simulate a fresh session: the in-memory catalog forgets the tables
    for t in ("lineitem_b", "orders_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        entry = layout.materialize_bucketed(
            spark, sf_dir, root, families=("orderkey", "custkey")
        )
        for spec in entry["tables"].values():
            assert spark.catalog.tableExists(spec["name"]), spec["name"]
        assert spark.table("lineitem_b").count() > 0
        # files gone → the merge refuses instead of returning dangling specs
        shutil.rmtree(os.path.join(root, "lineitem_b"))
        spark.sql("DROP TABLE IF EXISTS lineitem_b")
        with open(os.path.join(root, layout.MANIFEST)) as fh:
            assert "lineitem" in json.load(fh)["tables"]
        with pytest.raises(FileNotFoundError, match="files are gone"):
            layout.materialize_bucketed(spark, sf_dir, root, families=("custkey",))
    finally:
        for t in ("lineitem_b", "orders_b", "orders_custkey_b", "customer_custkey_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_layout_ignores_mismatched_sf_dir(spark, sf_dir, bucketed_root, tmp_path):
    """A layout materialized from one sf_dir must never answer for another
    — _view falls back to the plain parquet path on mismatch."""
    import json
    import os

    # rewrite the manifest to claim a different source dir
    mpath = os.path.join(bucketed_root, layout.MANIFEST)
    with open(mpath) as fh:
        entry = json.load(fh)
    entry["sf_dir"] = str(tmp_path / "elsewhere")
    with open(mpath, "w") as fh:
        json.dump(entry, fh)
    try:
        with _layout_enabled(spark, bucketed_root):
            q_tpch_q18(spark, sf_dir).collect()
            assert not pipeline._is_bucketed_view(spark, "lineitem", sf_dir)
    finally:
        entry["sf_dir"] = sf_dir
        with open(mpath, "w") as fh:
            json.dump(entry, fh)


def test_layout_on_remote_style_root(spark, sf_dir, tmp_path, monkeypatch):
    """materialize_bucketed rides the fsio seam (VERDICT r12 missing #2):
    with out_root forced through the REMOTE branch (Hadoop FS manifest
    read/write + getContentSummary sizing, no open()/os.walk), the build,
    the merge, and a fresh-session re-registration all work — the layout
    materialization a 100-TB deployment runs against an object store."""
    from kafka_backup_spark import fsio

    monkeypatch.setattr(fsio, "is_remote", lambda p: str(p).startswith("file://"))
    root = f"file://{tmp_path}/remote_layout"
    try:
        entry = layout.materialize_bucketed(
            spark, sf_dir, root, buckets=4, families=("orderkey",)
        )
        assert entry["buckets"] == 4
        assert fsio.exists(f"{root}/{layout.MANIFEST}")
        assert spark.table("lineitem_b").count() > 0
        # merge adds a family through the same remote branch
        entry = layout.materialize_bucketed(
            spark, sf_dir, root, families=("orderkey", "custkey")
        )
        assert sorted(entry["tables"]) == [
            "customer@custkey", "lineitem", "orders", "orders@custkey",
        ]
        # fresh-session re-attach reads the manifest remotely
        for spec in entry["tables"].values():
            spark.sql(f"DROP TABLE IF EXISTS {spec['name']}")
        got = layout.register_bucketed(spark, root)
        assert got is not None and sorted(got["tables"]) == sorted(entry["tables"])
        assert spark.table("orders_custkey_b").count() > 0
    finally:
        for t in ("lineitem_b", "orders_b", "orders_custkey_b", "customer_custkey_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compact_bucketed_produces_layout_root(spark, sf_dir, tmp_path):
    """SegmentStore.compact_bucketed (VERDICT r12 #8): compaction lands the
    record stream as a layout root the standard machinery re-attaches —
    the layout produced at the ingest boundary, where the reference keys
    its segments (backup/engine.rs:1156-1162), not by a bench-side
    materialize step.  Checks: content parity with the plain store,
    fresh-session register_bucketed round-trip, and the plans the layout
    exists for — a (topic, partition) rollup with ZERO exchanges and a
    per-partition offset window with ZERO exchanges and ZERO sorts."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kafka_backup_spark.queries import layout as _layout
    from kafka_backup_spark.schema import events_as_records, load_table
    from kafka_backup_spark.sources.segments import SegmentStore

    store = SegmentStore(str(tmp_path / "store"))
    recs = events_as_records(load_table(spark, sf_dir, "events"))
    store.write(recs)
    try:
        entry = store.compact_bucketed(spark, buckets=4)
        assert entry["buckets"] == 4
        spec = entry["tables"]["segments_b"]
        assert spec["key"] == ["topic", "partition"]
        assert spec["sort"] == ["topic", "partition", "offset"]
        # content parity with the plain store
        plain = sorted(
            (r.topic, r.partition, r.offset) for r in store.read(spark).collect()
        )
        bucketed = sorted(
            (r.topic, r.partition, r.offset)
            for r in spark.table("segments_b").collect()
        )
        assert bucketed == plain
        # fresh-session re-attach through the standard layout machinery
        spark.sql("DROP TABLE IF EXISTS segments_b")
        got = _layout.register_bucketed(spark, f"{store.root}/bucketed")
        assert got is not None and got["buckets"] == 4
        tbl = spark.table("segments_b")
        assert tbl.count() == len(plain)
        # the plans the layout exists for
        rollup = tbl.groupBy("topic", "partition").agg(F.max("offset"))
        plan = _plan(rollup)
        assert "Exchange" not in plan, plan
        w = Window.partitionBy("topic", "partition").orderBy("offset")
        windowed = tbl.select("topic", "partition", "offset", F.row_number().over(w).alias("rn"))
        plan = _plan(windowed)
        assert "Exchange" not in plan, plan
        assert "Sort" not in plan, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS segments_b")


def test_register_bucketed_roundtrip(spark, sf_dir, bucketed_root):
    """register_bucketed re-attaches an existing layout (fresh-session
    path): after dropping the catalog tables, registration restores them
    with the bucket spec intact."""
    for t in ("lineitem_b", "orders_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    entry = layout.register_bucketed(spark, bucketed_root)
    assert entry is not None and entry["buckets"] == 4
    desc = spark.sql("DESCRIBE EXTENDED lineitem_b").collect()
    text = "\n".join(f"{r.col_name} {r.data_type}" for r in desc)
    assert "l_orderkey" in text
    n = spark.table("lineitem_b").count()
    assert n == spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    assert layout.register_bucketed(spark, str(bucketed_root) + "-missing") is None
    for t in ("lineitem_b", "orders_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_builder_manifest_read_failure_propagates(spark, sf_dir, tmp_path, monkeypatch):
    """ADVICE r13 #1: a TRANSIENT manifest read failure (not absence) must
    abort the builder — treating it as 'no layout' would recompute a
    possibly different bucket count and rewrite the manifest without the
    prior families, orphaning their files.  Read-only callers keep the
    lenient fallback (serve plain parquet)."""
    from kafka_backup_spark import fsio

    root = str(tmp_path / "l")
    layout.materialize_bucketed(spark, sf_dir, root, buckets=4, families=("orderkey",))
    try:
        real = fsio.read_text

        def flaky(path):
            if path.endswith(layout.MANIFEST):
                raise PermissionError(f"transient: {path}")
            return real(path)

        monkeypatch.setattr(fsio, "read_text", flaky)
        with pytest.raises(PermissionError):
            layout.materialize_bucketed(spark, sf_dir, root, families=("orderkey", "custkey"))
        # read-only path: lenient — unreadable manifest means 'not served'
        assert layout.register_bucketed(spark, root) is None
        monkeypatch.setattr(fsio, "read_text", real)
        # nothing was rewritten: the original manifest + family intact
        entry = layout.register_bucketed(spark, root)
        assert entry is not None and sorted(entry["tables"]) == ["lineitem", "orders"]
    finally:
        for t in ("lineitem_b", "orders_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_register_table_rebinds_on_location_mismatch(spark, sf_dir, tmp_path):
    """ADVICE r13 #2: a session that touched two layout roots must serve
    the root being registered — registration drops and re-creates a
    same-named table whose LOCATION differs, instead of no-op'ing on the
    stale binding."""
    ra, rb = str(tmp_path / "a"), str(tmp_path / "b")
    for r in (ra, rb):
        for t in ("lineitem_b", "orders_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        layout.materialize_bucketed(spark, sf_dir, r, buckets=4, families=("orderkey",))
    try:
        # catalog currently bound to rb (built last); re-register ra
        entry = layout.register_bucketed(spark, ra)
        assert entry is not None
        loc = layout._table_location(spark, "lineitem_b")
        assert loc is not None
        assert layout._norm_location(loc) == layout._norm_location(
            entry["tables"]["lineitem"]["path"]
        )
        # and same-location re-registration is still a no-op (no churn)
        assert layout.register_bucketed(spark, ra) is not None
    finally:
        for t in ("lineitem_b", "orders_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compact_bucketed_second_store_guard(spark, sf_dir, tmp_path):
    """ADVICE r13 #3: compacting a SECOND store under the default table
    name must raise (not silently rebind the first store's catalog table);
    a distinct table= per store works."""
    from kafka_backup_spark.schema import events_as_records, load_table
    from kafka_backup_spark.sources.segments import SegmentStore

    recs = events_as_records(load_table(spark, sf_dir, "events")).limit(200)
    s1 = SegmentStore(str(tmp_path / "s1"))
    s2 = SegmentStore(str(tmp_path / "s2"))
    s1.write(recs)
    s2.write(recs)
    try:
        s1.compact_bucketed(spark, buckets=2)
        with pytest.raises(ValueError, match="already bound"):
            s2.compact_bucketed(spark, buckets=2)
        entry = s2.compact_bucketed(spark, buckets=2, table="segments_s2_b")
        assert "segments_s2_b" in entry["tables"]
        # re-compacting the SAME store under its own name is allowed
        s1.compact_bucketed(spark, buckets=2)
    finally:
        for t in ("segments_b", "segments_s2_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_fingerprint_sidecar_parity_and_plans(spark, sf_dir, tmp_path):
    """Fingerprint sidecar (VERDICT r13 #1, layout.materialize_fingerprints):
    dedup_exact / leakage_safe_split / fingerprints must return IDENTICAL
    results from the precomputed sidecar, and the sidecar plans must (a)
    never touch documents.parquet and (b) run the content-group aggregation
    exchange-free (the bucketing's whole point)."""
    from kafka_backup_spark.queries.pipeline import q_dedup_exact, q_leakage_safe_split
    from kafka_backup_spark.queries.textops import q_fingerprints

    FP_QUERIES = {
        "dedup_exact": q_dedup_exact,
        "leakage_safe_split": q_leakage_safe_split,
        "fingerprints": q_fingerprints,
    }
    plain = {n: _rows(fn(spark, sf_dir)) for n, fn in FP_QUERIES.items()}
    root = str(tmp_path / "fp")
    entry = layout.materialize_fingerprints(spark, sf_dir, root, buckets=2)
    assert layout.FP_KEY in entry["tables"]
    assert entry["tables"][layout.FP_KEY]["buckets"] == 2
    try:
        with _layout_enabled(spark, root):
            assert pipeline._fp_sidecar(spark, sf_dir) == "documents_fp_b"
            # a sidecar from ANOTHER scale never answers
            assert pipeline._fp_sidecar(spark, "/other/sf") is None
            for n, fn in FP_QUERIES.items():
                assert _rows(fn(spark, sf_dir)) == plain[n], f"{n} diverged on the sidecar"
                p = _plan(fn(spark, sf_dir))
                assert "documents_fp" in p, f"{n} did not read the sidecar:\n{p}"
                assert "documents.parquet" not in p, f"{n} still scans raw text:\n{p}"
            # content-group agg is exchange-free on the text_hash bucketing
            assert "Exchange" not in _plan(q_dedup_exact(spark, sf_dir))
        # disabled again: plain path self-heals
        assert pipeline._fp_sidecar(spark, sf_dir) is None
        for n, fn in FP_QUERIES.items():
            assert _rows(fn(spark, sf_dir)) == plain[n]
    finally:
        spark.sql("DROP TABLE IF EXISTS documents_fp_b")


def test_fingerprint_sidecar_merges_into_family_manifest(spark, sf_dir, tmp_path):
    """The sidecar shares the layout manifest with the TPC-H families —
    build order must not matter and register_bucketed must round-trip all
    entries, each with its own bucket count."""
    root = str(tmp_path / "mixed")
    layout.materialize_bucketed(spark, sf_dir, root, buckets=4, families=("orderkey",))
    entry = layout.materialize_fingerprints(spark, sf_dir, root, buckets=2)
    try:
        assert sorted(entry["tables"]) == ["documents@fp", "lineitem", "orders"]
        assert entry["buckets"] == 4  # family count untouched
        assert entry["tables"][layout.FP_KEY]["buckets"] == 2
        # family merge AFTER the sidecar keeps it
        entry = layout.materialize_bucketed(spark, sf_dir, root, families=("orderkey", "custkey"))
        assert layout.FP_KEY in entry["tables"]
        # fresh-session round-trip honors the per-spec count
        for spec in entry["tables"].values():
            spark.sql(f"DROP TABLE IF EXISTS {spec['name']}")
        got = layout.register_bucketed(spark, root)
        assert got is not None and layout.FP_KEY in got["tables"]
        desc = "\n".join(
            f"{r.col_name} {r.data_type}"
            for r in spark.sql("DESCRIBE TABLE EXTENDED documents_fp_b").collect()
        )
        assert "Num Buckets 2" in desc, desc
        # another scale's root refuses the sidecar build
        with pytest.raises(ValueError, match="belongs to"):
            layout.materialize_fingerprints(spark, "/root/testdata/sf0.01", root)
    finally:
        for t in ("lineitem_b", "orders_b", "orders_custkey_b",
                  "customer_custkey_b", "documents_fp_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_segment_rollup_bucketed_is_exchange_free(spark, sf_dir):
    """The measured-path query over compact_bucketed output (VERDICT r13
    #7): the (topic, partition) rollup must read the bucketed catalog
    table and run single-phase — ZERO exchanges, zero sorts."""
    from kafka_backup_spark.queries.extra import q_segment_rollup_bucketed

    df = q_segment_rollup_bucketed(spark, sf_dir)
    p = _plan(df)
    assert "Exchange" not in p, p
    assert "Sort" not in p, p
    assert "segments_q" in p, p  # reads the compacted bucketed table
    # parity with the plain record stream
    from kafka_backup_spark.queries.common import records_df

    plain = (
        records_df(spark, sf_dir)
        .groupBy("topic", "partition")
        .count()
        .collect()
    )
    got = {(r.topic, r.partition): r.n_records for r in df.collect()}
    assert got == {(r.topic, r.partition): r["count"] for r in plain}


def test_fp_alt_oracle_sql_matches_standard(spark, sf_dir, tmp_path):
    """The symmetric-protocol DuckDB twins (SQL_DEDUP_EXACT_FP /
    SQL_LEAKAGE_SAFE_SPLIT_FP, reading the fingerprint sidecar) must
    return exactly what the standard raw-text oracles return — pinned
    here so the crossover chain's fair-storage mode can never drift."""
    import duckdb

    from kafka_backup_spark.queries.pipeline import (
        SQL_DEDUP_EXACT,
        SQL_DEDUP_EXACT_FP,
        SQL_LEAKAGE_SAFE_SPLIT,
        SQL_LEAKAGE_SAFE_SPLIT_FP,
    )

    root = str(tmp_path / "fp_alt")
    entry = layout.materialize_fingerprints(spark, sf_dir, root, buckets=2)
    try:
        con = duckdb.connect()
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{sf_dir}/documents.parquet'"
        )
        con.sql(
            "CREATE VIEW documents_fp AS SELECT * FROM "
            f"'{entry['tables'][layout.FP_KEY]['path']}/*.parquet'"
        )
        for std, alt in (
            (SQL_DEDUP_EXACT, SQL_DEDUP_EXACT_FP),
            (SQL_LEAKAGE_SAFE_SPLIT, SQL_LEAKAGE_SAFE_SPLIT_FP),
        ):
            a = con.sql(std)
            b = con.sql(alt)
            assert [d[0] for d in a.description] == [d[0] for d in b.description]
            assert sorted(a.fetchall()) == sorted(b.fetchall())
    finally:
        spark.sql("DROP TABLE IF EXISTS documents_fp_b")


def test_segment_store_rebuilds_after_data_regeneration(spark, tmp_path):
    """ADVICE r14 #1: regenerating a dataset at the SAME sf_dir and
    releasing the session artifacts must land segment_rollup_bucketed on a fresh
    compacted store (fingerprint-keyed path), not the stale one; a torn
    prior write (store dir present, completion marker absent) must be
    rebuilt, not compacted."""
    import os
    import shutil

    from kafka_backup_spark import artifacts
    from kafka_backup_spark.queries import extra

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    shutil.copy("/root/testdata/sf0.001/events.parquet", f"{sf}/events.parquet")
    n1 = extra.q_segment_rollup_bucketed(spark, sf).agg({"n_records": "sum"}).collect()[0][0]

    # regenerate IN PLACE with half the rows (distinct mtime/size)
    import duckdb

    half = duckdb.sql(
        f"SELECT * FROM read_parquet('{sf}/events.parquet') WHERE event_id % 2 = 0"
    ).arrow()
    import pyarrow.parquet as pq

    os.remove(f"{sf}/events.parquet")
    pq.write_table(half, f"{sf}/events.parquet")
    artifacts.release(spark)  # the documented in-place-writer entry point

    n2 = extra.q_segment_rollup_bucketed(spark, sf).agg({"n_records": "sum"}).collect()[0][0]
    assert n2 < n1, (n1, n2)

    # torn write: drop the marker, poison the store dir, expect a rebuild
    fp = extra._source_fingerprint(sf)
    import tempfile

    app = spark.sparkContext.applicationId
    root = os.path.join(tempfile.gettempdir(), f"kbs_segq_{fp}_{app}")
    assert os.path.isfile(os.path.join(root, "_KBS_STORE_COMPLETE"))
    os.remove(os.path.join(root, "_KBS_STORE_COMPLETE"))
    artifacts.release(spark)
    n3 = extra.q_segment_rollup_bucketed(spark, sf).agg({"n_records": "sum"}).collect()[0][0]
    assert n3 == n2, (n2, n3)


def test_sidecar_first_root_does_not_bind_family_bucket_count(spark, sf_dir, tmp_path):
    """ADVICE r14 #2: a sidecar-only manifest (materialize_fingerprints on
    a fresh root) must not seed the manifest-level shared bucket count —
    a later materialize_bucketed must size the families itself (or honor
    an explicit request without a spurious conflict)."""
    import json

    root = str(tmp_path / "fp_first")
    entry = layout.materialize_fingerprints(spark, sf_dir, root, buckets=2)
    try:
        assert "buckets" not in entry  # sidecar-only: no shared count
        on_disk = json.loads(open(f"{root}/{layout.MANIFEST}").read())
        assert "buckets" not in on_disk
        # explicit family count: no spurious 'bucket count conflict'
        entry = layout.materialize_bucketed(
            spark, sf_dir, root, buckets=4, families=("orderkey",)
        )
        assert entry["buckets"] == 4
        assert layout.FP_KEY in entry["tables"]  # sidecar carried over
        assert entry["tables"][layout.FP_KEY]["buckets"] == 2
        # fresh-session round-trip still registers both counts
        for spec in entry["tables"].values():
            spark.sql(f"DROP TABLE IF EXISTS {spec['name']}")
        got = layout.register_bucketed(spark, root)
        assert got is not None and got["buckets"] == 4
    finally:
        for t in ("lineitem_b", "orders_b", "documents_fp_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_source_fingerprint_falls_back_to_path_when_stat_fails(tmp_path, monkeypatch, caplog):
    """A stat failing mid-walk must not hash a partial file list: the
    fingerprint is the documented path-only fallback, with one WARNING."""
    import hashlib
    import logging
    import os

    from kafka_backup_spark.queries import extra

    sf = str(tmp_path)
    src = tmp_path / "events.parquet"
    src.mkdir()
    for name in ("part-0.parquet", "part-1.parquet"):
        (src / name).write_bytes(b"x")
    path_only = hashlib.md5(sf.encode()).hexdigest()[:12]
    assert extra._source_fingerprint(sf) != path_only

    real_stat = os.stat

    def flaky_stat(path, *args, **kwargs):
        if str(path).endswith("part-1.parquet"):
            raise PermissionError(13, "denied", str(path))
        return real_stat(path, *args, **kwargs)

    monkeypatch.setattr(os, "stat", flaky_stat)
    with caplog.at_level(logging.WARNING, logger=extra.__name__):
        assert extra._source_fingerprint(sf) == path_only
    warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == 1 and "path only" in warnings[0].getMessage()
