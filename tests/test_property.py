"""Property-based tests (hypothesis): murmur2 executor kernel vs the Python
scalar on arbitrary byte keys, LE codec round-trips on arbitrary longs, glob
translation vs fnmatch. Examples are batched into one DataFrame per run so
each property costs O(examples) rows, not O(examples) Spark jobs."""

from __future__ import annotations

import fnmatch

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kafka_backup_spark.functions import codecs
from kafka_backup_spark.functions.globs import glob_to_regex
from kafka_backup_spark.functions.murmur2 import murmur2, murmur2_pandas_expr

SET = settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@given(keys=st.lists(st.binary(min_size=0, max_size=40), min_size=1, max_size=50))
@SET
def test_murmur2_kernel_matches_python(spark, keys):
    df = spark.createDataFrame([(k,) for k in keys], "key binary")
    rows = df.select("key", murmur2_pandas_expr(F.col("key")).alias("h")).collect()
    for r in rows:
        assert r["h"] == murmur2(bytes(r["key"])), bytes(r["key"])


@given(
    vals=st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=1, max_size=100
    )
)
@SET
def test_le_i64_roundtrip(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    rows = df.select(
        "v", codecs.le_i64_decode(codecs.le_i64_encode(F.col("v"))).alias("rt"),
        codecs.le_i64_encode(F.col("v")).alias("enc"),
    ).collect()
    for r in rows:
        assert r["rt"] == r["v"]
        # byte layout matches python's to_bytes little-endian
        assert bytes(r["enc"]) == (r["v"] & (2**64 - 1)).to_bytes(8, "little")


@given(
    pattern=st.text(
        alphabet=st.sampled_from("abc*?.-_"), min_size=0, max_size=12
    ),
    names=st.lists(
        st.text(alphabet=st.sampled_from("abc.-_"), min_size=0, max_size=10),
        min_size=1,
        max_size=30,
    ),
)
@SET
def test_glob_matches_fnmatch(pattern, names):
    import re

    rx = re.compile(glob_to_regex(pattern))
    for n in names:
        # fnmatchcase: same *, ? semantics, no env-dependent case folding
        assert bool(rx.fullmatch(n)) == fnmatch.fnmatchcase(n, pattern), (pattern, n)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),  # offset
            st.one_of(st.none(), st.binary(max_size=64)),  # key
            st.one_of(st.none(), st.binary(max_size=128)),  # value
            st.lists(
                st.tuples(
                    st.text(alphabet="abcdefghij-", min_size=1, max_size=8),
                    st.binary(max_size=16),
                ),
                max_size=3,
            ),
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda r: r[0],
    )
)
@settings(max_examples=20, deadline=None)
def test_legacy_segment_serde_roundtrip_property(recs):
    """Legacy JSON serde round-trips arbitrary bytes (keys/values/headers,
    incl. null and empty) through the reference wire format — decoded purely
    driver-side here (base64+json), mirroring what the Spark reader's
    unbase64 path consumes."""
    import base64
    import gzip
    import json
    import tempfile
    from pathlib import Path

    from kafka_backup_spark.sources.segments import write_legacy_segments

    rows = [
        {
            "topic": "t",
            "partition": 0,
            "offset": off,
            "ts_ms": 1704067200000 + off,
            "key": k,
            "value": v,
            "headers": hs,
        }
        for off, k, v, hs in recs
    ]
    with tempfile.TemporaryDirectory() as d:
        write_legacy_segments(d, rows, gzip_partitions=frozenset({0}))
        files = list(Path(d).glob("topics/t/partition=0/segment-*.json.gz"))
        assert len(files) == 1
        payload = json.loads(gzip.decompress(files[0].read_bytes()))
    by_off = {p["offset"]: p for p in payload}
    assert sorted(by_off) == sorted(r[0] for r in recs)
    for off, k, v, hs in recs:
        p = by_off[off]
        assert (None if p["key"] is None else base64.b64decode(p["key"])) == k
        assert (None if p["value"] is None else base64.b64decode(p["value"])) == v
        assert [(h["key"], base64.b64decode(h["value"])) for h in p["headers"]] == list(hs)
        assert p["timestamp"] == 1704067200000 + off


@given(texts=st.lists(st.text(min_size=0, max_size=60), min_size=1, max_size=40))
@SET
def test_fast_hash64_matches_python_and_duckdb(spark, texts):
    """56-bit hash definition holds for arbitrary unicode: Spark expression
    == pure-Python md5 bytes 8..14 BE == DuckDB twin, and the value always
    fits [0, 2^56)."""
    import hashlib

    import duckdb

    from kafka_backup_spark.functions import hashing

    texts = list(dict.fromkeys(texts))  # unique, preserves order
    df = spark.createDataFrame([(t,) for t in texts], "s string")
    got = {
        r["s"]: r["h"]
        for r in df.select("s", hashing.fast_hash64(F.col("s")).alias("h")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(t,) for t in texts])
    duck = dict(con.sql(f"SELECT s, {hashing.fast_hash64_duckdb('s')} FROM t").fetchall())
    for t in texts:
        exp = int.from_bytes(hashlib.md5(t.encode()).digest()[8:15], "big")
        assert got[t] == exp == duck[t], repr(t)
        assert 0 <= got[t] < 1 << 56


@given(
    cents=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=11_000_000),  # price cents
            st.integers(min_value=0, max_value=10),          # discount %
            st.integers(min_value=0, max_value=8),           # tax %
        ),
        min_size=1,
        max_size=60,
    )
)
@SET
def test_fixed_point_money_parity_spark_vs_duckdb(spark, cents):
    """The TPC-H fixed-point rewrite's exactness contract: for arbitrary 2dp
    money values, the hi/lo-split BIGINT revenue/charge sums and the final
    double conversion produce BIT-IDENTICAL results in Spark and DuckDB
    (queries/pipeline.py _Q1_BODY).  Inputs arrive as the doubles both
    engines read from parquet."""
    import duckdb

    rows = [(pc / 100.0, dc / 100.0, tc / 100.0) for pc, dc, tc in cents]
    body = """
    WITH fx AS (
      SELECT CAST(round(p * 100) AS BIGINT) AS pc,
             CAST(round(d * 100) AS BIGINT) AS dc,
             CAST(round(t * 100) AS BIGINT) AS tc
      FROM m
    ), s AS (
      SELECT CAST(sum((pc * (100 - dc)) {IDIV} 1000000) AS BIGINT) AS rev_hi,
             CAST(sum((pc * (100 - dc)) % 1000000) AS BIGINT) AS rev_lo,
             CAST(sum((pc * (100 - dc) * (100 + tc)) {IDIV} 1000000) AS BIGINT) AS chg_hi,
             CAST(sum((pc * (100 - dc) * (100 + tc)) % 1000000) AS BIGINT) AS chg_lo
      FROM fx
    )
    SELECT (CAST(rev_hi AS DOUBLE) * 1e6 + CAST(rev_lo AS DOUBLE)) / 1e4 AS rev,
           (CAST(chg_hi AS DOUBLE) * 1e6 + CAST(chg_lo AS DOUBLE)) / 1e6 AS chg
    FROM s
    """
    sdf = spark.createDataFrame(rows, "p double, d double, t double")
    sdf.createOrReplaceTempView("m")
    srow = spark.sql(body.format(IDIV="div")).collect()[0]
    con = duckdb.connect()
    con.sql("CREATE TABLE m(p DOUBLE, d DOUBLE, t DOUBLE)")
    con.executemany("INSERT INTO m VALUES (?, ?, ?)", rows)
    orow = con.sql(body.format(IDIV="//")).fetchone()
    # bit-identical doubles, not approx-equal: the driver hashes exact values
    assert (srow["rev"], srow["chg"]) == (orow[0], orow[1])
    # and exactness vs the rational ground truth (Fraction math, no floats)
    from fractions import Fraction

    rev = sum(Fraction(pc * (100 - dc), 10**4) for pc, dc, _ in cents)
    assert srow["rev"] == float(rev)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=60,
    )
)
@SET
def test_lss_components_match_union_find(spark, edges):
    """Large-star/small-star contraction equals a Python union-find on
    arbitrary small graphs (self-loops dropped, duplicate edges allowed)."""
    from kafka_backup_spark.queries import textops

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    df = spark.createDataFrame(edges, "a long, b long")
    got = {
        (r["cluster_id"], r["n_members"], r["max_doc"])
        for r in textops._components(spark, df, "prop_lss").collect()
    }

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict[int, list[int]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    expect = {(root, len(ms), max(ms)) for root, ms in comp.items()}
    assert got == expect


@given(
    # EDGE CASES BY CONSTRUCTION, not by luck (max_examples is small):
    # mapping pairs live only in partitions 0-2 while probes also draw
    # partition 3 → every example exercises the pair-less NULL path; the
    # tiny timestamp range (0-15 over up-to-40 pairs) forces duplicate
    # timestamps and probe-boundary ties in nearly every draw.
    pairs=st.lists(
        st.tuples(st.integers(0, 50), st.integers(0, 2), st.integers(0, 15)),
        max_size=40,
    ),
    probes=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 15)),
        min_size=1,
        max_size=30,
    ),
)
@SET
def test_timestamp_asof_matches_python_reference(spark, pairs, probes):
    """r6 running-frame rewrite of nearest_offsets_by_timestamp vs a direct
    Python transliteration of the reference semantics (first pair with
    timestamp >= T, min by (timestamp, source_offset); else the pair with
    the greatest source offset; NULL when no pairs) on random mappings with
    duplicate timestamps, shared offsets, and partitions with no pairs."""
    from kafka_backup_spark.operators.asof import nearest_offsets_by_timestamp

    # mapping: (source_offset, partition, timestamp); target = source + 1000
    mapping_rows = [
        (str("t"), p, so, so + 1000, ts) for so, p, ts in {(a, b, c) for a, b, c in pairs}
    ]
    probe_rows = [("t", p, ts) for p, ts in probes]
    m = spark.createDataFrame(
        mapping_rows or [("t", 99, 0, 1000, 0)],
        "topic string, partition int, source_offset long, target_offset long, timestamp long",
    )
    pr = spark.createDataFrame(probe_rows, "topic string, partition int, probe_ts long")
    got = {
        (r["topic"], r["partition"], r["probe_ts"], r["source_offset"], r["target_offset"])
        for r in nearest_offsets_by_timestamp(pr, m).collect()
    }

    by_part: dict[int, list] = {}
    for t, p, so, tgt, ts in (mapping_rows or [("t", 99, 0, 1000, 0)]):
        by_part.setdefault(p, []).append((ts, so, tgt))
    expect = set()
    for t, p, ts in probe_rows:
        cand = sorted((x, s, g) for x, s, g in by_part.get(p, []) if x >= ts)
        if cand:
            x, s, g = cand[0]
            expect.add((t, p, ts, s, g))
        elif by_part.get(p):
            x, s, g = max(by_part[p], key=lambda r: r[1])
            expect.add((t, p, ts, s, g))
        else:
            expect.add((t, p, ts, None, None))
    assert got == expect


@given(
    # same edge-by-construction shaping as the timestamp test: pairs only
    # in partitions 0-2 (probes reach 3 → guaranteed NULL path), offsets in
    # a small range so exact-match (delta 0) probes occur routinely
    pairs=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 25)),
        max_size=40,
    ),
    probes=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 25)),
        min_size=1,
        max_size=30,
    ),
)
@SET
def test_offset_asof_matches_python_reference(spark, pairs, probes):
    """lookup_target_offsets (no ranges) vs Python: greatest pair with
    source_offset <= probe -> target + (probe - source); else NULL."""
    from kafka_backup_spark.operators.asof import lookup_target_offsets

    mapping_rows = [(str("t"), p, so, so * 7 + 3) for p, so in {(a, b) for a, b in pairs}]
    probe_rows = [("t", p, so) for p, so in probes]
    m = spark.createDataFrame(
        mapping_rows or [("t", 99, 0, 3)],
        "topic string, partition int, source_offset long, target_offset long",
    )
    pr = spark.createDataFrame(probe_rows, "topic string, partition int, source_offset long")
    got = {
        (r["topic"], r["partition"], r["source_offset"], r["target_offset"])
        for r in lookup_target_offsets(pr, m).collect()
    }
    by_part: dict[int, list] = {}
    for t, p, so, tgt in (mapping_rows or [("t", 99, 0, 3)]):
        by_part.setdefault(p, []).append((so, tgt))
    expect = set()
    for t, p, x in probe_rows:
        cand = [(s, g) for s, g in by_part.get(p, []) if s <= x]
        if cand:
            s, g = max(cand)
            expect.add((t, p, x, g + (x - s)))
        else:
            expect.add((t, p, x, None))
    assert expect == got


@given(
    texts=st.lists(
        st.text(alphabet="abcd ", min_size=40, max_size=160), min_size=2, max_size=8
    ),
    data=st.data(),
)
@SET
def test_dup_span_extents_property(spark, texts, data):
    """Generative check of the extents pipeline on adversarial corpora: a
    tiny alphabet makes cross-document 40-char window collisions common
    (overlapping merges, spans at both text boundaries), and a planted
    shared block lands at ARBITRARY misaligned offsets — the case the r7
    content-defined anchors exist for (a fixed stride only collided when
    alignments matched mod 16).  Oracle = the same Python reference the
    fixture cross-check uses."""
    import hashlib
    from collections import defaultdict

    from test_pipeline_m9 import _anchor_starts

    from kafka_backup_spark.queries.pipeline import SPAN_LEN, dup_span_extents_frame

    # plant one shared block into two docs at misaligned offsets
    block = data.draw(st.text(alphabet="wxyz", min_size=120, max_size=120))
    docs = {i: t for i, t in enumerate(texts)}
    docs[0] = docs[0][:21] + block + docs[0][21:]
    docs[1] = block + docs[1]
    corpus = {d: t for d, t in docs.items() if len(t) >= SPAN_LEN}

    owners = defaultdict(set)
    for d, t in corpus.items():
        for i in _anchor_starts(t):
            owners[t[i : i + SPAN_LEN]].add(d)

    def expected(d, t):
        dup = [
            i for i in _anchor_starts(t) if len(owners[t[i : i + SPAN_LEN]]) > 1
        ]
        merged = []
        for i in dup:
            s, e = i, i + SPAN_LEN - 1
            if merged and s <= merged[-1][1] + 1:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        clean = "".join(
            t[(0 if k == 0 else merged[k - 1][1] + 1) : (merged[k][0] if k < len(merged) else len(t))]
            for k in range(len(merged) + 1)
        )
        return (
            len(merged),
            sum(e - s + 1 for s, e in merged),
            ";".join(f"{s + 1}-{e + 1}" for s, e in merged),
            hashlib.md5(clean.encode()).hexdigest(),
        )

    df = spark.createDataFrame(
        [(d, t) for d, t in corpus.items()], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in dup_span_extents_frame(df).collect()}
    assert set(rows) == set(corpus)
    for d, t in corpus.items():
        n, chars, span_str, clean_hash = expected(d, t)
        r = rows[d]
        assert (r["n_spans"], r["dup_chars"], r["spans"], r["clean_hash"]) == (
            n, chars, span_str, clean_hash,
        ), (d, t)
    # anchors are content-defined, so the misaligned copies share interior
    # anchor windows with high probability; when the Python oracle finds an
    # extent, Spark must agree (the exact-match loop above already enforces
    # equality — this pins that the scenario is usually non-trivial)
    if expected(0, docs[0])[0] >= 1:
        assert rows[0]["n_spans"] >= 1


@given(
    sizes=st.lists(st.integers(min_value=1, max_value=2000), min_size=1, max_size=40),
    target=st.integers(min_value=1, max_value=1500),
)
@SET
def test_compaction_plan_matches_greedy_reference(spark, sizes, target):
    """Generative check of the greedy-prefix packing against a pure-Python
    reference: bucket assignment, per-bucket totals, and offset ranges must
    match for arbitrary segment-size sequences and targets (including
    oversized single segments and target=1)."""
    from kafka_backup_spark import manifest as mani

    rows = [
        ("t", 0, f"s{i}", i * 10, i * 10 + 9, 0, 1, 10, sz * 2, sz)
        for i, sz in enumerate(sizes)
    ]
    m = spark.createDataFrame(
        rows,
        "topic string, partition int, key string, start_offset long, "
        "end_offset long, start_ts long, end_ts long, record_count long, "
        "uncompressed_size long, compressed_size long",
    )
    got = {
        r["bucket"]: (r["n_segments"], r["bucket_bytes"], r["start_offset"], r["end_offset"])
        for r in mani.compaction_plan(m, target).collect()
    }
    # python reference: bucket = cumulative-before // target
    from collections import defaultdict

    want = defaultdict(lambda: [0, 0, None, None])
    cum = 0
    for i, sz in enumerate(sizes):
        b = cum // target
        w = want[b]
        w[0] += 1
        w[1] += sz
        w[2] = i * 10 if w[2] is None else w[2]
        w[3] = i * 10 + 9
        cum += sz
    assert got == {b: tuple(w) for b, w in want.items()}


@given(
    texts=st.lists(st.text(alphabet="ab ", min_size=0, max_size=30), min_size=1, max_size=15),
    dups=st.lists(st.integers(min_value=0, max_value=14), max_size=10),
)
@SET
def test_leakage_safe_split_property(spark, texts, dups):
    """Generative invariant for the dedup-aware split: for arbitrary corpora
    with arbitrary planted duplicates, (a) every document appears exactly
    once across splits, (b) per-split group counts sum to the global
    distinct-content count (no group straddles a boundary), and (c) the
    split of each group matches the Python recomputation of the bucket
    rule."""
    import hashlib

    from kafka_backup_spark.queries.pipeline import leakage_safe_split_frame

    docs = {i: t for i, t in enumerate(texts)}
    base = len(texts)
    for n, src in enumerate(d for d in dups if d < len(texts)):
        docs[base + n] = texts[src]  # planted duplicate at a new doc_id

    df = spark.createDataFrame(
        [(d, t) for d, t in docs.items()], "doc_id long, text string"
    )
    rows = leakage_safe_split_frame(df).collect()
    # python reference of the same rule
    groups: dict[str, int] = {}
    for d in sorted(docs):
        groups.setdefault(hashlib.md5(docs[d].encode()).hexdigest(), d)
    def py_split(gid: int) -> str:
        hv = int.from_bytes(hashlib.md5(str(gid).encode()).digest()[8:15], "big") % 100
        return "train" if hv < 98 else ("val" if hv == 98 else "test")
    want_docs: dict[str, int] = {}
    want_groups: dict[str, set] = {}
    for d in docs:
        gid = groups[hashlib.md5(docs[d].encode()).hexdigest()]
        s = py_split(gid)
        want_docs[s] = want_docs.get(s, 0) + 1
        want_groups.setdefault(s, set()).add(gid)
    assert {r["split"]: r["n_docs"] for r in rows} == want_docs
    assert {r["split"]: r["n_groups"] for r in rows} == {
        s: len(v) for s, v in want_groups.items()
    }
    assert sum(r["n_docs"] for r in rows) == len(docs)
    assert sum(r["n_groups"] for r in rows) == len(groups)
