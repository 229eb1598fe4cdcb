"""General join/agg coverage (TPC-H-shaped) + training-data pipeline
operators (M7: dedup, text analysis, similarity search) with DuckDB oracles.

Money-like aggregates go through fixed-point BIGINT (exact — the 2dp inputs
become integer cents, sums stay in the codegen long path, hi/lo-split where
per-row products would otherwise near 2^63 at 100-TB row counts) and convert
to dollars in one deterministic double expression both engines evaluate
identically; similarity scores are rounded to 4dp before ranking so float
summation order can't flip the hash.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_backup_spark import artifacts


def _docs_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-pinned documents table (common.hot_table): the small-SF corpus
    is one parquet row group — unpinned, every text/pipeline operator would
    re-scan it serially on a single task."""
    from kafka_backup_spark.queries.common import hot_table

    return hot_table(spark, sf_dir, "documents")


# registered-view width per table under the small gate: the hot pin spreads
# every table to the session's full parallelism (right for the CPU-heavy
# text/record consumers), but the TPC-H views mostly feed broadcast builds
# and modest aggs, where 7 tables × 32 near-empty tasks of scheduling
# dominate — measured 0.57 s → 0.33 s on q3 at sf0.1.  Row counts per task
# stay trivial (lineitem sf0.1 = 600k rows / 16).  Beyond the pin gate the
# views keep the scan's natural splits (coalescing a real fact-table scan
# would cap its parallelism).
_VIEW_PARTS = {
    "lineitem": 16,
    "orders": 8,
    "customer": 4,
    "part": 4,
    "supplier": 2,
    "nation": 1,
    "region": 1,
}


def _bucketed_layout(spark: SparkSession) -> dict | None:
    """The session's registered bucketed fact layout (queries/layout.py),
    or None.  Opt-in via ``spark.kafkaBackupSpark.bucketedLayout`` (set
    from env ``SPARK_GRAFT_BUCKETED_LAYOUT`` by session.get_spark): the
    layout is a MATERIALIZED artifact like the reference's
    partition-aligned segments — built once at ingest/compaction time,
    then every orderkey join/rollup/window reads it shuffle-free.
    The manifest is read once per (session, root); toggling the conf
    mid-session requires artifacts.release(spark) (cached plans hold the
    layout they were built against)."""
    root = spark.conf.get("spark.kafkaBackupSpark.bucketedLayout", "")
    if not root:
        return None
    from kafka_backup_spark.queries import layout as _layout

    return artifacts.get_or_build(
        spark, "layout", root, lambda: _layout.register_bucketed(spark, root)
    )


def _fp_sidecar(spark: SparkSession, sf_dir: str) -> str | None:
    """Catalog table name of the ingest-computed fingerprint sidecar
    (layout.materialize_fingerprints) when the session's layout root
    carries one for THIS sf_dir, else None.  Same staleness contract as
    the bucketed views: a sidecar built from another scale never answers."""
    bl = _bucketed_layout(spark)
    if bl is None or bl.get("sf_dir") != sf_dir:
        return None
    from kafka_backup_spark.queries import layout as _layout

    spec = bl["tables"].get(_layout.FP_KEY)
    return spec["name"] if spec is not None else None


def _view(spark: SparkSession, sf_dir: str, *names: str, bucketed: tuple = ()) -> None:
    """Register the named tables as temp views.  ``bucketed`` names OPT IN
    to the session's bucketed layout (when active and covering this
    sf_dir): opt-in is PER QUERY and only for shapes with a measured win —
    serving the layout blanket regressed untested shapes 3-5× at sf10
    because the bucketed catalog table's size estimate can fall under the
    broadcast threshold where the plain view's doesn't, and a STATIC
    broadcast of a 15M-row fact (which AQE cannot revert) costs ~10 s
    (SCALE.md "Integrated layout A/B at sf10", q7/q9/q10 first wave).

    A ``bucketed`` entry is either a plain table name (the default
    "orderkey" family) or ``"table@family"`` (e.g. ``"orders@custkey"``
    serves the view ``orders`` from the custkey-bucketed copy — layout.py
    FAMILIES), so one view name can bind to whichever co-partitioning the
    query's join keys need.

    Each registration is a session artifact of kind ``view`` whose value
    is the binding: the plain sf_dir, or ("bucketed", alias, sf_dir).  A
    view is re-registered only when its binding changes — re-reading the
    footer and re-registering an identical view costs ~60-80 ms of driver
    RPC per table (q5 touches six)."""
    from kafka_backup_spark.queries.common import hot_table, small_table

    bound = artifacts.entries(spark, "view")
    bl = _bucketed_layout(spark) if bucketed else None
    for n in names:
        # serve the bucketed catalog table when the layout covers THIS
        # sf_dir (a layout built from another scale factor must never
        # answer for it) — the temp view is a plan alias, so the scan
        # keeps the bucket hash-partitioning and sort metadata
        alias = next(
            (b for b in bucketed if b == n or b.startswith(f"{n}@")), None
        )
        spec = (
            bl["tables"].get(alias)
            if alias is not None and bl is not None and bl.get("sf_dir") == sf_dir
            else None
        )
        # a structured tuple, not a delimited string — an sf_dir
        # containing ':' can't confuse the comparison (ADVICE r12)
        binding = ("bucketed", alias, sf_dir) if spec is not None else sf_dir
        if bound.get(n) == binding:
            continue
        if spec is not None:
            df = spark.table(spec["name"])
        else:
            df = hot_table(spark, sf_dir, n)
            if small_table(sf_dir, n):  # pinned → right-size the task count
                df = df.coalesce(_VIEW_PARTS.get(n, 8))
        artifacts.release(spark, "view", n)
        df.createOrReplaceTempView(n)
        artifacts.get_or_build(spark, "view", n, lambda b=binding: b)


# Footprint gate for the AQE-crossover opt-ins (r12 sf1 sweep, min-of-6
# interleaved, one session).  Two regimes, measured at three scales:
#
# - SMALL facts (sf1, lineitem 80 MB zstd): AQE converts the post-shuffle
#   join to a runtime broadcast (the date/priority-filtered orders side
#   lands under the adaptive threshold) and plain scans split ~1 task per
#   2.5 MB — both beaten by the layout's fixed bucket-count scan + SHJ.
#   Bucket count is NOT the cause: q5 measured 3.79/3.51 s at 4 and 32
#   buckets vs 0.84 plain; q1/q3/q4/q6/q7/q21 regress 15-150% at either
#   count while q9/q10/q12/q13/q18/q22 win at both.
# - LARGE facts (sf10, lineitem 769 MB): no filtered side can broadcast,
#   the exchange pair IS the wall, and every opted query won (+9..+78%,
#   integrated probe).
#
# The winners' common trait: their removed exchange feeds a same-key
# ROLLUP or pre-aggregated probe (orders-rollup in q9/q10/q12/q13/q18/q22)
# that AQE could never broadcast away; the losers' exchange feeds a plain
# join AQE converts at small scale.  So the rollup-shaped queries opt in
# unconditionally and the join-shaped ones gate on the dominant fact's
# footprint: past ~4x the 64 MB static broadcast threshold a
# half-selectivity filtered fact can no longer convert, and co-location
# is pure win.  At 100 TB the gate is always open; it exists so the same
# code serves a 100 MB dev slice without regressing it.
_ORDERKEY_GATE_BYTES = 256 << 20


def _gated_orderkey(spark: SparkSession, sf_dir: str, *names: str) -> tuple:
    """The orderkey-family opt-in tuple when ``sf_dir``'s lineitem is past
    the AQE-crossover gate, else () (plain views); decided once per
    (session, sf_dir).  Object-store and ``file://`` paths are sized like
    local ones (fsio.dataset_bytes); a path that cannot be sized is
    treated as at-scale — the gate is a small-input concession, not a
    capability flag."""
    from kafka_backup_spark import fsio

    def past_gate() -> bool:
        try:
            return fsio.dataset_bytes(f"{sf_dir}/lineitem.parquet") >= _ORDERKEY_GATE_BYTES
        except OSError:
            return True

    return names if artifacts.get_or_build(spark, "gate", sf_dir, past_gate) else ()


def _is_bucketed_view(spark: SparkSession, name: str, sf_dir: str) -> bool:
    """True when ``_view`` bound ``name`` to the bucketed layout for this
    sf_dir (any family) — the gate for layout-conditional plan choices
    (e.g. q21's co-located SHUFFLE_HASH, which only beats the SMJ when the
    exchange is already gone)."""
    v = artifacts.entries(spark, "view").get(name)
    return isinstance(v, tuple) and v[0] == "bucketed" and v[2] == sf_dir


# ── TPC-H Q1: pricing summary ─────────────────────────────────────────────
# Money arithmetic is FIXED-POINT BIGINT, not DECIMAL: the 2dp inputs become
# integer cents/hundredths (exact — every money column in the fixtures is
# 2dp), every sum runs in the whole-stage-codegen long path, and the final
# dollars conversion is one deterministic double expression both engines
# evaluate with identical IEEE ops.  The previous DECIMAL formulation was
# exact too, but Spark's sum over precision-promoted decimals (>18 digits)
# leaves the long-backed fast path for boxed accumulation — measured ~3× on
# Q1 (0.74 s vs 0.23 s for the product sums at sf0.1) — while DuckDB's
# int128 sums don't slow down, so the tax fell entirely on the Spark side.
# Product sums are split hi/lo around 1e6 so each BIGINT accumulator stays
# overflow-safe at 100-TB row counts: per-row pc*(100-dc)*(100+tc) ≤ ~1.1e11
# → hi ≤ 1.1e5/row, lo < 1e6/row → ~6e11 rows before either sum nears 2^63.
# EXACTNESS CEILING: the BIGINT accumulators are exact to the ~6e11-row
# bound above, but the final hi/lo → dollars reconstruction
# (hi·1e6 + lo as DOUBLE) is exact only while the combined value fits an
# IEEE-754 mantissa — 2^53, i.e. ~$9e9 of summed revenue per group.  Beyond
# that the guarantee is cross-engine PARITY, not exactness: both engines
# evaluate the identical double expression and round identically, so hashes
# still match, but the printed dollars may differ from the true sum in the
# last ulps.  (At 100-TB group sums, parity is the contract.)
# {IDIV} is the integer-division operator: Spark `div`, DuckDB `//`.
#
# ADAPTIVE SINGLE-SUM MODE (VERDICT r8 #2): the hi/lo split costs a second
# accumulator plus a per-row div+mod on every money aggregate — measured
# 0.361 s vs 0.269 s on Q1 at sf0.1 (min-of-6, one session; raw-double
# ceiling 0.204 s, count-only scan floor 0.157 s).  But the split only
# EARNS anything once a single BIGINT accumulator could overflow, and that
# is provable from parquet footer statistics without scanning a row:
# sum(|per-row product|) over ANY group is bounded by
# total_rows × max_per_row_product, with max_per_row_product derived from
# the footer min/max of l_extendedprice / p_retailprice / l_quantity /
# l_discount / l_tax.  When that bound clears 2^59, every money aggregate
# collapses to ONE plain BIGINT sum; the reconstruction keeps the same
# (hi, lo) shape with a constant-zero hi, so the downstream dollar
# expression — and therefore the DuckDB oracle, which always runs the
# hi/lo formulation — produces the bit-identical double.  2^59 (not 2^53,
# and not the looser 2^62 the gate used through r9 — ADVICE r9 #1) is the
# PROVABLE parity bound: group totals may well exceed 2^53 (sf1 q1 charge
# sums are ~5.2e16).  hilo mode computes hi = SUM(vᵢ div 1e6) — the sum of
# PER-ROW truncated quotients, which differs from total div 1e6 when rows
# are mixed-sign (q9 profit) — but the bound holds on the per-row form
# directly: both engines use TRUNCATING integer division (toward zero), so
# |vᵢ div 1e6|·1e6 ≤ |vᵢ|, hence |hi|·1e6 ≤ Σ|vᵢ div 1e6|·1e6 ≤ Σ|vᵢ| ≤
# rows·worst < 2^59.  Then |hi|·15625 < 2^53 so hi·1e6 is an exact double,
# each |lo| ≤ rows·1e6 < 2^53 is exact, and one rounded add yields the
# correctly-rounded double of the exact integer total — the same value
# single mode's 0·1e6 + total produces (pinned by
# tests/test_plan_quality.py: test_money_modes_agree and
# test_hilo_reconstruction_bound).  Past the gate (sf≳0.7 at fixture
# price ranges — and any 100-TB run) the hi/lo split arms automatically.
# `spark.kafkaBackupSpark.moneyMode` ∈ {auto (default), single, hilo}
# overrides the gate for A/B runs.


def _money_sum(expr: str, hi: str, lo: str, idiv: str, single: bool) -> str:
    """The two agg-side columns of one money aggregate.  hi/lo mode: the
    overflow-safe per-row split (exact to ~6e11 rows/group).  single mode:
    one plain BIGINT sum in ``lo`` with a constant-zero ``hi`` — the
    downstream ``hi*1e6 + lo`` reconstruction is textually unchanged and
    numerically identical while the gate's 2^59 bound holds."""
    if single:
        return (
            f"CAST(0 AS BIGINT) AS {hi},\n"
            f"         CAST(SUM({expr}) AS BIGINT) AS {lo}"
        )
    return (
        f"CAST(SUM(({expr}) {idiv} 1000000) AS BIGINT) AS {hi},\n"
        f"         CAST(SUM(({expr}) % 1000000) AS BIGINT) AS {lo}"
    )


_CENTS_RE = re.compile(r"CAST\(round\((\w+) \* 100\) AS BIGINT\)")


def _cents_sql(sql: str) -> str:
    """Spark-side fixed-point conversion (r9, measured): Spark's round()
    on DOUBLE routes every row through BigDecimal.setScale — boxing that
    dominated the whole TPC-H family's wall-time (q1 at sf10: scan 0.58 s,
    scan+round-casts 1.6 s, full query 1.7 s).  `CAST(x*100 + sign(x)*0.5D
    AS BIGINT)` is pure double arithmetic inside whole-stage codegen and
    agrees with round()'s HALF_UP exactly whenever x*100 is not an exact
    .5 — guaranteed here because every such column is generated with two
    decimals (x*100 is an integer up to float error; the engines' shared
    premise that cents are exactly recoverable).  sign() keeps the
    half-AWAY-FROM-ZERO behaviour for the one signed column (c_acctbal).
    A/B at sf10 min-of-5: q1 1.72 -> 0.80 s, results bit-equal.  Applied
    to the SPARK text only — every DuckDB oracle keeps round(), so the
    driver hash-compare proves the equivalence on each run."""
    return _CENTS_RE.sub(
        lambda m: f"CAST({m.group(1)} * 100 + sign({m.group(1)}) * 0.5D AS BIGINT)",
        sql,
    )


def _parquet_footer_stats(path: str, *columns: str):
    """(total_rows, {column: max}, {column: min}) from parquet footers —
    driver-side file metadata only, no Spark job.  Returns None when any
    row group lacks min/max statistics or the path is not a local
    file/directory (object stores): callers treat None as 'assume the
    worst'."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = [
            os.path.join(root, f)
            for root, _dirs, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        ]
    elif os.path.isfile(path):
        files = [path]
    else:
        return None
    rows, maxes, mins = 0, dict.fromkeys(columns), dict.fromkeys(columns)
    for f in files:
        md = pq.read_metadata(f)
        rows += md.num_rows
        names = [md.schema.column(i).name for i in range(len(md.schema))]
        for col in columns:
            if col not in names:
                return None
            idx = names.index(col)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    return None
                m, n = float(st.max), float(st.min)
                if maxes[col] is None or m > maxes[col]:
                    maxes[col] = m
                if mins[col] is None or n < mins[col]:
                    mins[col] = n
    if rows == 0 or any(v is None for v in maxes.values()):
        return None
    return rows, maxes, mins


def _money_bounds(spark: SparkSession, sf_dir: str) -> dict | None:
    """Per-EXPRESSION worst-case per-row magnitudes (in 1e-6-dollar units)
    derived from parquet footer min/max, plus the row count — read once
    per (session, sf_dir).  None when any footer statistic is missing
    (object stores, stats-less writers): callers fall back to the
    scale-safe hi/lo path.

    Kinds (VERDICT r13 #5 — the r13 gate applied ONE family-worst bound,
    Q1's triple product, to every aggregate; at sf10 that blocked
    single-sum for the plain revenue sums whose own per-row magnitude is
    ~100× smaller):

    - ``rev``:    pc·(100−dc)                    (q3/q5/q7/q10/q14/q15/q19…)
    - ``disc``:   pc·dc                          (q6 — dc ≤ 10 in TPC-H data,
                                                  so another ~10× headroom)
    - ``charge``: pc·(100−dc)·(100+tc)           (q1's charge column)
    - ``q9``:     |pc·(100−dc) − rp·qc|          (mixed-sign profit)
    - ``worst``:  max of all (the r13 family-wide behavior, the default)"""
    return artifacts.get_or_build(
        spark, "money-bounds", sf_dir, lambda: _footer_money_bounds(sf_dir)
    )


def _footer_money_bounds(sf_dir: str) -> dict | None:
    out = None
    try:
        li = _parquet_footer_stats(
            f"{sf_dir}/lineitem.parquet",
            "l_extendedprice",
            "l_quantity",
            "l_discount",
            "l_tax",
        )
        pt = _parquet_footer_stats(f"{sf_dir}/part.parquet", "p_retailprice")
        if li is not None and pt is not None:
            rows, lim, low = li
            pc = lim["l_extendedprice"] * 100  # cents
            qc = lim["l_quantity"] * 100
            rp = pt[1]["p_retailprice"] * 100
            # Discount/tax amplification factors derived from the footer
            # min/max (ADVICE r9 #2) instead of assuming 0 ≤ dc ≤ 100 and
            # tc ≤ 8: comp_amp bounds |100-dc| (revenue), disc_amp bounds
            # |dc| (Q6's forecast sum); tax_amp bounds |100+tc|.  Data
            # outside the classic TPC-H ranges just shrinks the admitted
            # window — never voids the proof.
            dc_lo, dc_hi = low["l_discount"] * 100, lim["l_discount"] * 100
            tc_lo, tc_hi = low["l_tax"] * 100, lim["l_tax"] * 100
            comp_amp = max(abs(100 - dc_lo), abs(100 - dc_hi))
            disc_amp = max(abs(dc_lo), abs(dc_hi))
            tax_amp = max(abs(100 + tc_lo), abs(100 + tc_hi))
            bounds = {
                "rev": pc * comp_amp,
                "disc": pc * disc_amp,
                "charge": pc * comp_amp * tax_amp,
                "q9": pc * comp_amp + rp * qc,
            }
            bounds["worst"] = max(bounds.values())
            out = {"rows": rows, "bounds": bounds}
    except Exception:
        out = None  # unreadable footers → scale-safe path
    return out


def _money_single(spark: SparkSession, sf_dir: str, kind: str = "worst") -> bool:
    """True when a single BIGINT accumulator is provably parity-safe for
    money aggregates of per-row shape ``kind`` on this dataset (see the
    mode comment above and _money_bounds).  Decided once per (session,
    sf_dir, kind): the decision depends only on the files.  Any missing
    statistic disables single mode — the hi/lo split is always correct,
    just slower.  Mixed modes within one query are sound: each
    aggregate's (hi, lo) reconstruction is independent, so e.g. q1 runs
    its revenue sums single while its charge column stays hi/lo."""
    mode = ""
    try:
        mode = str(spark.conf.get("spark.kafkaBackupSpark.moneyMode", "auto"))
    except Exception:
        pass
    if mode == "single":
        return True
    if mode == "hilo":
        return False

    def decide() -> bool:
        mb = _money_bounds(spark, sf_dir)
        if mb is None:
            return False
        # 2^59, not 2^62 (ADVICE r9 #1): the oracle always reconstructs
        # hi·1e6 + lo in doubles, and that expression is the correctly
        # rounded double of the exact integer total only while
        # hi·15625 < 2^53 ⇔ total < 2^53·64 = 2^59 (1e6 = 2^6·15625,
        # so hi·1e6 is then exact) AND lo itself is exact
        # (lo ≤ rows·(1e6−1) < 2^53).  Inside that window single mode's
        # 0·1e6 + total and the oracle's hi·1e6 + lo are both the
        # correctly-rounded double of the same integer — bit-identical.
        rows = mb["rows"]
        return rows * mb["bounds"][kind] < float(2**59) and rows * 1e6 < float(2**53)

    return artifacts.get_or_build(spark, "money-mode", (sf_dir, kind), decide)


_Q1_BODY = """
WITH fx AS (
  SELECT l_returnflag, l_linestatus,
         CAST(round(l_quantity * 100) AS BIGINT) AS qc,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
         CAST(round(l_discount * 100) AS BIGINT) AS dc,
         CAST(round(l_tax * 100) AS BIGINT) AS tc
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
), t AS (
  SELECT l_returnflag, l_linestatus,
         CAST(sum(qc) AS BIGINT) AS sqc,
         CAST(sum(pc) AS BIGINT) AS spc,
         CAST(sum(dc) AS BIGINT) AS sdc,
         {REV_SUM},
         {CHG_SUM},
         COUNT(*) AS count_order
  FROM fx GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus,
       CAST(sqc AS DOUBLE) / 100 AS sum_qty,
       CAST(spc AS DOUBLE) / 100 AS sum_base_price,
       (CAST(rev_hi AS DOUBLE) * 1e6 + CAST(rev_lo AS DOUBLE)) / 1e4 AS sum_disc_price,
       (CAST(chg_hi AS DOUBLE) * 1e6 + CAST(chg_lo AS DOUBLE)) / 1e6 AS sum_charge,
       CAST(sqc AS DOUBLE) / 100 / count_order AS avg_qty,
       CAST(spc AS DOUBLE) / 100 / count_order AS avg_price,
       CAST(sdc AS DOUBLE) / 100 / count_order AS avg_disc,
       count_order
FROM t
"""


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q1 is a pure scan+agg: the sf0.1 fixture is ONE parquet row group, so
    # a cold scan runs as a single task.  The hot_table view _view registers
    # is already spread+pinned (common.hot_table), so the fixed-point agg
    # parallelizes without a per-query exchange; at 100 TB the table exceeds
    # the pin gate and the scan's own splits provide the parallelism.
    _view(spark, sf_dir, "lineitem", bucketed=_gated_orderkey(spark, sf_dir, "lineitem"))
    # per-expression gating (VERDICT r13 #5): the revenue sums admit
    # single-sum ~100× earlier than the triple-product charge column, so
    # each aggregate carries its own proof — at sf10 rev runs single while
    # charge stays hi/lo, and the oracle's unchanged hi/lo text still
    # hash-matches both (parity bound per aggregate)
    return spark.sql(_cents_sql(
        _Q1_BODY.format(
            IDIV="div",
            REV_SUM=_money_sum(
                "pc * (100 - dc)", "rev_hi", "rev_lo", "div",
                _money_single(spark, sf_dir, "rev"),
            ),
            CHG_SUM=_money_sum(
                "pc * (100 - dc) * (100 + tc)", "chg_hi", "chg_lo", "div",
                _money_single(spark, sf_dir, "charge"),
            ),
        )
    ))


SQL_TPCH_Q1 = _Q1_BODY.format(
    IDIV="//",
    REV_SUM=_money_sum("pc * (100 - dc)", "rev_hi", "rev_lo", "//", False),
    CHG_SUM=_money_sum(
        "pc * (100 - dc) * (100 + tc)", "chg_hi", "chg_lo", "//", False
    ),
)


# ── TPC-H Q3-shaped: shipping priority ────────────────────────────────────

_Q3_BODY = """
WITH li AS (
  SELECT l_orderkey, l_shipdate,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
         CAST(round(l_discount * 100) AS BIGINT) AS dc
  FROM lineitem
), t AS (
  SELECT l_orderkey, o_orderdate, o_orderpriority,
         {REV_SUM}
  FROM customer, orders, li
  WHERE c_mktsegment = 'BUILDING'
    AND c_custkey = o_custkey
    AND l_orderkey = o_orderkey
    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_orderkey, o_orderdate, o_orderpriority
)
SELECT l_orderkey,
       (CAST(rev_hi AS DOUBLE) * 1e6 + CAST(rev_lo AS DOUBLE)) / 1e4 AS revenue,
       {odate_ms} AS o_orderdate_ms,
       o_orderpriority
FROM t
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHUFFLE_HASH(li) form (r9): the reference shape planned a
    SortMergeJoin between the date-filtered fact slice and the
    BUILDING-orders side, whose sorts and post-join agg exchange were
    the query's cost.  Hinting a shuffled hash join on the li slice
    removes both sorts AND lets the (l_orderkey, …) aggregate ride the
    join's orderkey distribution — 4 exchanges + 1 SMJ → 2 exchanges +
    1 SHJ + 1 BHJ.  A/B at sf10, min-of-5 interleaved, non-overlapping
    ranges: 2.47 → 1.99 s, results equal.  100-TB note: the build side
    is the shipdate-filtered slice, whose PER-PARTITION size is what
    matters and is governed by shuffle-partition sizing/AQE; if a
    deployment's slice outgrows partition memory, drop the hint — the
    oracle-proven reference formulation (SQL_TPCH_Q3) is the fallback.
    Negative results (same protocol): revenue pre-aggregate before the
    orders join 4.05 vs 3.23 s (traded a broadcast for a bigger SMJ);
    SHUFFLE_HASH on q5/q9's SMJs — washes (the win here is the reused
    distribution, absent there).

    r13 (sf10, layout served; SCALE.md "Round-13: q3's floor named"):
    the stage table named the
    floor — li slice scan 0.64 s (the shipdate filter keeps 33.6M of 60M
    rows), BUILDING-orders build chain 0.62 s, and the SHJ's +1.0 s is
    the hash build over the 33.6M-row li slice itself.  Under the layout
    the hint is the WRONG side of a tradeoff it predates: both fact sides
    arrive storage-sorted by orderkey, so the hint-free SMJ zips
    pre-sorted buckets with ZERO sort nodes instead of building a 33.6M
    hash table — min-of-7 interleaved, parity OK: hinted SHJ 1.405 s,
    hint-free SMJ 1.022 s (+27%).  Swapping the build side
    (SHUFFLE_HASH(orders)) was worse still (2.445 s — the hint cascades
    into 11 exchanges).  So the hint is now layout-conditional like
    q21's, in the opposite direction: plain views keep r9's
    SHUFFLE_HASH(li) (it removed the SMJ sorts that storage now
    provides); bucketed views drop it."""
    _view(spark, sf_dir, "customer", "orders", "lineitem", bucketed=_gated_orderkey(spark, sf_dir, "lineitem", "orders"))
    hint = (
        ""
        if _is_bucketed_view(spark, "lineitem", sf_dir)
        else "/*+ SHUFFLE_HASH(li) */ "
    )
    # orders.o_orderdate is TIMESTAMP_NTZ; session tz is pinned UTC so the
    # cast is an identity relabel and matches DuckDB's epoch_ms on naive ts
    rev = _money_sum(
        "pc * (100 - dc)", "rev_hi", "rev_lo", "div", _money_single(spark, sf_dir, "rev")
    )
    return spark.sql(_cents_sql(f"""
WITH li AS (
  SELECT l_orderkey, l_shipdate,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
         CAST(round(l_discount * 100) AS BIGINT) AS dc
  FROM lineitem
), t AS (
  SELECT {hint}l_orderkey, o_orderdate, o_orderpriority,
         {rev}
  FROM customer, orders, li
  WHERE c_mktsegment = 'BUILDING'
    AND c_custkey = o_custkey
    AND l_orderkey = o_orderkey
    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_orderkey, o_orderdate, o_orderpriority
)
SELECT l_orderkey,
       (CAST(rev_hi AS DOUBLE) * 1e6 + CAST(rev_lo AS DOUBLE)) / 1e4 AS revenue,
       unix_millis(cast(o_orderdate as timestamp)) AS o_orderdate_ms,
       o_orderpriority
FROM t
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""))


SQL_TPCH_Q3 = _Q3_BODY.format(
    odate_ms="epoch_ms(o_orderdate)",
    IDIV="//",
    REV_SUM=_money_sum("pc * (100 - dc)", "rev_hi", "rev_lo", "//", False),
)


# ── TPC-H Q5-shaped: local supplier volume ────────────────────────────────

_Q5_BODY = """
WITH li AS (
  SELECT l_orderkey, l_suppkey,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
         CAST(round(l_discount * 100) AS BIGINT) AS dc
  FROM lineitem
), t AS (
  SELECT n_name,
         {REV_SUM}
  FROM customer, orders, li, supplier, nation, region
  WHERE c_custkey = o_custkey
    AND l_orderkey = o_orderkey
    AND l_suppkey = s_suppkey
    AND c_nationkey = s_nationkey
    AND s_nationkey = n_nationkey
    AND n_regionkey = r_regionkey
    AND r_name = 'ASIA'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY n_name
)
SELECT n_name,
       (CAST(rev_hi AS DOUBLE) * 1e6 + CAST(rev_lo AS DOUBLE)) / 1e4 AS revenue
FROM t
"""


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dims-first join order (r9): the flat six-table form leaves join
    ordering to the optimizer, which at sf1 picks a SortMergeJoin for
    lineitem ⋈ orders before the region filter has shrunk anything.  The
    rewrite resolves ASIA nations and ASIA suppliers first (tiny
    broadcasts), probes the fact table against the 1/5-selectivity
    supplier set — dropping ~80% of lineitem before the orders join — and
    joins customers last with the c_nationkey = s_nationkey constraint on
    the already-narrow stream.  A/B at sf1: 1.00 → 0.64 s, results equal.

    SHUFFLE_HASH(orders) — and ONLY orders (r10 stage profile): the
    decomposition put the orders join at +2.5 s of the 4.4 s wall (scan
    0.17 / +sa probe 1.30 / +orders 3.84 / full 4.44), and hashing just
    that join cut the full query 5.22 → 3.26 s (min-of-6 interleaved,
    −37%).  The r9 negative (4.45 vs 4.26 s) hinted orders AND customer
    together — the customer hint is what broke the plan; re-measured
    solo, SHUFFLE_HASH(customer) is a wash (5.29 s).  Remaining r9
    negative still stands: pre-aggregating revenue per (orderkey,
    nation) before the orders join measured 5.05 s (~4 lineitems/order
    ≈ no reduction to pay for the rollup).  r11 pinned the last
    untried shape (sf10, min-of-6 interleaved, parity OK; SCALE.md
    "q5 dim-product broadcast probe"): pre-joining the date-filtered
    orders with ASIA customers into an ~860k-row (o_orderkey,
    c_nationkey) product and BROADCASTing it — zero exchanges on the
    60M fact side — measured 3.05 vs 2.68 s
    (−14%): building the dim product itself shuffles 15M orders + 1.5M
    customers on custkey, which costs more than the orderkey exchange
    it removes.  The ORACLE keeps the reference flat-join text
    (SQL_TPCH_Q5).

    r12 stage decomposition (SCALE.md "q5 stage decomposition at
    sf10"): scan 0.44 /
    +ASIA probe 1.66 / +orderkey exchange pair + SHJ 2.74 / full 3.11 —
    the exchange block is the largest increment, so the bucketed layout
    (queries/layout.py, opt-in below) removes it: +18.1% at sf10
    integrated.  The remaining floor is the 1.2 s JVM broadcast-probe of
    60M fact rows, which no layout or plan shape touches."""
    _view(spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region", bucketed=_gated_orderkey(spark, sf_dir, "lineitem", "orders"))
    rev = _money_sum(
        "pc * (100 - dc)", "rev_hi", "rev_lo", "div", _money_single(spark, sf_dir, "rev")
    )
    return spark.sql(_cents_sql(f"""
WITH asia AS (
  SELECT n_nationkey, n_name FROM nation JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
), sa AS (
  SELECT s_suppkey, s_nationkey, n_name FROM supplier JOIN asia ON s_nationkey = n_nationkey
), li AS (
  SELECT l_orderkey, l_suppkey,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
         CAST(round(l_discount * 100) AS BIGINT) AS dc
  FROM lineitem
), t AS (
  SELECT /*+ SHUFFLE_HASH(orders) */ n_name,
         {rev}
  FROM li
  JOIN sa ON l_suppkey = s_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON c_custkey = o_custkey AND c_nationkey = s_nationkey
  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY n_name
)
SELECT n_name,
       (CAST(rev_hi AS DOUBLE) * 1e6 + CAST(rev_lo AS DOUBLE)) / 1e4 AS revenue
FROM t
"""))


SQL_TPCH_Q5 = _Q5_BODY.format(
    IDIV="//",
    REV_SUM=_money_sum("pc * (100 - dc)", "rev_hi", "rev_lo", "//", False),
)


# ── TPC-H Q6-shaped: forecasting revenue (pure filter + agg; the pushdown
#     showcase — every predicate reaches the parquet scan) ─────────────────

_Q6_BODY = """
WITH fx AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
         CAST(round(l_discount * 100) AS BIGINT) AS dc
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    AND l_discount BETWEEN 0.03 AND 0.07
    AND l_quantity < 24
), t AS (
  SELECT {REV_SUM},
         COUNT(*) AS n_rows
  FROM fx
)
SELECT (CAST(rev_hi AS DOUBLE) * 1e6 + CAST(rev_lo AS DOUBLE)) / 1e4 AS revenue,
       n_rows
FROM t
"""


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    _view(spark, sf_dir, "lineitem", bucketed=_gated_orderkey(spark, sf_dir, "lineitem"))
    return spark.sql(_cents_sql(
        _Q6_BODY.format(
            IDIV="div",
            REV_SUM=_money_sum(
                "pc * dc", "rev_hi", "rev_lo", "div", _money_single(spark, sf_dir, "disc")
            ),
        )
    ))


SQL_TPCH_Q6 = _Q6_BODY.format(
    IDIV="//", REV_SUM=_money_sum("pc * dc", "rev_hi", "rev_lo", "//", False)
)


# ── TPC-H Q10-shaped: returned-item reporting (top customers by lost
#     revenue; broadcast dims + top-k) ─────────────────────────────────────

_Q10_BODY = """
WITH li AS (
  SELECT l_orderkey,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
         CAST(round(l_discount * 100) AS BIGINT) AS dc
  FROM lineitem
  WHERE l_returnflag = 'R'
), t AS (
  SELECT c_custkey, c_name, n_name,
         {REV_SUM}
  FROM customer, orders, li, nation
  WHERE c_custkey = o_custkey
    AND l_orderkey = o_orderkey
    AND c_nationkey = n_nationkey
  GROUP BY c_custkey, c_name, n_name
)
SELECT c_custkey, c_name, n_name,
       (CAST(rev_hi AS DOUBLE) * 1e6 + CAST(rev_lo AS DOUBLE)) / 1e4 AS revenue
FROM t
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-before-join (r9, same move as q13): revenue per order
    needs only lineitem, so the R-flag rows collapse to one narrow
    (orderkey, hi, lo) row per order BEFORE any join — the wide
    customer/nation attributes join onto per-CUSTOMER totals, not fact
    rows.  The per-key partial (hi, lo) pairs are deterministic (grouped
    by orderkey, not by partition), and the canonical re-normalization
    `(hi + lo div 1e6, lo % 1e6)` reconstructs the exact integer total,
    so the value — and the oracle hash — is identical to the one-level
    formulation in both money modes (A/B at sf1: 2.04 → 1.43 s,
    collected results equal).  The ORACLE keeps the reference one-level
    join-then-aggregate text (SQL_TPCH_Q10)."""
    _view(spark, sf_dir, "customer", "orders", "lineitem", "nation", bucketed=("lineitem", "orders"))
    ohint = (
        "/*+ SHUFFLE_HASH(orders) */ "
        if _is_bucketed_view(spark, "orders", sf_dir)
        else ""
    )
    rev = _money_sum(
        "pc * (100 - dc)", "rev_hi", "rev_lo", "div", _money_single(spark, sf_dir, "rev")
    )
    return spark.sql(_cents_sql(f"""
WITH li AS (
  SELECT l_orderkey,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
         CAST(round(l_discount * 100) AS BIGINT) AS dc
  FROM lineitem
  WHERE l_returnflag = 'R'
), rev_o AS (
  SELECT l_orderkey, {rev}
  FROM li GROUP BY l_orderkey
), rev_c AS (
  SELECT {ohint}o_custkey,
         CAST(SUM(rev_hi) AS BIGINT) AS rev_hi,
         CAST(SUM(rev_lo) AS BIGINT) AS rev_lo
  FROM rev_o JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey
)
SELECT c_custkey, c_name, n_name,
       (CAST(rev_hi + rev_lo div 1000000 AS DOUBLE) * 1e6
        + CAST(rev_lo % 1000000 AS DOUBLE)) / 1e4 AS revenue
FROM rev_c JOIN customer ON c_custkey = o_custkey
           JOIN nation ON c_nationkey = n_nationkey
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""))


SQL_TPCH_Q10 = _Q10_BODY.format(
    IDIV="//",
    REV_SUM=_money_sum("pc * (100 - dc)", "rev_hi", "rev_lo", "//", False),
)


# ── TPC-H Q18-shaped: large-volume customers (agg → having → join → topk) ──

_Q18_BODY = """
WITH big AS (
    SELECT l_orderkey,
           CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_c
    FROM lineitem GROUP BY l_orderkey
    HAVING SUM(CAST(round(l_quantity * 100) AS BIGINT)) > 25000
)
SELECT c_name, c_custkey, o_orderkey, CAST(qty_c AS DOUBLE) / 100 AS total_qty
FROM big, orders, customer
WHERE o_orderkey = l_orderkey AND c_custkey = o_custkey
ORDER BY total_qty DESC, o_orderkey
LIMIT 10
"""


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k-before-join (r9): the ORDER BY total_qty DESC, o_orderkey
    LIMIT commutes through the orders/customer joins because both are
    FK lookups (no fan-out, no filter) and the full sort key is available
    pre-join — so TakeOrdered runs on the lineitem aggregate and only a
    constant-size candidate set ever touches the dims, as a broadcast
    that stays ≤100 rows at any scale.  The reference-shaped form
    instead joins the whole HAVING
    survivor set, which grows linearly with SF: AQE broadcasts it at sf10
    but at the 100-TB tier it would shuffle orders AND customer.  A/B at
    sf10 (min-of-4, interleaved): 4.91 → 4.67 s — the wall-time is the
    60M-row lineitem rollup either way (2 exchanges + 4 BHJ → 1 exchange
    + 2 BHJ); the win is the scale shape.  r10 stage profile pins the
    floor precisely (sf10, min-of-5 interleaved): scan 0.148 s, scan +
    cent-cast exprs 0.164 s, the groupBy(l_orderkey) rollup alone
    3.29 s, full query 3.56 s — 92% of the wall is the 60M-row →
    15M-group aggregate, which no join-side rewrite can touch.  r11
    closed the "vectorization territory" branch with a measured
    NEGATIVE (sf10, min-of-5 interleaved, parity-checked; SCALE.md
    "q18/q16 vectorization probe"): an Arrow-side per-partition partial
    aggregate (mapInArrow → pyarrow group_by → JVM final agg) measured
    15.67 s
    vs the JVM rollup's 2.64 s — the Arrow transfer of 60M narrow rows
    costs ~6× the entire Tungsten hash aggregate.  The JVM hash agg IS
    the vectorized path; the rollup floor stands.  An explicit broadcast of the
    un-topped survivor set measured 5.02 s — no better at sf10 and the
    wrong 100-TB shape; pinned negative.  ORACLE keeps the reference
    HAVING-join formulation (SQL_TPCH_Q18).

    FK robustness (ADVICE r9 #4): the pre-join limit is an
    OPTIMIZATION-ONLY filter of k=100 candidates; the semantic top-10 is
    taken AFTER the orders/customer joins, so up to 90 of the leading
    candidates may violate referential integrity (no orders/customer
    row) before this diverges from the reference HAVING-join form, which
    backfills orphaned orderkeys from the survivor tail.  The remaining
    precondition (<10 of the top-100 qty orders survive the FK joins) is
    a data-corruption regime, not a plan hazard.

    r15 symmetric-protocol floor (VERDICT r14 #3, SCALE.md "Round-15: the
    symmetric-protocol sub-second floors"): against DuckDB reading the SAME orderkey-sorted
    bucketed copy, the residual 2.3× gap is the rollup constant factor —
    Spark's HashAggregate holds ~500k orderkeys per task while DuckDB
    streams the sorted copy with no table, and Spark has no streaming
    sort-aggregate plan for hash-compatible buffers (SortAggregate is
    only chosen for non-hashable buffer types; the Arrow escape is the
    r11 15.67 s negative above).  PINNED: exchange-free single wide
    stage, 1.2-1.3 s absolute — amortizes with scale."""
    _view(spark, sf_dir, "customer", "orders", "lineitem", bucketed=("lineitem", "orders"))
    # same BigDecimal-free cent cast as _cents_sql (l_quantity >= 0)
    qc = (F.col("l_quantity") * 100 + F.lit(0.5)).cast("long")
    big_k = (
        spark.table("lineitem")
        .select("l_orderkey", qc.alias("qc"))
        .groupBy("l_orderkey")
        .agg(F.sum("qc").alias("qty_c"))
        .filter(F.col("qty_c") > 25000)
        .orderBy(F.desc("qty_c"), "l_orderkey")
        .limit(100)
    )
    return (
        spark.table("orders")
        .join(F.broadcast(big_k), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(spark.table("customer"), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            (F.col("qty_c").cast("double") / 100).alias("total_qty"),
        )
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(10)
    )


SQL_TPCH_Q18 = _Q18_BODY


# ── M7: exact dedup over a corpus with planted duplicates ─────────────────
# (sf documents have no exact dups; plant them deterministically so the
# dedup path is actually exercised)

# Twin-planting rule hoisted to ONE definition in common.py (ADVICE r14
# #3) — consumed here by the exploded corpus (_corpus), the keep-best
# corpus (q_dedup_keep_best + its oracle), the sidecar's algebraic
# twin-folding (_corpus_groups), and the fair-storage DuckDB twin
# (_FP_GROUPS_SQL), and by textops' near-dup corpus.
from kafka_backup_spark.queries.common import TWIN_MODULUS, TWIN_SHIFT

_CORPUS = f"""
corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {TWIN_SHIFT} AS doc_id, text FROM documents
    WHERE doc_id % {TWIN_MODULUS} = 0
)
"""


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cold_table, NOT the session pin: dedup's md5 streams every byte of
    # `text` exactly once, and the vectorized parquet scan beats reading the
    # wide payload out of the deserialized pin (VERDICT r5 #1 regression).
    # Duplicates are planted by EXPLODING an id-shift array instead of
    # union-ing a second filtered scan: the union read documents.parquet's
    # text column twice per execution (measured 0.41 vs 0.32 s on
    # dedup_exact at sf0.1, identical results) — at 100 TB the second scan
    # is the whole corpus again.
    from kafka_backup_spark.queries.common import cold_table

    docs = cold_table(spark, sf_dir, "documents", "doc_id", "text")
    shifts = F.when(
        F.col("doc_id") % TWIN_MODULUS == 0, F.array(F.lit(0), F.lit(TWIN_SHIFT))
    ).otherwise(F.array(F.lit(0)))
    return docs.select(
        F.col("doc_id"), F.col("text"), F.explode(shifts).alias("_shift")
    ).select((F.col("doc_id") + F.col("_shift")).alias("doc_id"), "text")


def _corpus_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash groups ``(h, n, gid)`` over the PLANTED corpus — the
    shared core of dedup_exact and leakage_safe_split.

    Two physical paths, identical results:

    - **fingerprint sidecar** (layout.materialize_fingerprints served via
      the session layout root — VERDICT r13 #1): read the precomputed
      (doc_id, text_hash) rows (~40 bytes/doc vs the full text) and fold
      the planted twins ALGEBRAICALLY instead of materializing them — a
      twin is (doc_id+1e6, same text) for doc_id%10==0, so per group
      n = Σ(1 + [doc_id%10=0]) and gid = min(real ids) (every twin id
      exceeds its real id, so the min is unaffected).  The sidecar is
      bucketed by text_hash, so this groupBy is EXCHANGE-FREE: scan +
      single-phase agg, zero shuffle — the 100-TB shape, where content
      hashes are computed once at ingest (reference manifest precedent,
      manifest.rs:138-165), never per query.
    - **raw fallback**: one md5 pass over the exploded corpus, one shuffle
      on the 128-bit hash (the r9-pinned form)."""
    fp = _fp_sidecar(spark, sf_dir)
    if fp is not None:
        w = F.when(F.col("doc_id") % TWIN_MODULUS == 0, F.lit(2)).otherwise(F.lit(1))
        return (
            spark.table(fp)
            .groupBy(F.col("text_hash").alias("h"))
            .agg(F.sum(w).cast("long").alias("n"), F.min("doc_id").alias("gid"))
        )
    c = _corpus(spark, sf_dir)
    return (
        c.groupBy(F.md5(F.col("text").cast("binary")).alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("gid"))
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content; keep min(doc_id) as canonical.
    The 100-TB path: sidecar scan + exchange-free agg when the fingerprint
    sidecar is served (_corpus_groups), else one shuffle on a 128-bit
    content hash, no sort.

    md5 pinned as the content hash (VERDICT r9 #3 A/B at sf10,
    interleaved min-of-6, one session): group-key representation is a
    wash — md5 hex string 0.392 s, unhex(md5) 16-byte binary (+hex
    re-encode on survivors) 0.413 s, fast_hash64 long 0.451 s.  xxhash64
    measured 0.339 vs 0.488 s in its session (~30%), but a 64-bit key
    collides ~1e2 times at 100-TB corpus cardinality and drops the
    cross-tool 128-bit fingerprint contract (SURVEY F5) — rejected.  The
    residual 2× vs DuckDB is scan constant factor, not hashing: the
    count-only corpus scan floor is 0.267 s of the 0.392 s wall (and the
    sidecar path removes exactly that floor)."""
    return (
        _corpus_groups(spark, sf_dir)
        .select(
            F.col("h").alias("text_hash"),
            F.col("n").alias("n_docs"),
            F.col("gid").alias("canonical_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


SQL_DEDUP_EXACT = f"""
WITH {_CORPUS}
SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS canonical_doc_id
FROM corpus GROUP BY md5(text) HAVING count(*) > 1
"""

# Symmetric-protocol (fair-storage) twin: when the comparison serves BOTH
# engines the ingest-computed artifacts (crossover_bench --oracle-layout,
# the r13 precedent for the sorted fact copies), DuckDB reads the same
# fingerprint sidecar (view ``documents_fp``) instead of re-hashing raw
# text — same algebraic twin-folding as _corpus_groups' sidecar branch.
# The STANDARD oracle above stays on raw text; this alt is used only by
# the symmetric chain and recorded in its summary JSON.
_FP_GROUPS_SQL = f"""
gr AS (
    SELECT text_hash AS h,
           CAST(sum(CASE WHEN doc_id % {TWIN_MODULUS} = 0 THEN 2 ELSE 1 END)
                AS BIGINT) AS n,
           min(doc_id) AS gid
    FROM documents_fp GROUP BY text_hash
)
"""

SQL_DEDUP_EXACT_FP = f"""
WITH {_FP_GROUPS_SQL}
SELECT h AS text_hash, n AS n_docs, gid AS canonical_doc_id
FROM gr WHERE n > 1
"""


# ── M7: text quality metrics ──────────────────────────────────────────────


def q_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_hot(spark, sf_dir)
    n_tokens = F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) + 1
    alpha_chars = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_actual"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(alpha_chars.cast("double") / n_tokens.cast("double"), 6).alias("avg_token_len"),
    )


SQL_TEXT_METRICS = """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_actual,
       CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
       round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
             / CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE), 6) AS avg_token_len
FROM documents
"""


# ── M7: per-language stats ────────────────────────────────────────────────


def q_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_hot(spark, sf_dir)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.round(F.sum(F.length("text")).cast("double") / F.count(F.lit(1)), 6).alias("avg_chars"),
    )


SQL_LANG_STATS = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       round(CAST(sum(length(text)) AS DOUBLE) / count(*), 6) AS avg_chars
FROM documents GROUP BY lang
"""


# ── M7: document fingerprint (normalized content hash) ────────────────────


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_hot(spark, sf_dir)
    norm = F.lower(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    return docs.select("doc_id", F.md5(norm.cast("binary")).alias("fingerprint"))


SQL_DOC_FINGERPRINT = """
SELECT doc_id, md5(lower(replace(text, ' ', ''))) AS fingerprint
FROM documents
"""


# ── M7: MinHash signatures over character 8-shingles ──────────────────────
# Each DISTINCT shingle is hashed ONCE (fast_hash64: native md5+conv, stays
# in whole-stage codegen); the hash families are affine transforms
# (a_s·h + c_s) mod p of that one hash, aggregated as N mins in a single
# map-side-combinable groupBy, then unpivoted. No per-seed row blowup, no
# per-seed hashing — the shape that survives 100 TB.  The explode+groupBy
# form is deliberate: higher-order-function lambdas (transform/array_min)
# evaluate INTERPRETED in Spark, while explode + hash agg stays inside
# whole-stage codegen with map-side partial aggregation — ~3× faster
# standalone (the r3 array-form experiment only pays off where the gram
# frame is cached and reused, which lsh_candidates/near_dup_pipeline do).
# The LSH banding step downstream groups equal signatures, so candidate
# generation stays a group-by, not an n² join.

N_MINHASH_SEEDS = 4


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_backup_spark.functions.hashing import fast_hash64, seeded_hash

    # hot_table is already spread across the session's parallelism — no
    # extra exchange here
    docs = _docs_hot(spark, sf_dir).select("doc_id", "text").filter(
        F.length("text") >= 8
    )
    # explode(sequence) + substring, NOT transform/array_distinct: generator
    # + projection fuse into whole-stage codegen, while HOF lambdas evaluate
    # interpreted.  Skipping the per-doc dedup is free for correctness —
    # min() is duplicate-insensitive, so min over the multiset equals min
    # over the distinct set the oracle computes.
    #
    # ASCII-guarded binary slice (r16, guide §1.2 per-task work —
    # OPTIMIZATION_r16.md §1): substring on a STRING walks i bytes to find
    # the char offset (UTF8String counts chars from the start per call),
    # an O(L²)
    # byte walk per document that measured as the LARGEST fragment of this
    # query (0.255 of 0.519 s at sf0.1 — more than the md5s).  When a doc
    # is pure ASCII (octet_length = length, checked ONCE per doc before the
    # explode, like the binary cast), the char slice equals the byte slice,
    # so substring on the pre-cast BINARY column — an O(1) offset copy —
    # feeds md5 the identical bytes; non-ASCII docs keep the char path, so
    # results are bit-identical for ANY corpus, not just the fixtures.
    # A/B: 0.519 → 0.293 s min-of-8 interleaved, parity hash equal.
    base = docs.select(
        "doc_id",
        "text",
        (F.octet_length("text") == F.length("text")).alias("is_ascii"),
        F.col("text").cast("binary").alias("tb"),
    )
    shingles = base.select(
        "doc_id",
        "is_ascii",
        "tb",
        "text",
        F.explode(F.sequence(F.lit(1), F.length("text") - 7)).alias("i"),
    )
    h_col = F.when(
        F.col("is_ascii"), fast_hash64(F.expr("substring(tb, i, 8)"))
    ).otherwise(fast_hash64(F.expr("substring(text, i, 8)")))
    h = shingles.select("doc_id", h_col.alias("h"))
    mins = h.groupBy("doc_id").agg(
        *[
            F.min(seeded_hash(F.col("h"), s)).alias(f"m{s}")
            for s in range(N_MINHASH_SEEDS)
        ]
    )
    stack = ", ".join(f"{s}, m{s}" for s in range(N_MINHASH_SEEDS))
    return mins.select(
        "doc_id",
        F.expr(f"stack({N_MINHASH_SEEDS}, {stack}) AS (seed, minhash)"),
    ).select("doc_id", F.col("seed").cast("int").alias("seed"), "minhash")


def _minhash_sql() -> str:
    from kafka_backup_spark.functions.hashing import fast_hash64_duckdb, seeded_hash_duckdb

    arms = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {s} AS seed, min({seeded_hash_duckdb('h', s)}) AS minhash"
        f" FROM hashed GROUP BY doc_id"
        for s in range(N_MINHASH_SEEDS)
    )
    return f"""
WITH shingles AS (
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest([substring(text, CAST(i AS INT), 8)
                       for i in range(1, greatest(length(text) - 7, 0) + 1)]) AS shingle
        FROM documents WHERE length(text) >= 8
    )
),
hashed AS (
    SELECT doc_id, {fast_hash64_duckdb('shingle')} AS h FROM shingles
)
SELECT doc_id, CAST(seed AS INT) AS seed, minhash FROM (
{arms}
)
"""


SQL_MINHASH_SIGNATURES = _minhash_sql()


# ── M7: brute-force cosine top-k (ANN baseline) ───────────────────────────
# Probes broadcast against the corpus; dot products run as zip_with/
# aggregate folds (no Python, but HOF lambdas evaluate INTERPRETED — so the
# norms are hoisted out of the pair space: one fold per VECTOR before the
# cross join, not three folds per PAIR after it, a 3× cut in lambda evals
# with bit-identical values since each fold's summation order is unchanged).
# Similarity rounded to 4dp before ranking so cross-engine float summation
# order can't flip results.

N_PROBES = 5
TOP_K = 3


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    def dot(a, b):
        prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
        return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)

    from kafka_backup_spark.queries.common import hot_table

    emb = hot_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pe"),
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("pn"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nn"),
    )
    pairs = F.broadcast(probes).crossJoin(corpus).filter(
        F.col("probe_id") != F.col("neighbor_id")
    )
    sims = pairs.select(
        "probe_id",
        "neighbor_id",
        F.round(
            dot(F.col("pe"), F.col("ne")) / (F.col("pn") * F.col("nn")), 4
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("probe_id", "neighbor_id", "cosine_sim", F.col("rank").cast("int").alias("rank"))
    )


SQL_COSINE_TOPK = f"""
WITH flat AS (
    SELECT p.vec_id AS probe_id, n.vec_id AS neighbor_id,
           CAST(unnest(p.embedding) AS DOUBLE) AS px,
           CAST(unnest(n.embedding) AS DOUBLE) AS nx
    FROM (SELECT * FROM embeddings WHERE vec_id < {N_PROBES}) p
    JOIN embeddings n ON n.vec_id <> p.vec_id
),
sims AS (
    SELECT probe_id, neighbor_id,
           round(sum(px * nx) / (sqrt(sum(px * px)) * sqrt(sum(nx * nx))), 4) AS cosine_sim
    FROM flat GROUP BY probe_id, neighbor_id
),
ranked AS (
    SELECT probe_id, neighbor_id, cosine_sim,
           CAST(row_number() OVER (
               PARTITION BY probe_id ORDER BY cosine_sim DESC, neighbor_id ASC
           ) AS INT) AS rank
    FROM sims
)
SELECT probe_id, neighbor_id, cosine_sim, rank FROM ranked WHERE rank <= {TOP_K}
"""


# ── TPC-H Q4-shaped: order priority with EXISTS semi-join ─────────────────
# (testdata lineitem has no commitdate/receiptdate; the correlated-EXISTS
# shape — the point of Q4 — is preserved against l_shipdate > o_orderdate)

_Q4_BODY = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
"""


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    _view(spark, sf_dir, "orders", "lineitem", bucketed=_gated_orderkey(spark, sf_dir, "lineitem", "orders"))
    return spark.sql(_cents_sql(_Q4_BODY))


SQL_TPCH_Q4 = _Q4_BODY


# ── TPC-H Q14-shaped: promo revenue share ─────────────────────────────────

_Q14_BODY = """
WITH li AS (
  SELECT l_partkey,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
         CAST(round(l_discount * 100) AS BIGINT) AS dc
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-02-01 00:00:00'
), t AS (
  SELECT
    {PROMO_SUM},
    {REV_SUM}
  FROM li, part
  WHERE l_partkey = p_partkey
)
SELECT 1e2 * (CAST(promo_hi AS DOUBLE) * 1e6 + CAST(promo_lo AS DOUBLE))
           / (CAST(rev_hi AS DOUBLE) * 1e6 + CAST(rev_lo AS DOUBLE)) AS promo_revenue
FROM t
"""


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    _view(spark, sf_dir, "lineitem", "part")
    s = _money_single(spark, sf_dir, "rev")  # promo CASE and rev share the pc*(100-dc) bound
    promo = "CASE WHEN p_type = 'PROMO' THEN pc * (100 - dc) ELSE 0 END"
    return spark.sql(_cents_sql(
        _Q14_BODY.format(
            IDIV="div",
            PROMO_SUM=_money_sum(promo, "promo_hi", "promo_lo", "div", s),
            REV_SUM=_money_sum("pc * (100 - dc)", "rev_hi", "rev_lo", "div", s),
        )
    ))


SQL_TPCH_Q14 = _Q14_BODY.format(
    IDIV="//",
    PROMO_SUM=_money_sum(
        "CASE WHEN p_type = 'PROMO' THEN pc * (100 - dc) ELSE 0 END",
        "promo_hi", "promo_lo", "//", False,
    ),
    REV_SUM=_money_sum("pc * (100 - dc)", "rev_hi", "rev_lo", "//", False),
)


# ── TPC-H Q19-shaped: disjunctive brand/quantity predicates ───────────────
# The point of Q19: an OR-of-ANDs selection across the join — Catalyst must
# push the common l_partkey = p_partkey equi-condition into the join and
# evaluate the disjunction post-join without a cartesian.

_Q19_BODY = """
WITH li AS (
  SELECT l_partkey, l_quantity,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
         CAST(round(l_discount * 100) AS BIGINT) AS dc
  FROM lineitem
), t AS (
  SELECT {REV_SUM}
  FROM li, part
  WHERE l_partkey = p_partkey
    AND (
          (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 20 AND 30)
    )
)
SELECT (CAST(rev_hi AS DOUBLE) * 1e6 + CAST(rev_lo AS DOUBLE)) / 1e4 AS revenue
FROM t
"""


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    _view(spark, sf_dir, "lineitem", "part")
    return spark.sql(_cents_sql(
        _Q19_BODY.format(
            IDIV="div",
            REV_SUM=_money_sum(
                "pc * (100 - dc)", "rev_hi", "rev_lo", "div",
                _money_single(spark, sf_dir, "rev"),
            ),
        )
    ))


SQL_TPCH_Q19 = _Q19_BODY.format(
    IDIV="//",
    REV_SUM=_money_sum("pc * (100 - dc)", "rev_hi", "rev_lo", "//", False),
)


# ── M7: representative selection, sampling, decontamination ───────────────
# Three more training-pipeline staples, each one shuffle at scale:
# - dedup_keep_best: duplicate groups keep the HIGHEST-quality member (not
#   min-id) — the shape real dedup uses when quality scores exist.
# - stratified_sample: per-language rates via a deterministic content hash —
#   reproducible without a seed exchange, map-only (no shuffle at all).
# - contamination_check: 5-gram overlap against a benchmark set (semi-join
#   on hashed grams + distinct-count per doc) — eval-set decontamination.


_PACK = 10_000_000  # > any doc_id or n_chars in the fixtures (and checkable)


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate groups (by exact content hash) → the member with the best
    quality key wins.  The (quality, id) ordering is PACKED into one bigint
    — ``(PACK - n_chars)·PACK + doc_id`` — because min over a struct forces
    Spark into SortAggregate (structs can't live in the hash-agg buffer);
    the packed long keeps the whole query a HashAggregate: one shuffle keyed
    on the content hash, map-side combinable, no window, no sort, regardless
    of group sizes (asserted in test_plan_quality)."""
    docs = _docs_hot(spark, sf_dir).select("doc_id", "text", "n_chars")
    planted = docs.filter(F.col("doc_id") % TWIN_MODULUS == 0).withColumn(
        "doc_id", F.col("doc_id") + TWIN_SHIFT
    )
    c = docs.unionByName(planted)
    # longer docs win, ties → smaller doc_id (deterministic total order)
    packed = (F.lit(_PACK) - F.col("n_chars")).cast("long") * _PACK + F.col("doc_id")
    return (
        c.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(packed).alias("p"))
        .filter(F.col("n_docs") > 1)
        .select("text_hash", "n_docs", (F.col("p") % _PACK).alias("kept_doc_id"))
    )


SQL_DEDUP_KEEP_BEST = f"""
WITH corpus AS (
    SELECT doc_id, text, n_chars FROM documents
    UNION ALL
    SELECT doc_id + {TWIN_SHIFT} AS doc_id, text, n_chars FROM documents
    WHERE doc_id % {TWIN_MODULUS} = 0
)
SELECT md5(text) AS text_hash, count(*) AS n_docs,
       min(CAST({_PACK} - n_chars AS BIGINT) * {_PACK} + doc_id) % {_PACK} AS kept_doc_id
FROM corpus GROUP BY md5(text) HAVING count(*) > 1
"""


SAMPLE_RATES = {"en": 50, "de": 25, "fr": 25, "es": 10, "it": 10}  # percent


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling: keep a doc iff
    pmod(content hash, 100) < rate[lang].  Pure map-side filter —
    reproducible across engines and runs, no RNG state, no shuffle; at
    100 TB this is a scan that emits the sample directly."""
    from kafka_backup_spark.functions.hashing import fast_hash64

    docs = _docs_hot(spark, sf_dir)
    rate = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in SAMPLE_RATES.items()],
        F.lit(5),
    )
    bucket = F.pmod(fast_hash64(F.col("text")), F.lit(100))
    return (
        docs.withColumn("bucket", bucket)
        .filter(F.col("bucket") < rate)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )


_RATE_SQL = "CASE " + " ".join(
    f"WHEN lang = '{k}' THEN {v}" for k, v in SAMPLE_RATES.items()
) + " ELSE 5 END"


def _stratified_sql() -> str:
    from kafka_backup_spark.functions.hashing import fast_hash64_duckdb

    return f"""
SELECT lang, count(*) AS n_sampled FROM (
    SELECT lang, ({fast_hash64_duckdb('text')} % 100 + 100) % 100 AS bucket
    FROM documents
)
WHERE bucket < {_RATE_SQL}
GROUP BY lang
"""


SQL_STRATIFIED_SAMPLE = _stratified_sql()


CONTAM_GRAM = 5


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: per-doc count of word 5-grams that also
    appear in the benchmark set (docs with doc_id % 97 == 0 stand in for the
    eval corpus).  Hash each distinct gram once, semi-join corpus grams
    against the (broadcast-small) benchmark gram set, count per doc —
    near-linear, no pair explosion, the LSH-free shape decontamination
    actually uses."""
    from kafka_backup_spark.functions.hashing import fast_hash64

    docs = _docs_hot(spark, sf_dir).select("doc_id", "text")

    def grams(df: DataFrame) -> DataFrame:
        words = F.split(F.lower(F.col("text")), " ")
        idx = F.sequence(F.lit(0), F.greatest(F.size(words) - CONTAM_GRAM, F.lit(0)))
        g = F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, CONTAM_GRAM))
        )
        return df.select("doc_id", F.explode(g).alias("gram")).withColumn(
            "h", fast_hash64(F.col("gram"))
        )

    bench = (
        grams(docs.filter(F.col("doc_id") % 97 == 0)).select("h").distinct()
    )
    corpus = grams(docs.filter(F.col("doc_id") % 97 != 0)).select("doc_id", "h").distinct()
    hits = corpus.join(F.broadcast(bench), "h", "left_semi")
    return (
        hits.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
        .filter(F.col("n_contaminated_grams") > 0)
    )


def _contamination_sql() -> str:
    from kafka_backup_spark.functions.hashing import fast_hash64_duckdb

    return f"""
WITH words AS (
    SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
),
grams AS (
    -- array_to_string joins ELEMENTS with spaces, matching Spark's
    -- concat_ws over the slice byte-for-byte; concat_ws(' ', <list>) would
    -- cast the LIST to its bracketed repr '[a, b, …]' — a different string
    -- that only happens to hash injectively on space-free tokens
    SELECT doc_id,
           array_to_string(list_slice(ws, CAST(i AS INT), CAST(i AS INT) + {CONTAM_GRAM - 1}), ' ') AS gram
    FROM words, LATERAL unnest(range(1, greatest(len(ws) - {CONTAM_GRAM}, 0) + 2)) t(i)
),
hashed AS (
    SELECT doc_id, {fast_hash64_duckdb('gram')} AS h FROM grams
),
bench AS (SELECT DISTINCT h FROM hashed WHERE doc_id % 97 = 0),
corpus AS (SELECT DISTINCT doc_id, h FROM hashed WHERE doc_id % 97 <> 0)
SELECT doc_id, count(*) AS n_contaminated_grams
FROM corpus WHERE h IN (SELECT h FROM bench)
GROUP BY doc_id HAVING count(*) > 0
"""


SQL_CONTAMINATION_CHECK = _contamination_sql()


# ── M7 multimodal: opaque binary payloads through the Arrow plumbing ──────
# The media corpus derives deterministically from `documents` (text bytes as
# the opaque payload — the engine treats it exactly like image/audio bytes:
# never parsed JVM-side, batched through mapInPandas).  Features are the
# sha256 byte-profile u32 slots (multimodal.byte_profile's integer core) so
# the oracle can replicate them exactly from hex; frame sampling and resize
# targets are pure column arithmetic.  A real codec swaps into the same
# mapInPandas stage without touching the plan shape (multimodal.py).


def _u32_le_sql(hex_expr: str, slot: int) -> str:
    """DuckDB: little-endian u32 from hex chars [8*slot .. 8*slot+8)."""
    pairs = [f"{hex_expr}[{8 * slot + 2 * j + 1}:{8 * slot + 2 * j + 2}]" for j in range(4)]
    terms = [
        f"(strpos('0123456789abcdef', {p}[1:1])-1)*16 + strpos('0123456789abcdef', {p}[2:2])-1"
        for p in pairs
    ]
    return " + ".join(f"({t}) * {256 ** j}" for j, t in enumerate(terms))


MM_EVERY_MS = 1000
MM_MAX_SIDE = 256


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_backup_spark.multimodal import feature_u32_slots, sample_frames

    docs = _docs_hot(spark, sf_dir)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.col("text").cast("binary").alias("payload"),
        (32 + (F.col("doc_id") % 7) * 64).cast("int").alias("width"),
        (32 + (F.col("doc_id") % 5) * 50).cast("int").alias("height"),
        F.lit(16000).alias("sample_rate"),
        ((F.col("doc_id") % 7 + 1) * 1000).alias("duration_ms"),
    )
    feats = feature_u32_slots(media)  # Arrow-batched, payload never leaves executors
    frames = sample_frames(media, MM_EVERY_MS).groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames")
    )
    scale = F.least(
        F.lit(1.0),
        F.lit(MM_MAX_SIDE) / F.greatest(F.col("width"), F.col("height")).cast("double"),
    )
    resize = media.select(
        "media_id",
        F.round(F.col("width") * scale).cast("int").alias("target_width"),
        F.round(F.col("height") * scale).cast("int").alias("target_height"),
    )
    return (
        feats.join(frames, "media_id", "left")
        .join(resize, "media_id")
        .select(
            "media_id",
            "kind",
            "n_bytes",
            F.col("feature_u32")[0].alias("f0"),
            F.col("feature_u32")[1].alias("f1"),
            F.col("feature_u32")[7].alias("f7"),
            F.coalesce(F.col("n_frames"), F.lit(0)).alias("n_frames"),
            "target_width",
            "target_height",
        )
    )


SQL_MULTIMODAL_META = f"""
WITH media AS (
    -- this DuckDB's sha256 takes VARCHAR; the payload bytes ARE the utf-8
    -- text bytes, so hashing the varchar hashes the same bytes as the BLOB
    SELECT doc_id AS media_id,
           ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
           text AS payload,
           CAST(32 + (doc_id % 7) * 64 AS INT) AS width,
           CAST(32 + (doc_id % 5) * 50 AS INT) AS height,
           (doc_id % 7 + 1) * 1000 AS duration_ms
    FROM documents
),
feats AS (
    SELECT media_id, kind, CAST(strlen(payload) AS BIGINT) AS n_bytes,
           {_u32_le_sql("sha256(payload)", 0)} AS f0,
           {_u32_le_sql("sha256(payload)", 1)} AS f1,
           {_u32_le_sql("sha256(payload)", 7)} AS f7
    FROM media
)
SELECT f.media_id, f.kind, f.n_bytes,
       CAST(f.f0 AS BIGINT) AS f0, CAST(f.f1 AS BIGINT) AS f1, CAST(f.f7 AS BIGINT) AS f7,
       CASE WHEN m.kind = 'video'
            THEN CAST((m.duration_ms - 1) // {MM_EVERY_MS} + 1 AS BIGINT) ELSE 0 END AS n_frames,
       CAST(round(m.width * least(1.0, {MM_MAX_SIDE} / greatest(m.width, m.height))) AS INT) AS target_width,
       CAST(round(m.height * least(1.0, {MM_MAX_SIDE} / greatest(m.width, m.height))) AS INT) AS target_height
FROM feats f JOIN media m USING (media_id)
"""


def q_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through the Arrow mapInPandas stage (r10,
    VERDICT r9 #8): synthesize a deterministic image per document id —
    gradient BMP for id%3==0, gradient PNG for id%3==1 (cycling all five
    scanline filters, r14/VERDICT r13 #6), SOLID-GRAY baseline JPEG for
    id%3==2 (r15, VERDICT r14 #8 — Huffman+DCT decode, stdlib+numpy
    only) — decode with the pure-Python in-container codecs
    (multimodal.decode_bmp / decode_png / decode_jpeg) and report exact
    per-channel integer sums.  The ORACLE computes the same sums in
    closed form: gradient pixels (r=(id·37+x·11)%256, g=(id·59+y·13)%256,
    b=(x·y+id)%256) for BMP/PNG; v·n_px with v=(id·41+7)%256 for the JPEG
    rows (solid gray at quality 100 is DC-only per block, so the lossy
    codec round-trips bit-exact there — multimodal.synthesize_jpeg
    docstring carries the argument; gradients are pytest-bounded at ±3
    instead).  The driver hash-compare therefore proves all THREE
    encode→decode→aggregate paths bit-exact on every run.  100-TB shape:
    payloads are built and consumed inside the executors (never shuffled,
    never collected); the stage is embarrassingly parallel."""
    from kafka_backup_spark.multimodal import (
        IMAGE_STATS_SCHEMA,
        image_stat_row,
        synthesize_bmp,
        synthesize_jpeg,
        synthesize_png,
    )

    ids = _docs_hot(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"),
        (8 + F.col("doc_id") % 5).cast("int").alias("width"),
        (6 + F.col("doc_id") % 3).cast("int").alias("height"),
    )

    import pandas as pd_mod

    _synths = (synthesize_bmp, synthesize_png, synthesize_jpeg)

    # Fused synth+decode (r15, guide §4.1): the original shape ran TWO
    # mapInPandas stages — synth shipped every payload Python→JVM only for
    # the stats stage to ship it straight back JVM→Python; nothing between
    # them was JVM work.  One stage synthesizes each payload and reduces
    # it to its stats row in place (the encode→decode roundtrip the query
    # exists to prove still executes in full — image_stat_row is the same
    # code path the image_stats operator runs); only the narrow
    # (media_id, dims) frame enters and the narrow stats frame leaves.
    # A/B at sf0.1: 0.836 → 0.730 s min-of-8 interleaved, parity hash
    # identical (OPTIMIZATION_r15.md §1b).
    def synth_stats(batches):
        for pdf in batches:
            yield pd_mod.DataFrame(
                [
                    image_stat_row(int(m), _synths[int(m) % 3](int(m), int(w), int(h)))
                    for m, w, h in zip(pdf["media_id"], pdf["width"], pdf["height"])
                ],
                columns=[
                    "media_id", "width", "height", "n_px",
                    "sum_r", "sum_g", "sum_b", "decoded",
                ],
            )

    return ids.mapInPandas(synth_stats, IMAGE_STATS_SCHEMA)


SQL_IMAGE_STATS = """
SELECT doc_id AS media_id,
       CAST(8 + doc_id % 5 AS INT) AS width,
       CAST(6 + doc_id % 3 AS INT) AS height,
       CAST((8 + doc_id % 5) * (6 + doc_id % 3) AS BIGINT) AS n_px,
       CASE WHEN doc_id % 3 = 2
            THEN CAST((doc_id * 41 + 7) % 256
                      * (8 + doc_id % 5) * (6 + doc_id % 3) AS BIGINT)
            ELSE CAST((6 + doc_id % 3)
                 * list_sum([(doc_id * 37 + x * 11) % 256
                             for x in range(0, 8 + doc_id % 5)]) AS BIGINT)
       END AS sum_r,
       CASE WHEN doc_id % 3 = 2
            THEN CAST((doc_id * 41 + 7) % 256
                      * (8 + doc_id % 5) * (6 + doc_id % 3) AS BIGINT)
            ELSE CAST((8 + doc_id % 5)
                 * list_sum([(doc_id * 59 + y * 13) % 256
                             for y in range(0, 6 + doc_id % 3)]) AS BIGINT)
       END AS sum_g,
       CASE WHEN doc_id % 3 = 2
            THEN CAST((doc_id * 41 + 7) % 256
                      * (8 + doc_id % 5) * (6 + doc_id % 3) AS BIGINT)
            ELSE CAST(list_sum([list_sum([(x * y + doc_id) % 256
                                          for y in range(0, 6 + doc_id % 3)])
                                for x in range(0, 8 + doc_id % 5)]) AS BIGINT)
       END AS sum_b,
       CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'png' ELSE 'jpeg' END AS decoded
FROM documents
"""


def q_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode through the Arrow mapInPandas stage (r14): one
    deterministic PCM-16 WAV per document id (sample[i] = (id·31 + i·7)
    mod 65536 − 32768, n = 200 + id%50 samples), decoded with the
    library-free RIFF parser (multimodal.decode_wav) and reduced to exact
    integer sums/peaks.  The ORACLE computes the same statistics in
    closed form from the generator — the driver hash-compare proves the
    encode→decode→aggregate pipeline bit-exact, like image_stats does for
    the BMP/PNG codecs.  100-TB shape: payloads built and consumed inside
    the executors, embarrassingly parallel, no shuffle."""
    from kafka_backup_spark.multimodal import (
        AUDIO_STATS_SCHEMA,
        audio_stat_row,
        synthesize_wav,
    )

    ids = _docs_hot(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"),
        (200 + F.col("doc_id") % 50).cast("int").alias("n_samples"),
    )

    import pandas as pd_mod

    # Fused synth+decode — same §4.1 move as q_image_stats above (the WAV
    # payload crossed the Arrow boundary twice between two back-to-back
    # Python stages).  A/B at sf0.1: 0.492 → 0.398 s min-of-8 interleaved,
    # parity hash identical (OPTIMIZATION_r15.md §1b).
    def synth_stats(batches):
        for pdf in batches:
            yield pd_mod.DataFrame(
                [
                    audio_stat_row(int(m), synthesize_wav(int(m), int(n)))
                    for m, n in zip(pdf["media_id"], pdf["n_samples"])
                ],
                columns=[
                    "media_id", "sample_rate", "n_samples",
                    "sum_samples", "max_abs", "decoded",
                ],
            )

    return ids.mapInPandas(synth_stats, AUDIO_STATS_SCHEMA)


SQL_AUDIO_STATS = """
SELECT doc_id AS media_id,
       CAST(16000 AS INT) AS sample_rate,
       CAST(200 + doc_id % 50 AS BIGINT) AS n_samples,
       CAST(list_sum([(doc_id * 31 + i * 7) % 65536 - 32768
                      for i in range(0, CAST(200 + doc_id % 50 AS INT))]) AS BIGINT) AS sum_samples,
       CAST(list_max([abs((doc_id * 31 + i * 7) % 65536 - 32768)
                      for i in range(0, CAST(200 + doc_id % 50 AS INT))]) AS INT) AS max_abs,
       'pcm16' AS decoded
FROM documents
"""


# ── M8: packing, PII redaction, corpus stats, mixture, incremental dedup ──
# Five more training-pipeline staples added in round 3.  Scale notes inline;
# each is one shuffle or less at 100 TB.


PACK_BUDGET = 2048  # tokens per packed training sequence
PACK_BUCKET = 256  # min doc_ids per prefix-sum bucket (parallelism unit)
MAX_PACK_BUCKETS = 4096  # cap on buckets ⇒ the offsets frame stays broadcast-small


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing: documents are laid end-to-end in
    (lang, doc_id) order and cut into fixed ``PACK_BUDGET``-token bins —
    ``bin_id = floor(tokens_before / budget)``, the deterministic packing
    shape LLM pre-training pipelines use.

    The running sum is a TWO-LEVEL prefix sum, not one window per lang: a
    lang-only window would sort a whole language through a single task
    (the corpus has ~5 langs — at 100 TB that is one reducer per ~20 TB).
    Instead docs bucket by ``(lang, doc_id // PACK_BUCKET)``; per-bucket
    token totals are prefix-summed on a tiny frame (#docs/bucket_size rows)
    that broadcast-joins back, and the within-bucket window runs per
    (lang, bucket) — parallelism = #buckets, output identical to the
    single-window formulation the oracle computes.

    The bucket width ADAPTS to the doc_id RANGE: width = max(PACK_BUCKET,
    ceil((max_id - min_id + 1)/MAX_PACK_BUCKETS)), so the offsets frame is
    never more than ~MAX_PACK_BUCKETS rows per lang — always broadcastable
    — while parallelism stays in the thousands at any scale.  The range
    (not the row count) is what bounds ``floor(doc_id/width)`` cardinality:
    sparse ids (post-filter corpora, hash-derived ids) would blow a
    count-derived width past the cap, and a FIXED width grows the broadcast
    frame linearly with the corpus (10⁹ ids / 256 ≈ 4M rows — dead on
    arrival).  Output is invariant to the width, so the oracle needs no
    knowledge of it; min/max answer from parquet column statistics."""
    docs = _docs_hot(spark, sf_dir)
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    id_range = (hi - lo + 1) if hi is not None else 1
    width = max(PACK_BUCKET, -(-id_range // MAX_PACK_BUCKETS))
    tok = F.size(F.split(F.col("text"), " ")).cast("long")
    t = docs.select(
        "doc_id", "lang", tok.alias("tok")
    ).withColumn("bkt", F.floor(F.col("doc_id") / F.lit(width)))
    # level 1: per-bucket totals, prefix-summed over the tiny bucket frame
    wb = (
        Window.partitionBy("lang")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        t.groupBy("lang", "bkt")
        .agg(F.sum("tok").alias("bkt_tok"))
        .select(
            "lang",
            "bkt",
            F.coalesce(F.sum("bkt_tok").over(wb), F.lit(0)).alias("bkt_offset"),
        )
    )
    # level 2: within-bucket running sum + broadcast bucket offset
    wi = (
        Window.partitionBy("lang", "bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.col("bkt_offset") + F.coalesce(F.sum("tok").over(wi), F.lit(0))
    return (
        t.join(F.broadcast(offsets), ["lang", "bkt"])
        .withColumn("bin_id", F.floor(cum_before / F.lit(PACK_BUDGET)))
        .groupBy("lang", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
    )


SQL_SEQUENCE_PACKING = f"""
WITH t AS (
    SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
    FROM documents
),
b AS (
    SELECT doc_id, lang, tok,
           CAST(floor(coalesce(sum(tok) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / {PACK_BUDGET}.0) AS BIGINT) AS bin_id
    FROM t
)
SELECT lang, bin_id, count(*) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS bin_tokens,
       min(doc_id) AS first_doc_id, max(doc_id) AS last_doc_id
FROM b GROUP BY lang, bin_id
"""


# PII patterns kept to the regex subset Java's engine and RE2 interpret
# identically (char classes, bounded repeats — no backrefs, no lookaround).
EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
PHONE_RE = "555-[0-9][0-9][0-9][0-9]"
IP_RE = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"
# SSN area group planted in 100-499, so PHONE_RE's literal 555- prefix can
# never fire inside an SSN; card numbers use space separators, so the
# dash-shaped SSN/phone patterns can't fire inside a card — the five match
# sets are disjoint by construction and redaction order is immaterial.
SSN_RE = "[0-9][0-9][0-9]-[0-9][0-9]-[0-9][0-9][0-9][0-9]"
CARD_RE = "[0-9]{4} [0-9]{4} [0-9]{4} [0-9]{4}"


def pii_planted_text(text, d) -> "F.Column":
    """The five-class PII planting expression over (text, doc_id) columns —
    shared by q_pii_redaction and the residue tests so the tests exercise
    the PRODUCTION planting, not a copy that can drift."""
    email = F.concat(F.lit(" contact user"), d.cast("string"), F.lit("@example.com"))
    phone = F.concat(F.lit(" call 555-"), F.lpad((d % 10000).cast("string"), 4, "0"))
    ip = F.concat(
        F.lit(" host 10.0."),
        (d % 256).cast("string"),
        F.lit("."),
        ((d * 7) % 256).cast("string"),
    )
    ssn = F.concat(
        F.lit(" ssn "),
        (d % 400 + 100).cast("string"),
        F.lit("-"),
        F.lpad((d % 100).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad(((d * 31) % 10000).cast("string"), 4, "0"),
    )
    # card: fixed 424242424242 prefix + 3 variable digits (doc_id % 1000) +
    # Luhn check digit.  With the prefix contribution ≡ 0 (mod 10), the
    # check digit reduces to k = (10 − (luhn2(a) + b + luhn2(c)) % 10) % 10
    # where a,b,c are the variable digits and luhn2(x) = 2x − 9·[x ≥ 5].
    v = d % 1000
    a, b, c = (v / 100).cast("long"), (v / 10).cast("long") % 10, v % 10
    luhn2 = lambda x: F.when(x < 5, 2 * x).otherwise(2 * x - 9)  # noqa: E731
    k = (10 - (luhn2(a) + b + luhn2(c)) % 10) % 10
    card = F.concat(
        F.lit(" card 4242 4242 4242 "),
        a.cast("string"),
        b.cast("string"),
        c.cast("string"),
        k.cast("string"),
    )
    return F.concat(
        text,
        F.when(d % 7 == 0, email).otherwise(F.lit("")),
        F.when(d % 11 == 0, phone).otherwise(F.lit("")),
        F.when(d % 13 == 0, ip).otherwise(F.lit("")),
        F.when(d % 17 == 0, ssn).otherwise(F.lit("")),
        F.when(d % 19 == 0, card).otherwise(F.lit("")),
    )


def pii_redact(text2) -> "F.Column":
    """The five-class redaction chain (cards → SSNs → emails → phones →
    IPs; match sets are disjoint by construction, see the regex notes)."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(text2, CARD_RE, "<CARD>"), SSN_RE, "<SSN>"
                ),
                EMAIL_RE,
                "<EMAIL>",
            ),
            PHONE_RE,
            "<PHONE>",
        ),
        IP_RE,
        "<IP>",
    )


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: plant synthetic emails / phones / IPv4s / SSNs /
    credit-card numbers (all derived from doc_id — deterministic on both
    engines), then count and mask each class.  Planted cards carry a CORRECT
    Luhn check digit (computed arithmetically from the variable digits —
    pytest cross-validates with an independent Python Luhn implementation),
    so a downstream Luhn-verifying detector would also fire on them.  Pure
    map-side projection: regex match + replace never leaves whole-stage
    codegen, zero shuffles — at 100 TB this is a single scan that emits the
    scrubbed corpus."""
    docs = _docs_hot(spark, sf_dir)
    text2 = pii_planted_text(F.col("text"), F.col("doc_id"))
    red = pii_redact(text2)
    n = lambda rx: F.size(F.regexp_extract_all(text2, F.lit(rx), 0)).cast("long")  # noqa: E731
    return docs.select(
        "doc_id",
        n(EMAIL_RE).alias("n_emails"),
        n(PHONE_RE).alias("n_phones"),
        n(IP_RE).alias("n_ips"),
        n(SSN_RE).alias("n_ssns"),
        n(CARD_RE).alias("n_cards"),
        F.md5(red.cast("binary")).alias("redacted_hash"),
    ).filter(
        F.col("n_emails") + F.col("n_phones") + F.col("n_ips")
        + F.col("n_ssns") + F.col("n_cards")
        > 0
    )


SQL_PII_REDACTION = f"""
WITH luhn AS (
    SELECT doc_id,
           doc_id % 1000 // 100 AS ca,
           doc_id % 100 // 10 AS cb,
           doc_id % 10 AS cc
    FROM documents
),
card AS (
    SELECT doc_id,
           (10 - (
               (CASE WHEN ca < 5 THEN 2 * ca ELSE 2 * ca - 9 END)
               + cb
               + (CASE WHEN cc < 5 THEN 2 * cc ELSE 2 * cc - 9 END)
           ) % 10) % 10 AS ck,
           ca, cb, cc
    FROM luhn
),
planted AS (
    SELECT d.doc_id,
           d.text
           || CASE WHEN d.doc_id % 7 = 0
                   THEN ' contact user' || CAST(d.doc_id AS VARCHAR) || '@example.com'
                   ELSE '' END
           || CASE WHEN d.doc_id % 11 = 0
                   THEN ' call 555-' || lpad(CAST(d.doc_id % 10000 AS VARCHAR), 4, '0')
                   ELSE '' END
           || CASE WHEN d.doc_id % 13 = 0
                   THEN ' host 10.0.' || CAST(d.doc_id % 256 AS VARCHAR)
                        || '.' || CAST((d.doc_id * 7) % 256 AS VARCHAR)
                   ELSE '' END
           || CASE WHEN d.doc_id % 17 = 0
                   THEN ' ssn ' || CAST(d.doc_id % 400 + 100 AS VARCHAR)
                        || '-' || lpad(CAST(d.doc_id % 100 AS VARCHAR), 2, '0')
                        || '-' || lpad(CAST((d.doc_id * 31) % 10000 AS VARCHAR), 4, '0')
                   ELSE '' END
           || CASE WHEN d.doc_id % 19 = 0
                   THEN ' card 4242 4242 4242 '
                        || CAST(c.ca AS VARCHAR) || CAST(c.cb AS VARCHAR)
                        || CAST(c.cc AS VARCHAR) || CAST(c.ck AS VARCHAR)
                   ELSE '' END AS text2
    FROM documents d JOIN card c USING (doc_id)
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text2, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text2, '{PHONE_RE}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(text2, '{IP_RE}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(text2, '{SSN_RE}')) AS BIGINT) AS n_ssns,
       CAST(len(regexp_extract_all(text2, '{CARD_RE}')) AS BIGINT) AS n_cards,
       md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           text2, '{CARD_RE}', '<CARD>', 'g'),
           '{SSN_RE}', '<SSN>', 'g'),
           '{EMAIL_RE}', '<EMAIL>', 'g'),
           '{PHONE_RE}', '<PHONE>', 'g'),
           '{IP_RE}', '<IP>', 'g')) AS redacted_hash
FROM planted
WHERE len(regexp_extract_all(text2, '{EMAIL_RE}'))
    + len(regexp_extract_all(text2, '{PHONE_RE}'))
    + len(regexp_extract_all(text2, '{IP_RE}'))
    + len(regexp_extract_all(text2, '{SSN_RE}'))
    + len(regexp_extract_all(text2, '{CARD_RE}')) > 0
"""


NGRAM_TOPK = 20


def q_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-k bigram counts: the n-gram statistics pass every
    corpus-analysis pipeline runs.  Map-side combine does the heavy lifting
    (partial counts per partition), one shuffle on the gram, then a
    TakeOrdered top-k — no global sort.  Ties broken by gram so the k-set is
    deterministic across engines."""
    docs = _docs_hot(spark, sf_dir)
    # explode(sequence) + element_at, not a transform() lambda: the
    # generator+projection pair fuses into whole-stage codegen while HOF
    # lambdas evaluate interpreted (same shape as repetition_metrics)
    words = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit(""))
    return (
        docs.select(words.alias("ws"))
        .filter(F.size("ws") >= 2)
        .select(F.explode(F.sequence(F.lit(1), F.size("ws") - 1)).alias("i"), "ws")
        .select(
            F.concat_ws(
                " ", F.element_at("ws", F.col("i")), F.element_at("ws", F.col("i") + 1)
            ).alias("gram")
        )
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("gram"))
        .limit(NGRAM_TOPK)
    )


SQL_NGRAM_TOPK = f"""
WITH words AS (
    SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
    FROM documents
),
grams AS (
    SELECT ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1] AS gram
    FROM words, LATERAL unnest(range(1, len(ws))) t(i)
)
SELECT gram, count(*) AS n FROM grams GROUP BY gram
ORDER BY n DESC, gram LIMIT {NGRAM_TOPK}
"""


MIX_ALPHA_NOTE = "alpha=0.5 temperature sampling"


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture weights for training-data sampling: per-source token
    shares re-weighted by sqrt (alpha=0.5 temperature — the standard
    multilingual/multi-domain smoothing).  All ratios go through
    integer-quantized sqrt (floor(sqrt·1000)) so the cross-source sums are
    order-insensitive integers — bit-identical on any engine.  The agg
    output is #sources rows; the normalizing window runs over that tiny
    frame, so the corpus-scan agg dominates the cost.  The ppm ratios go
    through DOUBLE before scaling: an integer ``n_tokens * 1e6`` would
    overflow int64 near ~9e12 tokens (Spark wraps silently, DuckDB raises
    — a cross-engine divergence exactly at large-corpus sizes)."""
    docs = _docs_hot(spark, sf_dir)
    tok = F.size(F.split(F.col("text"), " ")).cast("long")
    per = docs.select("source", tok.alias("tok")).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("tok").alias("n_tokens")
    )
    s = F.floor(F.sqrt(F.col("n_tokens")) * 1000).cast("long")
    w_all = Window.partitionBy()
    per = per.withColumn("s", s)
    return per.select(
        "source",
        "n_docs",
        "n_tokens",
        F.floor(
            F.col("n_tokens").cast("double")
            * 1_000_000.0
            / F.sum("n_tokens").over(w_all).cast("double")
        ).alias("share_ppm"),
        F.floor(
            F.col("s").cast("double")
            * 1_000_000.0
            / F.sum("s").over(w_all).cast("double")
        ).alias("weight_ppm"),
    )


SQL_MIXTURE_WEIGHTS = """
WITH per AS (
    SELECT source, count(*) AS n_docs,
           CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS n_tokens
    FROM documents GROUP BY source
),
q AS (
    SELECT source, n_docs, n_tokens,
           CAST(floor(sqrt(n_tokens) * 1000) AS BIGINT) AS s
    FROM per
)
SELECT source, n_docs, n_tokens,
       CAST(floor(CAST(n_tokens AS DOUBLE) * 1000000
                  / CAST(sum(n_tokens) OVER () AS DOUBLE)) AS BIGINT) AS share_ppm,
       CAST(floor(CAST(s AS DOUBLE) * 1000000
                  / CAST(sum(s) OVER () AS DOUBLE)) AS BIGINT) AS weight_ppm
FROM q
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-snapshot) dedup: a new batch arrives, anything
    whose content hash already exists in the prior corpus snapshot is
    dropped.  Docs with doc_id % 3 == 0 stand in for the prior snapshot;
    the new batch is the rest plus planted copies of prior docs (which must
    all be eliminated).  Shape at 100 TB: the prior side reduces to distinct
    hashes (one shuffle, map-side combinable) and the anti-join runs
    hash-partitioned on those 16-byte keys — the batch text never
    co-shuffles with the snapshot."""
    # cold_table, not the pin — with a caveat q_dedup_exact doesn't have:
    # this frame feeds THREE subtrees (prior hashes, batch remainder,
    # planted copies), so the cold path re-scans the pruned (doc_id, lang,
    # text) projection up to three times where the pin would serve three
    # cached reads.  Measured at sf0.1 (min-of-6 warm): cold 0.26-0.37 s vs
    # pinned 0.35-0.40 s — three vectorized pruned scans still beat three
    # deserialized passes over the wide pin, and the text payload stays out
    # of executor storage.
    from kafka_backup_spark.queries.common import cold_table

    docs = cold_table(spark, sf_dir, "documents", "doc_id", "lang", "text")
    prior = docs.filter(F.col("doc_id") % 3 == 0)
    planted = prior.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "lang", "text"
    )
    batch = docs.filter(F.col("doc_id") % 3 != 0).unionByName(planted)
    h = F.md5(F.col("text").cast("binary"))
    new_docs = batch.withColumn("h", h).join(
        prior.select(h.alias("h")).distinct(), "h", "left_anti"
    )
    return new_docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_new"),
        F.min("doc_id").alias("first_new_doc_id"),
    )


SQL_INCREMENTAL_DEDUP = """
WITH prior AS (
    SELECT doc_id, lang, text FROM documents WHERE doc_id % 3 = 0
),
batch AS (
    SELECT doc_id, lang, text FROM documents WHERE doc_id % 3 <> 0
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, lang, text FROM prior WHERE doc_id % 2 = 0
)
SELECT lang, count(*) AS n_new, min(doc_id) AS first_new_doc_id
FROM batch b
-- NOT EXISTS (not NOT IN): matches the Spark left_anti join's NULL
-- semantics — a NULL batch hash is KEPT by both, whereas NOT IN would
-- return zero rows the moment any prior hash were NULL.
WHERE NOT EXISTS (
    SELECT 1 FROM (SELECT DISTINCT md5(text) AS h FROM prior) p
    WHERE p.h = md5(b.text)
)
GROUP BY lang
"""


# ── M9: repetition/quality signals + corpus shape stats ───────────────────
# Two more corpus-curation staples (added round 4).  Both are classic
# pre-training filters: Gopher-style repetition metrics (Rae et al. 2021's
# "repetition" quality signals — fraction of duplicated n-grams, dominance
# of the single most frequent token) and the per-source document-length
# histogram every mixture/packing decision starts from.

REP_DUP_BIGRAM_MAX = 0.20  # Gopher-ish: drop docs whose bigrams repeat >20%
REP_TOP_TOKEN_MAX = 0.30  # ...or where one token is >30% of the text


def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals: token count, distinct-token and
    duplicate-bigram fractions, top-token dominance, and the resulting
    keep/drop flag.  Shape at 100 TB: two explode→groupBy chains (token
    counts, bigram counts), both map-side-combinable — partial aggregation
    collapses each document's grams inside the mapper, so the shuffle
    carries ~distinct-grams-per-doc rows, then a tiny doc_id-keyed join.
    No windows, no HOF lambdas on the hot path (explode(sequence) stays in
    whole-stage codegen)."""
    docs = _docs_hot(spark, sf_dir).select("doc_id", "text")
    words = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"),
    ).filter(F.col("w") != "")
    tok = (
        words.groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("top_c"),
        )
    )
    # bigrams via explode(sequence) over the word array — codegen, no lambda
    warr = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit(""))
    bi = (
        docs.select("doc_id", warr.alias("ws"))
        .filter(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("ws") - 1)).alias("i"),
            "ws",
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ", F.element_at("ws", F.col("i")), F.element_at("ws", F.col("i") + 1)
            ).alias("g"),
        )
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_bi"), F.count(F.lit(1)).alias("n_bi_distinct"))
    )
    # LEFT join: a doc with <2 tokens has no bigram row — it must still get
    # a verdict (dup_bigram_frac 0.0: nothing repeated), not silently vanish
    # from the keep/drop output
    dup_bi = F.round(
        F.coalesce(1.0 - F.col("n_bi_distinct") / F.col("n_bi"), F.lit(0.0)), 4
    )
    top_frac = F.round(F.col("top_c") / F.col("n_tokens"), 4)
    return tok.join(bi, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.round(F.col("n_distinct") / F.col("n_tokens"), 4).alias("distinct_frac"),
        top_frac.alias("top_token_frac"),
        dup_bi.alias("dup_bigram_frac"),
        (
            (dup_bi <= F.lit(REP_DUP_BIGRAM_MAX)) & (top_frac <= F.lit(REP_TOP_TOKEN_MAX))
        ).alias("keep"),
    )


SQL_REPETITION_METRICS = f"""
WITH words AS (
    SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents
    ) WHERE w <> ''
),
tok AS (
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct, max(c) AS top_c
    FROM (SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w)
    GROUP BY doc_id
),
warr AS (
    SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
    FROM documents
),
bi AS (
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bi, count(*) AS n_bi_distinct
    FROM (
        SELECT doc_id, g, count(*) AS c FROM (
            SELECT doc_id, ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1] AS g
            FROM warr, LATERAL unnest(range(1, len(ws))) t(i)
            WHERE len(ws) >= 2
        ) GROUP BY doc_id, g
    ) GROUP BY doc_id
)
SELECT t.doc_id, t.n_tokens,
       round(CAST(t.n_distinct AS DOUBLE) / t.n_tokens, 4) AS distinct_frac,
       round(CAST(t.top_c AS DOUBLE) / t.n_tokens, 4) AS top_token_frac,
       round(coalesce(1.0 - CAST(b.n_bi_distinct AS DOUBLE) / b.n_bi, 0.0), 4) AS dup_bigram_frac,
       (round(coalesce(1.0 - CAST(b.n_bi_distinct AS DOUBLE) / b.n_bi, 0.0), 4) <= {REP_DUP_BIGRAM_MAX}
        AND round(CAST(t.top_c AS DOUBLE) / t.n_tokens, 4) <= {REP_TOP_TOKEN_MAX}) AS keep
FROM tok t LEFT JOIN bi b ON t.doc_id = b.doc_id
"""


HIST_BUCKET_TOKENS = 64  # histogram bucket width in tokens


def q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram per source: bucketed token counts — the
    shape every packing-budget / mixture decision reads first.  One
    map-side-combinable groupBy on (source, bucket); cardinality is
    #sources × #buckets regardless of corpus size."""
    docs = _docs_hot(spark, sf_dir)
    tok = F.size(F.split(F.col("text"), " ")).cast("long")
    return (
        docs.select("source", F.floor(tok / F.lit(HIST_BUCKET_TOKENS)).alias("bucket"))
        .groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


SQL_TOKEN_HISTOGRAM = f"""
SELECT source,
       CAST(floor(CAST(len(string_split(text, ' ')) AS BIGINT)
                  / {HIST_BUCKET_TOKENS}.0) AS BIGINT) AS bucket,
       count(*) AS n_docs
FROM documents GROUP BY source, bucket
"""


def q_filtered_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filtered mixture weights: the composition real curation
    pipelines run — drop documents failing the Gopher repetition filters
    (M9 ``repetition_metrics`` keep flag), THEN compute the α=0.5 domain
    mixture over the survivors.  The keep set joins back as a semi-join on
    doc_id (hash-partitioned, no payload duplication); everything downstream
    is the one corpus agg + tiny-frame window of ``mixture_weights``."""
    rep_keep = q_repetition_metrics(spark, sf_dir).filter(F.col("keep")).select("doc_id")
    docs = _docs_hot(spark, sf_dir)
    tok = F.size(F.split(F.col("text"), " ")).cast("long")
    kept = docs.select("doc_id", "source", tok.alias("tok")).join(
        rep_keep, "doc_id", "left_semi"
    )
    per = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("tok").alias("n_tokens")
    )
    s = F.floor(F.sqrt(F.col("n_tokens")) * 1000).cast("long")
    w_all = Window.partitionBy()
    per = per.withColumn("s", s)
    return per.select(
        "source",
        "n_docs",
        "n_tokens",
        F.floor(
            F.col("n_tokens").cast("double")
            * 1_000_000.0
            / F.sum("n_tokens").over(w_all).cast("double")
        ).alias("share_ppm"),
        F.floor(
            F.col("s").cast("double")
            * 1_000_000.0
            / F.sum("s").over(w_all).cast("double")
        ).alias("weight_ppm"),
    )


SQL_FILTERED_MIXTURE = f"""
WITH kept AS (
    SELECT doc_id FROM ({SQL_REPETITION_METRICS}) WHERE keep
),
per AS (
    SELECT d.source, count(*) AS n_docs,
           CAST(sum(CAST(len(string_split(d.text, ' ')) AS BIGINT)) AS BIGINT) AS n_tokens
    FROM documents d JOIN kept k ON d.doc_id = k.doc_id
    GROUP BY d.source
),
q AS (
    SELECT source, n_docs, n_tokens,
           CAST(floor(sqrt(n_tokens) * 1000) AS BIGINT) AS s
    FROM per
)
SELECT source, n_docs, n_tokens,
       CAST(floor(CAST(n_tokens AS DOUBLE) * 1000000
                  / CAST(sum(n_tokens) OVER () AS DOUBLE)) AS BIGINT) AS share_ppm,
       CAST(floor(CAST(s AS DOUBLE) * 1000000
                  / CAST(sum(s) OVER () AS DOUBLE)) AS BIGINT) AS weight_ppm
FROM q
"""


# ── TPC-H Q12-shaped: conditional aggregation over a join ─────────────────
# The shipmode columns don't exist in this testdata, so the Q12 PATTERN —
# join a fact to its dimension and split one COUNT into CASE-WHEN buckets —
# runs over (orders ⋈ lineitem) bucketing line counts by return flag per
# order priority.  Same plan shape as Q12: one equi-join (lineitem side
# shuffles, orders side aggregates) + a single conditional-agg groupBy with
# map-side combine; the CASE folds into the aggregate buffer, no extra pass.

_Q12_BODY = """
SELECT {HINT}o_orderpriority,
       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS returned_lines,
       CAST(SUM(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS kept_lines,
       COUNT(*) AS total_lines
FROM orders, lineitem
WHERE o_orderkey = l_orderkey
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
GROUP BY o_orderpriority
"""


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    _view(spark, sf_dir, "orders", "lineitem", bucketed=("lineitem", "orders"))
    # co-located SHJ under the layout; the hint also blocks the static
    # broadcast of the date-filtered orders_b (whose pruned size estimate
    # falls under the threshold) that AQE could never revert
    hint = (
        "/*+ SHUFFLE_HASH(orders) */ "
        if _is_bucketed_view(spark, "orders", sf_dir)
        else ""
    )
    return spark.sql(_cents_sql(_Q12_BODY.format(HINT=hint)))


SQL_TPCH_Q12 = _Q12_BODY.format(HINT="")


def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-quality rollup per language: bin count, mean fill fraction
    (bin_tokens/budget, the number that justifies a budget choice), and the
    overflow share (concat-then-chunk lets exactly the boundary-crossing doc
    spill, so fill > 1.0 is expected for non-last bins).  Pure composition:
    the per-bin frame from ``sequence_packing`` (already #bins rows — tiny)
    rolled up once more; adds nothing to the corpus-scale cost."""
    bins = q_sequence_packing(spark, sf_dir)
    fill = F.col("bin_tokens").cast("double") / F.lit(float(PACK_BUDGET))
    return bins.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("n_docs").alias("n_docs"),
        F.round(F.avg(fill), 4).alias("mean_fill"),
        F.sum(F.when(fill > 1.0, 1).otherwise(0)).alias("overflow_bins"),
    )


SQL_PACKING_EFFICIENCY = f"""
WITH bins AS ({SQL_SEQUENCE_PACKING})
SELECT lang, count(*) AS n_bins, CAST(sum(n_docs) AS BIGINT) AS n_docs,
       round(avg(CAST(bin_tokens AS DOUBLE) / {PACK_BUDGET}), 4) AS mean_fill,
       CAST(sum(CASE WHEN CAST(bin_tokens AS DOUBLE) / {PACK_BUDGET} > 1.0
                THEN 1 ELSE 0 END) AS BIGINT) AS overflow_bins
FROM bins GROUP BY lang
"""


VOCAB_TOPK = 200  # vocabulary size candidate for the coverage metric


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-prep metric: per language, what fraction of all token
    occurrences the top-``VOCAB_TOPK`` words cover.  Vocabulary design
    (BPE seed lists, coverage targets) starts from this table.

    Shape at 100 TB: explode→(lang, word) counts with map-side combine —
    the shuffle carries distinct words per partition, not tokens — then a
    per-lang top-K via a window over the (lang, word) count frame (rows =
    vocabulary size, partitioned by lang; NOT a corpus-scale sort) and one
    tiny join of per-lang totals.  Ties at rank K break by word so the
    k-set is deterministic on both engines."""
    docs = _docs_hot(spark, sf_dir)
    words = docs.select(
        "lang", F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    ).filter(F.col("w") != "")
    counts = words.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("lang").agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("n_distinct")
    )
    w = Window.partitionBy("lang").orderBy(F.col("c").desc(), F.col("w"))
    top = (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= VOCAB_TOPK)
        .groupBy("lang")
        .agg(F.sum("c").alias("top_c"))
    )
    return top.join(totals, "lang").select(
        "lang",
        "n_distinct",
        "total",
        F.round(F.col("top_c").cast("double") / F.col("total"), 4).alias("coverage"),
    )


SQL_VOCAB_COVERAGE = f"""
WITH words AS (
    SELECT lang, w FROM (
        SELECT lang, unnest(string_split(lower(text), ' ')) AS w FROM documents
    ) WHERE w <> ''
),
counts AS (SELECT lang, w, count(*) AS c FROM words GROUP BY lang, w),
totals AS (
    SELECT lang, CAST(sum(c) AS BIGINT) AS total, count(*) AS n_distinct FROM counts GROUP BY lang
),
top AS (
    SELECT lang, sum(c) AS top_c FROM (
        SELECT lang, c, row_number() OVER (
            PARTITION BY lang ORDER BY c DESC, w) AS rank
        FROM counts
    ) WHERE rank <= {VOCAB_TOPK} GROUP BY lang
)
SELECT t.lang, tt.n_distinct, tt.total,
       round(CAST(t.top_c AS DOUBLE) / tt.total, 4) AS coverage
FROM top t JOIN totals tt ON t.lang = tt.lang
"""


# ── M9: token-budget corpus selection ─────────────────────────────────────
# "Fill each source's training-token budget with its highest-quality docs."
# The naive shape — rank every doc per source by quality and take a running
# sum — is a per-source global sort (unbounded window frames at 100 TB).
# The scalable shape used here quantizes quality into ≤1001 buckets, runs
# the cumulative fill over the per-(source, bucket) AGGREGATE frame (≤1001
# rows per source at ANY corpus size), and reports the quality cutoff at
# which the budget crosses.  Whole buckets are taken until the budget
# boundary falls inside one (that boundary bucket is included — the
# concat-then-chunk convention sequence_packing also uses), so doc-level
# selection is then a map-side filter `bucket >= cutoff`.  Budget = half of
# each source's total tokens, so the cutoff bites at every sf tier.


def q_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_hot(spark, sf_dir)
    toks = F.split(F.lower(F.col("text")), " ")
    n = F.size(toks)
    # quality = distinct-token ratio (the q_quality_score staple), quantized
    # to 1/1000 buckets; round(x, 6) first so the bucket edge is identical
    # across engines (same 6dp value both sides, then one floor)
    qb = F.floor(F.round(F.size(F.array_distinct(toks)).cast("double") / n, 6) * 1000).cast("long")
    per_bucket = docs.select(
        "source", qb.alias("qb"), n.cast("long").alias("tok")
    ).groupBy("source", "qb").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("tok").alias("bucket_tokens")
    )
    w_src = Window.partitionBy("source")
    w_cum = (
        Window.partitionBy("source")
        .orderBy(F.col("qb").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_bucket.withColumn(
        "budget", F.floor(F.sum("bucket_tokens").over(w_src) / 2)
    ).withColumn("cum_tokens", F.sum("bucket_tokens").over(w_cum))
    # a bucket is selected iff the fill starts BEFORE the budget boundary
    sel = cum.filter(F.col("cum_tokens") - F.col("bucket_tokens") < F.col("budget"))
    return sel.groupBy("source").agg(
        F.min("qb").alias("cutoff_quality_milli"),
        F.sum("n_docs").alias("n_selected"),
        F.sum("bucket_tokens").alias("selected_tokens"),
        F.max("budget").alias("token_budget"),
    )


SQL_TOKEN_BUDGET_SELECTION = """
WITH scored AS (
    SELECT source,
           CAST(floor(round(CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
                            / len(string_split(lower(text), ' ')), 6) * 1000) AS BIGINT) AS qb,
           CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS tok
    FROM documents
),
per_bucket AS (
    SELECT source, qb, count(*) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS bucket_tokens
    FROM scored GROUP BY source, qb
),
cum AS (
    SELECT source, qb, n_docs, bucket_tokens,
           CAST(floor(sum(bucket_tokens) OVER (PARTITION BY source) / 2) AS BIGINT) AS budget,
           CAST(sum(bucket_tokens) OVER (
               PARTITION BY source ORDER BY qb DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
    FROM per_bucket
)
SELECT source,
       min(qb) AS cutoff_quality_milli,
       CAST(sum(n_docs) AS BIGINT) AS n_selected,
       CAST(sum(bucket_tokens) AS BIGINT) AS selected_tokens,
       max(budget) AS token_budget
FROM cum
WHERE cum_tokens - bucket_tokens < budget
GROUP BY source
"""


# ── M9: per-language quantile quality gate ────────────────────────────────
# FineWeb-style percentile filtering: keep documents above their language's
# median quality instead of a global absolute threshold (absolute cutoffs
# systematically starve low-resource languages).  Exact `percentile` here so
# the DuckDB `quantile_cont` twin hash-matches (the same interpolation
# definition — parity proven by reset_percentiles); the 100 TB path swaps in
# `percentile_approx` (t-digest, map-side combinable) exactly as
# reset_latency_percentiles documents.


def q_quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_hot(spark, sf_dir)
    toks = F.split(F.lower(F.col("text")), " ")
    q = F.round(F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 6)
    scored = docs.select("lang", q.alias("q"))
    med = scored.groupBy("lang").agg(
        F.round(F.expr("percentile(q, 0.5)"), 6).alias("median_q")
    )
    j = scored.join(F.broadcast(med), "lang")
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("q") > F.col("median_q"), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.max("median_q").alias("median_q"),
    )


SQL_QUALITY_QUANTILE_FILTER = """
WITH scored AS (
    SELECT lang,
           round(CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
                 / len(string_split(lower(text), ' ')), 6) AS q
    FROM documents
),
med AS (
    SELECT lang, round(quantile_cont(q, 0.5), 6) AS median_q
    FROM scored GROUP BY lang
)
SELECT s.lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN s.q > m.median_q THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       max(m.median_q) AS median_q
FROM scored s JOIN med m ON s.lang = m.lang
GROUP BY s.lang
"""


# ── TPC-H Q13-shaped: customer order-count distribution ───────────────────
# The one join shape the catalog lacked: LEFT OUTER with an ON-clause
# filter on the NULL-side table (customers with zero surviving orders must
# appear with c_count = 0 — pushing the priority filter into WHERE would
# silently drop them), then a histogram over the group counts.  Identical
# text runs on both engines.

_Q13_BODY = """
WITH c_orders AS (
    SELECT c_custkey, count(o_orderkey) AS c_count
    FROM customer LEFT OUTER JOIN orders
      ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
    GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist
FROM c_orders
GROUP BY c_count
"""


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-BEFORE-join (r9): counting a customer's surviving orders
    needs no customer attributes, so the count runs first — a map-side
    combinable groupBy that collapses the fact table to one narrow row per
    ordering customer — and the LEFT OUTER join degrades to dim × dim
    (zero-order customers surface through coalesce(n, 0), exactly the
    ON-clause-filter semantics).  Catalyst does not reorder aggregates
    through outer joins itself, so the shape is written this way; the
    ORACLE keeps the reference LEFT OUTER + ON-filter formulation
    (SQL_TPCH_Q13), so the driver hash-compare proves the rewrite
    equivalent on every run.  Shuffle volume drops from |matching orders|
    joined rows to |ordering customers| count rows.  Negative result
    (r9, sf10 min-of-5): eliminating the customer join entirely — zero-
    order custdist as count(customer) − sum(hist) via UNION ALL + scalar
    subqueries — measured 2.63 s vs 1.33 s; Spark re-executes the
    un-materialized hist CTE once per scalar reference (3 → 6 exchanges),
    which costs more than the SMJ it removes.

    SHUFFLE_HASH(cnt) (r10 stage profile, min-of-6 interleaved): the
    dim × dim outer join was sorting both shuffled sides; hashing the
    count side instead — whose exchange is already keyed on o_custkey by
    its own aggregate, so AQE reuses it — cut the full query 1.541 →
    0.989 s against a 0.705 s orders-rollup floor.  BROADCAST(cnt)
    measured 1.401 s (collecting ~1.5M count rows to the driver costs
    more than the customer shuffle it saves) and is the wrong 100-TB
    shape — pinned negative.

    Custkey bucket family (r12, layout.py FAMILIES): with orders bucketed
    by o_custkey the cnt rollup runs single-phase on the bucket
    distribution, its output keeps HashPartitioning(o_custkey), and the
    co-bucketed customer side makes the hinted SHJ exchange-free — the
    only exchange left is the tiny c_count histogram.  Same discipline as
    q18's orderkey win, on the one key family that layout cannot serve."""
    _view(
        spark, sf_dir, "customer", "orders",
        bucketed=("orders@custkey", "customer@custkey"),
    )
    return spark.sql(_cents_sql("""
WITH cnt AS (
    SELECT o_custkey, count(*) AS n
    FROM orders WHERE o_orderpriority <> '1-URGENT'
    GROUP BY o_custkey
), c_orders AS (
    SELECT /*+ SHUFFLE_HASH(cnt) */
           c_custkey, coalesce(n, CAST(0 AS BIGINT)) AS c_count
    FROM customer LEFT OUTER JOIN cnt ON c_custkey = o_custkey
)
SELECT c_count, count(*) AS custdist
FROM c_orders
GROUP BY c_count
"""))


SQL_TPCH_Q13 = _Q13_BODY


# ── TPC-H Q22-shaped: above-average balances with no urgent orders ────────
# Scalar aggregate subquery (the comparison threshold) + correlated NOT
# EXISTS anti-join.  The threshold is computed in fixed-point cents —
# CAST(sum(BIGINT cents) AS DOUBLE)/count — so both engines derive the
# identical double from identical integers and the boundary comparison
# can't flip on float summation order.  (The fixture gives every customer
# at least one order, so the anti-join is restricted to URGENT orders to
# keep the result non-empty — the plan shape is Q22's regardless.)

_Q22_BODY = """
WITH cust AS (
    SELECT c_custkey, c_mktsegment,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
    FROM customer
),
thresh AS (
    SELECT CAST(sum(bal_c) AS DOUBLE) / count(*) AS avg_c
    FROM cust WHERE bal_c > 0
)
SELECT c_mktsegment, count(*) AS numcust,
       CAST(sum(bal_c) AS DOUBLE) / 100 AS totacctbal
FROM cust
WHERE bal_c > (SELECT avg_c FROM thresh)
  AND NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = cust.c_custkey AND o.o_orderpriority = '1-URGENT'
  )
GROUP BY c_mktsegment
"""


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-before-anti (r9): the NOT EXISTS plans as a left-anti
    join whose right side is every urgent ORDER ROW; collapsing it to
    DISTINCT o_custkey first lets the partial aggregate dedupe map-side,
    so the shuffle carries ~one row per urgent customer instead of one
    per urgent order.  A/B at sf10 (min-of-4, interleaved): 2.57 →
    1.76 s.  A BROADCAST hint on the distinct set measured 2.07 s —
    slower here and the wrong 100-TB shape (the urgent-customer set
    grows with the data); pinned as a negative result.

    SHUFFLE_HASH(urg) (r10 stage profile, min-of-6 interleaved): the
    anti join was a SortMergeJoin sorting BOTH post-shuffle sides for a
    single existence probe — hashing the distinct build side instead
    cut the full query 1.254 → 0.723 s; the stage profile puts the
    urgent-distinct at 0.61 s of what remains (the irreducible orders
    scan + dedupe).  Dropping the DISTINCT under SHJ measured 0.635 s
    but was REJECTED: the build side would hold every urgent order row
    (orders-scale) instead of unique customer keys (customer-scale) —
    the wrong per-partition memory bound at 100 TB.  The ORACLE keeps
    the reference NOT EXISTS formulation (SQL_TPCH_Q22).

    Custkey bucket family (r12, layout.py FAMILIES): the urgent-customer
    DISTINCT dedupes single-phase on orders' o_custkey bucket
    distribution and the anti join probes the co-bucketed customer scan
    exchange-free — both shuffles gone, the 3-row segment rollup is all
    that remains."""
    _view(
        spark, sf_dir, "customer", "orders",
        bucketed=("orders@custkey", "customer@custkey"),
    )
    return spark.sql(_cents_sql("""
WITH cust AS (
    SELECT c_custkey, c_mktsegment,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
    FROM customer
),
thresh AS (
    SELECT CAST(sum(bal_c) AS DOUBLE) / count(*) AS avg_c
    FROM cust WHERE bal_c > 0
),
urg AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
SELECT /*+ SHUFFLE_HASH(urg) */ c_mktsegment, count(*) AS numcust,
       CAST(sum(bal_c) AS DOUBLE) / 100 AS totacctbal
FROM cust LEFT ANTI JOIN urg ON urg.o_custkey = cust.c_custkey
WHERE bal_c > (SELECT avg_c FROM thresh)
GROUP BY c_mktsegment
"""))


SQL_TPCH_Q22 = _Q22_BODY


# ── Leakage-safe train/val/test split (dedup-aware assignment) ────────────
# Splitting a corpus doc-by-doc leaks: exact duplicates land on both sides
# of the train/test boundary and inflate eval scores.  The standard fix
# (pre-training pipelines split by CANONICAL CONTENT GROUP): hash the
# content, take min(doc_id) per hash as the group id, and derive the split
# from a hash of the GROUP — every duplicate twin lands in the same split
# by construction.  98/1/1 buckets; shape = dedup_exact's single content-
# hash shuffle plus one group join, scale-safe at 100 TB.


def leakage_safe_split_frame(docs: DataFrame) -> DataFrame:
    """Split rollup over any (doc_id, text) frame — factored so the
    generative property test drives the exact shipped expressions.

    Shape (VERDICT r8 #4): ONE aggregation chain, no join.  The r8 form
    joined the per-doc hash frame back to its own groupBy (g ⋈ canon),
    which re-executed the corpus scan + md5 on both branches (branch reuse
    does not fire across the agg/probe shapes) — 8.3× DuckDB at sf1 for
    what is a group-hash rollup.  Since the final report only needs
    per-SPLIT totals, the group aggregate can carry each group's member
    count alongside its canonical id: n_docs = sum of group sizes,
    n_groups = count of groups — same values, one md5 pass, one shuffle on
    the content hash (map-side combinable) plus a 3-row split rollup.

    Hash A/B pinned (VERDICT r9 #3, sf10 interleaved min-of-6): md5
    0.511 s vs unhex(md5) 0.534 s vs xxhash64 0.554 s — a wash; the
    wall-time is the corpus scan + rollup, not the hash choice.  md5
    stays, keeping the group identity shared with dedup_exact."""
    groups = (
        docs.select("doc_id", F.md5(F.col("text").cast("binary")).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("gid"))
    )
    return _split_rollup(groups)


def _split_rollup(groups: DataFrame) -> DataFrame:
    """98/1/1 split assignment + per-split rollup over content-hash groups
    ``(h, n, gid)`` — one definition for both group sources (raw corpus
    and the fingerprint sidecar)."""
    from kafka_backup_spark.functions.hashing import fast_hash64

    b = F.pmod(fast_hash64(F.col("gid").cast("string")), F.lit(100))
    split = (
        F.when(b < 98, F.lit("train")).when(b == 98, F.lit("val")).otherwise(F.lit("test"))
    )
    return (
        groups.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.count(F.lit(1)).alias("n_groups"),
        )
    )


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sidecar-aware shipped path: content-hash groups from _corpus_groups
    (exchange-free sidecar scan when served — VERDICT r13 #1 — else the
    r8-pinned single md5 pass), then the shared split rollup.

    r15 symmetric-protocol floor (VERDICT r14 #3, SCALE.md "Round-15: the
    symmetric-protocol sub-second floors"): with DuckDB reading the SAME 24 MB sidecar the 0.24 s
    absolute is ~2.7× DuckDB's 0.07-0.09, and every partition-count
    lever LOSES — coalesce(1) 6× worse (serializes the scan+agg),
    coalesce(4) 2× worse, AQE already folds the ≤96-row exchange.  The
    gap is two stage launches + 32 task starts on a sub-second absolute
    (session noop floor 0.035 s); it amortizes with scale and the same
    shape is 1.00× on the standard protocol.  PINNED."""
    return _split_rollup(_corpus_groups(spark, sf_dir))


def _leakage_safe_split_sql() -> str:
    from kafka_backup_spark.functions.hashing import fast_hash64_duckdb as fh

    return f"""
WITH {_CORPUS},
gr AS (
    SELECT count(*) AS n, min(doc_id) AS gid
    FROM corpus GROUP BY md5(text)
),
assigned AS (
    SELECT n,
           CASE WHEN {fh('CAST(gid AS VARCHAR)')} % 100 < 98 THEN 'train'
                WHEN {fh('CAST(gid AS VARCHAR)')} % 100 = 98 THEN 'val'
                ELSE 'test' END AS split
    FROM gr
)
SELECT split, CAST(sum(n) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_groups
FROM assigned GROUP BY split
"""


SQL_LEAKAGE_SAFE_SPLIT = _leakage_safe_split_sql()


def _leakage_safe_split_fp_sql() -> str:
    """Symmetric-protocol twin over the fingerprint sidecar view (see
    SQL_DEDUP_EXACT_FP): groups from ``documents_fp``, identical split
    assignment and rollup."""
    from kafka_backup_spark.functions.hashing import fast_hash64_duckdb as fh

    return f"""
WITH {_FP_GROUPS_SQL},
assigned AS (
    SELECT n,
           CASE WHEN {fh('CAST(gid AS VARCHAR)')} % 100 < 98 THEN 'train'
                WHEN {fh('CAST(gid AS VARCHAR)')} % 100 = 98 THEN 'val'
                ELSE 'test' END AS split
    FROM gr
)
SELECT split, CAST(sum(n) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_groups
FROM assigned GROUP BY split
"""


SQL_LEAKAGE_SAFE_SPLIT_FP = _leakage_safe_split_fp_sql()


# ── TPC-H Q7-shaped: volume shipping between a nation pair ────────────────
# The one join topology Q5 lacks: nation joined TWICE (supplier side and
# customer side) with a symmetric OR over the pair, then a (nation, nation,
# year) rollup.  Catalyst must push the OR into both broadcast builds.

_Q7_BODY = """
WITH sh AS (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INT) AS l_year,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
         CAST(round(l_discount * 100) AS BIGINT) AS dc
  FROM supplier, lineitem, orders, customer, nation n1, nation n2
  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
    AND c_custkey = o_custkey
    AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
    AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
)
SELECT supp_nation, cust_nation, l_year,
       (CAST(rev_hi AS DOUBLE) * 1e6 + CAST(rev_lo AS DOUBLE)) / 1e4 AS revenue
FROM (
  SELECT supp_nation, cust_nation, l_year,
         {REV_SUM}
  FROM sh GROUP BY supp_nation, cust_nation, l_year
)
"""


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dims-first join order (r9, same move as q5): resolve the two-nation
    supplier and customer sets first (tiny broadcasts, 2/25 selectivity),
    probe lineitem against the supplier set — dropping ~92% of fact rows
    before the orders join — and apply the nation-pair disjunction on the
    narrow stream.  A/B at sf1: 0.99 → 0.87 s locally (the orders join
    broadcasts either way at this scale; at 100 TB the early reduction is
    the difference between shuffling 8% of lineitem and all of it).
    Results equal; the ORACLE keeps the reference flat-join text."""
    _view(spark, sf_dir, "supplier", "lineitem", "orders", "customer", "nation", bucketed=_gated_orderkey(spark, sf_dir, "lineitem", "orders"))
    ohint = (
        "/*+ SHUFFLE_HASH(orders) */ "
        if _is_bucketed_view(spark, "orders", sf_dir)
        else ""
    )
    rev = _money_sum(
        "pc * (100 - dc)", "rev_hi", "rev_lo", "div", _money_single(spark, sf_dir, "rev")
    )
    return spark.sql(_cents_sql(f"""
WITH sn AS (
  SELECT s_suppkey, n_name AS supp_nation FROM supplier JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name IN ('NATION_3', 'NATION_7')
), cn AS (
  SELECT c_custkey, n_name AS cust_nation FROM customer JOIN nation ON c_nationkey = n_nationkey
  WHERE n_name IN ('NATION_3', 'NATION_7')
), sh AS (
  SELECT {ohint}sn.supp_nation, cn.cust_nation,
         CAST(year(l_shipdate) AS INT) AS l_year,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
         CAST(round(l_discount * 100) AS BIGINT) AS dc
  FROM lineitem
  JOIN sn ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN cn ON c_custkey = o_custkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    AND ((supp_nation = 'NATION_3' AND cust_nation = 'NATION_7')
      OR (supp_nation = 'NATION_7' AND cust_nation = 'NATION_3'))
)
SELECT supp_nation, cust_nation, l_year,
       (CAST(rev_hi AS DOUBLE) * 1e6 + CAST(rev_lo AS DOUBLE)) / 1e4 AS revenue
FROM (
  SELECT supp_nation, cust_nation, l_year, {rev}
  FROM sh GROUP BY supp_nation, cust_nation, l_year
)
"""))


SQL_TPCH_Q7 = _Q7_BODY.format(
    IDIV="//",
    REV_SUM=_money_sum("pc * (100 - dc)", "rev_hi", "rev_lo", "//", False),
)


# ── TPC-H Q9-shaped: profit by nation and year ────────────────────────────
# Part joins the fact table (the fixtures have no partsupp, so supply cost
# is p_retailprice·quantity — same plan shape: two dims + nation rollup).
# Both terms land in the same 1e-4-dollar fixed-point unit, so the profit
# difference is exact BIGINT arithmetic.

_Q9_BODY = """
WITH pr AS (
  SELECT {HINT}n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
         CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))
           - CAST(round(p_retailprice * 100) AS BIGINT) * CAST(round(l_quantity * 100) AS BIGINT)
           AS amount_u
  FROM part, supplier, lineitem, orders, nation
  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
    AND p_type = 'PROMO'
)
SELECT nation, o_year,
       (CAST(hi AS DOUBLE) * 1e6 + CAST(lo AS DOUBLE)) / 1e4 AS sum_profit
FROM (
  SELECT nation, o_year,
         {AMT_SUM}
  FROM pr GROUP BY nation, o_year
)
"""


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative result (r9, sf10 min-of-4 interleaved): a SHUFFLE_HASH
    hint on the orders join (SMJ → SHJ, sort elided) measured 2.70 s min
    vs 2.87 s but was slower on two of four interleaved reps — a wash
    inside this VM's noise band, not worth carrying a hint that pins the
    planner's hands at other scales.  A part-first forced join order was
    A/B'd at sf1 earlier this round — also a wash (Catalyst already
    picks it)."""
    _view(spark, sf_dir, "part", "supplier", "lineitem", "orders", "nation", bucketed=("lineitem", "orders"))
    hint = (
        "/*+ SHUFFLE_HASH(orders) */ "
        if _is_bucketed_view(spark, "orders", sf_dir)
        else ""
    )
    return spark.sql(_cents_sql(
        _Q9_BODY.format(
            HINT=hint,
            IDIV="div",
            AMT_SUM=_money_sum(
                "amount_u", "hi", "lo", "div", _money_single(spark, sf_dir, "q9")
            ),
        )
    ))


SQL_TPCH_Q9 = _Q9_BODY.format(
    HINT="", IDIV="//", AMT_SUM=_money_sum("amount_u", "hi", "lo", "//", False)
)


# ── TPC-H Q15-shaped: top supplier by quarter revenue ─────────────────────
# Scalar MAX over a derived aggregate (the reference view), equality join
# back — ties all surface (no LIMIT 1 nondeterminism).

_Q15_BODY = """
WITH li AS (
  SELECT l_suppkey,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
         CAST(round(l_discount * 100) AS BIGINT) AS dc
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
),
rev AS (
  SELECT l_suppkey AS supplier_no, {TOTAL_U} AS total_u
  FROM li GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_u AS DOUBLE) / 1e4 AS total_revenue
FROM supplier JOIN rev ON s_suppkey = supplier_no
WHERE total_u = (SELECT max(total_u) FROM rev)
"""


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DataFrame form, NOT the SQL scalar subquery: Spark plans the scalar
    # max as a separate subquery execution with no exchange reuse, so the
    # SQL form pays the lineitem aggregation TWICE (measured 0.67 s vs
    # 0.42 s at sf0.1, plans show 6 scans vs 4).  The whole-frame window
    # computes the global max in the same pass; its input is the
    # POST-aggregation frame — one narrow row per distinct supplier, the
    # same cardinality any engine must funnel to one place for a global
    # argmax — never fact rows; max over the unbounded frame needs no sort.
    # PINNED NEGATIVE RESULT (VERDICT r7 #4): the broadcast scalar-max join
    # (rev ⋈ broadcast(rev.agg(max))) was built and A/B-measured — 0.66 s
    # vs 0.36 s for the window at sf0.1, min-of-5 one session — because the
    # rev aggregation executes twice (exchange reuse does not materialize
    # across the agg/probe branch shapes on the bench write path, even with
    # the join's isnotnull null-filter mirrored onto both branches).  The
    # partitionless window is therefore deliberate and whitelisted in
    # test_plan_quality's partitionless-window audit; revisit only if the
    # per-supplier cardinality ever approaches fact-row scale.
    _view(spark, sf_dir, "supplier", "lineitem")
    from pyspark.sql import Window

    li = spark.table("lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    ).select(
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("pc"),
        F.round(F.col("l_discount") * 100).cast("long").alias("dc"),
    )
    if _money_single(spark, sf_dir, "rev"):
        total_u = F.sum(F.col("pc") * (100 - F.col("dc"))).cast("long")
    else:
        total_u = (
            F.sum(F.expr("(pc * (100 - dc)) div 1000000")).cast("long") * 1000000
            + F.sum((F.col("pc") * (100 - F.col("dc"))) % 1000000).cast("long")
        )
    rev = li.groupBy("l_suppkey").agg(total_u.alias("total_u"))
    top = rev.withColumn(
        "mx", F.max("total_u").over(Window.partitionBy())
    ).filter(F.col("total_u") == F.col("mx"))
    return top.join(
        spark.table("supplier"), F.col("s_suppkey") == F.col("l_suppkey")
    ).select(
        "s_suppkey",
        "s_name",
        (F.col("total_u").cast("double") / 1e4).alias("total_revenue"),
    )


SQL_TPCH_Q15 = _Q15_BODY.format(
    IDIV="//",
    TOTAL_U=(
        "CAST(SUM((pc * (100 - dc)) // 1000000) AS BIGINT) * 1000000"
        " + CAST(SUM((pc * (100 - dc)) % 1000000) AS BIGINT)"
    ),
)


# ── TPC-H Q16-shaped: supplier count by part attributes ───────────────────
# NOT IN anti-join (non-null key, so no null-semantics trap) + a
# count(DISTINCT) over three grouping columns.  The fixtures have no
# partsupp: lineitem IS the part↔supplier relation.

_Q16_BODY = """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#3' AND p_type <> 'MEDIUM'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


def _dim_broadcastable(sf_dir: str, table: str, limit_rows: int) -> bool:
    """Footer-gated broadcast decision for a dimension that GROWS with the
    scale factor (part, supplier, customer): True only when the parquet
    footers prove the table's total row count is under `limit_rows`.
    Missing/unreadable footers → False, i.e. the scale-safe shuffle join."""
    try:
        st = _parquet_footer_stats(f"{sf_dir}/{table}.parquet")
        return st is not None and st[0] <= limit_rows
    except Exception:
        return False


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-first form (r9): probe lineitem's (partkey, suppkey) pairs
    against the FILTERED part dim first, then anti-join negative-balance
    suppliers, then one distinct-agg — the reference-shaped SQL planned a
    part ⋈ lineitem SortMergeJoin that shuffled the whole fact table on
    partkey before the ~1/8-selectivity part filter dropped anything.
    A/B at sf10 (min-of-4, interleaved): base 3.13 s → join-first 1.92 s
    (4 exchanges + 1 SMJ → 2 exchanges + 0 SMJ).  Negative result, same
    run: a distinct-(partkey,suppkey) pre-aggregate before the joins
    measured 7.68 s — the distinct shuffle dwarfs the join it feeds.
    Both broadcasts are footer-gated (_dim_broadcastable): part and
    supplier grow with the scale factor, so past ~8M/4M rows the hints
    are withheld and Catalyst/AQE falls back to shuffle joins — the right
    100-TB shape when a dim outgrows executor memory.  The ORACLE keeps
    the reference NOT IN formulation (SQL_TPCH_Q16).

    r10 stage profile (sf10, min-of-6 interleaved), pinned as the floor:
    lineitem scan 0.14 s, + both broadcast joins 0.69 s, full query
    1.82 s — the countDistinct two-level aggregate over the ~7.5M
    join survivors is the remaining ~1.1 s.  A manual distinct-then-
    count formulation of the same aggregate measured 1.83 s (wash;
    Spark's expand-based countDistinct already is that plan), and the
    r9 distinct-before-join negative (7.68 s) still stands — the
    residue is aggregate constant factor, not plan shape.  r11 pinned
    the Arrow branch too (sf10, min-of-5, parity-checked; SCALE.md
    "q18/q16 vectorization probe"): mapInArrow per-partition distinct on
    (brand,type,size,suppkey) feeding the JVM countDistinct measured
    3.83 s vs 1.55 s
    for the shipped plan — Arrow transfer of the 7.5M survivors costs
    more than the whole aggregate it was meant to speed up.

    r13 (VERDICT r12 #1) retried the distinct-pair pre-aggregate ON the
    partkey bucket family (sf10, min-of-6 interleaved, parity OK;
    SCALE.md "Round-13: q16 on the partkey family"): the bucket
    HashPartitioning(l_partkey) does make the (l_partkey, l_suppkey)
    distinct exchange-free, but the fixture's
    pairs are 98.5% UNIQUE (59.10M distinct of 60M rows — the generator
    draws l_suppkey independently; there is no partsupp-style 4-per-part
    repetition to collapse), so the 60M-row hash aggregate buys a ~1.5%
    shrink: pre-distinct 5.96 s vs 2.27 s shipped — the r9 negative
    stands for a deeper reason than the shuffle.  A post-join distinct
    (partkey in the keys, also exchange-free) lost head-to-head too
    (2.27 vs 1.99 s, min-of-8).  What DID win: serving the join-first
    shape from the partkey-bucketed SCAN (sorted, one file per bucket)
    — +10.8% (2.32 → 2.07 s), adopted below; same footprint gate as the
    other join-shaped opt-ins.

    r15 (VERDICT r14 #1) NAMED the floor with a q5-style stage table
    (sf10, min-of-6 interleaved; SCALE.md "Round-15: q16's
    countDistinct floor NAMED"): scan
    0.41 s → +part broadcast 1.01 → +anti-join 1.06 → +PLAIN grouped
    count 1.43 → full countDistinct 2.68 — the distinct itself is +1.25 s
    and everything upstream is already tight; manual two-level distinct
    is a wash (2.74).  The fixture-dependence caveat is CLOSED: a
    re-run of the pre-distinct on a derived sf10
    lineitem with partsupp-style 4-suppliers-per-part duplication (60M
    rows → 8.0M distinct pairs) and it STILL lost 3.6× (5.87 vs 1.61 s,
    parity-checked) — the countDistinct's own partial phase already
    collapses the survivors, so a separate distinct pass only re-pays
    the scan.  Floor: constant factor of Spark's expand/two-phase
    distinct vs DuckDB's perfect-hash distinct, formally pinned like
    q5's."""
    _view(
        spark, sf_dir, "part", "supplier", "lineitem",
        bucketed=_gated_orderkey(spark, sf_dir, "lineitem@partkey"),
    )
    pf = (
        spark.table("part")
        .where(
            (F.col("p_brand") != "Brand#3")
            & (F.col("p_type") != "MEDIUM")
            & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    if _dim_broadcastable(sf_dir, "part", 8_000_000):
        pf = F.broadcast(pf)
    bad = spark.table("supplier").where(F.col("s_acctbal") < 0).select("s_suppkey")
    if _dim_broadcastable(sf_dir, "supplier", 4_000_000):
        bad = F.broadcast(bad)
    return (
        spark.table("lineitem")
        .select("l_partkey", "l_suppkey")
        .join(pf, F.col("p_partkey") == F.col("l_partkey"))
        .join(bad, F.col("s_suppkey") == F.col("l_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


SQL_TPCH_Q16 = _Q16_BODY


# ── TPC-H Q17-shaped: small-quantity-order revenue ────────────────────────
# Correlated scalar AVG per part, decorrelated to an agg join.  The 0.2·avg
# threshold runs in EXACT integer math on both engines (qc < 0.2·sum/cnt ⇔
# 5·qc·cnt < sum), so the boundary can't flip on float division.

_Q17_BODY = """
WITH pl AS (
  SELECT l_partkey,
         CAST(round(l_quantity * 100) AS BIGINT) AS qc,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
  FROM lineitem
),
pa AS (
  SELECT l_partkey AS pk, CAST(sum(qc) AS BIGINT) AS sum_qc,
         CAST(count(*) AS BIGINT) AS cnt
  FROM pl GROUP BY l_partkey
)
SELECT p_brand, CAST(sum(pc) AS DOUBLE) / 700.0 AS avg_yearly
FROM pl
JOIN part ON p_partkey = l_partkey
JOIN pa ON pk = l_partkey
WHERE 5 * qc * cnt < sum_qc
GROUP BY p_brand
"""


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed decorrelation (r9): the agg-join form shuffles lineitem
    twice (once for the per-part aggregate, once to sort-merge it back)
    plus the final brand exchange.  A per-part window computes sum(qc)
    and count(*) over the SAME single hash exchange the join needed, so
    the self-join disappears: 3 exchanges + 1 SMJ → 2 exchanges + 0 SMJ
    (part stays broadcast).  A/B at sf10, min-of-4: 7.13 → 4.29 s, with
    the explicit-repartition agg-join at 5.08 s; collected results equal
    on all three.  The ORACLE keeps the agg-join formulation
    (SQL_TPCH_Q17), so every driver run proves the window form against
    the reference shape.

    Partkey bucket family (r12, layout.py FAMILIES): lineitem bucketed +
    sorted by l_partkey serves the window its required distribution AND
    sort from storage — the one remaining fact exchange and the window
    sort both disappear; what's left is the bucketed scan, the part
    broadcast, and the tiny brand rollup.  Footprint-gated like the other
    join-shaped opt-ins (at small scale the exchange is cheaper than the
    bucket-count scan cap)."""
    _view(
        spark, sf_dir, "part", "lineitem",
        bucketed=_gated_orderkey(spark, sf_dir, "lineitem@partkey"),
    )
    return spark.sql(_cents_sql("""
WITH pl AS (
  SELECT l_partkey,
         CAST(round(l_quantity * 100) AS BIGINT) AS qc,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
  FROM lineitem
),
plw AS (
  SELECT l_partkey, qc, pc,
         CAST(sum(qc) OVER (PARTITION BY l_partkey) AS BIGINT) AS sum_qc,
         CAST(count(*) OVER (PARTITION BY l_partkey) AS BIGINT) AS cnt
  FROM pl
)
SELECT p_brand, CAST(sum(pc) AS DOUBLE) / 700.0 AS avg_yearly
FROM plw
JOIN part ON p_partkey = l_partkey
WHERE 5 * qc * cnt < sum_qc
GROUP BY p_brand
"""))


SQL_TPCH_Q17 = _Q17_BODY


# ── TPC-H Q21-shaped: sole returning supplier in multi-supplier orders ────
# The double-correlated EXISTS + NOT EXISTS topology (the hardest Q21
# feature) over the columns the fixtures carry: suppliers who were the ONLY
# supplier with returned lines ('R') in a finished multi-supplier order.

_Q21_BODY = """
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier, lineitem l1, orders
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
  AND EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
      SELECT 1 FROM lineitem l3
      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        AND l3.l_returnflag = 'R'
  )
GROUP BY s_name
"""


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decorrelated + windowed form (r9): the correlated EXISTS + NOT
    EXISTS each re-scan and re-shuffle lineitem, so the fact table is
    read three times.  Both predicates are functions of per-order
    supplier aggregates — EXISTS(other supplier) ⇔ n_supp ≥ 2,
    NOT EXISTS(other supplier with 'R') ⇔ n_supp_r = 1 given l1 is 'R'.
    Three plan moves stack on one orderkey exchange: (1) the per-order
    o_orderstatus = 'F' predicate is constant within every window
    partition, so the orders join runs FIRST and halves everything
    downstream; (2) the (orderkey, suppkey) rollup needs only
    ClusteredDistribution(orderkey, suppkey), which the orderkey
    exchange already satisfies — no second shuffle; (3) the per-order
    supplier counts become window aggregates over that same
    distribution instead of a second rollup + self-join.  6 exchanges +
    2 SMJ → 3 exchanges + 0 SMJ.  A/B at sf10 (min-of-4, interleaved):
    agg-join form 25.1 s, window form 7.9 s, window-less shared-exchange
    form 10.7 s; collected results equal on all three.  The ORACLE keeps
    the reference double-correlated formulation (SQL_TPCH_Q21), so every
    driver run proves the decorrelation equivalent.

    r16 (OPTIMIZATION_r16.md §2): the window pair was the largest
    stage fragment (+0.20 s of 0.60 at sf0.1) because a window needs a
    SORT of the ~550k per_os rows.  The filter keeps rows with r_rows > 0
    AND n_supp_r = 1 — i.e. EXACTLY ONE supplier with 'R' rows per
    qualifying order — so that supplier and its count pull through one
    more hash aggregate on l_orderkey via conditional max()es (max over a
    single qualifying value IS the value): no sort, no self-join, and the
    orderkey agg reuses the clustered distribution the (orderkey,
    suppkey) rollup established (this is NOT the r9 shared-exchange form,
    which joined the counts back to the per_os rows).  A/B at sf0.1:
    0.554 → 0.414 s min-of-10 interleaved, parity hash identical; sf10
    confirmation in OPTIMIZATION_r16.md.  Window (37/39) + Sort (36)
    leave the plan; HashAggregate pair takes their place
    (plans/r16/tpch_q21_sole_returns_{before,after}.txt).

    Under the bucketed layout (r12) the fact join gets a co-located
    SHUFFLE_HASH hint: both sides already satisfy the orderkey hash
    distribution, so the hint swaps the SMJ's per-bucket merge for a
    per-bucket hash build with NO exchange either way — measured at sf10
    (min-of-6 interleaved, parity OK; SCALE.md "q21 on the layout"):
    bucketed SMJ was
    a wash vs shipped (−4.3%) but bucketed SHJ won +49.7% (3.92 → 1.97 s).
    Unbucketed keeps the hint off (r9 pinned plain SMJ→SHJ swaps as
    washes)."""
    _view(spark, sf_dir, "supplier", "lineitem", "orders", bucketed=_gated_orderkey(spark, sf_dir, "lineitem", "orders"))
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


SQL_TPCH_Q21 = _Q21_BODY


# ── M10: duplicated-span fraction (exact substring dedup signal) ──────────
# Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
# Better") deduplicate EXACT repeated substrings, not just whole documents
# — the practical signal is the fraction of a document's fixed-length
# character windows that also occur in other documents.  The suffix-array
# formulation is inherently sequential; the Spark-native equivalent samples
# windows at CONTENT-DEFINED anchor positions and counts cross-document
# window-hash collisions.  Sampling rule (r7 — replaces the original fixed
# stride): windows start at the char positions of ANCHOR WORDS — words
# whose (length·31 + first-char-code) % SPAN_ANCHOR_MOD == 0 — plus the
# first word unconditionally so every ≥SPAN_LEN doc contributes a window.
# Content-defined positions depend only on the text itself, so a block
# copied at ANY offset produces the same anchors inside the block — the
# fixed stride only collided when the copies' alignments matched mod 16
# (a ~1/16 recall for arbitrary-offset copies, exposed by the r7
# hypothesis property test: a block planted at offsets 20 vs 0 produced
# ZERO collisions).  Word anchors beat a per-char CDC polynomial on Spark
# because substring(text, i, 1) walks i bytes (UTF-8): the char-hash
# formulation measured 6.4 s at sf0.1 vs 0.56 s for word anchors and
# 0.30 s for the blind stride.  Expected density ≈ 1/SPAN_ANCHOR_MOD
# words (~every 22 chars on the fixtures); degenerate space-free texts
# fall back to the single position-1 window (documented).  Every shuffle
# keys on a 56-bit hash — the shape that survives 100 TB.  The corpus
# includes the planted copies (_CORPUS), whose spans collide with their
# originals by construction.

SPAN_LEN = 40
SPAN_ANCHOR_MOD = 4  # ~1/4 of words anchor ⇒ ~every 22 chars on fixtures
SPAN_ANCHOR_MULT = 31

# DuckDB twin of _span_windows (shared by the fraction and extents oracles):
# lockstep unnest of (index, word), char position via running length sum,
# the same content-defined word-anchor rule as the Spark side.  Consumes a
# docs0(doc_id, text) CTE; yields wins(doc_id, text, i).
_WINS_WORD_ANCHOR_CTE = f"""wins AS (
    SELECT doc_id, text, i
    FROM (
        SELECT doc_id, text, j, w,
               CAST(1 + coalesce(sum(length(w) + 1) OVER (
                   PARTITION BY doc_id ORDER BY j
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS i
        FROM (
            SELECT doc_id, text,
                   unnest(generate_series(1, len(ws))) AS j,
                   unnest(ws) AS w
            FROM (SELECT doc_id, text, string_split(text, ' ') AS ws FROM docs0)
        )
    )
    WHERE (j = 1 OR (length(w) * {SPAN_ANCHOR_MULT}
                     + CASE WHEN length(w) > 0 THEN ascii(substring(w, 1, 1)) ELSE 0 END)
                    % {SPAN_ANCHOR_MOD} = 0)
      AND i <= length(text) - {SPAN_LEN - 1}
),"""


def _span_windows(c: DataFrame) -> DataFrame:
    """(doc_id, i, h) rows for the content-defined sampled windows of a
    (doc_id, text) frame: posexplode the words, recover each word's 1-based
    char position with a running length sum (one doc_id-keyed window pass
    over word rows — data-proportional, O(1) primitives only), keep the
    anchor words, then hash the SPAN_LEN-char window at each surviving
    position (substring's O(position) byte walk runs on ~1/4 of the words,
    not every char position)."""
    from pyspark.sql import Window

    from kafka_backup_spark.functions.hashing import fast_hash64

    words = c.select(
        "doc_id", "text", F.posexplode(F.split(F.col("text"), " ")).alias("j", "w")
    )
    prev = Window.partitionBy("doc_id").orderBy("j").rowsBetween(
        Window.unboundedPreceding, -1
    )
    pos = (F.coalesce(F.sum(F.length("w") + 1).over(prev), F.lit(0)) + 1).alias("i")
    first_code = F.when(
        F.length("w") > 0, F.ascii(F.expr("substring(w, 1, 1)"))
    ).otherwise(F.lit(0))
    anchor = F.pmod(
        F.length("w") * SPAN_ANCHOR_MULT + first_code, F.lit(SPAN_ANCHOR_MOD)
    ) == 0
    return (
        words.select("doc_id", "text", "j", "w", pos)
        .filter(
            ((F.col("j") == 0) | anchor)
            & (F.col("i") <= F.length("text") - (SPAN_LEN - 1))
        )
        .select(
            "doc_id",
            "i",
            fast_hash64(F.expr(f"substring(text, i, {SPAN_LEN})")).alias("h"),
        )
    )


def dup_span_fraction_frame(docs: DataFrame) -> DataFrame:
    """Duplicated-span fraction over any (doc_id, text) frame — factored so
    the CLI (`corpus stats --dup-spans`) and the catalog fixture query share
    one implementation.

    Skew-hardened shape (VERDICT r7 #2): the r7 formulation computed the
    cross-doc owner count with ``Window.partitionBy("h")``, which funnels
    EVERY occurrence of a hot span hash (license headers, navigation chrome
    — guaranteed at 100 TB) into one window partition: an unsplittable
    straggler task, the exact skew class AQE cannot fix (skew handling
    applies to joins, not windows).  This shape has no per-``h`` window at
    all: dedup on the COMPOSITE (h, doc_id) key (uniform even under a hot
    ``h`` — doc_id varies), count owners per ``h`` with a two-level
    hash aggregate whose map-side partial_count bounds the reduce input at
    #map-tasks rows per key, and join the owner counts back on ``h`` — a
    shuffle join AQE's skew-join splitting CAN break up (AQE in fact
    broadcasts the owner-count side outright when it is small).  The
    deduped narrow frame is PERSISTED (memory-and-disk, two longs per row)
    because both the owner-count branch and the join probe consume it —
    without materialization each branch re-executes the substring-hash map
    side (AQE stage reuse does not fire across these branch shapes;
    measured +30% at sf0.1, while the persist variant runs FASTER than the
    r7 hot-key window: 0.67 s vs 0.80 s warm).  Pinned by
    test_skew.py::test_span_operators_have_no_hot_key_window."""
    from kafka_backup_spark.queries.textops import _tagged_persist

    c = docs.filter(F.length("text") >= SPAN_LEN)
    wins = _span_windows(c).select("doc_id", "h")
    # tagged persist (ADVICE r8 #2): a repeated caller (CLI loop, per-batch
    # stream stats) releases the PREVIOUS call's handle instead of leaking
    # one cached frame per invocation; within one call both the owner-count
    # branch and the join probe still share the materialization
    dh = _tagged_persist(
        docs.sparkSession,
        "dup_span_fraction:dh",
        wins.groupBy("h", "doc_id").agg(F.lit(1).alias("_one")).drop("_one"),
    )
    freq = dh.groupBy("h").agg(F.count(F.lit(1)).alias("nd"))
    return (
        dh.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("nd") > 1).cast("long")).alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            F.round(
                F.col("n_dup_spans").cast("double") / F.col("n_spans").cast("double"), 6
            ).alias("dup_fraction"),
        )
    )


def q_dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dup_span_fraction_frame(_corpus(spark, sf_dir))


def _dup_span_sql() -> str:
    from kafka_backup_spark.functions.hashing import fast_hash64_duckdb

    return f"""
WITH {_CORPUS},
docs0 AS (SELECT doc_id, text FROM corpus WHERE length(text) >= {SPAN_LEN}),
{_WINS_WORD_ANCHOR_CTE}
dh AS (
    SELECT DISTINCT doc_id,
           {fast_hash64_duckdb(f'substring(text, CAST(i AS INT), {SPAN_LEN})')} AS h
    FROM wins
),
freq AS (SELECT h, count(*) AS nd FROM dh GROUP BY h)
SELECT doc_id,
       count(*) AS n_spans,
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       round(CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS dup_fraction
FROM dh JOIN freq USING (h)
GROUP BY doc_id
"""


SQL_DUP_SPAN_FRACTION = _dup_span_sql()


# ── M10b: duplicated-span EXTENTS + excision proof (VERDICT r6 #4) ────────
# dup_span_fraction reports the Lee et al. 2022 signal; the actual pipeline
# REMOVES the spans.  This operator upgrades the signal to actionable
# output: per-doc merged span extents (adjacent/overlapping colliding
# windows coalesced via a gaps-and-islands pass — window j merges into a
# run when j ≤ prev_window + SPAN_LEN, i.e. the covered char ranges touch)
# plus a `clean_hash` of the text with those extents excised, proving the
# excision byte-for-byte against the DuckDB oracle.  Shape: the same two
# uniform hash-keyed shuffles as dup_span_fraction, one bounded per-doc
# window pass (≤ len/STRIDE rows per doc), one doc_id join back to the
# corpus — no UDFs, no driver loops; survives 100 TB.


def dup_span_extents_frame(docs: DataFrame, with_clean_text: bool = False) -> DataFrame:
    """Merged duplicated-span extents + excision hash over any
    (doc_id, text) frame — shared by the catalog query and the CLI.
    ``with_clean_text=True`` additionally materializes the excised text
    itself (the Lee et al. pipeline's actual output) — used by the CLI's
    ``--write-clean`` path; the catalog twin ships only the md5 so the
    driver hash compare stays narrow."""
    c = docs.filter(F.length("text") >= SPAN_LEN)
    wins = _span_windows(c)
    # cross-document collision frequency over per-doc-distinct hashes (a doc
    # repeating its own span must not count as duplication by itself) — but
    # every POSITION of a cross-doc span inside a doc is a duplicated extent.
    # Skew-hardened shape (VERDICT r7 #2, same reasoning as
    # dup_span_fraction_frame): no per-``h`` window.  Collapse to one row
    # per (h, doc) CARRYING the position list (so the join branch never
    # re-executes the substring-hash map side — the sorted array is bounded
    # by a doc's own anchor count, ~len/22 chars on fixtures), count owner
    # docs per ``h`` with a partial-agg-safe two-level aggregate, and
    # explode back only the positions of cross-doc hashes.  The ``h`` join
    # is AQE-skew-splittable; the old Window.partitionBy("h") straggler
    # task was not.
    # same persist-the-dedup trick as dup_span_fraction_frame: the grouped
    # frame carries the position ARRAY (bounded by a doc's own anchor
    # count) so neither the owner-count branch nor the join probe ever
    # re-executes the substring-hash map side
    from kafka_backup_spark.queries.textops import _tagged_persist

    # tagged persist: same handle-release contract as dup_span_fraction_frame
    per_hd = _tagged_persist(
        docs.sparkSession,
        "dup_span_extents:per_hd",
        wins.groupBy("h", "doc_id").agg(
            F.sort_array(F.collect_list("i")).alias("ii")
        ),
    )
    dup_h = (
        per_hd.groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") > 1)
        .select("h")
    )
    dupw = per_hd.join(dup_h, "h").select("doc_id", F.explode("ii").alias("i"))
    return span_extents_from_positions(c, dupw, with_clean_text=with_clean_text)


def span_extents_from_positions(
    c: DataFrame, dupw: DataFrame, with_clean_text: bool = False
) -> DataFrame:
    """Merged extents + excision over pre-computed duplicated-window
    positions: ``c`` is the (doc_id, text, ...) frame, ``dupw`` the
    (doc_id, i) rows marking each duplicated SPAN_LEN window start.
    Factored from ``dup_span_extents_frame`` so the corpus store's
    PERSISTED span index (corpus_store.py) can feed the same
    island-merge/excision shape without re-hashing every text window —
    the candidate-position source differs, the downstream plan is one
    implementation."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("i")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # islands: a window starts a new run unless its covered chars touch the
    # previous window's (i - prev ≤ SPAN_LEN); lag NULL → new run
    brk = F.when(F.col("i") - F.lag("i").over(w) <= SPAN_LEN, F.lit(0)).otherwise(F.lit(1))
    spans = (
        dupw.withColumn("brk", brk)
        .withColumn("g", F.sum("brk").over(run))
        .groupBy("doc_id", "g")
        .agg(F.min("i").alias("s"), (F.max("i") + SPAN_LEN - 1).alias("e"))
    )
    perdoc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("dup_chars"),
        # spans are disjoint, so sorting starts and ends independently keeps
        # them pairwise aligned — no struct sort needed on either engine
        F.sort_array(F.collect_list("s")).alias("ss"),
        F.sort_array(F.collect_list("e")).alias("ee"),
    )
    joined = c.join(perdoc, "doc_id", "left")
    span_str = F.expr(
        """IF(ss IS NULL, '', array_join(
               transform(sequence(1, size(ss)),
                   k -> concat(CAST(element_at(ss, k) AS STRING), '-',
                               CAST(element_at(ee, k) AS STRING))), ';'))"""
    )
    # excision: concatenate the complement segments around the sorted spans
    # (segment k runs from prev span end + 1 to next span start - 1)
    clean = F.expr(
        """IF(ss IS NULL, text, array_join(
               transform(sequence(1, size(ss) + 1),
                   k -> substring(text,
                          IF(k = 1, 1, element_at(ee, k - 1) + 1),
                          greatest(
                            IF(k = size(ss) + 1, length(text),
                               element_at(ss, k) - 1)
                            - IF(k = 1, 1, element_at(ee, k - 1) + 1) + 1,
                            0))), ''))"""
    )
    cols = [
        F.col("doc_id"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce(F.col("dup_chars"), F.lit(0)).cast("long").alias("dup_chars"),
        span_str.alias("spans"),
        F.md5(clean.cast("binary")).alias("clean_hash"),
    ]
    if with_clean_text:
        cols.append(clean.alias("clean_text"))
    return joined.select(*cols)


def q_dup_span_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dup_span_extents_frame(_corpus(spark, sf_dir))


def _dup_span_extents_sql() -> str:
    from kafka_backup_spark.functions.hashing import fast_hash64_duckdb

    return f"""
WITH {_CORPUS},
docs0 AS (SELECT doc_id, text FROM corpus WHERE length(text) >= {SPAN_LEN}),
docs AS (SELECT * FROM docs0),
{_WINS_WORD_ANCHOR_CTE}
wh AS (
    SELECT doc_id, CAST(i AS INT) AS i,
           {fast_hash64_duckdb(f'substring(text, CAST(i AS INT), {SPAN_LEN})')} AS h
    FROM wins
),
dh AS (SELECT DISTINCT doc_id, h FROM wh),
freq AS (SELECT h, count(*) AS nd FROM dh GROUP BY h),
dupw AS (SELECT w.doc_id, w.i FROM wh w JOIN freq USING (h) WHERE nd > 1),
isl AS (
    SELECT doc_id, i,
           CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= {SPAN_LEN}
                THEN 0 ELSE 1 END AS brk
    FROM dupw
),
grps AS (
    SELECT doc_id, i, sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS g FROM isl
),
spans AS (
    SELECT doc_id, min(i) AS s, max(i) + {SPAN_LEN - 1} AS e
    FROM grps GROUP BY doc_id, g
),
perdoc AS (
    SELECT doc_id, count(*) AS n_spans,
           CAST(sum(e - s + 1) AS BIGINT) AS dup_chars,
           list_sort(list(s)) AS ss, list_sort(list(e)) AS ee
    FROM spans GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
       coalesce(p.dup_chars, 0) AS dup_chars,
       CASE WHEN p.doc_id IS NULL THEN '' ELSE
         array_to_string(list_transform(range(1, CAST(p.n_spans AS BIGINT) + 1),
             k -> CAST(list_extract(p.ss, k) AS VARCHAR) || '-'
                  || CAST(list_extract(p.ee, k) AS VARCHAR)), ';')
       END AS spans,
       md5(CASE WHEN p.doc_id IS NULL THEN d.text ELSE
         array_to_string(list_transform(range(1, CAST(p.n_spans AS BIGINT) + 2),
             k -> substring(d.text,
                    CAST(CASE WHEN k = 1 THEN 1
                              ELSE list_extract(p.ee, k - 1) + 1 END AS INT),
                    greatest(CAST(
                      CASE WHEN k = CAST(p.n_spans AS BIGINT) + 1 THEN length(d.text)
                           ELSE list_extract(p.ss, k) - 1 END
                      - CASE WHEN k = 1 THEN 1
                             ELSE list_extract(p.ee, k - 1) + 1 END + 1 AS INT), 0))),
             '')
       END) AS clean_hash
FROM docs d LEFT JOIN perdoc p USING (doc_id)
"""


SQL_DUP_SPAN_EXTENTS = _dup_span_extents_sql()


PIPELINE_QUERIES: dict[str, tuple] = {
    "multimodal_meta": (q_multimodal_meta, SQL_MULTIMODAL_META),
    "image_stats": (q_image_stats, SQL_IMAGE_STATS),
    "audio_stats": (q_audio_stats, SQL_AUDIO_STATS),
    "tpch_q1_pricing": (q_tpch_q1, SQL_TPCH_Q1),
    "tpch_q3_priority": (q_tpch_q3, SQL_TPCH_Q3),
    "tpch_q4_exists": (q_tpch_q4, SQL_TPCH_Q4),
    "tpch_q14_promo": (q_tpch_q14, SQL_TPCH_Q14),
    "tpch_q19_disjunctive": (q_tpch_q19, SQL_TPCH_Q19),
    "tpch_q5_region_volume": (q_tpch_q5, SQL_TPCH_Q5),
    "tpch_q6_forecast": (q_tpch_q6, SQL_TPCH_Q6),
    "tpch_q10_returns": (q_tpch_q10, SQL_TPCH_Q10),
    "tpch_q18_large_orders": (q_tpch_q18, SQL_TPCH_Q18),
    "tpch_q12_priority_lines": (q_tpch_q12, SQL_TPCH_Q12),
    "tpch_q13_order_dist": (q_tpch_q13, SQL_TPCH_Q13),
    "tpch_q22_dormant_balance": (q_tpch_q22, SQL_TPCH_Q22),
    # r7 join-shape widening (catalog tail; selfcheck-gated):
    "tpch_q7_nation_volume": (q_tpch_q7, SQL_TPCH_Q7),
    "tpch_q9_profit": (q_tpch_q9, SQL_TPCH_Q9),
    "tpch_q15_top_supplier": (q_tpch_q15, SQL_TPCH_Q15),
    "tpch_q16_supplier_cnt": (q_tpch_q16, SQL_TPCH_Q16),
    "tpch_q17_small_qty": (q_tpch_q17, SQL_TPCH_Q17),
    "tpch_q21_sole_returns": (q_tpch_q21, SQL_TPCH_Q21),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_keep_best": (q_dedup_keep_best, SQL_DEDUP_KEEP_BEST),
    "stratified_sample": (q_stratified_sample, SQL_STRATIFIED_SAMPLE),
    "contamination_check": (q_contamination_check, SQL_CONTAMINATION_CHECK),
    "text_metrics": (q_text_metrics, SQL_TEXT_METRICS),
    "lang_stats": (q_lang_stats, SQL_LANG_STATS),
    "doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "minhash_signatures": (q_minhash_signatures, SQL_MINHASH_SIGNATURES),
    "cosine_topk": (q_cosine_topk, SQL_COSINE_TOPK),
    "sequence_packing": (q_sequence_packing, SQL_SEQUENCE_PACKING),
    "pii_redaction": (q_pii_redaction, SQL_PII_REDACTION),
    "ngram_topk": (q_ngram_topk, SQL_NGRAM_TOPK),
    "mixture_weights": (q_mixture_weights, SQL_MIXTURE_WEIGHTS),
    "incremental_dedup": (q_incremental_dedup, SQL_INCREMENTAL_DEDUP),
    # M9 (catalog tail — selfcheck-gated; the 50-slot driver window is full)
    "repetition_metrics": (q_repetition_metrics, SQL_REPETITION_METRICS),
    "token_histogram": (q_token_histogram, SQL_TOKEN_HISTOGRAM),
    "filtered_mixture": (q_filtered_mixture, SQL_FILTERED_MIXTURE),
    "vocab_coverage": (q_vocab_coverage, SQL_VOCAB_COVERAGE),
    "packing_efficiency": (q_packing_efficiency, SQL_PACKING_EFFICIENCY),
    "token_budget_selection": (q_token_budget_selection, SQL_TOKEN_BUDGET_SELECTION),
    "quality_quantile_filter": (q_quality_quantile_filter, SQL_QUALITY_QUANTILE_FILTER),
    # M10 (r6): exact repeated-substring dedup signal
    "dup_span_fraction": (q_dup_span_fraction, SQL_DUP_SPAN_FRACTION),
    # M10b (r7): actionable span extents + excision proof (catalog tail —
    # gated by selfcheck now, driver window slot at the next rotation)
    "dup_span_extents": (q_dup_span_extents, SQL_DUP_SPAN_EXTENTS),
    # r7: dedup-aware train/val/test assignment (duplicate twins co-split)
    "leakage_safe_split": (q_leakage_safe_split, SQL_LEAKAGE_SAFE_SPLIT),
}
