"""Warehouse-operations catalog: profiling, reconciliation, SCD2, trend
regression, Bloom pre-join, PageRank.

Registered into plans.catalog.CATALOG like catalog_llm. Every float output
goes through functions.scalars.dround (DECIMAL snap) with the documented SQL
twin so accumulation-order ulps can't break the driver's value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import dround
from ..operators import bloom, graph, warehouse
from .catalog import _t, register, register_production

# ---------------------------------------------------------------------------
# profile_table — single-pass per-column profiling over orders
# ---------------------------------------------------------------------------

_ORDERS_COLS = (
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
)


def _profile_leg(col: str, kind: str) -> str:
    if kind == "ts":
        mn = f"CAST(epoch_us(min({col})) AS DOUBLE)"
        mx = f"CAST(epoch_us(max({col})) AS DOUBLE)"
    elif kind == "num":
        mn = f"CAST(min({col}) AS DOUBLE)"
        mx = f"CAST(max({col}) AS DOUBLE)"
    else:
        mn = "CAST(NULL AS DOUBLE)"
        mx = "CAST(NULL AS DOUBLE)"
    al = (
        f"CAST(round(CAST(avg(length({col})) AS DECIMAL(28,8)), 4) AS DOUBLE)"
        if kind == "str"
        else "CAST(NULL AS DOUBLE)"
    )
    return f"""
  SELECT '{col}' AS col_name,
         count(*)::BIGINT AS n_rows,
         (count(*) - count({col}))::BIGINT AS n_nulls,
         count(DISTINCT {col})::BIGINT AS n_distinct,
         {mn} AS min_num,
         {mx} AS max_num,
         {al} AS avg_len
  FROM orders"""


_PROFILE_ORACLE = (
    "SELECT * FROM (\n"
    + "\n  UNION ALL\n".join(_profile_leg(c, k) for c, k in _ORDERS_COLS)
    + "\n) ORDER BY col_name"
)


@register("profile_table", _PROFILE_ORACLE)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column table profile (rows/nulls/distincts/min/max/avg-len) in ONE
    aggregation pass — the "what landed in this table" primitive.

    Scale: see warehouse.profile_table — one Expand-fed hash agg; the unpivot
    runs on a single aggregate row. At 100 TB the exact distincts become
    approx_count_distinct (same toggle as hourly_aggregation)."""
    return warehouse.profile_table(
        _t(spark, sf_dir, "orders"), [c for c, _ in _ORDERS_COLS]
    )


_PROFILE_APPROX_ORACLE = f"""
SELECT col_name, n_rows, n_nulls, n_distinct,
       TRUE AS distinct_within_bound
FROM ({_PROFILE_ORACLE})
ORDER BY col_name
"""


@register("profile_table_approx", _PROFILE_APPROX_ORACLE)
def q_profile_table_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """profile_table with exact=False — the 100 TB default: n_distinct comes
    from approx_count_distinct (HLL++, rsd 0.05), so the plan is a plain
    partial+final hash agg with NO Expand (pinned in test_warehouse.py).

    Sketch estimates differ across engines, so the hash covers the BOUND
    (VERDICT r5 item 8): per column, ``distinct_within_bound`` asserts the
    approx distinct count lands within 15% (3-sigma at rsd 0.05) of the
    exact profile's, and the exact n_rows/n_nulls/n_distinct lanes are
    hash-covered directly. The gate query runs both profiles on purpose
    (two aggregation passes joined on col_name — MEASURED faster than
    folding the approx sketches into the exact profile's aggregation,
    1.3 s vs 3.0 s isolated-warm at sf0.1: extra aggregates on a
    multi-distinct plan ride the Expand and get evaluated per lane);
    production runs only the approx one (no Expand)."""
    cols = [c for c, _ in _ORDERS_COLS]
    orders = _t(spark, sf_dir, "orders")
    ex = warehouse.profile_table(orders, cols).select(
        "col_name", "n_rows", "n_nulls", "n_distinct"
    )
    ap = warehouse.profile_table(orders, cols, exact=False).select(
        "col_name", F.col("n_distinct").alias("_nd_approx")
    )
    return (
        ex.join(ap, "col_name")
        .select(
            "col_name",
            "n_rows",
            "n_nulls",
            "n_distinct",
            (
                F.abs(F.col("_nd_approx") - F.col("n_distinct")).cast("double")
                <= F.lit(0.15) * F.col("n_distinct").cast("double")
            ).alias("distinct_within_bound"),
        )
        .orderBy("col_name")
    )


@register_production("profile_table_approx")
def q_profile_table_approx_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What a user actually runs at 100 TB: the approx profile ALONE —
    one partial+final hash agg, no Expand, no second exact pass (the
    exact lanes above exist to adjudicate the HLL bound for the driver
    hash; same decomposition policy as ivf/hourly, VERDICT r7 item 3)."""
    cols = [c for c, _ in _ORDERS_COLS]
    return warehouse.profile_table(
        _t(spark, sf_dir, "orders"), cols, exact=False
    ).orderBy("col_name")


# ---------------------------------------------------------------------------
# table_diff — reconciliation of a snapshot vs a deterministic perturbation
# ---------------------------------------------------------------------------

_DIFF_ORACLE = """
WITH v2 AS (
  SELECT c_custkey, c_name, c_nationkey,
         CASE WHEN c_custkey % 13 = 0 THEN c_acctbal + 10.0 ELSE c_acctbal END AS c_acctbal,
         c_mktsegment
  FROM customer WHERE c_custkey % 97 <> 0
  UNION ALL
  SELECT c_custkey + 10000000, c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 101 = 0
),
j AS (
  SELECT l.c_custkey AS lk, r.c_custkey AS rk,
         CASE
           WHEN l.c_custkey IS NULL THEN 'added'
           WHEN r.c_custkey IS NULL THEN 'removed'
           WHEN l.c_name IS NOT DISTINCT FROM r.c_name
            AND l.c_nationkey IS NOT DISTINCT FROM r.c_nationkey
            AND l.c_acctbal IS NOT DISTINCT FROM r.c_acctbal
            AND l.c_mktsegment IS NOT DISTINCT FROM r.c_mktsegment THEN 'unchanged'
           ELSE 'changed'
         END AS status
  FROM customer l FULL OUTER JOIN v2 r ON l.c_custkey = r.c_custkey
)
SELECT status, count(*)::BIGINT AS cnt FROM j GROUP BY status ORDER BY status
"""


def _perturbed_customer(cust: DataFrame) -> DataFrame:
    """Deterministic 'migrated copy': ~1/97 keys dropped, ~1/13 balances
    shifted, ~1/101 keys duplicated under a new id — the three diff classes."""
    kept = cust.filter(F.col("c_custkey") % 97 != 0).withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") % 13 == 0, F.col("c_acctbal") + 10.0).otherwise(
            F.col("c_acctbal")
        ),
    )
    added = cust.filter(F.col("c_custkey") % 101 == 0).withColumn(
        "c_custkey", F.col("c_custkey") + 10000000
    )
    return kept.unionByName(added)


@register("table_diff", _DIFF_ORACLE)
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Migration-validation diff: added/removed/changed/unchanged counts for
    two keyed snapshots.

    Scale: one full-outer sort-merge join on the key + a 4-row hash agg.
    Columns compare null-safely in codegen — no row serialization, so no
    cross-engine hash-format trap (see warehouse.table_diff docstring)."""
    cust = _t(spark, sf_dir, "customer")
    return warehouse.table_diff(
        cust,
        _perturbed_customer(cust),
        key="c_custkey",
        compare_cols=["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    )


# ---------------------------------------------------------------------------
# scd2_intervals — change stream -> type-2 dimension intervals
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH ev AS (
  SELECT o_custkey AS k, o_orderdate AS ts, o_orderpriority AS attr, o_orderkey AS tb
  FROM orders
),
marked AS (
  SELECT k, ts, attr, tb, lag(attr) OVER (PARTITION BY k ORDER BY ts, tb) AS prev
  FROM ev
),
versions AS (
  SELECT k, ts, attr, tb FROM marked WHERE prev IS NULL OR prev <> attr
)
SELECT k AS o_custkey,
       attr AS o_orderpriority,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
       row_number() OVER w AS version_nr,
       (lead(ts) OVER w IS NULL) AS is_current
FROM versions
WINDOW w AS (PARTITION BY k ORDER BY ts, tb)
"""


@register("scd2_intervals", _SCD2_ORACLE)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 builder: per-customer order-priority change events collapse
    into versioned [valid_from, valid_to) intervals with an is_current flag.

    Scale: both window passes share one (key, ts, tiebreak) Exchange+Sort
    (asserted in test_plan_quality); per-key state is O(1). The o_orderkey
    tiebreak makes colliding timestamps deterministic — the r1-ADVICE
    session-tie lesson applied from day one here."""
    iv = warehouse.scd2_intervals(
        _t(spark, sf_dir, "orders"),
        key="o_custkey",
        ts="o_orderdate",
        attr="o_orderpriority",
        tiebreak="o_orderkey",
    )
    fmt = "yyyy-MM-dd HH:mm:ss"
    return iv.select(
        "o_custkey",
        "o_orderpriority",
        F.date_format("valid_from", fmt).alias("valid_from"),
        F.date_format("valid_to", fmt).alias("valid_to"),
        "version_nr",
        "is_current",
    )


# ---------------------------------------------------------------------------
# per_key_trend — grouped OLS regression (slope/intercept/r2)
# ---------------------------------------------------------------------------

_TREND_ORACLE = """
WITH pts AS (
  SELECT c.c_mktsegment,
         date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) AS x,
         o.o_totalprice AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT c_mktsegment,
       CAST(round(CAST(regr_slope(y, x) AS DECIMAL(28,8)), 6) AS DOUBLE)     AS slope,
       CAST(round(CAST(regr_intercept(y, x) AS DECIMAL(28,8)), 4) AS DOUBLE) AS intercept,
       CAST(round(CAST(regr_r2(y, x) AS DECIMAL(28,8)), 6) AS DOUBLE)        AS r2,
       regr_count(y, x)::BIGINT                                              AS n_points
FROM pts
GROUP BY c_mktsegment
HAVING regr_count(y, x) >= 3
ORDER BY c_mktsegment
"""


@register("per_key_trend", _TREND_ORACLE)
def q_per_key_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment price trend via the built-in regression aggregates
    — "which keys are drifting" for capacity/quality monitoring.

    Scale: customer broadcasts onto orders (dimension join), then a single
    partial+final hash agg whose shuffle carries only moment tuples. The x
    axis is exact integer epoch-days, keeping moment magnitudes ~1e4 so the
    DECIMAL snap dominates accumulation noise by >5 orders."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    pts = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    return warehouse.per_key_trend(
        pts,
        key_cols=["c_mktsegment"],
        x=F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")).cast(
            "double"
        ),
        y=F.col("o_totalprice"),
        min_points=3,
    )


# ---------------------------------------------------------------------------
# bloom_semi_join — Bloom-prefiltered semi join, result-identical to plain
# ---------------------------------------------------------------------------

_BLOOM_ORACLE = """
SELECT l_returnflag,
       count(*)::BIGINT AS cnt,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000.0)
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("bloom_semi_join", _BLOOM_ORACLE)
def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join lineitem -> high-value orders with a Bloom-bitmap probe-scan
    pre-filter; the exact semi join after it makes the result identical to
    the plain join (the oracle IS the plain join).

    Scale: the bitmap (64 KiB literal) prunes the probe side inside its scan
    stage, before the shuffle — at 100 TB the exchange moves ~selectivity of
    lineitem instead of all of it. Spark's runtime bloomFilter rule does the
    same thing when stats justify it; this operator is the explicit form.
    Below the break-even (build side broadcastable — true at bench sf) the
    operator auto-bypasses the bitmap and runs the plain broadcast semi join,
    so users never pay the pre-pass where it cannot win."""
    li = _t(spark, sf_dir, "lineitem")
    hi = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    matched = bloom.bloom_semi_join(li, hi, "l_orderkey", "o_orderkey")
    return (
        matched.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# pagerank_supplier_part — fixed-K synchronous PageRank, unrolled SQL twin
# ---------------------------------------------------------------------------

_PR_SNAP = "CAST(round(CAST({x} AS DECIMAL(28,8)), 8) AS DOUBLE)"


def _pr_iter(prev: str, out: str) -> str:
    upd = _PR_SNAP.format(
        x=f"(1.0 - 0.85) / n.n + 0.85 * coalesce(m.in_mass, 0.0)"
    )
    return f"""
{out} AS (
  SELECT nodes.node, {upd} AS rank
  FROM nodes CROSS JOIN n
  LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank / deg.outdeg) AS in_mass
    FROM {prev} r JOIN e ON r.node = e.src JOIN deg ON deg.src = e.src
    GROUP BY e.dst
  ) m ON m.node = nodes.node
)"""


_PAGERANK_ORACLE = (
    """
WITH e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT 's' || l_suppkey AS src, 'p' || l_partkey AS dst FROM lineitem
    UNION ALL
    SELECT 'p' || l_partkey, 's' || l_suppkey FROM lineitem
  )
),
deg AS (SELECT src, count(*)::BIGINT AS outdeg FROM e GROUP BY src),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
r0 AS (SELECT nodes.node, """
    + _PR_SNAP.format(x="1.0 / n.n")
    + """ AS rank FROM nodes CROSS JOIN n),"""
    + _pr_iter("r0", "r1")
    + ","
    + _pr_iter("r1", "r2")
    + ","
    + _pr_iter("r2", "r3")
    + """
SELECT node, CAST(round(CAST(rank AS DECIMAL(28,8)), 6) AS DOUBLE) AS rank
FROM r3
"""
)


@register("pagerank_supplier_part", _PAGERANK_ORACLE)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration synchronous PageRank over the bidirectional supplier-part
    co-occurrence graph — the crawl-budget/domain-ranking primitive.

    Determinism: each iteration DECIMAL-snaps ranks (graph.pagerank module
    docstring), so the unrolled SQL twin is value-exact, not tolerance-based.

    Scale: K shuffles total (one join+agg per iteration), rank state O(N),
    one fixpoint-driver round per iteration (operators/fixpoint.py); node
    count is the only scalar fold."""
    li = _t(spark, sf_dir, "lineitem")
    # dangling="none": supplier_part_edges emits both directions, so every
    # node has an out-edge by construction — skip the setup probe job.
    # assume_distinct: the edge builder dedups the int pairs before
    # mirroring, so pagerank's own distinct shuffle is redundant.
    ranks = graph.pagerank(
        graph.supplier_part_edges(li),
        iterations=3,
        dangling="none",
        assume_distinct=True,
    )
    return ranks.select("node", dround(F.col("rank"), 6).alias("rank"))
