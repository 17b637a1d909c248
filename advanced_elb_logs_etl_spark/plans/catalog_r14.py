"""Round-14 catalog wave: the three-gate stash drain (the r12/r13
precedent: 16/16 green first try on pre-rehearsed registrations).
Every entry shipped WITH tests and DuckDB twins in the r13 session
(twin-green at sf0.01 AND sf0.1 on vanilla sessions); this module is
the mechanical registration those test-file comments promised, and the
tests now import the REGISTERED bodies from here so the rehearsals
exercise the exact catalog entries.

- `kcore_copurchase_report` (operators/graph.py k_core — Seidman 1983
  iterative peeling): k-core sizes of the co-purchase part graph at
  three fixed k values spanning the core-collapse transition (k=70
  trims the fringe, k=80 converges to a real core at peel depth ~8,
  k=85 avalanches to EMPTY).  Fixed round count keeps the fold
  SQL-unrollable (12 MATERIALIZED-CTE rounds per k), so the twin is
  exact.
- `sorted_neighborhood_linkage` (operators/linkage.py
  sorted_neighborhood_pairs — Hernandez & Stolfo 1995 merge/purge):
  the SECOND classic blocking strategy beside equi-key blocking —
  customers sorted by exact balance cents, every pair within 4
  positions scored with the registered Fellegi-Sunter field model.
- `sq_adc_topk` (operators/sq.py): int8 scalar quantization +
  asymmetric dequantized search — the 4x-compression ANN lane beside
  PQ.  Every stage is exact integer math, so the full search surface
  hashes value-exact (no bounded-recall indirection; recall 1.0 vs
  exact micro-L2 asserted in the pytest rehearsal).

Same contract as plans.catalog: value-exact DuckDB twins, scale notes
on every query docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from concurrent.futures import ThreadPoolExecutor

from ..operators import graph, linkage, sq
from ..operators.pq import snap_micro_py
from .catalog import _t, register
from .catalog_r12 import LINKAGE_FIELDS, _LINK_WS

# ---------------------------------------------------------------------------
# kcore_copurchase_report
# ---------------------------------------------------------------------------

#: The three k values span the sf0.01 core-collapse transition (fringe
#: trim / deep-peel core / avalanche-to-empty); fixed round count keeps
#: the fold SQL-unrollable so the twin is exact (convergence within 12
#: rounds at sf0.01 is pinned by tests/test_kcore.py's fixpoint test).
KCORE_KS = (70, 80, 85)
KCORE_ROUNDS = 12

# AS MATERIALIZED throughout: each round references its predecessor 3x
# (the degree agg twice + the survivor filter), so DuckDB's default CTE
# inlining would expand the 12-round chain 3^12-fold (first observed as
# "Too many open files" on the parquet view).
_KCORE_ROUND_SQL = """
d{k}_{r} AS MATERIALIZED (
  SELECT u, count(*) AS deg
  FROM (SELECT u FROM e{k}_{p} UNION ALL SELECT v AS u FROM e{k}_{p})
  GROUP BY u
),
e{k}_{r} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{k}_{p} e
  JOIN d{k}_{r} da ON da.u = e.u AND da.deg >= {k}
  JOIN d{k}_{r} db ON db.u = e.v AND db.deg >= {k}
)"""


def _kcore_oracle() -> str:
    parts = [
        "WITH pairs AS MATERIALIZED (SELECT DISTINCT l_orderkey AS g,"
        " l_partkey AS i FROM lineitem),",
        "ok AS MATERIALIZED (SELECT g FROM pairs GROUP BY g"
        " HAVING count(*) <= 64),",
        "ed AS MATERIALIZED (",
        "  SELECT DISTINCT a.i AS u, b.i AS v",
        "  FROM pairs a JOIN pairs b ON a.g = b.g AND a.i < b.i",
        "  WHERE a.g IN (SELECT g FROM ok)",
        ")",
    ]
    body = "\n".join(parts)
    for k in KCORE_KS:
        body += f",\ne{k}_0 AS MATERIALIZED (SELECT u, v FROM ed)"
        for r in range(1, KCORE_ROUNDS + 1):
            body += "," + _KCORE_ROUND_SQL.format(k=k, r=r, p=r - 1)
    selects = []
    for k in KCORE_KS:
        last = f"e{k}_{KCORE_ROUNDS}"
        selects.append(
            f"SELECT {k}::BIGINT AS k,\n"
            f"  (SELECT count(*) FROM (SELECT u FROM {last}"
            f" UNION SELECT v FROM {last}))::BIGINT AS n_core_nodes,\n"
            f"  (SELECT count(*) FROM {last})::BIGINT AS n_core_edges"
        )
    return body + "\nSELECT * FROM (\n" + "\nUNION ALL\n".join(
        selects
    ) + "\n) ORDER BY k"


KCORE_ORACLE = _kcore_oracle()


@register("kcore_copurchase_report", KCORE_ORACLE)
def q_kcore_copurchase_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core sizes of the co-purchase part graph at three fixed k
    values spanning the core-collapse transition measured at sf0.01
    (k=70 trims the fringe, k=80 converges to a real core at peel depth
    ~8, k=85 avalanches to EMPTY — the sharp random-graph core
    threshold).  Fixed round count (12; every k converges within it at
    sf0.01, asserted in tests/test_kcore.py) keeps the fold
    SQL-unrollable, so the twin is exact.

    Scale: the canonical-distinct edge list localCheckpoints ONCE
    (eager) and all three peels start from it with ``assume_distinct``
    — no per-k re-distinct/checkpoint copy.  (A variant that instead
    probed the graph wave's shared PERSISTED frame per round was
    measured and REJECTED: re-scanning the InMemoryRelation columnar
    cache inside every peel round read 25-26 s vs 13 s for
    checkpoint-block scans — the r14 A/B in OPTIMIZATION_r14.md.)  Per
    round one degree agg + two semi-joins over the SURVIVOR set
    (monotone shrinking), on the fixpoint driver (operators/fixpoint.py)
    with early stop at the fixpoint; the report is one exploded
    distinct-count agg per k over the final core — rows = |KCORE_KS|.
    node_join="broadcast": the node universe here is the PART
    DIMENSION (dimension-bounded at any corpus scale), so the
    per-round survivor frame broadcasts — measured 1.4x faster than
    AQE's runtime pick and 3.5x faster than forced shuffle_hash at
    sf0.1 (1.2M edges, 12+ rounds).  The three k peels are INDEPENDENT
    job chains, so they run from a 3-thread driver pool (guide §2.6
    overlap): each peel's late rounds are small survivor-set jobs that
    leave most cores idle — the other peels' stages back-fill them
    (measured 19.0 s -> 12.7 s at sf0.1 on local[32], 17.2 -> 9.9 on
    local[8]).  Results are per-peel deterministic, so the overlap
    changes wall-clock only."""
    li = _t(spark, sf_dir, "lineitem")
    edges = graph.co_occurrence_edges(
        li, "l_orderkey", "l_partkey"
    ).localCheckpoint(eager=True)

    def _peel(k: int) -> DataFrame:
        core = graph.k_core(
            edges,
            k,
            max_rounds=KCORE_ROUNDS,
            node_join="broadcast",
            assume_distinct=True,
        )
        nd = core.select(F.explode(F.array("u", "v")).alias("n"))
        return nd.agg(
            F.count_distinct("n").alias("n_core_nodes"),
            (F.count(F.lit(1)) / 2).cast("long").alias("n_core_edges"),
        ).select(
            F.lit(int(k)).cast("long").alias("k"),
            "n_core_nodes",
            "n_core_edges",
        )

    with ThreadPoolExecutor(max_workers=len(KCORE_KS)) as pool:
        rows = list(pool.map(_peel, KCORE_KS))
    out = rows[0]
    for row in rows[1:]:
        out = out.unionByName(row)
    return out.orderBy("k")


# ---------------------------------------------------------------------------
# sorted_neighborhood_linkage
# ---------------------------------------------------------------------------

SNM_WINDOW = 4
SNM_UPPER = 3_000_000
SNM_LOWER = 0

SNM_ORACLE = f"""
WITH c AS (
  SELECT c_custkey, c_mktsegment,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer
), ranked AS (
  SELECT c_custkey, c_mktsegment, bal_cents,
         row_number() OVER (ORDER BY bal_cents, c_custkey) AS rnk
  FROM c
), feat AS (
  SELECT (a.c_mktsegment = b.c_mktsegment) AS f_segment,
         (abs(a.bal_cents - b.bal_cents) <= 500) AS f_balance,
         ((a.bal_cents >= 0) = (b.bal_cents >= 0)) AS f_bal_sign
  FROM ranked a JOIN ranked b
    ON b.rnk - a.rnk BETWEEN 1 AND {SNM_WINDOW - 1}
), scored AS (
  SELECT (CASE WHEN coalesce(f_segment, FALSE) THEN {_LINK_WS['f_segment'][0]} ELSE {_LINK_WS['f_segment'][1]} END
     + CASE WHEN coalesce(f_balance, FALSE) THEN {_LINK_WS['f_balance'][0]} ELSE {_LINK_WS['f_balance'][1]} END
     + CASE WHEN coalesce(f_bal_sign, FALSE) THEN {_LINK_WS['f_bal_sign'][0]} ELSE {_LINK_WS['f_bal_sign'][1]} END
    ) AS score_micro
  FROM feat
)
SELECT CASE WHEN score_micro >= {SNM_UPPER} THEN 'link'
            WHEN score_micro < {SNM_LOWER} THEN 'non_link'
            ELSE 'possible' END AS decision,
       count(*)::BIGINT AS n_pairs,
       sum(score_micro)::BIGINT AS sum_score_micro
FROM scored GROUP BY 1 ORDER BY 1
"""


@register("sorted_neighborhood_linkage", SNM_ORACLE)
def q_sorted_neighborhood_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SECOND classic blocking strategy beside equi-key blocking
    (record_linkage_topk's nation blocks) — customers sorted by exact
    balance cents, every pair within 4 positions scored with the
    registered Fellegi-Sunter field model, reported as (decision,
    n_pairs, sum_score_micro).  At sf0.01 all three decision classes
    are populated (201 link / 1493 possible / 2800 non_link).

    Scale: the global rank is the two-phase range-partitioned scan (no
    single-partition data window — the offsets window runs over the
    num_ranges-row counts frame, the benford class); pair generation is
    one rank equi-join, linear in n for fixed window; payload joins are
    two broadcasts of the narrow attribute frame onto the (window-1)*n
    pair frame; scoring is codegen Column math; the report is one 3-row
    hash agg."""
    cust = _t(spark, sf_dir, "customer")
    c = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    pairs = linkage.sorted_neighborhood_pairs(
        c, "c_custkey", ["bal_cents"], window=SNM_WINDOW
    )
    a = c.select(
        F.col("c_custkey").alias("id1"),
        F.col("c_mktsegment").alias("seg1"),
        F.col("bal_cents").alias("bal1"),
    )
    b = c.select(
        F.col("c_custkey").alias("id2"),
        F.col("c_mktsegment").alias("seg2"),
        F.col("bal_cents").alias("bal2"),
    )
    feat = (
        pairs.join(F.broadcast(a), "id1")
        .join(F.broadcast(b), "id2")
        .select(
            "id1",
            "id2",
            (F.col("seg1") == F.col("seg2")).alias("f_segment"),
            (F.abs(F.col("bal1") - F.col("bal2")) <= 500).alias("f_balance"),
            ((F.col("bal1") >= 0) == (F.col("bal2") >= 0)).alias(
                "f_bal_sign"
            ),
        )
    )
    scored = linkage.score_pairs(feat, LINKAGE_FIELDS, SNM_UPPER, SNM_LOWER)
    return (
        scored.groupBy("decision")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("score_micro").alias("sum_score_micro"),
        )
        .orderBy("decision")
    )


# ---------------------------------------------------------------------------
# sq_adc_topk
# ---------------------------------------------------------------------------

SQ_DIM = 64
SQ_NQ = 8
SQ_TOPK = 10

SQ_ORACLE = f"""
WITH snapped AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding, x -> round(x::DOUBLE * 1e6)::BIGINT) AS m
  FROM embeddings
), dims AS MATERIALIZED (
  SELECT u.i AS pos, min(m[u.i]) AS lo, max(m[u.i]) AS hi
  FROM snapped, UNNEST(generate_series(1, {SQ_DIM})) u(i)
  GROUP BY u.i
), b AS MATERIALIZED (
  SELECT list(lo ORDER BY pos) AS lo, list(hi ORDER BY pos) AS hi FROM dims
), deq AS MATERIALIZED (
  SELECT s.vec_id,
         list_transform(generate_series(1, {SQ_DIM}), i ->
           b.lo[i]
           + (least(255, greatest(0,
                ((s.m[i] - b.lo[i]) * 255) // greatest(b.hi[i] - b.lo[i], 1)))
              * (b.hi[i] - b.lo[i])) // 255
         ) AS d
  FROM snapped s, b
), q AS (
  SELECT vec_id AS q_id, m AS qm FROM snapped WHERE vec_id < {SQ_NQ}
), scored AS (
  SELECT q.q_id, d.vec_id AS neighbor_id,
         list_sum(list_transform(generate_series(1, {SQ_DIM}),
           i -> (d.d[i] - q.qm[i]) * (d.d[i] - q.qm[i]))) AS adc_sqdist
  FROM q, deq d WHERE d.vec_id != q.q_id
), ranked AS (
  SELECT q_id, neighbor_id, adc_sqdist,
         row_number() OVER (
           PARTITION BY q_id ORDER BY adc_sqdist, neighbor_id
         ) AS rank
  FROM scored
)
SELECT q_id, rank::BIGINT AS rank, neighbor_id,
       adc_sqdist::BIGINT AS adc_sqdist
FROM ranked WHERE rank <= {SQ_TOPK} ORDER BY q_id, rank
"""


@register("sq_adc_topk", SQ_ORACLE)
def q_sq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (int8, 256 levels) asymmetric top-10 search for
    8 query vectors over the embeddings corpus — the 4x-compression ANN
    lane beside PQ, with min/max training that is ONE aggregate.  Every
    stage is integer-exact, so the whole (q_id, rank, neighbor_id,
    adc_sqdist) surface hashes value-exact (no bounded-recall
    indirection; recall vs exact L2 is asserted in the pytest
    rehearsal instead, 1.0 at sf0.01).

    Scale: train = posexplode + dim-row agg; the dim-row bounds are a
    bounded protocol collect inlined as literals, so encode/dequantize
    is a zero-join zero-shuffle codegen projection; each query is a
    literal array + TakeOrdered(k).  The codes frame localCheckpoints
    before the search fan-out (the PQ index-materialization discipline,
    catalog_r9) so the 8 query branches probe the MATERIALIZED index
    instead of each re-running scan+encode — measured 2.5x at sf0.1,
    and at 100 TB this checkpoint IS the index build the search
    amortizes."""
    emb = _t(spark, sf_dir, "embeddings")
    lo, hi = sq.sq_train_bounds(emb, "embedding", SQ_DIM)
    codes = sq.sq_encode(emb, lo, hi).localCheckpoint(eager=True)
    qs = (
        emb.filter(F.col("vec_id") < SQ_NQ)
        .select("vec_id", "embedding")
        .collect()
    )
    searches = [
        (q.vec_id, [snap_micro_py(float(x)) for x in q.embedding])
        for q in sorted(qs, key=lambda r: r.vec_id)
    ]
    return sq.sq_adc_topk(codes, lo, hi, searches, k=SQ_TOPK)
