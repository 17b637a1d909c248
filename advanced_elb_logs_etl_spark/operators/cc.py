"""Alternating large-star/small-star connected components (Kiveris,
Lattanzi, Mirrokni, Rastogi, Vassilvitskii 2014, "Connected Components
in MapReduce and Beyond", SoCC '14) — the O(log n)-round transitive
closure for 100 TB near-dup graphs.

``dedup.neardup_components`` is min-label propagation: each round every
node adopts the minimum label in its closed neighborhood, so the round
count is the GRAPH DIAMETER.  That is the right algorithm for near-dup
graphs (unions of small cliques, diameter 2-3), but it is the wrong one
the day a dup chain appears — doc A ~ B ~ C ~ ... (each adjacent pair
over threshold, the ends unrelated) makes the diameter linear in the
chain length, and at 100 TB a few-thousand-long chain means a
few-thousand shuffle rounds.  The alternating algorithm contracts
DISTANCE, not labels: each round rewires every node toward its
neighborhood minimum, so star-distance halves-ish per round and the
proven bound is O(log^2 n) rounds (O(log n) observed) REGARDLESS of
diameter.

Both operators produce the identical labeling — (doc_id, component)
with component = the smallest doc id reachable through dup edges — so
``alternating_components`` is a drop-in for ``neardup_components``
everywhere (same SQL twin: the recursive-CTE min-reachable-label
closure).  tests/test_cc.py pins the parity (five graph shapes + a
seeded union-find differential), the 120-link-chain round advantage,
and the twin rehearsal.

Round structure (all pure DataFrame ops, no UDF):

- large-star: over the SYMMETRIC edge view, for each node u with
  closed-neighborhood minimum m = least(u, min(nbrs)), emit (v, m) for
  every neighbor v > u.  One hash agg (groupBy u) + one join back.
- small-star: edges already point (hi -> lo); for each hi with
  m = min(its lo-neighbors), emit (hi, m) and (lo, m) for the other
  lo-neighbors.  Same agg+join shape.
- converge when the small-star output equals the previous round's edge
  set (set equality = equal counts + one-sided exceptAll empty; exact,
  no hash-fingerprint collision caveat).  At the fixpoint the edge set
  is a star forest — every non-root points straight at its component
  minimum — which both phases provably leave unchanged.

Scale shape (100 TB):
  - per round: two hash aggs + two joins, all keyed on node ids — the
    same shuffle budget per round as one min-label round, but
    O(log n) rounds instead of O(diameter).
  - edges shrink monotonically toward one-edge-per-node (star forest):
    later rounds are CHEAPER, not constant.
  - rounds run on the fixpoint driver (operators/fixpoint.py); the
    only driver-side state is its per-round count.

Reference parity: the reference pipeline (advanced_elb_logs_etl.py) has
no graph stage; this extends the repo's dedup surface with the
round-complexity-safe variant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import release_local_checkpoint
from . import fixpoint

__all__ = ["alternating_components"]


def _canonical_edges(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """(hi, lo) with hi > lo, self-pairs dropped, distinct."""
    a, b = F.col(id_a), F.col(id_b)
    return (
        pairs.where(a != b)
        .select(
            F.greatest(a, b).alias("hi"),
            F.least(a, b).alias("lo"),
        )
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Emit (v, min(closed nbhd of u)) for every neighbor v > u.

    Output rows keep the (hi, lo) invariant: the emitted label
    m = least(u, min(nbrs)) satisfies m <= u < v.
    """
    sym = edges.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
        edges.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("_mn"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(
            F.col("v").alias("hi"),
            F.least("u", "_mn").alias("lo"),
        )
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Rewire each hi's lo-neighbors (and hi itself) to their minimum."""
    mins = edges.groupBy("hi").agg(F.min("lo").alias("_mn"))
    hi_to_min = mins.select("hi", F.col("_mn").alias("lo"))
    lo_to_min = (
        edges.join(mins, "hi")
        .where(F.col("lo") != F.col("_mn"))
        .select(F.col("lo").alias("hi"), F.col("_mn").alias("lo"))
    )
    return hi_to_min.union(lo_to_min).distinct()


def alternating_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 30,
) -> DataFrame:
    """Connected components over a pair list -> (doc_id, component),
    component = smallest id reachable.  Identical labeling to
    ``dedup.neardup_components`` in O(log n) rounds instead of
    O(diameter); see the module docstring for the trade.

    Nodes that appear only in self-pairs (id_a == id_b) are kept with
    component = themselves, matching min-label semantics exactly.
    """
    # Node universe BEFORE dropping self-pairs, so pure-self-pair nodes
    # survive with their own label (neardup_components parity).
    nodes = (
        pairs.select(F.col(id_a).alias("doc_id"))
        .union(pairs.select(F.col(id_b).alias("doc_id")))
        .distinct()
    )

    def same_edges(prev: fixpoint.Round, cur: fixpoint.Round) -> bool:
        # Distinct sets: equal counts + cur ⊆ prev  <=>  equal sets.
        return cur.rows == prev.rows and cur.df.exceptAll(prev.df).isEmpty()

    # Round 0 materializes the edge frame once: `pairs` is typically a
    # full LSH pipeline and every round references the edges twice.
    fp = fixpoint.iterate(
        _canonical_edges(pairs, id_a, id_b),
        lambda cur: _small_star(_large_star(cur.df)),
        max_iterations,
        same_edges,
    )
    if not fp.converged:
        release_local_checkpoint(fp.state)
        raise RuntimeError(
            f"alternating_components did not converge in {max_iterations} "
            "rounds — the proven bound is O(log^2 n), so this indicates "
            "ids with pathological structure; raise max_iterations rather "
            "than accept partial labels (silent under-merge)"
        )

    # Fixpoint edge set is a star forest: (child -> component root).
    child_labels = fp.state.select(
        F.col("hi").alias("doc_id"), F.col("lo").alias("component")
    )
    return (
        nodes.join(child_labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("component"),
        )
    )
