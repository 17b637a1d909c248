"""Graph analytics over DataFrames: synchronous PageRank with a fixed
iteration count.

Complements the label-propagation connected components in operators/dedup.py
(neardup_components): CC answers "which docs are the same", PageRank answers
"which nodes matter" — e.g. ranking domains in a crawl graph before deciding
crawl budget, a standard pretraining-corpus curation step.

Determinism contract: every iteration ends by snapping ranks through
DECIMAL(28,8) (functions.scalars.dround), so the next iteration's INPUT is
an exact decimal identical across engines and partition orders. That makes
a fixed-K run reproducible bit-for-bit against an unrolled SQL oracle, while
costing precision far below the 1e-8 snap (per-iteration float noise is
~1e-13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import dround
from ..session import release_local_checkpoint
from . import fixpoint

DAMPING = 0.85
_SNAP = 8  # per-iteration decimal snap scale (see module docstring)


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = DAMPING,
    tol: float | None = None,
    max_iterations: int = 50,
    dangling: str = "auto",
    assume_distinct: bool = False,
) -> DataFrame:
    """Synchronous PageRank over an edge list — fixed-K by default, or
    iterate-to-convergence when ``tol`` is set.

    edges: DataFrame[src: string, dst: string]; duplicate edges are
    collapsed first (a crawl graph lists a link once) unless the caller
    passes ``assume_distinct=True`` to certify the input is already
    duplicate-free and skip that shuffle. Dangling nodes
    (nodes with no out-edges) are handled the standard way: their rank mass
    is redistributed uniformly each iteration, so the update is
        r'(v) = (1-d)/N + d * (sum_{u->v} r(u)/outdeg(u) + D/N)
    where D is the summed rank of dangling nodes. When the graph has no
    dangling nodes (checked ONCE at setup) the D term — and its
    one-scalar-per-iteration job — is skipped entirely, so the fixed-K
    path runs exactly one shuffle-join round per iteration over the
    checkpointed static frames.

    ``tol``: when set, iterate until max |r' - r| <= tol (checked per
    round on the materialized rank frames), up to ``max_iterations``;
    ``iterations`` is ignored in this mode.  Rounds run on the fixpoint
    driver (operators/fixpoint.py) in every mode.

    ``dangling``: "auto" (default) probes the graph once for out-edge-less
    nodes — correct for arbitrary input, at the cost of one extra setup
    job. Pass "none" when the caller guarantees every node has an
    out-edge (e.g. bidirectional graphs built by construction, like
    supplier_part_edges) to skip the probe and the per-iteration D-mass
    scalar job.  BLAST RADIUS (ADVICE r14): under "none" the node
    universe is derived from out-degree keys, so a WRONG no-dangling
    guarantee silently drops sink nodes from the output and shrinks N —
    a strictly larger failure than the pre-r14 behavior (which only
    skipped D-mass redistribution while keeping every node's rank row).
    Only pass "none" for graphs that are bidirectional by construction;
    when in doubt, "auto" costs one anti-join probe.

    Scale: per iteration ONE shuffle — ranks join edges on src (rank frame
    is O(N) and aggregated, so AQE broadcasts it when small; at web scale
    both sides hash-partition on src and the partitioning is reused), then
    hash-agg on dst. The dangling-mass fold and the convergence delta are
    O(N) scalar aggregations, not row collects.
    """
    if dangling not in ("auto", "none"):
        raise ValueError(
            f"dangling must be 'auto' or 'none', got {dangling!r} — a typo "
            "here would silently re-enable the setup probe"
        )
    # The static frames are referenced by EVERY iteration's join tree:
    # checkpoint them once at setup so iteration K reads blocks instead of
    # re-running the edge pipeline K times (at sf0.1 that recomputation
    # doubled the catalog query's latency).  outdeg is folded into the
    # edge frame so each iteration runs ONE join (ranks ⋈ ew) plus the dst
    # aggregation; `rank / outdeg` stays the same double expression the
    # SQL twin computes, so determinism is unaffected.
    e = edges.select("src", "dst")
    if not assume_distinct:
        e = e.distinct()
    e = e.localCheckpoint(eager=True)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    if dangling == "none":
        # Every node has an out-edge (the mode's contract), so the node
        # universe IS the out-degree frame's key set — skip the 2E-row
        # union+distinct pass and reuse the degree aggregate.  Lazy
        # checkpoints: `nodes.count()` below materializes deg and the
        # first iteration materializes ew — two fewer setup jobs.
        deg = deg.localCheckpoint(eager=False)
        nodes = deg.select(F.col("src").alias("node"))
    ew = e.join(deg, "src").localCheckpoint(eager=False)  # src, dst, outdeg
    if dangling != "none":
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
            .localCheckpoint(eager=True)
        )
    n = nodes.count()  # scalar graph size; one tiny job against the blocks
    if dangling == "none":
        has_dangling = False
        dangling_nodes = None
    else:
        dangling_nodes = nodes.join(deg, nodes.node == deg.src, "left_anti")
        has_dangling = not dangling_nodes.isEmpty()
        if has_dangling:
            dangling_nodes = dangling_nodes.localCheckpoint(eager=True)
    base = float(1.0) / n
    ranks = nodes.select("node", dround(F.lit(base), _SNAP).alias("rank"))

    def step(cur: fixpoint.Round) -> DataFrame:
        ranks = cur.df
        if has_dangling:
            # D = summed rank of out-edge-less nodes, snapped so the scalar
            # re-entering the plan is a stable decimal, not an ulp lottery.
            dmass = (
                ranks.join(dangling_nodes, "node")
                .agg(F.sum("rank").alias("d"))
                .first()["d"]
            ) or 0.0
            dmass = round(dmass, _SNAP)
        else:
            dmass = 0.0
        contrib = (
            ranks.join(ew, ranks.node == ew.src)
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("in_mass"))
        )
        return nodes.join(contrib, "node", "left").select(
            "node",
            dround(
                F.lit((1.0 - damping) / n)
                + F.lit(damping)
                * (F.coalesce(F.col("in_mass"), F.lit(0.0)) + F.lit(dmass / n)),
                _SNAP,
            ).alias("rank"),
        )

    def within_tol(prev: fixpoint.Round, cur: fixpoint.Round) -> bool:
        delta = (
            cur.df.alias("a")
            .join(prev.df.alias("b"), "node")
            .agg(F.max(F.abs(F.col("a.rank") - F.col("b.rank"))).alias("d"))
            .first()["d"]
        )
        return delta is not None and delta <= tol

    if tol is None:
        return fixpoint.iterate(ranks, step, iterations).state
    return fixpoint.iterate(ranks, step, max_iterations, within_tol).state


def supplier_part_edges(lineitem: DataFrame) -> DataFrame:
    """Bipartite supplier<->part graph from lineitem co-occurrence, both
    directions (so no node dangles). Node ids are type-prefixed strings.

    The (suppkey, partkey) pairs are deduplicated BEFORE string-building and
    mirroring: the distinct shuffles half the rows on narrow int keys
    instead of the full 2x string edge list, and the mirrored union of a
    distinct pair set is distinct by construction (the 's'/'p' prefixes
    keep the two directions disjoint) — callers may pass
    ``assume_distinct=True`` to :func:`pagerank`."""
    pairs = lineitem.select("l_suppkey", "l_partkey").distinct()
    fwd = pairs.select(
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
    )
    rev = pairs.select(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    return fwd.union(rev)


# ---------------------------------------------------------------------------
# Undirected-graph analytics: co-occurrence edges, triangles, k-hop BFS,
# neighbor-overlap similarity
# ---------------------------------------------------------------------------


def co_occurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    max_group_items: int = 64,
) -> DataFrame:
    """Undirected co-occurrence edge list: items are linked when they appear
    in the same group (parts in the same order, terms in the same doc,
    products in the same basket). Output is the canonical form
    ``[u < v]``, distinct.

    ``max_group_items`` guards the quadratic pair expansion: a group with
    g items emits g*(g-1)/2 pairs, so one pathological mega-group (a
    crawler session touching every page, an order with 10^5 lines) would
    dominate the job. Groups above the cap are DROPPED — the same
    bounded-blowup discipline as the LSH bucket cap in operators/dedup.py.
    At 100 TB this cap is what keeps the expansion linear in the input.

    Scale: ONE shuffle — group the distinct (group, item) pairs into a
    sorted per-group array (cap applied on the array size), then expand
    the pairs IN-ROW with nested array transforms and explode. The
    previous self-equi-join form cost two extra keyed shuffles (size agg +
    semi join + join) for the same output; measured 2.4x slower at sf0.1
    (5.2 s vs 2.2 s cold). The per-group array is bounded by the cap, so
    executor memory stays O(cap) per group."""
    pairs = df.select(F.col(group_col).alias("g"), F.col(item_col).alias("i")).distinct()
    arrs = (
        pairs.groupBy("g")
        .agg(F.sort_array(F.collect_set("i")).alias("items"))
        .where(F.size("items") <= max_group_items)
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("items"),
            lambda x, ix: F.transform(
                F.slice(F.col("items"), ix + 2, max_group_items),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    return (
        arrs.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .distinct()
    )


def _mirror(edges: DataFrame) -> DataFrame:
    """Both directions of a canonical [u < v] edge list (distinct by
    construction since u != v)."""
    return edges.select("u", "v").union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _degrees(edges: DataFrame) -> DataFrame:
    """(u, _deg) of a canonical edge list: one node-keyed hash agg."""
    return _mirror(edges).groupBy("u").agg(F.count(F.lit(1)).alias("_deg"))


def _keep_both_ends(edges: DataFrame, keep: DataFrame) -> DataFrame:
    """The edges with both ends in ``keep`` (one ``_keep`` column).  ONE
    survivor frame probed by both semi-joins: the two exchanges
    canonicalize identically, so exchange reuse builds it once."""
    return (
        edges.join(keep, edges["u"] == F.col("_keep"), "left_semi")
        .join(keep, edges["v"] == F.col("_keep"), "left_semi")
        .select("u", "v")
    )


def triangle_stats(
    edges: DataFrame, broadcast_max_edges: int = 4_000_000
) -> DataFrame:
    """Global triangle census of an undirected graph: node count, edge
    count, triangle count, wedge (open 2-path) count, and the global
    clustering coefficient 3T / wedges.

    Input: canonical distinct edges [u < v].

    Algorithm: degree-ordered node-iterator. Every edge is oriented from
    its lower-(degree, id) endpoint to the higher one; each triangle then
    has exactly one vertex with two out-edges under this orientation, so
    joining co-rooted oriented wedges against the oriented edge set counts
    each triangle ONCE. The orientation is the scale move: wedge fan-out
    per node is bounded by its ORIENTED out-degree, which the (degree, id)
    order caps near sqrt(|E|) even for hub nodes — the m^(3/2) bound of
    Schank-Wagner — where the naive u<v orientation would square the hub's
    full degree. All three joins are hash equi-joins on node/pair keys.

    The clustering coefficient is a single double division of two exact
    integers (identical IEEE result cross-engine).

    NOTE: eagerly localCheckpoints the edge list at entry — six plan
    subtrees reference it (mirror x2, degrees, two wedge sides, the
    closure probe, the edge count), and recomputing the upstream edge
    derivation per subtree is the same recomputation trap the PageRank
    fixed-K path hit (VERDICT r3).

    ``broadcast_max_edges``: the deliberate join-strategy pick (guide
    §3.1) sized from the REAL edge count (one metadata-cheap count
    against the fresh checkpoint, reused as the report's n_edges): at
    or below the cap, the oriented edge frame broadcasts into BOTH the
    wedge self-join and the closure probe, so the m^1.5-sized wedge
    stream is generated, closure-probed and counted inside one
    codegen stage with ZERO exchanges (orientation caps per-row
    fan-out near sqrt(E), so no task skews); above it, both joins keep
    the shuffle_hash shape — the wedge stream shuffles but is never
    sorted, the 100 TB-safe form.  4M edges of two longs is tens of
    MB as a broadcast hash relation — comfortably inside executor
    memory at any deployment size.  DRIVER memory is the tighter
    bound (ADVICE r14): the small path builds TWO broadcast relations
    (the oriented frame for the wedge join, the canonical frame for
    the closure probe — they orient differently, so one relation
    cannot serve both), and each build stages the collected rows on
    the driver alongside any resident checkpoint blocks; a
    1g-default driver handles the sf0.1 graph (~1.2M edges) with
    headroom, but sessions driving graphs near the 4M cap should run
    the documented 8g driver (session.py SPARK_DRIVER_MEMORY) or
    lower the cap."""
    edges = edges.select("u", "v").localCheckpoint(eager=True)
    n_edges_val = edges.count()
    small = n_edges_val <= broadcast_max_edges
    und = _mirror(edges)
    deg = (
        und.groupBy("u")
        .agg(F.count(F.lit(1)).alias("d"))
        .select(F.col("u").alias("node"), "d")
        .localCheckpoint(eager=True)
    )
    # orientation key: (degree, id) lexicographic, packed into a struct
    e = (
        und.join(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"), "v")
        .filter(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
        )
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
    )
    w1 = e.alias("w1")
    w2 = F.broadcast(e.alias("w2")) if small else e.alias("w2")
    # co-rooted wedge pairs, deduplicated by id order on the two tips; the
    # tip pair is then CANONICALIZED (least/greatest by id) and probed
    # against the canonical [u < v] edge list with a pure equi-join — an
    # OR-of-orientations predicate here would defeat hash-key extraction
    # and fall back to a nested-loop join over every wedge
    wedge_tips = w1.join(
        w2,
        (F.col("w1.src") == F.col("w2.src")) & (F.col("w1.dst") < F.col("w2.dst")),
    ).select(
        # the id-order dedup already makes w1.dst the lesser tip, so the
        # pair is canonical [u < v] as-is
        F.col("w1.dst").alias("u"),
        F.col("w2.dst").alias("v"),
    )
    # closure probe: wedges (the m^1.5-sized side) x canonical edges (the
    # small side).  Small graphs (<= broadcast_max_edges) broadcast the
    # edge side so the wedge stream is probed IN PLACE — zero exchanges
    # for the whole wedge+closure pipeline.  Above the cap, the
    # shuffle_hash hint (the Q3 treatment, VERDICT r6 item 6) keeps the
    # edge side as a per-partition hash build: both sides still shuffle on
    # the pair key, but the billion-row wedge stream is probed unsorted
    # (a sort-merge join here — Catalyst's default above the broadcast
    # threshold — sorts the wedge stream: the 10x knee in SCALE.md,
    # 4.4 s -> 110.6 s).  Edges are per-partition-memory-safe at any
    # scale: the build side is |E|/shuffle_partitions rows of two longs.
    closure = (
        F.broadcast(edges.select("u", "v"))
        if small
        else edges.select("u", "v").hint("shuffle_hash")
    )
    tri = wedge_tips.join(closure, ["u", "v"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    node_stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        # integer-domain wedge count: sum d*(d-1) stays a long, halved with
        # integer div (the sum is always even) — no double accumulation
        F.expr("sum(d * (d - 1)) div 2").cast("long").alias("n_wedges"),
    )
    # the edge count was already paid by the checkpoint's setup count —
    # inline it as a literal instead of a third 1-row aggregate subtree
    # (one fewer job, value identical by construction)
    return (
        node_stats.withColumn(
            "n_edges", F.lit(int(n_edges_val)).cast("long")
        )
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            dround(
                F.when(
                    F.col("n_wedges") > 0,
                    F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges").cast("double"),
                ).otherwise(F.lit(0.0)),
                8,
            ).alias("clustering_coeff"),
        )
    )


def k_hop_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    hub_degree_threshold: int = 32_768,
    broadcast_frontier: bool = False,
) -> DataFrame:
    """Nodes reachable within k hops of each seed (the seed itself
    included), as [seed, n_reachable].

    seeds: DataFrame with a single ``node`` column.

    Scale: classic frontier BFS with EXACT frontiers — each hop joins
    only the true distance-i pair frame against the mirrored adjacency.
    Exactness costs two anti-joins per hop (subtract the last two
    frontiers; the mirrored graph is undirected, so expanding the exact
    distance-i set only reaches distances i-1/i/i+1 and no accumulated
    reach set is needed) and is what keeps late-hop join fan-out
    tracking the FRONTIER, not the monotone reach set — on small-world
    graphs the two diverge by the whole graph size within a few hops.
    The per-seed reach count folds every hop's raw pair stream through
    ONE count_distinct aggregation (map-side partial dedup) instead of
    a full distinct pass per hop plus a final count.

    Small-k contract: nothing is checkpointed between hops, and each
    exact frontier embeds the previous frontier twice (inside the hop
    join and in its anti-join) plus the one before it, so the logical
    plan grows ~(1+sqrt(2))^k nodes, not k.  That is cheap at the
    catalog's k=2 (plan 661 -> 800 lines) but a k~10 caller would pay
    minutes of analysis and planning on the driver — keep k small.
    The hops are not on the fixpoint driver (operators/fixpoint.py):
    every hop's pair stream feeds the final count_distinct, so no hop
    is ever superseded and there is no round to release; bounding the
    plan needs a different fold, not the driver's checkpoint rule.

    ``broadcast_frontier``: when the caller KNOWS the seed set (and so
    every hop's frontier) is dimension-bounded — the seed-restricted
    regime, same rationale as neighbor_jaccard_topk's broadcast seed
    adjacency — broadcast the frontier into the hop join so the
    mirrored adjacency is never shuffled at all (the k_core
    node_join="broadcast" precedent).  Leave False when seeds are
    O(corpus): the frontier then exceeds broadcast limits and the
    default shuffle join (with hub salting below) is the right shape.

    Hub-skew defense (VERDICT r4 item 5), EXACT by construction: the hop
    join shuffles on the frontier node key, so on a power-law graph one
    hub's adjacency lands in one task and stalls the stage.  Nodes whose
    degree exceeds ``hub_degree_threshold`` get their adjacency SALTED
    into ``ceil(d / threshold)`` shards keyed ``(u, salt)`` with
    ``salt = pmod(xxhash64(v), nsalt)``; the frontier row for a hub is
    replicated across exactly those salts (explode of a 0..nsalt-1
    sequence), so every (frontier, neighbor) pair matches exactly once —
    results are identical to the unsalted join, per-task load is capped at
    ~threshold edges per key.  Non-hub nodes keep salt 0 and pay one
    broadcast-hash probe against the (tiny, broadcast) hub table — the
    salting never engages on them, so sparse graphs are unaffected.  The
    hub table is degree-derived (one hash agg) and assumed broadcastable:
    power-law graphs have O(V^(1/alpha)) nodes above any fixed degree
    threshold.  Planted-hub equivalence is pinned by
    tests/test_graph_ops.py::test_khop_hub_salting_is_exact."""
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    if hub_degree_threshold < 1:
        raise ValueError(f"hub_degree_threshold must be >= 1, got {hub_degree_threshold}")
    # the adjacency is probed once per hop — checkpoint it so the upstream
    # edge derivation runs once, not k times
    und = _mirror(edges).localCheckpoint(eager=True)
    hubs = None
    if not broadcast_frontier:
        # the salting defense only matters for the shuffle-join path — a
        # broadcast frontier probe has no per-key shuffle to skew, so the
        # degree probe is skipped entirely in that mode
        hubs = (
            und.groupBy("u")
            .agg(F.count(F.lit(1)).alias("_d"))
            .where(F.col("_d") > hub_degree_threshold)
            .select(
                "u",
                F.ceil(F.col("_d") / F.lit(hub_degree_threshold))
                .cast("int")
                .alias("_nsalt"),
            )
            .localCheckpoint(eager=True)  # tiny; derived once, probed 2k times
        )
    seed_pairs = seeds.select(F.col("node").alias("seed"), F.col("node"))
    hops: list[DataFrame] = [seed_pairs]
    frontier = seed_pairs
    prev_frontier: DataFrame | None = None

    def _next_frontier(nxt: DataFrame) -> DataFrame:
        # EXACT frontier maintenance (guide §2.3 — shuffle fewer bytes):
        # dedup the hop's pair stream, then anti-join away the last TWO
        # frontiers.  The mirrored graph is undirected, so expanding the
        # exact distance-i set only reaches distances i-1/i/i+1 — two
        # subtractions leave exactly the distance-(i+1) set, no
        # accumulated reach set needed.  Without this every cycle (and
        # on an undirected graph EVERY edge is a 2-cycle) re-expands
        # hop-(i-1) nodes each round, so late-hop join fan-out tracks
        # the REACHED set instead of the frontier.  The final
        # count_distinct fold over the raw hop streams is unchanged, so
        # results are identical by construction.
        f = nxt.distinct().join(frontier, ["seed", "node"], "left_anti")
        if prev_frontier is not None:
            f = f.join(prev_frontier, ["seed", "node"], "left_anti")
        return f

    if broadcast_frontier or hubs.isEmpty():
        # No hubs (the common case below web scale): skip the salted
        # adjacency copy and the per-hop frontier explode entirely — the
        # plain BFS is the salted plan with every salt pinned to 0, so
        # results are identical and the guard costs one tiny degree agg.
        # (broadcast_frontier also takes this path: a broadcast hash
        # probe has no per-key shuffle for a hub to skew.)
        for i in range(k):
            probe = F.broadcast(frontier) if broadcast_frontier else frontier
            nxt = (
                probe.join(und, probe.node == und.u)
                .select("seed", F.col("v").alias("node"))
            )
            hops.append(nxt)
            if i < k - 1:
                # exact next frontier (bounds the next hop's join
                # fan-out); the LAST hop's raw pair stream flows
                # straight into the count_distinct fold instead
                prev_frontier, frontier = frontier, _next_frontier(nxt)
    else:
        und_salted = (
            und.join(F.broadcast(hubs), "u", "left")
            .select(
                "u",
                "v",
                F.pmod(F.xxhash64("v"), F.coalesce(F.col("_nsalt"), F.lit(1))).alias(
                    "_salt"
                ),
            )
            .localCheckpoint(eager=True)
        )
        hub_nodes = hubs.select(F.col("u").alias("node"), "_nsalt")
        for i in range(k):
            salted = (
                frontier.join(F.broadcast(hub_nodes), "node", "left")
                .select(
                    "seed",
                    "node",
                    F.explode(
                        F.sequence(
                            F.lit(0), F.coalesce(F.col("_nsalt"), F.lit(1)) - F.lit(1)
                        )
                    ).alias("_salt"),
                )
            )
            nxt = (
                salted.join(
                    und_salted,
                    (salted.node == und_salted.u)
                    & (salted._salt == und_salted._salt),
                )
                .select("seed", F.col("v").alias("node"))
            )
            hops.append(nxt)
            if i < k - 1:
                prev_frontier, frontier = frontier, _next_frontier(nxt)
    reach = hops[0]
    for h in hops[1:]:
        reach = reach.union(h)
    return (
        reach.groupBy("seed")
        .agg(F.count_distinct("node").alias("n_reachable"))
        .orderBy("seed")
    )


def neighbor_jaccard_topk(
    edges: DataFrame, seeds: DataFrame, per_seed: int = 5
) -> DataFrame:
    """Link-prediction by neighbor overlap: for each seed node, the
    ``per_seed`` most similar OTHER nodes by Jaccard of neighbor sets,
    |N(u) & N(v)| / |N(u) | N(v)|. Returns
    [seed, node, common, jaccard] with deterministic (jaccard desc, node)
    ranking.

    The Jaccard is one double division of two exact integers — identical
    cross-engine, so rank ties resolve identically.

    Scale: the wedge join is seed-restricted — the seed adjacency (small)
    broadcasts onto the full adjacency, so cost is sum over seed neighbors
    of their degrees, NOT the all-pairs |V|^2 sweep. The all-seeds variant
    is exactly the all-pairs similarity join and belongs behind LSH
    banding (operators/dedup.py) instead."""
    # three consumers (seed adjacency, wedge probe, degrees) — materialize
    # the adjacency once
    und = _mirror(edges).localCheckpoint(eager=True)
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d")).select(
        F.col("u").alias("node"), "d"
    )
    seed_adj = und.join(
        seeds.select(F.col("node").alias("u")).distinct(), "u", "left_semi"
    ).select(F.col("u").alias("seed"), F.col("v").alias("via"))
    common = (
        F.broadcast(seed_adj)
        .join(und, seed_adj.via == und.u)
        .filter(F.col("v") != F.col("seed"))
        .groupBy("seed", F.col("v").alias("node"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    d_seed = deg.select(F.col("node").alias("seed"), F.col("d").alias("d_seed"))
    d_node = deg.select("node", F.col("d").alias("d_node"))
    scored = (
        common.join(F.broadcast(d_seed), "seed")
        .join(d_node, "node")
        .withColumn(
            "jaccard",
            F.col("common")
            / (F.col("d_seed") + F.col("d_node") - F.col("common")).cast("double"),
        )
    )
    w = Window.partitionBy("seed").orderBy(F.desc("jaccard"), F.asc("node"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= per_seed)
        .select("seed", "node", "common", dround(F.col("jaccard"), 8).alias("jaccard"))
        .orderBy("seed", F.desc("jaccard"), "node")
    )


def bipartite_edges_customer_part(
    orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Canonical bipartite edge list (l=customer, r=part) from the TPC-H
    purchase graph: DISTINCT (o_custkey, l_partkey) through the
    orders-lineitem equi-join.  One join + one distinct agg; edges are
    two longs, orders-of-magnitude smaller than lineitem."""
    return (
        lineitem.select("l_orderkey", "l_partkey")
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("l"), F.col("l_partkey").alias("r"))
        .distinct()
    )


def butterfly_stats(edges: DataFrame, through: str = "auto") -> DataFrame:
    """Global butterfly (bipartite 4-cycle) census of a bipartite graph
    (Wang et al. 2019, "Vertex Priority Based Butterfly Counting for
    Large-scale Bipartite Networks" — public method; this is the exact
    side-selected wedge-aggregation form).  Butterflies are the
    bipartite analogue of triangles — the density signal behind
    bipartite community detection and co-purchase/co-click cohesion.

    Input: canonical DISTINCT edges [l, r] (left/right vertex ids).
    Output (1 row, ALL-INTEGER surface — the r10 float policy; derived
    ratios like the bipartite clustering coefficient are one division
    away for the caller): n_left, n_right, n_edges, n_wedges (2-paths
    through the chosen side), n_coneighbor_pairs, n_butterflies.

    Exactness: butterflies = sum over same-side vertex pairs of
    C(common-neighbors, 2); the identity holds COUNTING FROM EITHER
    SIDE, so the implementation wedges through the side with the
    smaller sum of d*(d-1) — the exact cost of pair generation —
    chosen by two 1-row aggregates (a bounded protocol collect when
    through='auto'; pass 'left'/'right' to pin the plan, as the
    catalog gate does).

    Scale: pair generation is one self-equi-join on the through-side
    vertex (fan-out d^2 per vertex, bounded by side selection; the
    shuffle_hash hint keeps the probe unsorted — the triangle_census
    treatment), one (u1, u2) hash agg whose output is at most the
    number of co-neighbor pairs, and a 1-row fold.  No corpus-sized
    sort anywhere."""
    if through not in ("auto", "left", "right"):
        raise ValueError(f"through must be auto|left|right, got {through!r}")
    edges = edges.select("l", "r").localCheckpoint(eager=True)
    if through == "auto":
        # exact pair-generation cost on each side: sum d*(d-1)
        costs = edges.groupBy("l").agg(F.count(F.lit(1)).alias("d")).agg(
            F.expr("sum(d * (d - 1))").alias("cl")
        ).crossJoin(
            edges.groupBy("r").agg(F.count(F.lit(1)).alias("d")).agg(
                F.expr("sum(d * (d - 1))").alias("cr")
            )
        ).collect()[0]
        through = "left" if (costs.cl or 0) <= (costs.cr or 0) else "right"
    # wedge THROUGH a vertex on `through`, pairing its other-side
    # neighbors; canonical pair order makes each wedge count once
    pivot, tip = ("l", "r") if through == "left" else ("r", "l")
    e1, e2 = edges.alias("e1"), edges.alias("e2")
    pairs = (
        e1.join(
            e2.hint("shuffle_hash"),
            (F.col(f"e1.{pivot}") == F.col(f"e2.{pivot}"))
            & (F.col(f"e1.{tip}") < F.col(f"e2.{tip}")),
        )
        .groupBy(
            F.col(f"e1.{tip}").alias("u1"), F.col(f"e2.{tip}").alias("u2")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    # coalesce the empty-aggregate NULLs to 0 so a butterfly-free (or
    # empty) graph reports counts, matching the SQL twin's coalesce
    bf = pairs.agg(
        F.coalesce(F.expr("sum(w * (w - 1) div 2)"), F.lit(0))
        .cast("long")
        .alias("n_butterflies"),
        F.count(F.lit(1)).alias("n_coneighbor_pairs"),
    )
    # ONE pivot-side degree pass yields the wedge count AND the
    # pivot-side vertex/edge counts (r15, guide §2.3): the previous
    # 3-distinct-aggregate counts frame planned an Expand that pushed
    # 3x the edge rows through its exchange; now only the tip side pays
    # a (map-side partial) distinct, and n_edges rides the degree agg.
    deg_stats = edges.groupBy(pivot).agg(F.count(F.lit(1)).alias("d")).agg(
        F.count(F.lit(1)).alias("n_pivot"),
        F.coalesce(F.sum("d"), F.lit(0)).cast("long").alias("n_edges"),
        F.coalesce(F.expr("sum(d * (d - 1)) div 2"), F.lit(0))
        .cast("long")
        .alias("n_wedges"),
    )
    tip_count = (
        edges.select(tip).distinct().agg(F.count(F.lit(1)).alias("n_tip"))
    )
    n_left = F.col("n_tip") if through == "right" else F.col("n_pivot")
    n_right = F.col("n_pivot") if through == "right" else F.col("n_tip")
    return (
        deg_stats.crossJoin(F.broadcast(tip_count))
        .crossJoin(F.broadcast(bf))
        .select(
            n_left.alias("n_left"),
            n_right.alias("n_right"),
            "n_edges",
            "n_wedges",
            "n_coneighbor_pairs",
            "n_butterflies",
        )
    )


def lpa_communities(
    edges: DataFrame,
    rounds: int = 5,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan,
    Albert & Kumara 2007, "Near linear time algorithm to detect
    community structures in large-scale networks"), made DETERMINISTIC:
    every node starts labeled with its own id and each round adopts the
    label that is most frequent among its neighbors, ties broken by the
    SMALLEST label; isolated or converged nodes keep theirs.  The
    deterministic tie-break (the common LPA-min variant) removes the
    paper's random sequencing, so the result is a pure function of the
    edge set — replayable, twinnable (a fixed-round unrolled SQL CTE),
    and stable across retries, at the usual cost that deterministic LPA
    can oscillate on bipartite-ish structures; ``rounds`` bounds the
    fold either way.

    Communities complement the repo's components (dedup/cc.py): CC
    answers "transitively linked at all" (dup clusters), LPA answers
    "densely linked together" (domains/topics in a doc-link or
    co-purchase graph) — a bridge edge joins two cliques into ONE
    component but LPA keeps TWO communities (pinned by test).

    Input: canonical undirected edges (u, v).  Output: (node, label)
    for every node with at least one edge.

    Scale shape (100 TB): per round one hash agg on (node, label) over
    the mirrored edge-message join and one max_by agg per node — two
    shuffles keyed on node ids, same budget as a pagerank round; rounds
    run on the fixpoint driver (operators/fixpoint.py).  Label state is
    one row per node."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    # Pre-partition the mirrored adjacency by the probe key `v` BEFORE
    # checkpointing: localCheckpoint preserves the hash partitioning, so
    # every round's label join sees its edge side already distributed on
    # the join key and exchanges ONLY the O(N) label frame — the edge
    # frame (O(E), the big side) pays its shuffle once at setup instead
    # of once per round.  Same byte budget at any scale, rounds-1 fewer
    # E-row exchanges.
    und = _mirror(edges).repartition(F.col("v")).localCheckpoint(eager=True)
    labels = (
        und.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )

    def step(cur: fixpoint.Round) -> DataFrame:
        # SHUFFLE_HASH, not broadcast: the label frame is small, but a
        # per-round driver-built broadcast alongside the resident edge
        # checkpoint blocks trips the 1g-default driver's free-memory
        # guard (seen at sf0.1 on a vanilla session); the shuffle-hash
        # probe costs one node-keyed exchange of und per round — the
        # pagerank budget — with no driver-side table build.
        msgs = und.join(
            cur.df.withColumnRenamed("node", "v").hint("shuffle_hash"),
            "v",
        ).select(F.col("u").alias("node"), "label")
        counts = msgs.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        # min_by over (-cnt, label): most-frequent first, then smallest
        # label — type-agnostic in the label (string node ids are
        # accepted by _mirror and the other graph operators; negating
        # the label would require numeric ids, ADVICE r11).  cnt is
        # always numeric, so -cnt is safe.
        return counts.groupBy("node").agg(
            F.min_by(
                "label", F.struct((-F.col("cnt")).alias("nc"), F.col("label"))
            ).alias("label")
        )

    return fixpoint.iterate(labels, step, rounds).state


def k_core(
    edges: DataFrame,
    k: int,
    max_rounds: int = 20,
    node_join: str = "auto",
    assume_distinct: bool = False,
) -> DataFrame:
    """k-core decomposition by iterative peeling (Seidman 1983, "Network
    structure and minimum degree" — public method; the distributed
    peel-until-fixpoint form): repeatedly delete every node whose degree
    is below k until none remains — the maximal subgraph where every
    node keeps >= k neighbors.  The standard graph-curation filter
    (spam/link-farm trimming, dense-community extraction) that degree
    thresholding alone cannot compute: deleting a low-degree node can
    push its neighbors below k, so the filter must iterate.

    Input: canonical undirected edges (u, v).  Output: the surviving
    edge set (u, v), canonical orientation preserved.  Deterministic —
    peeling is confluent (the k-core is unique regardless of deletion
    order), so a fixed round count R either reaches the fixpoint or a
    superset of it; callers that need proof of convergence compare
    round R-1 and R edge counts (the gate query carries exactly that
    evidence).

    Scale shape (100 TB): per round one degree agg over the mirrored
    survivor edges (one node-keyed shuffle, map-side combinable) and
    two hash semi-joins of the edge set against the >= k survivor
    frame; rounds run on the fixpoint driver (operators/fixpoint.py),
    whose row-derived coalesce repacks the shrinking survivor set (the
    r15 anti-scaling fix, OPTIMIZATION_r15.md).  Rounds needed = the
    graph's peel depth (the degeneracy ordering's layer count along
    this k), typically O(10) for web/co-purchase graphs; ``max_rounds``
    bounds the fold either way, and each round STRICTLY shrinks the
    edge set or stops, so work is monotone decreasing.

    ``node_join`` picks the semi-join strategy for the node-sized
    survivor frame: "auto" (default) leaves it to AQE, which
    runtime-sizes the post-agg frame and broadcasts when it is small
    — the scale-adaptive choice (a billion-node keep frame shuffles, a
    dimension-sized one broadcasts); "broadcast" forces the map-side
    join when the caller KNOWS the node universe is dimension-bounded
    (the co-purchase gate: nodes are the part dimension — measured
    1.4x faster than AQE's pick at sf0.1 because the forced hint also
    skips the two planning-time exchanges AQE must first materialize);
    "shuffle_hash" forces the pure-shuffle form (the LPA
    driver-memory-safe shape).

    ``assume_distinct``: the caller certifies the input edge set is
    already canonical-distinct AND a checkpoint — skips the round-0
    distinct + checkpoint copy (the driver counts a checkpoint leaf
    instead of copying it).  Callers peeling the SAME materialized
    frame at several k values (the kcore gate) would otherwise pay that
    copy once per k."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    if node_join not in ("auto", "broadcast", "shuffle_hash"):
        raise ValueError(f"unknown node_join {node_join!r}")
    cur = edges.select("u", "v")
    if not assume_distinct:
        cur = cur.distinct()

    def step(r: fixpoint.Round) -> DataFrame:
        keep = _degrees(r.df).filter(F.col("_deg") >= F.lit(int(k)))
        keep = keep.select(F.col("u").alias("_keep"))
        if node_join != "auto":
            keep = keep.hint(node_join)
        return _keep_both_ends(r.df, keep)

    # An EMPTY round is also a fixpoint (the empty graph peels to
    # itself), so avalanched k values stop immediately instead of
    # paying one more degree-agg round.
    return fixpoint.iterate(
        cur, step, max_rounds, lambda prev, nxt: nxt.rows in (prev.rows, 0)
    ).state


def densest_subgraph_peel(
    edges: DataFrame,
    eps_tenths: int = 1,
    max_rounds: int = 30,
) -> DataFrame:
    """Greedy densest-subgraph peeling (Bahmani, Kumar & Vassilvitskii
    2012, "Densest subgraph in streaming and MapReduce", PVLDB 5(5) —
    public method): per round, measure the survivor graph's density
    rho = m/n, delete EVERY node whose degree <= 2*(1+eps)*rho, and
    repeat until the graph is empty; the densest iterate seen is a
    2*(1+eps)-approximation of the densest subgraph, and because at
    least an eps/(1+eps) fraction of nodes goes per round, the loop
    needs only O(log n / eps) rounds — the MapReduce-shaped form of
    Charikar's sequential greedy peel (which removes ONE min-degree
    node per step and cannot parallelize).

    The curation use beside k_core: k-core answers "trim everything
    below a FIXED engagement bar k", densest-subgraph answers "find the
    single most tightly-knit region and how dense it is" (spam-cluster
    / boilerplate-template discovery in crawl graphs) with no k to
    guess.

    Input: canonical undirected edges (u, v).  Output: one row per peel
    round measured BEFORE that round's deletion — (round, n_nodes,
    n_edges, density_micro) with density_micro = floor(1e6 * m / n) —
    so the max-density row IS the approximation guarantee's witness.
    eps is passed in tenths (eps_tenths=1 -> eps=0.1) and the peel
    threshold compares deg * 10 * n <= 2 * (10 + eps_tenths) * m in
    EXACT integer arithmetic: every value on the report and every
    branch in the fold is an integer, so a fixed-round unrolled SQL
    twin matches bit-for-bit.

    Scale shape (100 TB): per round one degree agg over the mirrored
    survivor edges (node-keyed, map-side combinable) held at node size
    and counted (n), and two hash semi-joins of the edge set against
    the survivor frame, counted (m) — both on the fixpoint driver
    (operators/fixpoint.py); AQE runtime-sizes the semi-joins.  The
    survivor set shrinks geometrically by the eps/(1+eps) bound, so late
    rounds are nearly free and ``max_rounds`` = 30 covers graphs up to
    ~e^(3*30/2) nodes at eps=0.1."""
    if eps_tenths < 1:
        raise ValueError(f"eps_tenths must be >= 1, got {eps_tenths}")
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    rows: list[tuple[int, int, int, int]] = []

    def step(r: fixpoint.Round) -> DataFrame | None:
        m = r.rows
        if m == 0:
            return None
        deg, n = r.hold(_degrees(r.df))
        rows.append((len(rows), n, m, (1_000_000 * m) // n))
        # delete deg <= 2*(1+eps)*m/n  <=>  deg*10*n <= 2*(10+eps10)*m
        keep = deg.filter(
            F.col("_deg") * F.lit(10 * n) > F.lit(2 * (10 + eps_tenths) * m)
        )
        return _keep_both_ends(r.df, keep.select(F.col("u").alias("_keep")))

    final = fixpoint.iterate(edges.select("u", "v").distinct(), step, max_rounds)
    release_local_checkpoint(final.state)  # only the report is returned
    return edges.sparkSession.createDataFrame(
        rows, "round long, n_nodes long, n_edges long, density_micro long"
    ).orderBy("round")
