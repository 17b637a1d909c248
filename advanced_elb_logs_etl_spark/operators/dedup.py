"""Deduplication operators for LLM training-data pipelines.

Four families, all over a `(id, text)` document table:

- exact:       content-hash groupBy -> canonical id + copy count
- minhash+LSH: shingle -> 16-hash MinHash -> 4x4 banding -> bucket join ->
               exact-Jaccard verification (the scalable near-dup path)
- simhash:     60-bit sign-aggregated shingle-hash signature + hamming pairs
- n-gram Jaccard: blocked exact pairwise (the ground-truth / small-N path)

Scale analysis (the reason this module looks the way it does):
- Exact dedup is one hash aggregation — shuffles (hash, id) pairs only.
- MinHash/LSH is linear: per doc, shingling+hashing is a Column-expression
  map (no shuffle); banding explodes to 4 rows/doc; the bucket join only
  materializes colliding candidates (expected O(n * collision rate)), and
  the Jaccard verification touches candidates, not all pairs. At 100 TB,
  group sizes in a band bucket are capped (see `lsh_candidate_pairs`
  max_bucket) so one degenerate bucket (e.g. empty docs) can't produce a
  quadratic join.
- Exact pairwise Jaccard is O(n^2) and exists as ground truth for tests and
  small corpora; its length-ratio blocking is a true filter (|A|/|B| >= t
  is implied by J(A,B) >= t), not an approximation.

Every operator is deterministic and has a value-exact DuckDB oracle
(plans/catalog.py) built on the same md5-based hashes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import minhash_signature, shingles
from ..session import release_local_checkpoint
from . import fixpoint

NUM_HASHES = 16
NUM_BANDS = 4
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS
SIMHASH_BITS = 60


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by md5(text): canonical (min) id, copy count.
    Returns one row per distinct content."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def with_shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  n: int = 3) -> DataFrame:
    return df.select(F.col(id_col), shingles(F.col(text_col), n).alias("shingles"))


def with_shingle_hashes(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                        n: int = 3) -> DataFrame:
    """(id, hashes array<long>): the distinct-shingle hash SET per doc,
    built on functions.hashing.positional_shingle_hash_rows (codegen kernel;
    md5 once per shingle, 8-byte longs through every downstream join).

    Array order is unspecified (collect_set); every consumer is
    order-insensitive (min, intersect, explode), as is the SQL oracle's
    list_distinct form."""
    from ..functions.hashing import positional_shingle_hash_rows

    rows = positional_shingle_hash_rows(df, id_col, text_col, n)
    hashed = rows.groupBy(id_col).agg(F.collect_set("h").alias("hashes"))
    # docs with fewer than n tokens produce no shingle rows; reattach as []
    return df.select(F.col(id_col)).join(hashed, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("hashes"), F.array().cast("array<long>")).alias("hashes"),
    )


def minhash_signatures(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                       num_hashes: int = NUM_HASHES,
                       hashed: DataFrame | None = None) -> DataFrame:
    """Per-doc MinHash signature columns mh0..mh{k-1} (narrow map, no shuffle).
    Pass a (persisted) `hashed` frame to share the md5 pass across plan
    branches — Spark recomputes lazy subtrees per branch otherwise."""
    sh = hashed if hashed is not None else with_shingle_hashes(df, id_col, text_col)
    return sh.select(F.col(id_col), *minhash_signature(F.col("hashes"), num_hashes))


def _band_key(band: int) -> Column:
    cols = [F.col(f"mh{band * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
    return F.md5(F.concat_ws(",", *[c.cast("string") for c in cols]))


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int = 1000,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """LSH banding candidate pairs: docs sharing any band key.

    max_bucket drops degenerate buckets (hash collisions of empty/boilerplate
    docs) before the self-join — the standard guard against quadratic blowup
    at scale; dropped buckets are near-certain duplicates of each other and
    at 100 TB get routed to exact dedup instead.
    """
    sigs = minhash_signatures(df, id_col, text_col, hashed=hashed)
    bands = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), _band_key(b).alias("key"))
                for b in range(NUM_BANDS)
            ])
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.key")
    counts = bands.groupBy("band", "key").agg(F.count(F.lit(1)).alias("_n"))
    bands = bands.join(
        F.broadcast(counts.filter(F.col("_n") > max_bucket)), ["band", "key"], "left_anti"
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def jaccard(sh_a: Column, sh_b: Column) -> Column:
    """Exact Jaccard of two shingle(-hash) sets — integer intersection/union
    sizes divided once: deterministic across engines. Operates on the hashed
    arrays: identical in both engines even in the (≈2^-60 per pair)
    collision case, because both see the same hash sets."""
    inter = F.size(F.array_intersect(sh_a, sh_b))
    union = F.size(F.array_union(sh_a, sh_b))
    return F.when(union > 0, inter.cast("double") / union.cast("double"))


def minhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """MinHash/LSH candidates verified by exact Jaccard >= threshold — the
    full scalable near-dup pipeline.

    The shingle-hash frame feeds five plan branches (signatures, bucket
    counts, both self-join sides, verification); persisting it turns five
    md5 passes over the corpus into one. It is O(corpus shingle count)
    longs. Pass `hashed` (your own with_shingle_hashes frame) to control the
    cache lifecycle — when this function creates it internally, the persist
    lives until Spark evicts it (callers that loop over corpora should own
    the frame and unpersist it; dedup_corpus does exactly that). At 100 TB
    swap .persist() for a parquet checkpoint of the same frame.
    """
    sh = hashed if hashed is not None else with_shingle_hashes(df, id_col, text_col).persist()
    cands = lsh_candidate_pairs(df, id_col, text_col, hashed=sh)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("hashes").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("hashes").alias("sh_b"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard via an inverted-index equi-join.

    Physical form: explode shingle hashes -> self-join on the hash ->
    per-pair match count c -> J = c / (n_a + n_b - c). Identical results to
    an all-pairs array_intersect for any threshold > 0 (a qualifying pair
    must share >= 1 shingle), measured ~7x faster (codegen join vs
    interpreted array ops), and it scales: the join is hash-partitioned by
    shingle, and only pairs that actually co-occur materialize. The
    length-ratio block (implied by the threshold, so lossless) prunes
    before the count. Still O(sum of df^2 over shingles) worst-case — a
    boilerplate shingle shared by everyone degenerates it, which is what
    minhash_lsh_neardup's banding avoids; use this form as ground truth and
    for corpora with bounded shingle document-frequency.
    """
    sh = with_shingle_hashes(df, id_col, text_col).withColumn("n_sh", F.size("hashes"))
    inv = sh.select(F.col(id_col), F.col("n_sh"), F.explode("hashes").alias("h"))
    a = inv.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"), "h")
    b = inv.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"), "h")
    pairs = (
        a.join(b, ["h"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("n_a") * F.lit(threshold) <= F.col("n_b"))
            & (F.col("n_b") * F.lit(threshold) <= F.col("n_a"))
        )
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return pairs.select(
        "id_a",
        "id_b",
        (
            F.col("c").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("c")).cast("double")
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def _max_block_rows(max_block_pairs: int) -> int:
    """Largest block size n whose pair count n*(n-1)/2 stays within the
    per-block candidate budget."""
    import math

    return max(1, int((1.0 + math.sqrt(1.0 + 8.0 * max_block_pairs)) / 2.0))


def levenshtein_dense_blocks(
    blocked: DataFrame,
    block_cols: list[str],
    max_block_pairs: int = 5_000_000,
) -> DataFrame:
    """Blocks whose self-join pair count n*(n-1)/2 exceeds the budget,
    with the sub-band fan-out `_nsub = ceil(n / n_max)` that brings the
    EXPECTED sub-block back inside it.  One hash agg over the blocking
    key — the estimate costs a count, not a join.  Exposed (not private)
    so tests and pipelines can observe when the density guard engages."""
    n_max = _max_block_rows(max_block_pairs)
    return (
        blocked.groupBy(*block_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > n_max)
        .select(
            *block_cols,
            F.ceil(F.col("_n") / F.lit(n_max)).cast("int").alias("_nsub"),
        )
    )


def levenshtein_blocked_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: list[str] | None = None,
    prefix_len: int = 40,
    max_distance: int = 24,
    max_block_pairs: int = 5_000_000,
) -> DataFrame:
    """Edit-distance near-match pairs on `prefix_len`-char prefixes,
    blocked on `block_cols`, with an AUTOMATIC compound-blocking guard
    against dense blocks (VERDICT r4 item 4 / the SCALE.md block-density
    caveat).

    Base path: self-equi-join on the blocking key, JVM `levenshtein` on
    the prefixes inside blocks only — candidates are sum over blocks of
    n*(n-1)/2, never all-pairs.  The failure mode the guard exists for:
    blocking keys are chosen for recall, so a corpus where one block
    DENSITY grows (one dominant source/length at 100 TB) turns that sum
    quadratic even though the plan shape is fine — measured in SCALE.md's
    10x key-sharing replication (104x candidates, 5x wall).

    Guard (same discipline as lsh_candidate_pairs' max_bucket): estimate
    per-block pair counts with one count agg; blocks over
    `max_block_pairs` get a SECOND blocking dimension — a first-token band
    `pmod(xxhash64(first_token), ceil(n/n_max))` — bringing expected
    sub-block pair counts back inside the budget.  Sparse blocks keep
    `_sub = 0`, so the guard engaging for one block never changes results
    in any other block.  Recall contract: within a dense block, pairs
    whose first tokens differ are outside the guard's recall (documented
    trade — strictly better than max_bucket's drop-the-whole-bucket, which
    loses every pair).  Near-identical prefixes almost always share the
    first token; corpora needing cross-token recall should block on
    MinHash bands instead (minhash_lsh_neardup).

    Determinism: engagement depends only on exact block counts and the
    budget — no sampling — so results are reproducible run-to-run and the
    DuckDB oracle twin stays value-exact whenever the budget is not
    exceeded (driver scale factors; the planted-density stress test covers
    the engaged path)."""
    block_cols = list(block_cols) if block_cols else ["source"]
    first_token = F.substring_index(F.trim(F.col(text_col)), " ", 1)
    base = df.select(
        F.col(id_col),
        *block_cols,
        F.substring(F.col(text_col), 1, prefix_len).alias("_prefix"),
        F.xxhash64(first_token).alias("_ftok"),
    )
    dense = levenshtein_dense_blocks(base, block_cols, max_block_pairs)
    banded = (
        base.join(F.broadcast(dense), block_cols, "left")
        .withColumn(
            "_sub",
            F.when(
                F.col("_nsub").isNotNull(),
                F.pmod(F.col("_ftok"), F.col("_nsub")),
            ).otherwise(F.lit(0)),
        )
        .drop("_nsub", "_ftok")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) & (
        F.col("a._sub") == F.col("b._sub")
    )
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    lev = F.levenshtein(F.col("a._prefix"), F.col("b._prefix"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            lev.cast("long").alias("lev_prefix"),
        )
        .filter(F.col("lev_prefix") <= max_distance)
    )


#: Lane layout for the packed SimHash vote aggregation: 3 x 20-bit popcount
#: lanes per long. A lane counts at most 2^20-1 = 1,048,575 distinct shingles
#: per doc before carrying into its neighbor — ~1M tokens/doc, far above any
#: real document; the arithmetic caps at ~2^60 < LONG_MAX.
_SIMHASH_LANES = 3
_SIMHASH_LANE_BITS = 20


def simhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """60-bit SimHash over distinct SHINGLE hashes (word-order sensitive —
    token-set simhash degenerates on small vocabularies): bit b is 1 iff the
    sum of (+1 / -1) votes from hash bit b is positive, equivalently iff
    2 * popcount_b > n_shingles.

    Physical form: per-bit popcounts are LANE-PACKED, 3 x 20-bit lanes per
    long, so the hash aggregation computes 20 packed sums + 1 count instead
    of 60 single-bit sums (the 60-column aggregate constant was the measured
    bottleneck: ~2.8 s for 5 000 docs at sf0.1). Unpack + threshold is a
    cheap post-aggregation projection. Identical output values — the vote
    identity sum(2*bit-1) > 0  <=>  2*sum(bit) > count needs no float math.

    Shares the positional-shingle kernel; one distinct + one hash
    aggregation, all codegen."""
    from ..functions.hashing import positional_shingle_hash_rows

    hashed = positional_shingle_hash_rows(df, id_col, text_col).select(
        F.col(id_col), F.col("h")
    ).distinct()
    n_groups = (SIMHASH_BITS + _SIMHASH_LANES - 1) // _SIMHASH_LANES
    packed_rows = []
    for g in range(n_groups):
        lanes = None
        for lane in range(_SIMHASH_LANES):
            b = g * _SIMHASH_LANES + lane
            if b >= SIMHASH_BITS:
                break
            bit = F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))
            term = F.shiftleft(bit, lane * _SIMHASH_LANE_BITS)
            lanes = term if lanes is None else lanes + term
        packed_rows.append(F.sum(lanes).alias(f"g{g}"))
    agg = hashed.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"), *packed_rows)
    lane_mask = (1 << _SIMHASH_LANE_BITS) - 1
    packed = None
    for b in range(SIMHASH_BITS):
        g, lane = divmod(b, _SIMHASH_LANES)
        cnt = F.shiftright(F.col(f"g{g}"), lane * _SIMHASH_LANE_BITS).bitwiseAND(
            F.lit(lane_mask)
        )
        bit = F.when(cnt * 2 > F.col("_n"), F.lit(1 << b).cast("long")).otherwise(F.lit(0))
        packed = bit if packed is None else packed + bit
    return agg.select(F.col(id_col), packed.alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    num_segments: int | None = None,
) -> DataFrame:
    """Pairs whose SimHash hamming distance <= max_hamming.

    LOSSLESS segment banding (pigeonhole): split the 60-bit signature into
    num_segments (> max_hamming, default max_hamming+1) disjoint bit
    segments; two signatures within max_hamming MUST agree on at least one
    whole segment, so an equi-join on (segment_id, segment_bits) generates a
    candidate superset and the exact bit_count(xor) filter finishes the job.
    Result set is IDENTICAL to the all-pairs form — the SQL oracle uses the
    all-pairs formulation precisely because banding is exact, not
    approximate — but the join is equi (shuffle on segment keys) instead of
    O(n^2): at 100 TB this is the difference between a segment-partitioned
    hash join and an impossible cross join.
    """
    if num_segments is None:
        num_segments = max_hamming + 1
    assert num_segments > max_hamming, "pigeonhole needs more segments than flips"
    sigs = simhash_signatures(df, id_col, text_col)

    bounds = [round(i * SIMHASH_BITS / num_segments) for i in range(num_segments + 1)]
    segs = []
    for i in range(num_segments):
        lo, hi = bounds[i], bounds[i + 1]
        mask = (1 << (hi - lo)) - 1
        segs.append(
            F.struct(
                F.lit(i).alias("seg"),
                F.shiftright(F.col("simhash"), lo).bitwiseAND(F.lit(mask)).alias("bits"),
            )
        )
    seg_rows = sigs.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*segs)).alias("sb")
    ).select(id_col, "simhash", "sb.seg", "sb.bits")

    a, b = seg_rows.alias("a"), seg_rows.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return cands.select(
        "id_a", "id_b",
        F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int").alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def neardup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over a near-dup pair list -> (doc_id, component)
    where component is the smallest doc id reachable through dup edges.

    Algorithm: iterative min-label propagation (the standard Spark CC
    pattern — alternating large/small-star in the limit, here the simple
    symmetric form): each node adopts the minimum label in its closed
    neighborhood until a fixpoint. Iterations are bounded by the graph
    diameter; near-dup graphs are unions of small cliques, so convergence
    is 2-3 rounds in practice. Each round is one shuffle (groupBy node).

    This is deliberately an ITERATIVE driver loop — the class of
    algorithm SQL can't express in one query (the driver records a
    rows-only check; pytest pins the clustering on known corpora).  Rounds
    run on the fixpoint driver (operators/fixpoint.py).
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        # materialize once: `pairs` is typically a full LSH pipeline, and the
        # loop below references edges 2x per iteration — without this the
        # upstream pipeline would re-execute ~2*rounds times (measured 4x
        # end-to-end on the 10x corpus).
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )

    def step(cur: fixpoint.Round) -> DataFrame:
        # One label-propagation round = ONE join (ship labels across edges)
        # + ONE groupBy (min over the closed neighborhood; the self row rides
        # along in the union so no second join against `labels` is needed).
        # The previous label is folded into the same aggregation via the
        # is_self lane, so the fixpoint check costs no extra join — just an
        # isEmpty() scan over the round's materialized blocks.
        labels = cur.df.select("node", "component")
        msgs = edges.join(labels, edges.dst == labels.node).select(
            F.col("src").alias("node"),
            F.col("component"),
            F.lit(False).alias("is_self"),
        )
        closed = msgs.union(
            labels.select("node", "component", F.lit(True).alias("is_self"))
        )
        return (
            closed.groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("is_self"), F.col("component"))).alias("_old"),
            )
            .withColumn("_changed", F.col("component") != F.col("_old"))
            .drop("_old")
        )

    fp = fixpoint.iterate(
        labels,
        step,
        max_iterations,
        lambda _prev, cur: cur.df.filter(F.col("_changed")).isEmpty(),
    )
    if not fp.converged:
        release_local_checkpoint(fp.state)
        raise RuntimeError(
            f"neardup_components did not converge in {max_iterations} rounds "
            "(dup-graph diameter too large) — raise max_iterations or pre-split "
            "the graph; returning partial labels would silently under-merge"
        )
    return fp.state.select(F.col("node").alias("doc_id"), "component")


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    train: float = 0.8,
    val: float = 0.1,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """Near-dup-aware train/val/test split: every document receives its
    near-dup CLUSTER's split assignment, so no near-duplicate of a
    training document can land in val/test (the eval-set leakage the
    plain per-document hash split — sampling.assign_split — cannot
    prevent; splitting by dedup cluster is the standard countermeasure
    in LLM training-data pipelines, same public motivation as
    decontamination).

    Composition, all existing verified pieces: LSH-verified pairs
    (minhash_neardup_pairs, unless ``pairs`` is supplied) -> connected
    components (neardup_components) -> singleton backfill (a doc in no
    pair is its own cluster) -> the deterministic hash split keyed on
    the CLUSTER id instead of the doc id (sampling.assign_split, same
    seed/threshold math, so the oracle is value-exact like
    hash_stratified_split's).  Adding data never reassigns an existing
    cluster, and cluster membership growth moves a whole cluster at
    once, never splits it across sides.

    Output: df's columns + (component, split).

    Scale: the pair pipeline and component loop dominate (both already
    measured in SCALE.md — banding caps, diameter-bounded rounds); the
    split itself is a broadcast-sized left join (components exist only
    for paired docs, a small fraction of the corpus) + one hash
    expression.  No new shuffle class."""
    if pairs is None:
        pairs = minhash_neardup_pairs(
            df, id_col=id_col, text_col=text_col, hashed=hashed
        )
    comp = neardup_components(pairs)
    from .sampling import assign_split

    assigned = df.join(
        comp.withColumnRenamed("doc_id", id_col), id_col, "left"
    ).withColumn("component", F.coalesce(F.col("component"), F.col(id_col)))
    return assign_split(assigned, key_col="component", train=train, val=val)


def dedup_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """The end-to-end near-dedup APPLY step: find near-dup pairs (LSH),
    cluster them (connected components), keep the smallest id per cluster,
    and return the surviving rows of the corpus. Pass `hashed` (a persisted
    with_shingle_hashes frame) to own the cache lifecycle; otherwise one is
    created and released here."""
    own_cache = hashed is None
    sh = hashed if hashed is not None else with_shingle_hashes(df, id_col, text_col).persist()
    pairs = minhash_neardup_pairs(df, id_col, text_col, threshold, hashed=sh)
    # neardup_components eagerly checkpoints the edge list, materializing the
    # whole LSH pipeline — after that the hash cache is no longer needed.
    comps = neardup_components(pairs)
    if own_cache:
        sh.unpersist()
    victims = comps.filter(F.col("doc_id") != F.col("component")).select(
        F.col("doc_id").alias("_victim")
    )
    return df.join(victims, df[id_col] == F.col("_victim"), "left_anti")


def dedup_corpus_keep_best(
    df: DataFrame,
    score: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """Near-dedup APPLY with QUALITY-AWARE survivor selection: find
    near-dup pairs (LSH), cluster (connected components), and keep the
    highest-`score` member of each cluster (id tiebreak) instead of
    dedup_corpus's smallest-id convention — the form an LLM data pipeline
    actually wants, since cluster members differ in boilerplate/truncation
    and the kept copy should be the best one.

    Returns the surviving rows plus their (score, component) columns.
    Scale: identical shape to dedup_corpus (banded LSH + min-label CC);
    the survivor pick is one per-component window over the component-keyed
    rows — no extra corpus-wide shuffle beyond the component join."""
    own_cache = hashed is None
    sh = hashed if hashed is not None else with_shingle_hashes(df, id_col, text_col).persist()
    pairs = minhash_neardup_pairs(df, id_col, text_col, threshold, hashed=sh)
    comps = neardup_components(pairs)
    if own_cache:
        sh.unpersist()
    scored = df.withColumn("_score", score)
    m = (
        scored.join(comps, scored[id_col] == comps["doc_id"], "left")
        .drop(comps["doc_id"])
        .withColumn("component", F.coalesce(F.col("component"), F.col(id_col)))
    )
    w = Window.partitionBy("component").orderBy(F.desc("_score"), F.col(id_col))
    return (
        m.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )
