"""Approximate-nearest-neighbor search over an embedding column.

Two paths over `(vec_id, embedding array<float>, label)`:

- brute-force cosine top-k: exact baseline. Query set x corpus cross join
  (queries broadcast), dot/norm as deterministic left-fold Column
  expressions, per-query top-k via window rank. Cost O(|Q| * N * d) — fine
  whenever |Q| is small; this IS the scale path for ad-hoc lookups because
  the corpus scan is embarrassingly parallel and never shuffles (the only
  shuffle is the final per-query top-k, |Q| * k rows).

- IVF (inverted-file) top-k: coarse-quantize the corpus to C centroids
  (here: deterministic seed vectors; a production build would k-means),
  search only the query's nprobe nearest clusters. Recall < 1.0 by design;
  at 100 TB this turns a full-corpus scan into a ~nprobe/C fraction, and
  the cluster assignment is a one-off materialized column (partition the
  corpus table BY cluster so a probe prunes parquet partitions).

Determinism contract (shared with the DuckDB oracle): embeddings are cast
float->double elementwise, dot products and norms are LEFT folds in index
order, cosine = dot / (sqrt(n_a) * sqrt(n_b)) — bit-identical across
engines, so even rank ties order identically under (cos DESC, id).

Two physical forms of the SAME fold:

- Column-expression form (`dot`/`norm2`/`cosine`): F.aggregate + zip_with.
  These are CodegenFallback expressions — interpreted per row, measured
  5-7x slower than codegen — kept as the SQL-shaped reference form and for
  composition inside pure-SQL contexts.
- Arrow/NumPy kernel form (`dot_v`/`norm_v`, default in every operator
  here): a pandas_udf that materializes the per-element float64 products
  and then accumulates them COLUMN BY COLUMN in index order. Per row this
  executes the identical IEEE-754 operation sequence ((0 + p0) + p1) + ...
  as the fold, so results are BIT-identical (pinned by
  tests/test_vectorized_parity.py), while rows batch through Arrow and the
  per-dimension adds vectorize across the batch. This is the scale path:
  the 100 TB corpus scan pays ~d vector ops per Arrow batch instead of an
  interpreted expression tree per row.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from . import fixpoint


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product (interpreted reference form). SQL twin:
    list_reduce(list_transform(generate_series(1, len(a)),
                i -> a[i]::DOUBLE * b[i]::DOUBLE), (x, y) -> x + y)"""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm2(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm2(a) * norm2(b))


# -- Arrow/NumPy kernels: bit-identical to the folds above, vectorized -------


def _stack_valid(s: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """(valid-row mask, (n_valid, d) float64 matrix) from an Arrow array
    column. float32 -> float64 elementwise is exact, matching the Column
    form's x.cast('double')."""
    vals = s.tolist()
    mask = np.array([v is not None for v in vals], dtype=bool)
    if not mask.any():
        return mask, np.zeros((0, 0))
    mat = np.stack([np.asarray(vals[i], dtype=np.float64) for i in np.flatnonzero(mask)])
    return mask, mat


def _fold_dot_np(prods: np.ndarray) -> np.ndarray:
    """Accumulate a (n, d) product matrix column-by-column: per row this is
    the exact float64 left fold ((0 + p0) + p1) + ... — the same operation
    sequence as F.aggregate and DuckDB list_reduce, hence bit-identical."""
    acc = np.zeros(prods.shape[0], dtype=np.float64)
    for i in range(prods.shape[1]):
        acc = acc + prods[:, i]
    return acc


def _masked_out(out: np.ndarray, mask: np.ndarray) -> pd.Series:
    """float64 results + validity mask -> Series that Arrow reads as
    double-with-NULLs. Object dtype with explicit None, NOT .where(...):
    .where fills float NaN, which Arrow would emit as NaN instead of NULL,
    diverging from the fold form's null propagation."""
    if mask.all():
        return pd.Series(out)
    return pd.Series([out[i] if mask[i] else None for i in range(len(out))], dtype=object)


def _joint_stack(a: pd.Series, b: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Joint-valid mask + the two (n_valid, d) matrices aligned to it.
    Shared by every two-argument kernel so the subtle different-null-rows
    re-stack lives in exactly one place."""
    mask_a, mat_a = _stack_valid(a)
    mask_b, mat_b = _stack_valid(b)
    mask = mask_a & mask_b
    if mask.any() and not mask.all():
        # sides had different null rows: re-stack against the joint mask
        idx = np.flatnonzero(mask)
        mat_a = np.stack([np.asarray(a.iloc[i], dtype=np.float64) for i in idx])
        mat_b = np.stack([np.asarray(b.iloc[i], dtype=np.float64) for i in idx])
    return mask, mat_a, mat_b


@pandas_udf(T.DoubleType())
def _dot_kernel(a: pd.Series, b: pd.Series) -> pd.Series:
    mask, mat_a, mat_b = _joint_stack(a, b)
    out = np.full(len(a), np.nan)
    if mask.any():
        out[mask] = _fold_dot_np(mat_a * mat_b)
    return _masked_out(out, mask)


@pandas_udf(T.DoubleType())
def _norm_kernel(a: pd.Series) -> pd.Series:
    mask, mat = _stack_valid(a)
    out = np.full(len(a), np.nan)
    if mask.any():
        out[mask] = np.sqrt(_fold_dot_np(mat * mat))  # np.sqrt: correctly
        # rounded IEEE-754, identical to java Math.sqrt / DuckDB sqrt
    return _masked_out(out, mask)


@pandas_udf(T.DoubleType())
def _cosine_kernel(a: pd.Series, b: pd.Series) -> pd.Series:
    """Fused cosine: dot, both norms, sqrt and divide in ONE Python stage
    (three separate kernels would each pay an ArrowEval stage's scheduling
    overhead). Identical IEEE op sequence to dot/(sqrt(aa)*sqrt(bb)), so
    still bit-exact vs the fold form and the SQL twin."""
    mask, mat_a, mat_b = _joint_stack(a, b)
    out = np.full(len(a), np.nan)
    if mask.any():
        out[mask] = _fold_dot_np(mat_a * mat_b) / (
            np.sqrt(_fold_dot_np(mat_a * mat_a)) * np.sqrt(_fold_dot_np(mat_b * mat_b))
        )
    return _masked_out(out, mask)


def dot_v(a: Column, b: Column) -> Column:
    """Vectorized dot — bit-identical to `dot` (see module docstring)."""
    return _dot_kernel(a, b)


def norm_v(a: Column) -> Column:
    """Vectorized L2 norm — bit-identical to `norm2`."""
    return _norm_kernel(a)


def cosine_v(a: Column, b: Column) -> Column:
    """Vectorized cosine — bit-identical to `cosine` (fused kernel: one
    Python stage per evaluation site)."""
    return _cosine_kernel(a, b)


def _dot_fn(vectorized: bool):
    return dot_v if vectorized else dot


def _cos_fn(vectorized: bool):
    return cosine_v if vectorized else cosine


# Below this many (query x corpus) candidate pairs the Arrow kernels' batch
# round-trip overhead exceeds their vectorization win and the interpreted
# F.aggregate fold is faster (measured at sf0.1: 16k pairs ~0.3 s slower
# vectorized — ROUND2_NOTES.md item 1). Both forms are bit-identical, so the
# switch is purely physical.
VECTORIZE_PAIR_THRESHOLD = 500_000


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vectorized: bool | None = None,
) -> DataFrame:
    """Exact cosine top-k for each query vector (self-matches excluded).

    Output: (q_id, neighbor_id, cosine, rank). The query side is broadcast;
    the corpus side streams — no corpus shuffle until the k-row-per-query
    rank, which AQE coalesces to almost nothing.

    ``vectorized=None`` (default) auto-selects the kernel form from the
    estimated candidate-pair count |Q|x|C|. Both probes are LIMIT-bounded
    counts on the id column alone, so each scans at most
    VECTORIZE_PAIR_THRESHOLD+1 rows however large (or however derived) the
    inputs are; the capped product still decides >= threshold exactly,
    because a side hitting its cap makes the product exceed the threshold
    whenever the other side is non-empty.
    """
    if vectorized is None:
        cap = VECTORIZE_PAIR_THRESHOLD + 1
        n_q = queries.select(id_col).limit(cap).count()
        n_c = vectors.select(id_col).limit(cap).count()
        vectorized = n_q * n_c >= VECTORIZE_PAIR_THRESHOLD
    nrm = norm_v if vectorized else norm2
    dt = _dot_fn(vectorized)
    # norms precomputed once per vector: per-pair work drops from three
    # O(d) folds to one, with bit-identical results (same sqrt/product/div)
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"),
                       nrm(F.col(vec_col)).alias("q_n"))
    c = vectors.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"),
                       nrm(F.col(vec_col)).alias("c_n"))
    scored = (
        c.join(F.broadcast(q), F.col("q_id") != F.col("neighbor_id"))
        .select("q_id", "neighbor_id",
                (dt(F.col("q_vec"), F.col("c_vec")) / (F.col("q_n") * F.col("c_n"))).alias("cosine"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", F.col("cosine").alias("cosine_raw"), "rank")
    )


def assign_clusters(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vectorized: bool = True,
    m: int = 1,
) -> DataFrame:
    """Top-m nearest-centroid assignment by cosine. Deterministic tie-break
    on centroid id. m=1 is classic hard assignment; m>1 is overlap
    assignment (one row per (vector, cluster)) — the blocking trick that
    buys near-dup recall without widening any single cluster.

    Default physical form: the centroid table is collected (it is tiny by
    IVF construction — C x d doubles) and shipped as a NumPy closure into
    ONE narrow pandas_udf over the corpus: no join, no window shuffle, the
    kernel emits each vector's top-m cluster ids directly. Per pair it
    computes dot/(sqrt(aa)*sqrt(bb)) with the same fold order as the
    Column form, and orders by (sim DESC, centroid_id) with Spark's
    NaN-greatest/NULLS-LAST semantics — so the assignment is IDENTICAL to
    the vectorized=False reference plan (broadcast join + row_number),
    which remains available and pinned against this one in
    tests/test_vectorized_parity.py."""
    if vectorized:
        cent_rows = sorted(
            ((r[0], r[1]) for r in centroids.select(F.col(id_col), F.col(vec_col)).collect()),
            key=lambda t: t[0],
        )
        if not cent_rows:
            # cluster is LongType to match the non-empty path (which emits
            # array<long> from the kernel), not the centroid id's own type —
            # otherwise the output schema would flip on an empty frame
            schema = vectors.select(F.col(id_col), F.col(vec_col)).schema.add(
                "cluster", T.LongType()
            )
            return vectors.sparkSession.createDataFrame([], schema)
        cent_ids = np.array([t[0] for t in cent_rows], dtype=np.int64)
        cent_mat = np.stack([np.asarray(t[1], dtype=np.float64) for t in cent_rows])
        cent_norm = np.sqrt(_fold_dot_np(cent_mat * cent_mat))
        top_m = min(m, len(cent_ids))
        null_vec_clusters = [int(x) for x in cent_ids[:top_m]]  # all-null sims
        # -> pure id tie-break, like the window form's NULLS LAST ordering

        @pandas_udf(T.ArrayType(T.LongType()))
        def topm(v: pd.Series) -> pd.Series:
            mask, mat = _stack_valid(v)
            results: list[list[int] | None] = [null_vec_clusters] * len(v)
            if mat.size:
                v_norm = np.sqrt(_fold_dot_np(mat * mat))
                sims = np.empty((mat.shape[0], len(cent_ids)))
                for j in range(len(cent_ids)):
                    sims[:, j] = _fold_dot_np(mat * cent_mat[j]) / (v_norm * cent_norm[j])
                # Spark orders NaN as greatest under DESC: map NaN -> +inf
                key = np.where(np.isnan(sims), np.inf, sims)
                rows = np.flatnonzero(mask)
                for out_i, row in enumerate(rows):
                    order = np.lexsort((cent_ids, -key[out_i]))[:top_m]
                    results[row] = [int(x) for x in cent_ids[order]]
            return pd.Series(results, dtype=object)

        v = vectors.select(F.col(id_col), F.col(vec_col))
        return v.select(
            id_col, vec_col, F.explode(topm(F.col(vec_col))).alias("cluster")
        )

    c = centroids.select(F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("centroid"))
    v = vectors.select(F.col(id_col), F.col(vec_col))
    scored = v.join(F.broadcast(c)).select(
        id_col, vec_col, "centroid_id", cosine(F.col(vec_col), F.col("centroid")).alias("sim")
    )
    w = Window.partitionBy(id_col).orderBy(F.col("sim").desc(), F.col("centroid_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= m)
        .select(id_col, vec_col, F.col("centroid_id").alias("cluster"))
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vectorized: bool = True,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: search only the nprobe clusters nearest each query.

    Same output shape as brute_force_topk; recall is approximate. The
    candidate join is cluster-equi (shuffle on tiny cluster ids) instead of
    a full cross join.

    ``assigned``: optional precomputed assign_clusters(m=1) frame — the
    index. Pass a persisted one when running many query batches against
    one corpus so the corpus-wide assignment pass (the dominant cost for
    small |Q|: the 50x SCALE.md wave measured the inline build LOSING to
    a brute scan at |Q|=8) runs once, not per call. Same injection
    convention as dedup's ``hashed=`` / semantic_dedup's ``assigned=``."""
    dt, nrm = _dot_fn(vectorized), (norm_v if vectorized else norm2)
    cs = _cos_fn(vectorized)
    if assigned is None:
        assigned = assign_clusters(
            vectors, centroids, id_col, vec_col, vectorized=vectorized
        )
    c = centroids.select(F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("centroid"))
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"),
                       nrm(F.col(vec_col)).alias("q_n"))
    q_scored = q.join(F.broadcast(c)).select(
        "q_id", "q_vec", "q_n", "centroid_id",
        cs(F.col("q_vec"), F.col("centroid")).alias("sim"),
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("centroid_id"))
    q_probes = (
        q_scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("q_id", "q_vec", "q_n", F.col("centroid_id").alias("cluster"))
    )
    cands = q_probes.join(
        assigned.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"),
                        nrm(F.col(vec_col)).alias("nb_n"), "cluster"),
        "cluster",
    ).filter(F.col("q_id") != F.col("neighbor_id"))
    scored = cands.select(
        "q_id", "neighbor_id",
        (dt(F.col("q_vec"), F.col("c_vec")) / (F.col("q_n") * F.col("nb_n"))).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", F.col("cosine").alias("cosine_raw"), "rank")
    )


def embedding_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vectorized: bool = True,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all pairs with cosine >=
    threshold. Exact all-pairs form — the dedup ground truth for embedding
    space, O(n^2 d); bound the input (subset, or one IVF cluster at a time
    via assign_clusters) before calling at scale. The scalable form is
    embedding_neardup_blocked below: per-cluster pairs only, which misses
    only cross-cluster pairs (same trade as any IVF probe)."""
    cs = _cos_fn(vectorized)
    a = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
    b = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cs(F.col("v_a"), F.col("v_b")).alias("cosine_raw"))
        .filter(F.col("cosine_raw") >= threshold)
    )


def embedding_neardup_blocked(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    overlap: int = 1,
    vectorized: bool = True,
    assigned: DataFrame | None = None,
    max_cluster: int | None = None,
) -> DataFrame:
    """Scalable embedding near-dup: cluster-blocked pairs instead of all
    pairs. assign_clusters(m=overlap) maps each vector to its top-`overlap`
    clusters; candidate pairs come from a CLUSTER-EQUI self-join (hash
    shuffle on cluster id, never a cross join), are deduped, then the exact
    cosine threshold filters. Misses only pairs sharing NO top-overlap
    cluster — overlap is the recall knob (measured on the near-orthogonal
    synthetic corpus: 0.29 at overlap=1, 0.80 at overlap=3, C=16), centroid
    count C is the cost knob (candidate volume ~ overlap^2/C of the pair
    space per uniform cluster).

    ``max_cluster`` is the degenerate-blocking safety valve (the
    lsh_candidate_pairs max_bucket discipline): a cluster with more than
    ``max_cluster`` members is EXEMPT from pair generation — its members
    emit no candidate pairs at all, bounding the self-join at
    O(max_cluster^2) per cluster instead of quadratic in the largest
    cluster (a near-duplicate-saturated corpus collapses into one giant
    cluster whose pair volume would dominate the job). Kept-set
    contract for downstream dedup: every member of an exempted cluster
    SURVIVES (no pairs -> no component -> no victims) — the cap trades
    recall inside pathological clusters for a hard cost bound, never
    correctness of what it does emit. None (default) disables the cap.

    At 100 TB: materialize `cluster` as a stored partition column; each
    cluster's pair generation is then partition-local. Deterministic end to
    end, so value-exact against a SQL twin that reproduces the same
    assignment (plans/catalog_llm.py)."""
    dt, nrm = _dot_fn(vectorized), (norm_v if vectorized else norm2)
    if assigned is None:
        # pass `assigned` (an assign_clusters(m=overlap) frame, ideally
        # pinned) to share ONE assignment pass with other consumers —
        # the same injection convention as dedup's `hashed=`
        assigned = assign_clusters(
            vectors, centroids, id_col, vec_col, vectorized=vectorized, m=overlap
        )
    # candidate ids stay SLIM through the self-join and dedup (16 bytes/row,
    # not 1 KB of vector payload); embeddings + precomputed norms attach
    # afterwards by equi-join, so each surviving pair costs ONE dot kernel.
    # Same shape as minhash_neardup_pairs' candidates->verify split.
    # localCheckpoint: both self-join sides reference the assignment — the
    # checkpoint materializes the (id, cluster) rows once instead of running
    # the scoring subtree twice (same reason dedup's CC loop checkpoints).
    ids = assigned.select(F.col(id_col), "cluster").localCheckpoint(eager=True)
    if max_cluster is not None:
        # oversized-cluster exemption: the filter list is <= |centroids|
        # rows, broadcast to an anti-join — no extra shuffle of `ids`
        oversized = (
            ids.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_cluster)
            .select("cluster")
        )
        ids = ids.join(F.broadcast(oversized), "cluster", "left_anti")
    cands = (
        ids.select(F.col(id_col).alias("id_a"), "cluster")
        .join(ids.select(F.col(id_col).alias("id_b"), "cluster"), "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    if overlap > 1:  # same pair can surface from several shared clusters
        cands = cands.distinct()
    va = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"),
                        nrm(F.col(vec_col)).alias("n_a"))
    vb = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"),
                        nrm(F.col(vec_col)).alias("n_b"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b",
                (dt(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b"))).alias("cosine_raw"))
        .filter(F.col("cosine_raw") >= threshold)
    )


def refine_centroids(
    vectors: DataFrame,
    centroids: DataFrame,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means refinement of the IVF coarse quantizer: assign ->
    per-cluster elementwise mean -> repeat. No randomness (seed centroids
    in), but see the floating-point note below before assuming bit-exact
    reproducibility.

    Physical form: posexplode the vectors to (cluster, dim, value) rows and
    hash-aggregate per (cluster, dim) — codegen, one shuffle per iteration,
    no driver-side math; iterations run on the fixpoint driver
    (operators/fixpoint.py). Empty clusters keep their previous centroid.
    Note: avg() accumulates doubles in partition order, so centroid values
    are reproducible only up to floating ulps across different partition
    layouts — do not build bit-exact contracts on refined centroids.
    Returns (vec_id=cluster id, embedding=array<double>) usable directly as
    the `centroids` argument of ivf_topk / assign_clusters.
    """
    seeds = centroids.select(
        F.col(id_col), F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(vec_col)
    )

    def step(cur: fixpoint.Round) -> DataFrame:
        current = cur.df
        assigned = assign_clusters(vectors, current, id_col=id_col, vec_col=vec_col)
        dims = assigned.select(
            "cluster", F.posexplode(F.col(vec_col)).alias("dim", "v")
        )
        means = (
            dims.groupBy("cluster", "dim")
            .agg(F.avg(F.col("v").cast("double")).alias("m"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
            .select(
                F.col("cluster").alias(id_col),
                F.transform(F.col("dm"), lambda s: s.getField("m")).alias(vec_col),
            )
        )
        # empty clusters vanish from `means`; keep their old centroid
        kept = current.join(means.select(F.col(id_col).alias("_k")), current[id_col] == F.col("_k"), "left_anti")
        return means.unionByName(kept)

    return fixpoint.iterate(seeds, step, iterations).state


def semantic_dedup(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: str = "farthest",
    vectorized: bool = True,
    max_cluster: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — public method): cluster the embedding space with a
    coarse quantizer, call two documents semantic duplicates when their
    embeddings' cosine exceeds ``threshold`` WITHIN a cluster, and keep
    exactly one exemplar per duplicate group.

    ``keep='farthest'`` is the paper's exemplar rule — of each duplicate
    group, keep the member with the LOWEST cosine to its cluster centroid
    (the most "marginal" example carries the most training signal), ties
    on the smaller id.  ``keep='min_id'`` is the simpler stable rule.

    Returns the SURVIVING rows of ``vectors`` plus their ``cluster`` id
    and ``cent_sim`` (cosine to the assigned centroid) — the
    dedup-APPLY shape, like dedup.dedup_corpus.

    Physical form (all existing bucketed pieces, no new shuffle shapes):
    hard cluster assignment (assign_clusters m=1: one narrow pandas_udf
    pass, centroids broadcast), within-cluster candidate pairs via the
    CLUSTER-EQUI self-join of embedding_neardup_blocked (never a cross
    join), connected components over the >= threshold pairs (iterative
    min-label, dedup.neardup_components), then ONE min-over-struct hash
    aggregation per component to pick the exemplar (lexicographic
    (cent_sim, id) struct, nulls riding as +inf — map-side-combinable,
    so a giant all-dup component can't single-task-sort; plan-pinned by
    test_plan_quality::test_semantic_dedup_exemplar_is_aggregated).
    Deterministic end to end — assignment,
    left-fold cosines, min-label components, and the (cent_sim, id)
    ordering are all reproducible — so the result is VALUE-exact against
    a recursive-CTE SQL twin (plans/catalog_r7.py).

    At 100 TB: the cluster id is the unit of locality — materialize it as
    a partition column and the pair generation is partition-local; the CC
    graph holds only above-threshold pairs (tiny vs the corpus); state
    never exceeds O(duplicates found).  Misses only cross-cluster dup
    pairs — the paper's own trade; raise the overlap of the blocked-pairs
    call if recall matters more than cost.

    ``max_cluster`` (off by default) bounds the pathological case — a
    duplicate-saturated corpus collapsing into one giant cluster whose
    within-cluster pair volume is quadratic: clusters above the cap are
    exempt from pair generation, so ALL their members survive (the
    embedding_neardup_blocked kept-set contract; the exemplar pick
    itself is already skew-proof — one hash aggregation, no
    per-component window).
    """
    if keep not in ("farthest", "min_id"):
        raise ValueError(f"unknown keep rule {keep!r}")
    from .dedup import neardup_components

    cs = _cos_fn(vectorized)
    # ONE assignment pass serves all four consumers (members/cent_sim,
    # both sides of the blocked pair self-join, and the output join);
    # the checkpoint pins it — without it every lazy reference replays
    # the pandas_udf scoring pass (measured 3 extra passes at sf0.1)
    assigned = assign_clusters(
        vectors, centroids, id_col, vec_col, vectorized=vectorized, m=1
    ).localCheckpoint(eager=True)
    cent = centroids.select(
        F.col(id_col).alias("cluster"), F.col(vec_col).alias("_centroid")
    )
    members = assigned.join(F.broadcast(cent), "cluster").select(
        F.col(id_col),
        F.col("cluster"),
        cs(F.col(vec_col), F.col("_centroid")).alias("cent_sim"),
    )
    pairs = embedding_neardup_blocked(
        vectors, centroids, threshold, id_col, vec_col,
        overlap=1, vectorized=vectorized, assigned=assigned,
        max_cluster=max_cluster,
    )
    comps = neardup_components(pairs)
    grouped = comps.join(
        members.select(F.col(id_col).alias("doc_id"), "cent_sim"), "doc_id"
    )
    # Exemplar pick as ONE hash aggregation (min over a lexicographic
    # struct), not a window: partitionBy(component) would sort every
    # component inside one task, and the pathological SemDeDup input —
    # a giant all-duplicates component — turns that into a single-task
    # hotspot at scale.  min(struct) partial-aggregates map-side, so a
    # billion-row component costs the same per-task work as a small one.
    # Ordering parity with the previous window (cent_sim ASC NULLS LAST,
    # doc_id ASC): nulls ride as +inf inside the struct.
    if keep == "farthest":
        _ord = F.struct(
            F.coalesce(F.col("cent_sim"), F.lit(float("inf"))).alias("s"),
            F.col("doc_id").alias("i"),
        )
    else:
        _ord = F.struct(F.col("doc_id").alias("i"))
    exemplars = grouped.groupBy("component").agg(F.min(_ord).alias("_ex"))
    victims = (
        grouped.join(exemplars, "component")
        .filter(F.col("doc_id") != F.col("_ex").getField("i"))
        .select(F.col("doc_id").alias("_victim"))
    )
    return (
        vectors.join(victims, vectors[id_col] == F.col("_victim"), "left_anti")
        .join(members.select(id_col, "cluster", "cent_sim"), id_col)
    )


# ---------------------------------------------------------------------------
# Random-hyperplane (SimHash-for-vectors) LSH — the bucketed ANN variant
# ---------------------------------------------------------------------------

RP_BITS = 24
# 3 bits per band: P[band match] = P[bit]^3, so even moderate-angle
# neighbors (cosine ~0.4 => P[bit] ~0.63) collide on some band with 8
# chances. Wider bands (6 bits) drop recall to ~0.2 on near-orthogonal
# corpora like the synthetic embeddings; tighten bands (raise bits/band)
# when real corpora have closer neighbors and candidate volume matters.
RP_BANDS = 8


def _rp_hyperplanes(bits: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5: component (i, d) is
    ((md5int('i:d') mod 2001) - 1000) / 1000 in [-1, 1]. Computed in Python
    and inlined as LITERALS into both the Spark plan and the SQL oracle, so
    the two engines share exact coefficients (and the fold order makes the
    dot products bit-identical)."""
    import hashlib

    planes = []
    for i in range(bits):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"{i}:{d}".encode()).hexdigest()[:15], 16)
            row.append(((h % 2001) - 1000) / 1000.0)
        planes.append(row)
    return planes


def _rp_sig_kernel(planes: list[list[float]]):
    """Arrow/NumPy twin of the fold-expression signature: per hyperplane, a
    column-by-column left-fold dot (bit-identical, see _fold_dot_np) and a
    strict >0 bit test. One pandas_udf evaluates all `bits` planes per
    batch — replaces `bits` interpreted fold expressions per row."""
    H = np.array(planes, dtype=np.float64)  # (bits, dim)

    @pandas_udf(T.LongType())
    def sig(v: pd.Series) -> pd.Series:
        mask, mat = _stack_valid(v)
        full = np.zeros(len(v), dtype=np.int64)  # null vec -> 0, like the
        # fold form (null dot -> when() otherwise-branch -> all bits 0)
        if mat.size:
            acc_bits = np.zeros(mat.shape[0], dtype=np.int64)
            for i in range(H.shape[0]):
                d = _fold_dot_np(mat * H[i])
                acc_bits |= (d > 0).astype(np.int64) << i
            full[mask] = acc_bits
        return pd.Series(full)

    return sig


def rp_signatures(
    vectors: DataFrame,
    bits: int = RP_BITS,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vectorized: bool = True,
) -> DataFrame:
    """Per-vector random-hyperplane signature: bit i = 1 iff dot(v, h_i) > 0.
    Cosine-similar vectors agree on most bits (P[bit match] = 1 - angle/pi).
    Deterministic: left-fold dots in both physical forms (the default
    NumPy kernel reproduces the fold bit-for-bit; vectorized=False keeps
    the pure Column-expression plan).

    dim defaults to the actual embedding length (probed from the first row):
    a wrong dim would null-poison the folds, zero every signature, and
    silently degrade LSH to an all-pairs join."""
    if dim is None:
        first = vectors.select(F.size(F.col(vec_col)).alias("n")).first()
        if first is None:
            dim = 1  # empty input; any plane works
        else:
            dim = int(first.n)
    planes = _rp_hyperplanes(bits, dim)
    if vectorized:
        kern = _rp_sig_kernel(planes)
        return vectors.select(
            F.col(id_col), F.col(vec_col), kern(F.col(vec_col)).alias("rp_sig")
        )
    sig = None
    for i, row in enumerate(planes):
        h_arr = F.array(*[F.lit(x) for x in row])
        d = F.aggregate(
            F.zip_with(_as_double(F.col(vec_col)), h_arr, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit = F.when(d > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return vectors.select(F.col(id_col), F.col(vec_col), sig.alias("rp_sig"))


def rp_lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = RP_BITS,
    bands: int = RP_BANDS,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vectorized: bool = True,
    corpus_sigs: DataFrame | None = None,
) -> DataFrame:
    """LSH-bucketed ANN: candidates are corpus vectors sharing at least one
    signature band with the query; exact cosine ranks them. Recall < 1 by
    design (near-orthogonal misses), but the whole chain is deterministic,
    so it is oracle-reproducible unlike most ANN implementations.

    Scale: band buckets are equi-join keys — the corpus never cross-joins
    the queries; at 100 TB materialize rp_sig as a stored column and
    partition by a band prefix.

    ``corpus_sigs``: optional precomputed rp_signatures(vectors, ...)
    frame — the index. Pass a persisted (or stored-column) one when
    running many query batches so the corpus-wide signature pass runs
    once (the 50x SCALE.md wave measured the inline build dominating at
    small |Q|). Must have been built with the same bits/dim."""
    seg = bits // bands
    dt, nrm = _dot_fn(vectorized), (norm_v if vectorized else norm2)

    base = corpus_sigs if corpus_sigs is not None else rp_signatures(
        vectors, bits, dim, id_col, vec_col, vectorized=vectorized
    )
    v = base.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"),
        nrm(F.col(vec_col)).alias("c_n"), F.col("rp_sig").alias("c_sig"),
    )
    q = rp_signatures(queries, bits, dim, id_col, vec_col, vectorized=vectorized).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"),
        nrm(F.col(vec_col)).alias("q_n"), F.col("rp_sig").alias("q_sig"),
    )
    v_bands = v.select("neighbor_id", "c_vec", "c_n", F.explode(F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.shiftright("c_sig", b * seg).bitwiseAND(F.lit((1 << seg) - 1)).alias("key"))
        for b in range(bands)
    ])).alias("bk")).select("neighbor_id", "c_vec", "c_n", "bk.band", "bk.key")
    q_bands = q.select("q_id", "q_vec", "q_n", F.explode(F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.shiftright("q_sig", b * seg).bitwiseAND(F.lit((1 << seg) - 1)).alias("key"))
        for b in range(bands)
    ])).alias("bk")).select("q_id", "q_vec", "q_n", "bk.band", "bk.key")
    cands = (
        q_bands.join(v_bands, ["band", "key"])
        .filter(F.col("q_id") != F.col("neighbor_id"))
        .select("q_id", "q_vec", "q_n", "neighbor_id", "c_vec", "c_n")
        .distinct()
    )
    scored = cands.select(
        "q_id", "neighbor_id",
        (dt(F.col("q_vec"), F.col("c_vec")) / (F.col("q_n") * F.col("c_n"))).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", F.col("cosine").alias("cosine_raw"), "rank")
    )


def knn_classify(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    vectorized: bool | None = None,
) -> DataFrame:
    """k-NN majority-vote classification: each query takes the modal label
    of its exact cosine top-k neighbors (ties -> smallest label, so the
    prediction is deterministic). Output: (q_id, predicted_label, votes).

    The label lookup joins the k*|Q| neighbor rows back to the corpus
    id->label projection — dimension-shaped next to the scoring pass, so it
    broadcasts; the vote count + argmax add one k*|Q|-row aggregation."""
    topk = brute_force_topk(vectors, queries, k, id_col, vec_col, vectorized)
    labels = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("_lbl")
    )
    votes = (
        topk.join(F.broadcast(labels), "neighbor_id")
        .groupBy("q_id", "_lbl")
        .agg(F.count(F.lit(1)).cast("long").alias("votes"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("votes").desc(), F.col("_lbl").asc())
    return (
        votes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("q_id", F.col("_lbl").cast("long").alias("predicted_label"), "votes")
    )
