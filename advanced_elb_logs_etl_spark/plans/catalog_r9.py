"""Round-9 catalog wave: the six built-and-rehearsed stash operators
enter the driver window (VERDICT r8 items 1-4 — "Done = the batch stash
is empty; every built operator has a driver signal").  Every entry's
operator shipped with tests in an earlier round under the
build-now/register-in-window freeze discipline; every oracle below was
pre-validated at sf0.01 in the r8 session (plans/catalog_r8.py) and
re-rehearsed in this r9 session before registration.

- `alternating_components` (operators/cc.py): O(log n)-round
  large/small-star connected components — a drop-in for
  dedup.neardup_components, so it reuses that entry's recursive-CTE
  oracle VERBATIM (identical labeling is the contract,
  tests/test_cc.py).
- `lm_perplexity_filter` (operators/lm.py): stupid-backoff bigram LM +
  CCNet-style fluency selection (Wenzek et al. 2020, public method);
  value-exact integer micro-nats.
- `bm25_topk` (operators/retrieval.py): BM25 lexical retrieval
  (Robertson & Zaragoza 2009), exact integer micro-unit scores.
- `pq_adc_topk` (operators/pq.py): product-quantization ADC search
  (Jegou et al. 2011) under a bounded-recall gate (the ivf_cosine_topk
  pattern: gate computes exact micro-int L2 ground truth alongside the
  ADC search and hashes the recall bound; production form = search only).
- `stream_heavy_hitters` (streaming/heavyhitters.py): Misra-Gries
  summary replayed through the REAL micro-batch engine at capacity >=
  cardinality — the exact regime, value-twinnable against plain GROUP BY.
- `stream_latency_histogram` (streaming/histogram.py): log-bucketed
  mergeable histogram replay — exact counts at any setting.

Same contract as plans.catalog: value-exact (or explicitly bounded)
DuckDB twins, scale notes on every query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import cc, lm, pq, retrieval
from ..operators.dedup import minhash_neardup_pairs
from ..streaming import heavyhitters, histogram
from .catalog import _t, register, register_production
from .catalog_llm import _COMPONENTS_ORACLE, _hashed_docs
from .catalog_r8 import (
    _BM25_K,
    _BM25_ORACLE_QUEUED_R10,
    _BM25_TERMS,
    _LM_K,
    _LM_ORACLE_QUEUED_R9,
    _LM_TOP_V,
)


@register("alternating_components", _COMPONENTS_ORACLE)
def q_alternating_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over LSH-verified near-dup pairs via
    alternating large-star/small-star rounds (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond" — public method):
    identical labeling to dedup.neardup_components (min-label
    propagation) in O(log n) rounds instead of O(diameter), so the
    oracle is that entry's recursive-CTE twin VERBATIM.

    Scale: each round is two grouped-min shuffles over the EDGE set
    (never the corpus); round count is O(log n) regardless of graph
    diameter — the lane for chain-shaped dup graphs where min-label's
    diameter-bounded rounds degrade (the 120-link-chain differential in
    tests/test_cc.py).  Min-label stays the default inside dedup_corpus
    for clique-shaped LSH graphs (SCALE.md r8 rule)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_neardup_pairs(docs, hashed=_hashed_docs(spark, sf_dir))
    return cc.alternating_components(pairs)


@register("lm_perplexity_filter", _LM_ORACLE_QUEUED_R9)
def q_lm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style fluency selection (Wenzek et al. 2020, public
    method): train a stupid-backoff bigram LM on the corpus, score every
    document's NLL under it, keep the k most fluent.  Value-exact: all
    scores are integer micro-nats (round(ln(p)*1e6) on identical integer
    count pairs); avg_nll is one IEEE division on identical integers.

    Scale: the transition frame is materialized ONCE (localCheckpoint)
    and injected into training and scoring (the transitions= knob) —
    without it Spark replays the corpus tokenize+explode per lazy
    consumer, ~5 passes (the r6 no-CSE rule).  Training is then four
    aggs over the materialized frame + V-bounded model frames; scoring
    joins the broadcast word/floor model; selection is TakeOrdered(k).
    The model frames are V- and V^2-bounded — independent of corpus
    size."""
    docs = _t(spark, sf_dir, "documents")
    trans = lm.transition_rows(docs).localCheckpoint(eager=True)
    model = lm.train_bigram_lm(docs, top_v=_LM_TOP_V, transitions=trans)
    # Registered output surface is integer-exact (r10 fix for the r9
    # driver-red hash): the derived DOUBLE avg_nll is the quotient of the
    # two integer columns below and stayed the ORDERING key inside
    # select_most_fluent, but it is dropped from the hashed projection so
    # the driver's float normalization can never disagree with the twin's.
    return lm.select_most_fluent(docs, model, k=_LM_K, transitions=trans).drop(
        "avg_nll"
    )


@register("bm25_topk", _BM25_ORACLE_QUEUED_R10)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k lexical retrieval (Robertson & Zaragoza 2009, public
    method) for a 4-term query (mixed document frequencies + one absent
    term).  Exact integer micro-unit scores: idf and the saturation
    fraction are IEEE ops on identical integer inputs, snapped to micro
    units before the sum, so even rank ties agree with the twin.

    Scale: one tokenize+explode pass restricted to query terms (the
    per-term stats frame is |q|-bounded per doc), corpus length stats as
    a 1-row broadcast, TakeOrdered(k) — no global sort, no corpus
    shuffle beyond the per-doc term agg."""
    docs = _t(spark, sf_dir, "documents")
    # Integer-exact registered surface (r10 fix, same class as
    # lm_perplexity_filter): score = score_micro / 1e6 is derived and
    # carries no extra information, so it is dropped from the hashed
    # projection; score_micro remains the ordering key on both sides.
    return retrieval.bm25_topk(docs, _BM25_TERMS, k=_BM25_K).drop("score")


_PQ_DIM, _PQ_M, _PQ_CODES, _PQ_TOPK, _PQ_NQ = 64, 8, 8, 10, 4

_PQ_BOUND_ORACLE = f"""
SELECT count(*)::BIGINT AS n_queries,
       (count(*) * {_PQ_TOPK})::BIGINT AS n_results,
       TRUE AS recall_ok
FROM embeddings WHERE vec_id < {_PQ_NQ}
"""


def _pq_searches(spark: SparkSession, sf_dir: str):
    """Shared gate/production body: trained codebooks, encoded corpus,
    and the per-query ADC top-10 frames (query vectors ride as integer
    micro-unit literals — a 4-row driver-side protocol collect, the
    bounded-model class of pq.train_codebooks' k*m-row collect)."""
    emb = _t(spark, sf_dir, "embeddings")
    cbooks = pq.train_codebooks(emb, _PQ_M, _PQ_CODES, _PQ_DIM, iters=2)
    codes = pq.pq_encode(emb, cbooks, _PQ_DIM).localCheckpoint(eager=True)
    qrows = sorted(
        emb.filter(F.col("vec_id") < _PQ_NQ)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    searches = []
    for r in qrows:
        qm = [pq.snap_micro_py(float(x)) for x in r.embedding]
        adc = pq.adc_topk(codes, cbooks, query_micro=qm, k=_PQ_TOPK).select(
            F.lit(int(r.vec_id)).alias("q_id"),
            F.col("vec_id").alias("neighbor_id"),
        )
        searches.append((int(r.vec_id), qm, adc))
    return emb, searches


@register("pq_adc_topk", _PQ_BOUND_ORACLE)
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-10 (Jegou et al. 2011, public
    method) for the 4 lowest-id query vectors, under a bounded-recall
    gate (the ivf_cosine_topk pattern): quantization is lossy by design,
    so the driver hash covers (n_queries, n_results, recall_ok) where
    recall_ok asserts overall recall@10 >= 0.25 against the exact
    micro-int L2 ground truth (pq._sqdist over snap_micro columns — the
    quarantined verification lane).  Measured 0.40 at sf0.01 with
    M=8/K=8/iters=2 (K=4 gave 0.30, K=16 0.35); the whole
    pipeline is deterministic, and a broken encode/ADC collapses recall
    to ~k/corpus ~= 0.02, far below the bar.

    Scale: training collects k*m centroid rows (a bounded MODEL, like
    the IVF centroid list); encode is one explode + broadcast-codebook
    argmin the corpus pays once; each search is M array lookups + an
    integer sum per row then TakeOrdered(k) — no shuffle of the corpus,
    LUTs ride as plan literals."""
    emb, searches = _pq_searches(spark, sf_dir)
    snapped = emb.select(
        "vec_id", pq.snap_micro(F.col("embedding")).alias("_micro")
    )
    adc_all = None
    exact_all = None
    for q_id, qm, adc in searches:
        q_arr = F.array(*[F.lit(v).cast("long") for v in qm])
        exact = (
            snapped.select(
                F.lit(q_id).alias("q_id"),
                F.col("vec_id").alias("neighbor_id"),
                pq._sqdist(F.col("_micro"), q_arr).alias("d2"),
            )
            .orderBy("d2", "neighbor_id")
            .limit(_PQ_TOPK)
            .select("q_id", "neighbor_id")
        )
        adc_all = adc if adc_all is None else adc_all.unionByName(adc)
        exact_all = exact if exact_all is None else exact_all.unionByName(exact)
    hit = adc_all.join(exact_all, ["q_id", "neighbor_id"], "left_semi")
    n_exact = exact_all.agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        adc_all.agg(
            F.count_distinct("q_id").alias("n_queries"),
            F.count(F.lit(1)).alias("n_results"),
        )
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
        .crossJoin(n_exact)
        .select(
            "n_queries",
            "n_results",
            (
                F.col("n_hit").cast("double")
                >= F.lit(0.25) * F.col("n_exact").cast("double")
            ).alias("recall_ok"),
        )
    )


@register_production("pq_adc_topk")
def q_pq_adc_topk_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What a user actually runs: codebook training + encode + the 4 ADC
    searches alone — no exact-L2 ground truth, no recall semi-join
    (those are the quarantined gate lane; the bench decomposition policy
    of VERDICT r7 item 3)."""
    _, searches = _pq_searches(spark, sf_dir)
    out = None
    for _, _, adc in searches:
        out = adc if out is None else out.unionByName(adc)
    return out


_HH_ORACLE = """
SELECT event_type AS key, count(*)::BIGINT AS cnt_lower,
       count(*)::BIGINT AS cnt_upper
FROM events WHERE event_type IS NOT NULL GROUP BY 1
"""


@register("stream_heavy_hitters", _HH_ORACLE)
def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters replayed through the REAL micro-batch
    engine (3 staged single-file batches, availableNow, foreachBatch
    store) at capacity 64 >= |event_type| cardinality — the EXACT regime
    where cnt_lower == cnt_upper == the true count, so the driver hash
    checks the whole streaming path against a plain GROUP BY.  The
    approximate regime's MG bound is pinned by pytest
    (tests/test_streaming_heavyhitters.py), including the empty-summary
    sentinel and the crash-consistent cut.

    Scale: per micro-batch ONE exact hash agg (map-side combine) + a
    TakeOrdered(C+1) compaction; state is C rows regardless of stream
    length, summaries merge across shards by construction."""
    ev = _t(spark, sf_dir, "events")
    return heavyhitters.replay_heavy_hitters(
        spark,
        ev.filter(F.col("event_type").isNotNull()).select(
            "event_id", "event_type"
        ),
        "event_type",
        capacity=64,
        num_batches=3,
        order_col="event_id",
    )


_HIST_ORACLE = f"""
WITH vals AS (SELECT round(value * 100)::BIGINT AS v FROM events),
bk AS (SELECT CASE WHEN v IS NULL OR v < 0 THEN NULL
                   WHEN v = 0 THEN -1
                   ELSE (strlen(bin(v)) - 1) * {histogram.SUBBUCKETS}
                        + floor((v - power(2, strlen(bin(v)) - 1))
                                * {histogram.SUBBUCKETS}
                                / power(2, strlen(bin(v)) - 1))::BIGINT
              END AS bucket FROM vals)
SELECT bucket, count(*)::BIGINT AS cnt FROM bk
WHERE bucket IS NOT NULL GROUP BY 1
"""


@register("stream_latency_histogram", _HIST_ORACLE)
def q_stream_latency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-bucketed latency histogram replayed through the REAL
    micro-batch engine (3 staged batches): counts are exact and
    mergeable, so the cumulative streamed state equals a single-pass
    batch bucketing whatever the slicing — value-twinnable at ANY
    setting (unlike a quantile sketch).  Values are integer centi-units
    (round(value*100)); negatives and NULL are dropped by bucket_of.

    Scale: per micro-batch one hash agg over ~log2(max)*S buckets;
    state is bucket-count-bounded, independent of stream length."""
    ev = _t(spark, sf_dir, "events")
    with_v = ev.select(
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("v"),
    )
    return histogram.replay_histogram(
        spark, with_v, "v", num_batches=3, order_col="event_id"
    )
