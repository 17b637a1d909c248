"""Streaming MinHash/LSH near-dup surface.

The batch LSH pipeline (operators/dedup.py) computes shingle hashes with
a posexplode + groupBy pass — the codegen-fast BATCH kernel, but a
shuffle, so it cannot run per-row on a stream.  This module provides the
PER-ROW formulation: shingles -> h60 -> minhash signature -> band keys
as pure Column expressions in the EVALUATE-ONCE shape (one aggregate
fold + a lambda-bound band build — see band_key_rows; streaming
projections get no common-subexpression elimination, so the naive
16-signature-column form re-ran the md5 pass 17x per row under a
micro-batch plan).  The kernel attaches to a readStream unchanged — no
shuffle, no state, identical values to the batch kernel (both reduce to
h60 over the same distinct shingle set; pinned by the kernel-parity
test and the value-exact oracle of the replay query in
plans/catalog_stream.py).

Streaming near-dup semantics offered:

- ``band_key_rows``: the stateless prefix — (id, band, key) rows ready
  for any downstream stateful policy.
- ``lsh_band_canonical_stream``: per-(band, key) canonical (minimum) doc
  id and member count as a streaming aggregation — the deterministic
  bucket-canonicalization every LSH dedup policy starts from.  State is
  one row per occupied band bucket (4x corpus distinct-band count,
  bounded), keyed exactly like the batch bucket join shuffles.
  Production streams bound it further with a watermark on an event-time
  column (candidates need only collide within the horizon).

- ``first_seen_dedup_stream`` (+ its pure-batch kernel
  ``first_seen_batch_step``): the PRODUCTION POLICY layer — keep a doc
  only if it does not near-collide with anything already kept.  Arrival
  granularity is the micro-batch: docs colliding with a PREVIOUS batch's
  kept docs are dropped at LSH-candidate level (the key store holds band
  keys only, so state stays bounded — no stored shingle sets to
  Jaccard-verify against; that is the standard state-bounds trade and is
  documented per call), while WITHIN a batch the exact batch rule runs
  (verified pairs → connected components → min-id survivor, i.e.
  operators/dedup.dedup_corpus).  A single-batch replay is therefore
  value-identical to batch dedup_corpus — which is how this
  arrival-order-dependent policy still gets a value-exact driver row.
  The foreachBatch sink (not transformWithState) is deliberate: the
  per-doc decision needs ALL of a doc's band keys at once — per-key
  state cannot coordinate it — and batch-id-keyed parquet writes make
  retries idempotent and the store restart-safe.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import (
    MINHASH_P,
    _minhash_coefficients,
    shingle_hashes,
    shingles,
)
from ..operators.dedup import NUM_BANDS, NUM_HASHES, ROWS_PER_BAND
from .replay import replay_store
from .store import delete_batches, list_batches

__all__ = [
    "band_key_rows",
    "lsh_band_canonical_stream",
    "first_seen_batch_step",
    "first_seen_dedup_stream",
    "replay_first_seen_dedup",
    "prune_key_store",
]


def band_key_rows(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, band, key) LSH band rows via PER-ROW Column expressions —
    attachable to batch and streaming frames alike (no shuffle).  Docs
    with no shingles (fewer than 3 tokens) are dropped: their signature
    is all-null and their band keys would be engine-dependent.

    EVALUATE-ONCE SHAPE (the r6 streaming-perf fix): batch projections
    get common-subexpression elimination, but STREAMING projections do
    not — the naive form (16 ``array_min(transform(hashes, ...))``
    signature columns referencing one ``hashes`` expression) re-runs the
    md5 shingle pass 17x per row under a micro-batch plan, measured
    16.8 s vs 3.1 s at sf0.1 for this kernel alone.  So the whole
    signature is ONE ``F.aggregate`` fold over ``hashes`` (evaluated
    once; the accumulator carries all 16 running minima plus the shingle
    count), and the band array is built inside a single-element
    ``F.transform`` whose lambda variable BINDS the signature array —
    lambda variables are materialized values, so the 16 references to it
    are free.  Values are bit-identical to the old form and to the batch
    posexplode kernel (pinned by
    test_per_row_band_keys_match_batch_kernel and the driver oracle);
    empty-shingle docs yield an empty band array, which explode drops —
    same semantics as the old size guard."""
    coefs = _minhash_coefficients(NUM_HASHES)
    hashes = shingle_hashes(shingles(F.col(text_col)))
    # accumulator slots: [mh0..mh{k-1}, n_shingles]; every permutation
    # value is < MINHASH_P, so P is a safe +infinity
    init = F.array(
        *([F.lit(MINHASH_P).cast("long")] * NUM_HASHES + [F.lit(0).cast("long")])
    )

    def _merge(acc, h):
        hp = h % MINHASH_P
        return F.array(
            *[
                F.least(
                    F.element_at(acc, j + 1),
                    (F.lit(coefs[j][0]) * hp + F.lit(coefs[j][1])) % MINHASH_P,
                )
                for j in range(NUM_HASHES)
            ]
            + [F.element_at(acc, NUM_HASHES + 1) + 1]
        )

    sig = F.aggregate(hashes, init, _merge)

    def _band_structs(s):
        def key(b):
            mhs = [
                F.element_at(s, b * ROWS_PER_BAND + r + 1)
                for r in range(ROWS_PER_BAND)
            ]
            # identical formula to dedup._band_key (md5 of ','-joined mh)
            return F.md5(F.concat_ws(",", *[c.cast("string") for c in mhs]))

        return F.when(
            F.element_at(s, NUM_HASHES + 1) > 0,
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), key(b).alias("key"))
                    for b in range(NUM_BANDS)
                ]
            ),
        ).otherwise(F.array().cast("array<struct<band:int,key:string>>"))

    bands = F.element_at(F.transform(F.array(sig), _band_structs), 1)
    return df.select(F.col(id_col), F.explode(bands).alias("bk")).select(
        id_col, "bk.band", "bk.key"
    )


def lsh_band_canonical_stream(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Streaming LSH bucket canonicalization: per (band, key), the minimum
    doc id and the bucket population.  Two docs sharing a canonical row
    are near-dup candidates; the min-id canonical is the same survivor
    rule the batch corpus dedup uses, made order-free so the result is
    deterministic under any replay parallelism."""
    rows = band_key_rows(docs, id_col, text_col)
    return rows.groupBy("band", "key").agg(
        F.min(id_col).alias("canonical_doc"),
        F.count(F.lit(1)).alias("n_docs"),
    )


#: Band-key store schema: one row per (band, key) owned by a kept doc.
KEY_STORE_SCHEMA = T.StructType(
    [
        T.StructField("band", T.IntegerType()),
        T.StructField("key", T.StringType()),
    ]
)


def first_seen_batch_step(
    batch_docs: DataFrame,
    seen_keys: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    hashed: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch of the first-seen-wins near-dup policy, as a pure
    batch computation (unit-testable without a stream):

    1. docs sharing ANY band key with ``seen_keys`` are dropped — they
       are LSH candidates of an earlier KEPT doc (candidate-level, not
       Jaccard-verified: the store is band keys only, so cross-batch
       state stays bounded);
    2. the survivors run the exact batch rule: verified near-dup pairs →
       connected components → min-id survivor per component (identical
       semantics to operators/dedup.dedup_corpus, so a one-batch stream
       equals the batch operator row-for-row);
    3. returns (kept_docs, new_keys): the kept rows and the band keys
       they now own.

    Scale: the seen-keys probe is one distinct + semi/anti join keyed on
    (band, key) — the same key the LSH bucket join shuffles on; the
    within-batch step is the batch dedup pipeline at micro-batch size.
    The store grows by NUM_BANDS rows per kept doc (bounded by the kept
    corpus, not the stream); production bounds it further by retention
    (drop keys older than the dedup horizon).

    Kernels: inside foreachBatch this IS a batch computation, so band
    keys come from the posexplode/groupBy kernel over ONE persisted
    shingle-hash frame shared by every consumer (blocking probe,
    LSH pairs, verification, new-keys emission) — the same md5-once
    discipline as dedup_corpus; the per-row Column kernel
    (band_key_rows) is for stateless stream projections, and the two
    produce identical keys (pinned by
    test_per_row_band_keys_match_batch_kernel), so a store written by
    either kernel blocks correctly against the other.  Pass ``hashed``
    (a persisted with_shingle_hashes frame) to own the cache lifecycle —
    the streaming sink does, releasing it only after the batch's writes;
    otherwise one is created and released here (the returned plans then
    recompute the hash pass once when materialized — fine for tests,
    wasteful in the sink)."""
    from ..operators.dedup import (
        NUM_BANDS,
        _band_key,
        minhash_neardup_pairs,
        minhash_signatures,
        neardup_components,
        with_shingle_hashes,
    )

    own_cache = hashed is None
    if own_cache:
        hashed = with_shingle_hashes(batch_docs, id_col, text_col).persist()
    sigs = minhash_signatures(batch_docs, id_col, text_col, hashed=hashed)
    bands = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), _band_key(b).alias("key"))
                    for b in range(NUM_BANDS)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.key")
    if seen_keys is not None:
        blocked = (
            bands.join(seen_keys.select("band", "key"), ["band", "key"], "left_semi")
            .select(id_col)
            .distinct()
        )
        candidates = batch_docs.join(blocked, [id_col], "left_anti")
        cand_hashed = hashed.join(blocked, [id_col], "left_anti")
    else:
        candidates = batch_docs
        cand_hashed = hashed
    pairs = minhash_neardup_pairs(
        candidates, id_col, text_col, threshold, hashed=cand_hashed
    )
    comps = neardup_components(pairs)
    if own_cache:
        # the CC loop's eager edge checkpoint has materialized the pair
        # pipeline; a caller-owned cache stays hot for the output plans
        hashed.unpersist()
    victims = comps.filter(F.col("doc_id") != F.col("component")).select(
        F.col("doc_id").alias("_victim")
    )
    kept = candidates.join(
        victims, candidates[id_col] == F.col("_victim"), "left_anti"
    )
    new_keys = (
        bands.join(kept.select(id_col), [id_col], "left_semi")
        .select("band", "key")
    )
    return kept, new_keys


def first_seen_dedup_stream(
    docs_stream: DataFrame,
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    prune_keep_last: int | None = None,
    prune_every: int = 8,
):
    """Attach the first-seen-wins policy to a streaming docs frame.

    Returns a configured ``DataStreamWriter`` (caller adds trigger /
    checkpoint and ``.start()``s it).  Each micro-batch reads the band-key
    store under ``store_dir``/keys (batches strictly BEFORE its own id —
    see _first_seen_process_batch for the retry-safety contract), runs
    ``first_seen_batch_step``, and writes the batch's kept docs and new
    keys under batch-id-keyed subdirectories (``batch=N``) with
    overwrite — a retried batch rewrites its own output instead of
    double-appending, so the sink is idempotent and the store doubles as
    the restart state.

    Retention as POLICY: pass ``prune_keep_last=K`` to auto-prune the
    blocking key store to the newest K batch partitions every
    ``prune_every`` micro-batches (after the batch's own writes), so the
    bounded-state claim holds on a long-running stream without operator
    intervention.  Kept output is never pruned; a doc whose keys age out
    stops blocking new arrivals (the watermark-expiry trade,
    prune_key_store docstring)."""
    def _process(batch_df: DataFrame, batch_id: int) -> None:
        _first_seen_process_batch(
            batch_df, batch_id, store_dir, id_col, text_col, threshold
        )
        if prune_keep_last is not None and batch_id % max(1, prune_every) == 0:
            prune_key_store(batch_df.sparkSession, store_dir, prune_keep_last)

    return docs_stream.writeStream.foreachBatch(_process).outputMode("update")


def _first_seen_process_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    id_col: str,
    text_col: str,
    threshold: float,
) -> None:
    """One foreachBatch invocation of the first-seen policy (module-level
    so retry semantics are unit-testable without a live stream).

    RESTART SAFETY: a retried micro-batch N (failure after the store
    writes, before the checkpoint commit) re-runs with the same
    ``batch_id`` over a store that may already contain its own failed
    attempt's ``keys/batch=N`` partition.  Reading the store flat would
    make the batch's docs collide with their own band keys and be
    dropped — the retry would then overwrite ``kept/batch=N`` with an
    empty frame, silently losing the batch (ADVICE r6).  The store is
    therefore read WITH its ``batch`` partition column and filtered to
    ``batch < batch_id``, so any attempt of batch N sees exactly the
    state the first attempt saw: batches 0..N-1.  (Batch ids are
    monotone per checkpoint, so this is also a no-op for clean runs.)

    Corollary: a FRESH checkpoint pointed at an existing store restarts
    batch ids at 0, so prior batches' keys no longer block — starting
    over a populated store is a store-reuse error (pair a store with
    exactly one checkpoint lineage); the old flat read silently treated
    it as valid blocking state, which also broke every retry.
    """
    from ..operators.dedup import with_shingle_hashes

    kept_dir = os.path.join(store_dir, "kept")
    keys_dir = os.path.join(store_dir, "keys")
    spark = batch_df.sparkSession
    from pyspark.errors import AnalysisException

    try:
        seen = (
            spark.read.schema(KEY_STORE_SCHEMA)
            .option("basePath", keys_dir)
            .parquet(keys_dir)
            .filter(F.col("batch") < F.lit(int(batch_id)))
            .select("band", "key")
        )
    except AnalysisException:
        # missing store == first batch only; a transient FS error here
        # must propagate — treating it as "nothing seen" would pass
        # duplicates as first-seen (ADVICE r9 — the store.py contract)
        seen = None
    # own the shingle-hash cache for the whole batch: blocking probe,
    # LSH pairs, verification, kept docs, and new keys all read ONE
    # md5 pass (same lifecycle discipline as dedup_corpus)
    hashed = with_shingle_hashes(batch_df, id_col, text_col).persist()
    try:
        kept, new_keys = first_seen_batch_step(
            batch_df, seen, id_col, text_col, threshold, hashed=hashed
        )
        # kept feeds two writes; pin it so the CC loop runs once
        kept = kept.localCheckpoint(eager=True)
        kept.write.mode("overwrite").parquet(
            os.path.join(kept_dir, f"batch={batch_id}")
        )
        new_keys.write.mode("overwrite").parquet(
            os.path.join(keys_dir, f"batch={batch_id}")
        )
    finally:
        hashed.unpersist()


def replay_first_seen_dedup(
    spark: SparkSession,
    docs: DataFrame,
    num_batches: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    with_batch_col: bool = False,
    prune_keep_last: int | None = None,
    prune_every: int = 8,
) -> DataFrame:
    """Replay a batch docs frame through the streaming first-seen policy
    (replay.replay_store) and return the kept rows
    (``with_batch_col=True`` appends the micro-batch id each row was kept
    in, recovered from the store's ``batch=N`` partitioning).

    ``num_batches=1`` stages one source file group processed as ONE
    micro-batch — the configuration whose result is value-identical to
    batch dedup_corpus (the catalog/driver gate).  ``num_batches>1``
    splits the input into that many single-file micro-batches in
    ``id_col`` order, exercising the cross-batch key-store path with a
    deterministic arrival order."""
    cols = list(docs.columns) + (["batch"] if with_batch_col else [])
    return replay_store(
        spark, docs,
        lambda stream, store: first_seen_dedup_stream(
            stream, store, id_col, text_col, threshold,
            prune_keep_last=prune_keep_last, prune_every=prune_every,
        ),
        lambda store: spark.read.schema(docs.schema)
        .option("recursiveFileLookup", "false")
        .parquet(os.path.join(store, "kept"))
        .select(*cols)
        .localCheckpoint(eager=True),
        num_batches, id_col,
    )


def prune_key_store(spark: SparkSession, store_dir: str, keep_last_batches: int) -> int:
    """Retention pruning for the first-seen band-key store: drop the key
    partitions of all but the newest ``keep_last_batches`` micro-batches
    and return how many batch partitions were removed.

    Semantics: a doc kept longer ago than the retention horizon stops
    blocking new arrivals — the standard bounded-state trade for
    long-running streams (state stays O(kept docs within horizon), and
    re-admitted near-dups are the accepted cost, exactly as a watermark
    expires streaming dedup state).  The KEPT output is never pruned —
    retention bounds the BLOCKING state, not the corpus.

    Driver-side FS metadata pass (file-count scale, same Hadoop FS API
    as the compaction manifest — works on object stores); batch ids
    order the partitions, so "newest" needs no timestamps."""
    keys_dir = os.path.join(store_dir, "keys")
    batches = sorted(list_batches(spark, keys_dir) or [])
    to_drop = batches[: max(0, len(batches) - keep_last_batches)]
    delete_batches(spark, keys_dir, to_drop)
    return len(to_drop)
