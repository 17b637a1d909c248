"""The fixpoint driver: the one owner of how an iterative operator's rounds
are materialized, counted, repacked and released.

Each iterative operator (pagerank, LPA, k-core, densest-subgraph peel,
alternating and min-label components, k-means, BPE training) is a fold
``state' = step(state)`` run as ``iterate(state, step, max_rounds,
done)``, and keeps only its step, its stop test and its own reasons.
The round discipline, stated once:

- One action per round: the output is a LAZY ``localCheckpoint`` fused
  with ``count()``, which materializes the blocks and returns the row
  count (one Spark job for a one-partition output; under AQE a wider
  one adds the count's map stage as a job).  Later rounds read a
  ``LogicalRDD`` leaf: lineage stays flat at any round count and the
  output's partitioning is kept.
- Repacking: the output is first coalesced to ``ceil(prev_rows /
  COALESCE_ROWS)`` partitions (``prev_rows``: the round it was computed
  from), so a shrinking state stops paying one near-empty task per
  original partition.  ``coalesce`` only merges, so at scale it is inert.
- Release: a superseded round is freed through
  ``session.release_local_checkpoint`` (``unpersist`` is a no-op on
  checkpoints) only after its successor is counted and ``done`` ran, so
  a stop test may read both rounds (alternating CC's ``exceptAll``).
  Between rounds storage is one round deep, not ``rounds`` deep.
- Ownership: only checkpoints the driver made are released, and all of
  them on any exception.  The caller's input never is; an input that is
  already a checkpoint leaf is counted, not copied (k_core's
  ``assume_distinct``).  The final state is handed to the caller.
- Stop: after ``max_rounds`` rounds, when ``step`` returns ``None`` (the
  state it read is final), or when ``done(prev, cur)`` is true.

A step reads a :class:`Round`: the frame, its rows, and ``hold(df)``,
which takes a side frame the step needs (the densest peel's degrees)
through the same checkpoint + count, returns ``(frame, rows)`` and frees
it with the round the step read.  Each round is recorded as ``(round,
rows, seconds)`` (round 0: the input) and logged at DEBUG.
"""

from __future__ import annotations

import logging
import time
from typing import Callable, NamedTuple, Optional

from pyspark.sql import DataFrame

from ..session import is_checkpoint_leaf, release_local_checkpoint

_LOG = logging.getLogger(__name__)

#: rows per partition a round's output is repacked to
COALESCE_ROWS = 200_000


class Round(NamedTuple):
    df: DataFrame
    rows: int
    hold: Callable[[DataFrame], tuple[DataFrame, int]]


class Fixpoint(NamedTuple):
    state: DataFrame
    converged: bool  # ``done`` fired
    rounds: list[tuple[int, int, float]]  # (round, rows, seconds)


def iterate(
    state: DataFrame,
    step: Callable[[Round], Optional[DataFrame]],
    max_rounds: int,
    done: Optional[Callable[[Round, Round], bool]] = None,
) -> Fixpoint:
    owned: list[DataFrame] = []  # checkpoints made here, not released yet
    rounds: list[tuple[int, int, float]] = []

    def checkpoint(df: DataFrame) -> tuple[DataFrame, int]:
        ck = df.localCheckpoint(eager=False)
        owned.append(ck)
        return ck, ck.count()

    def release_all_but(keep: Optional[DataFrame]) -> None:
        for df in owned:
            if df is not keep:
                release_local_checkpoint(df)
        owned[:] = [df for df in owned if df is keep]

    def record(rnd: int, rows: int, t0: float) -> None:
        secs = round(time.perf_counter() - t0, 3)
        rounds.append((rnd, rows, secs))
        _LOG.debug("fixpoint round %d: %d rows in %.3f s", rnd, rows, secs)

    converged, t0 = False, time.perf_counter()
    try:
        if is_checkpoint_leaf(state):
            cur = Round(state, state.count(), checkpoint)
        else:
            cur = Round(*checkpoint(state), checkpoint)
        record(0, cur.rows, t0)
        for rnd in range(1, max_rounds + 1):
            t0, nxt = time.perf_counter(), step(cur)
            if nxt is None:
                release_all_but(cur.df)
                break
            parts = max(1, -(-cur.rows // COALESCE_ROWS))
            nxt = Round(*checkpoint(nxt.coalesce(parts)), checkpoint)
            converged = done is not None and done(cur, nxt)
            release_all_but(nxt.df)
            cur = nxt
            record(rnd, cur.rows, t0)
            if converged:
                break
    except BaseException:
        release_all_but(None)
        raise
    return Fixpoint(cur.df, converged, rounds)
