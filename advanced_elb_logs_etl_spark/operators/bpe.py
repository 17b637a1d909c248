"""Byte-pair-encoding tokenizer TRAINING as a distributed computation.

The counting trick that makes BPE training tractable (used by every
public trainer: the original Sennrich et al. subword-nmt reference, the
Hugging Face tokenizers trainer) is that merges operate on the WORD
FREQUENCY table, not the corpus: two passes of the same word contribute
identically, so after one linear corpus reduction (word -> count) every
training round is O(|vocab|), independent of corpus size.  That maps
exactly onto Spark:

  corpus (100 TB)  --explode+hash agg-->  word_freq (bounded, ~millions)
  round r:  pair counts = explode adjacent symbol pairs over word_freq,
            weighted by count (one hash agg);
            argmax pair -> ONE row to the driver (bounded by construction);
            merge = per-row array fold (narrow map, no shuffle);
            one round of the fixpoint driver (operators/fixpoint.py),
            which keeps the plan K-shallow.

The merge fold is leftmost-greedy non-overlapping — the standard BPE
semantics ('aaa' + merge (a,a) -> ['aa','a']) — implemented with
F.aggregate so each round is pure Column work (no Python in the loop
body).  Determinism: pair argmax ties break on (left, right) symbol
order, so the learned merge table is reproducible run-to-run and matches
the pure-Python reference in tests/test_bpe.py symbol-for-symbol.

This is the training counterpart of text.bpe_ish_token_count (which
APPLIES a fixed segmentation); together they close the tokenizer loop
the LLM-pipeline brief asks for.  No reference parity: the reference
engine has no tokenizer surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import release_local_checkpoint
from . import fixpoint

__all__ = [
    "word_frequencies",
    "symbolize",
    "bpe_train",
    "bpe_train_df",
    "bpe_segment_string",
    "bpe_segment_count",
]

#: End-of-word marker, as in the original BPE formulation — keeps merges
#: from crossing word boundaries and distinguishes suffix from prefix.
EOW = "</w>"


def word_frequencies(
    df: DataFrame, text_col: str = "text", token_pattern: str | None = None
) -> DataFrame:
    """(word, cnt) — the one corpus-sized reduction. Lowercased whitespace
    tokens; empty strings dropped. ``token_pattern`` (an anchored regex,
    e.g. '^[a-z]+$') optionally restricts the vocabulary — the SQL-twin
    gate trains on alphabetic words only, the same precondition that buys
    the apply path its guarded string encoding."""
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    if token_pattern is None:
        toks = F.filter(toks, lambda t: t != F.lit(""))
    else:
        toks = F.filter(toks, lambda t: t.rlike(token_pattern))
    words = df.select(F.explode(toks).alias("word"))
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))


def symbolize(word: Column) -> Column:
    """Initial symbol sequence of a word: its characters plus the
    end-of-word marker."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: F.substring(word, i, 1),
    )
    return F.concat(chars, F.array(F.lit(EOW)))


def _merge_fold(arr: Column, left: str, right: str) -> Column:
    """Replace every leftmost-greedy non-overlapping adjacent (left, right)
    pair in the symbol array with the concatenated symbol."""
    merged = F.lit(left + right)
    return F.aggregate(
        arr,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 10,
    min_pair_count: int = 2,
    token_pattern: str | None = None,
) -> list[tuple[int, str, str, int]]:
    """Learn ``num_merges`` BPE merges from the corpus; returns the merge
    table [(rank, left, right, weighted_pair_count), ...] in learned
    order.  Stops early when no pair reaches ``min_pair_count``.

    Each round's driver transfer is ONE row (the argmax pair) — the loop
    never collects data-sized state.  The symbol table is checkpointed
    per round by the fixpoint driver: K rounds of nested aggregate()
    lambdas would otherwise stack into one deep codegen expression."""
    vocab = word_frequencies(df, text_col, token_pattern).select(
        symbolize(F.col("word")).alias("syms"), "cnt"
    )
    merges: list[tuple[int, str, str, int]] = []

    def step(cur: fixpoint.Round) -> DataFrame | None:
        vocab = cur.df
        pairs = (
            vocab.where(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.arrays_zip(
                        F.slice(F.col("syms"), 1, F.size("syms") - 1).alias("a"),
                        F.slice(F.col("syms"), 2, F.size("syms") - 1).alias("b"),
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").alias("n"))
        )
        top = pairs.orderBy(F.desc("n"), F.asc("a"), F.asc("b")).limit(1).collect()
        if not top or top[0]["n"] < min_pair_count:
            return None
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        merges.append((len(merges) + 1, a, b, n))
        return vocab.select(_merge_fold(F.col("syms"), a, b).alias("syms"), "cnt")

    # only the merge table is returned: free the final symbol table too
    release_local_checkpoint(fixpoint.iterate(vocab, step, num_merges).state)
    return merges


def bpe_train_df(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 10,
    min_pair_count: int = 2,
    token_pattern: str | None = None,
) -> DataFrame:
    """bpe_train as a DataFrame [(rank, left, right, pair_count)] for the
    catalog/driver surface."""
    spark = df.sparkSession
    rows = bpe_train(df, text_col, num_merges, min_pair_count, token_pattern)
    return spark.createDataFrame(
        rows, "rank int, left string, right string, pair_count long"
    )


def bpe_segment_string(word: Column, merges: list[tuple[str, str]]) -> Column:
    """Apply a FIXED merge table to a word, returning the guarded segment
    string — the cross-engine-exact BPE APPLY formulation.

    Encoding: each symbol is pipe-guarded and pairs are separated by two
    spaces ("|c|  |c|  ...  |</w>|"), so a merge is ONE string replace of
    '|a|  |b|' with '|ab|'.  replace() in both Spark and DuckDB scans
    left-to-right non-overlapping, which under this encoding is exactly
    BPE's leftmost-greedy merge ('|a|  |a|  |a|' -> '|aa|  |a|'), and the
    pipe guards make suffix collisions impossible ('|xa|  |b|' never
    matches '|a|  |b|').  Callers must ensure symbols cannot contain '|'
    or spaces (e.g. filter to alphabetic words) — that constraint is what
    buys SQL expressibility for the apply path; the trainer's array fold
    has no such restriction.
    """
    s = F.concat(
        F.regexp_replace(word, "(.)", "|$1|  "), F.lit("|" + EOW + "|")
    )
    for a, b in merges:
        s = F.replace(s, F.lit(f"|{a}|  |{b}|"), F.lit(f"|{a + b}|"))
    return s


def bpe_segment_count(word: Column, merges: list[tuple[str, str]]) -> Column:
    """Number of BPE segments of `word` (including the end-of-word symbol)
    under the fixed merge table: separator count + 1 on the segment
    string — pure integer math, bit-identical cross-engine."""
    s = bpe_segment_string(word, merges)
    return (
        (F.length(s) - F.length(F.replace(s, F.lit("  "), F.lit("")))) / F.lit(2)
        + F.lit(1)
    ).cast("long")
