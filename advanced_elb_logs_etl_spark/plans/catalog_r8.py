"""Round-8 catalog wave: the Gopher/C4 rule-filter battery — the one
reserved in-window addition this round (VERDICT r7 item 1; the operator
and its tests shipped in r7 under the build-now/register-in-window
freeze discipline, operators/rules.py).

- `gopher_rules_battery` (operators/rules.rule_filter_battery): per-
  document named-rule audit — every Gopher quality flag (Rae et al.
  2021 §A1.1), every C4 cleaning signal (Raffel et al. 2020 §2.2), and
  the two conjunctions — in ONE narrow whole-stage-codegen projection.
  All ratios are exact integer-count divisions (one IEEE op on identical
  integer pairs, cross-engine deterministic), so the battery is VALUE-
  exact against its DuckDB twin.

Same contract as plans.catalog: value-exact DuckDB twins, scale notes on
every query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import rules
from .catalog import _t, register

# Validated value-for-value against rule_filter_battery on all 500
# sf0.01 documents in the r7 session (plans/catalog_r7.py history);
# re-rehearsed in this round's window before registration.
_RULES_ORACLE = r"""
WITH base AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(text), '\s+') AS toks,
         string_split(text, chr(10)) AS lines
  FROM documents
), m AS (
  SELECT doc_id, text, toks, lines,
         len(toks) AS n_words,
         CASE WHEN len(toks) > 0 THEN
           list_sum(list_transform(toks, t -> strlen(t)))::DOUBLE
             / len(toks)::DOUBLE ELSE 0.0 END AS mean_len,
         (strlen(text) - strlen(replace(text, '#', ''))) +
           (len(string_split(text, '...')) - 1) AS n_symbols,
         len(lines) AS n_lines,
         len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•●]')))
           AS n_bullet,
         len(list_filter(lines, l -> regexp_matches(l, '\.\.\.\s*$')))
           AS n_ell_end,
         len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
           AS n_alpha,
         len(list_intersect(list_distinct(list_transform(toks, t -> lower(t))),
             ['the','be','to','of','and','that','have','with'])) AS n_stop,
         strlen(regexp_replace(text, '[^.!?]', '', 'g')) AS n_sent,
         len(list_filter(lines, l -> regexp_matches(l, '[.!?"]\s*$')))
           AS n_terminal
  FROM base
), flags AS (
  SELECT doc_id,
    coalesce(n_words BETWEEN 50 AND 100000, FALSE) AS word_count_ok,
    coalesce(mean_len BETWEEN 3.0 AND 10.0, FALSE) AS mean_word_len_ok,
    coalesce(CASE WHEN n_words > 0 THEN n_symbols::DOUBLE / n_words::DOUBLE
                  ELSE 0.0 END <= 0.1, FALSE) AS symbol_ratio_ok,
    coalesce(CASE WHEN n_lines > 0 THEN n_bullet::DOUBLE / n_lines::DOUBLE
                  ELSE 0.0 END <= 0.9, FALSE) AS bullet_lines_ok,
    coalesce(CASE WHEN n_lines > 0 THEN n_ell_end::DOUBLE / n_lines::DOUBLE
                  ELSE 0.0 END <= 0.3, FALSE) AS ellipsis_lines_ok,
    coalesce(CASE WHEN n_words > 0 THEN n_alpha::DOUBLE / n_words::DOUBLE
                  ELSE 0.0 END >= 0.8, FALSE) AS alpha_words_ok,
    coalesce(n_stop >= 2, FALSE) AS stopwords_ok,
    coalesce(n_sent, 0)::BIGINT AS n_sentences,
    coalesce(CASE WHEN n_lines > 0 THEN n_terminal::DOUBLE / n_lines::DOUBLE
                  ELSE 0.0 END >= 0.5, FALSE) AS terminal_lines_ok,
    coalesce(n_sent >= 3, FALSE) AS min_sentences_ok,
    coalesce(NOT contains(lower(text), 'lorem ipsum'), FALSE) AS no_lorem_ipsum,
    coalesce(NOT contains(text, '{'), FALSE) AS no_curly_brace
  FROM m
)
SELECT *,
  (word_count_ok AND mean_word_len_ok AND symbol_ratio_ok AND bullet_lines_ok
   AND ellipsis_lines_ok AND alpha_words_ok AND stopwords_ok) AS gopher_pass,
  (terminal_lines_ok AND min_sentences_ok AND no_lorem_ipsum
   AND no_curly_brace) AS c4_pass
FROM flags
"""


# Oracles pre-validated in r8 and registered by plans/catalog_r9.py.

_LM_TOP_V = 512
_LM_K = 50

_LM_ORACLE_QUEUED_R9 = rf"""
WITH pad AS (
  SELECT doc_id,
         list_prepend('<s>', regexp_split_to_array(trim(coalesce(text, '')), '\s+')) AS p
  FROM documents
), t_ref AS (
  SELECT doc_id, p[i] AS prev, p[i + 1] AS cur
  FROM pad, UNNEST(generate_series(1, len(p) - 1)) AS u(i)
), wc AS (
  SELECT cur, count(*) AS wc FROM t_ref GROUP BY cur
), n_tot AS (SELECT count(*) AS n FROM t_ref
), vocab AS (SELECT cur, wc FROM wc ORDER BY wc DESC, cur LIMIT {_LM_TOP_V}
), v_size AS (SELECT count(*) AS v FROM vocab
), word AS (
  SELECT cur,
         round((ln(0.4 * (wc + 0.5)) - ln(n + 0.5 * (v + 1))) * 1e6)::BIGINT AS bo_micro
  FROM vocab, n_tot, v_size
), ctx AS (
  SELECT prev, count(*) AS cc FROM t_ref GROUP BY prev
), bcnt AS (
  SELECT prev, cur, count(*) AS bc FROM t_ref GROUP BY prev, cur
), vocab_prev AS (
  SELECT cur AS prev FROM vocab UNION SELECT '<s>'
), bigram AS (
  SELECT b.prev, b.cur, round((ln(b.bc) - ln(c.cc)) * 1e6)::BIGINT AS lp_micro
  FROM bcnt b
  JOIN vocab_prev vp ON b.prev = vp.prev
  JOIN vocab v ON b.cur = v.cur
  JOIN ctx c ON b.prev = c.prev
), floor_t AS (
  SELECT round((ln(0.4 * 0.5) - ln(n + 0.5 * (v + 1))) * 1e6)::BIGINT AS unk_micro
  FROM n_tot, v_size
), scored AS (
  SELECT t.doc_id, coalesce(bg.lp_micro, w.bo_micro, f.unk_micro) AS s
  FROM t_ref t
  LEFT JOIN bigram bg USING (prev, cur)
  LEFT JOIN word w USING (cur)
  CROSS JOIN floor_t f
), agg AS (
  SELECT doc_id, count(*) AS n_transitions, (-sum(s))::BIGINT AS nll_micro,
         (-sum(s))::DOUBLE / count(*)::DOUBLE / 1e6 AS avg_nll
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_transitions, nll_micro
FROM agg ORDER BY avg_nll, nll_micro, doc_id LIMIT {_LM_K}
"""
# r10 fix: avg_nll stays the ORDER BY key (same IEEE quotient both
# engines) but is dropped from the hashed projection — the registered
# surface is integer-exact (doc_id, n_transitions, nll_micro).
# r11 fix: (-sum(s))::BIGINT — DuckDB sum(BIGINT) widens to HUGEINT
# (int128), which the pandas/Arrow fetch path renders as float64 ("3.0")
# while Spark emits long ("3"); the un-cast column was the verified root
# cause of the r9+r10 driver hash-mismatches.

_BM25_TERMS = ["join", "vector", "checkpoint", "gardenpath"]
_BM25_K = 50

_BM25_ORACLE_QUEUED_R10 = rf"""
WITH q AS (SELECT * FROM (VALUES {", ".join(f"('{t}')" for t in sorted(set(_BM25_TERMS)))}) AS v(term)),
tok AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
), stats AS (
  SELECT doc_id, len(toks) AS dl, t.term, count(*)::BIGINT AS tf
  FROM tok, UNNEST(toks) AS u(tk) JOIN q t ON u.tk = t.term
  GROUP BY doc_id, len(toks), t.term
), corpus AS (
  SELECT count(*) AS n_docs, sum(len(toks)) AS dl_sum FROM tok
), dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM stats GROUP BY term
), idf AS (
  SELECT term, ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
  FROM dfreq, corpus
), contrib AS (
  SELECT s.doc_id,
         round(i.idf * (s.tf * (1.2 + 1))
               / (s.tf + 1.2 * (1.0 - 0.75 + 0.75 * s.dl
                                 / (c.dl_sum::DOUBLE / c.n_docs)))
               * 1e6)::BIGINT AS c_micro
  FROM stats s JOIN idf i USING (term), corpus c
), scored AS (
  SELECT doc_id, count(*) AS n_hit_terms, sum(c_micro)::BIGINT AS score_micro
  FROM contrib GROUP BY doc_id
)
SELECT doc_id, n_hit_terms, score_micro
FROM scored ORDER BY score_micro DESC, doc_id LIMIT {_BM25_K}
"""
# r10 fix: the derived DOUBLE score (= score_micro / 1e6) is dropped
# from the hashed projection on both sides — integer-exact surface.
# r11 fix: sum(c_micro)::BIGINT — same HUGEINT→float64 pandas-fetch
# class as the LM oracle above (verified root cause of the driver reds).


@register("gopher_rules_battery", _RULES_ORACLE)
def q_gopher_rules_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher + C4 rule audit over the documents table: one
    boolean per named rule plus the two conjunctions, so a curation
    pipeline can see exactly which rule removed each document.

    Scale shape: ONE narrow projection (doc_id, text in; 15 columns
    out), pure Column math — no UDF, no shuffle, no state; line- and
    word-level rules fold over split arrays per row.  Trivially
    partition-parallel at 100 TB; output row count equals input."""
    return rules.rule_filter_battery(_t(spark, sf_dir, "documents"))
