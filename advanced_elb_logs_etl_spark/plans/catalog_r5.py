"""Round-5 catalog wave: model-evaluation and data-drift statistics as
distributed relational computations — exact tie-aware AUC (Mann-Whitney),
calibration/reliability bins, Cohen's kappa inter-labeler agreement,
population-stability-index drift, Kaplan-Meier-style survival (horizon
censoring), deterministic group imputation, and a two-proportion z-test.

These extend the training-data-pipeline surface toward the evaluation
side: a 100 TB corpus pipeline ends in exactly these queries (did the
filter shift the score distribution? do two labeling passes agree? what
is the label AUC of a quality score?).

Same contract as plans.catalog: every query has a value-exact DuckDB
oracle twin — integer-count ratios emitted as single double divisions
(bit-identical cross-engine), accumulated doubles DECIMAL-snapped via
dround, deterministic tiebreaks on orderings.  Scale notes per query; the
wave's theme is COUNT-FIRST shapes: every statistic reduces the data with
one hash agg before any ordering/scan work, so nothing here touches a
single-partition window (plan-lint enforced).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import dround
from ..operators import stats
from .catalog import _t, _us, register

_DR6 = "CAST(round(CAST({x} AS DECIMAL(28,8)), 6) AS DOUBLE)"

#: Deterministic 0/1 label shared by the evaluation queries: purchases are
#: the positive class. Spark and SQL twins use the identical expression.
_IS_PURCHASE = "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"


# ---------------------------------------------------------------------------
# auc_mann_whitney — exact tie-aware ROC AUC, relationally
# ---------------------------------------------------------------------------

_AUC_ORACLE = """
WITH per_score AS (
  SELECT value AS s,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS pos,
         sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END)::BIGINT AS neg
  FROM events WHERE value IS NOT NULL GROUP BY value
), cum AS (
  SELECT pos, neg,
         sum(neg) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cum_neg
  FROM per_score
), u AS (
  SELECT sum(pos * (2 * (cum_neg - neg) + neg))::BIGINT AS u2,
         sum(pos)::BIGINT AS n_pos, sum(neg)::BIGINT AS n_neg
  FROM cum
)
SELECT CASE WHEN n_pos > 0 AND n_neg > 0
            THEN CAST(u2 AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE) END AS auc,
       n_pos, n_neg
FROM u
"""


@register("auc_mann_whitney", _AUC_ORACLE)
def q_auc_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware AUC of `value` as a score for the purchase label,
    via the Mann-Whitney U identity (operators/stats.auc_mann_whitney):
    one hash agg to per-distinct-score counts, the two-phase range scan
    for cumulative negatives, a 1-row fold.  The doubled-U integer form
    makes the result ONE division of exact BIGINTs — no rounding anywhere.

    Scale: per-pair formulations are O(P*N) and impossible at 100 TB; this
    is O(distinct scores) after a linear reduction, and the only ordered
    step is the range-partitioned scan (no single-partition window)."""
    ev = _t(spark, sf_dir, "events").select(
        "value", F.expr(_IS_PURCHASE).alias("lab")
    )
    return stats.auc_mann_whitney(ev, "value", "lab")


# ---------------------------------------------------------------------------
# calibration_bins — reliability diagram table
# ---------------------------------------------------------------------------

_CALIB_ORACLE = f"""
SELECT least(greatest(CAST(floor(value / 50.0) AS BIGINT), 0), 9) AS bin,
       count(*)::BIGINT AS n,
       sum({_IS_PURCHASE})::BIGINT AS n_pos,
       CAST(sum({_IS_PURCHASE}) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pos_rate,
       {_DR6.format(x='avg(value)')} AS mean_score
FROM events
GROUP BY 1 ORDER BY bin
"""


@register("calibration_bins", _CALIB_ORACLE)
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability/calibration table: fixed-width score bins (clamped
    floor(value/50) into 0..9), per-bin count, positive count, positive
    rate (exact int ratio — one double division), and the DECIMAL-snapped
    mean score.  The companion to AUC: AUC ranks, calibration checks the
    probability scale.

    Scale: a projection plus ONE hash agg on a 10-value key — the
    cheapest possible shape; fixed bin edges (not data-derived quantiles)
    keep the query one-pass and the oracle bit-identical."""
    ev = _t(spark, sf_dir, "events")
    lab = F.expr(_IS_PURCHASE)
    bin_ = F.least(
        F.greatest(F.floor(F.col("value") / F.lit(50.0)).cast("long"), F.lit(0)),
        F.lit(9),
    )
    return (
        ev.groupBy(bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(lab).alias("n_pos"),
            (F.sum(lab).cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "pos_rate"
            ),
            dround(F.avg("value"), 6).alias("mean_score"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# cohens_kappa — inter-labeler agreement over a contingency table
# ---------------------------------------------------------------------------

#: Second "rater": a deterministic value-derived pseudo-label over the same
#: category space as event_type — models two labeling passes of one corpus.
_RATER_B = (
    "['click','error','purchase','signup','view']"
    "[(CAST(floor(value / 100.0) AS BIGINT) % 5) + 1]"
)

_KAPPA_ORACLE = f"""
WITH labeled AS (
  SELECT event_type AS ra, {_RATER_B} AS rb FROM events
), cells AS (
  SELECT ra, rb, count(*)::BIGINT AS c FROM labeled GROUP BY ra, rb
), tot AS (
  SELECT sum(c)::BIGINT AS n, sum(CASE WHEN ra = rb THEN c ELSE 0 END)::BIGINT AS agree
  FROM cells
), marg AS (
  SELECT sum(ra_tot * rb_tot)::BIGINT AS chance_num
  FROM (SELECT ra AS k, sum(c)::BIGINT AS ra_tot FROM cells GROUP BY ra) a
  JOIN (SELECT rb AS k, sum(c)::BIGINT AS rb_tot FROM cells GROUP BY rb) b USING (k)
)
SELECT {_DR6.format(x='''(CAST(agree AS DOUBLE) / n - CAST(chance_num AS DOUBLE) / (CAST(n AS DOUBLE) * n))
       / (1.0 - CAST(chance_num AS DOUBLE) / (CAST(n AS DOUBLE) * n))''')} AS kappa,
       agree AS n_agree, n
FROM tot, marg
"""


@register("cohens_kappa", _KAPPA_ORACLE)
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the event_type labels and a deterministic
    value-derived second labeling over the same category space — the
    inter-annotator-agreement statistic as pure contingency-table math:
    kappa = (p_o - p_e) / (1 - p_e) with p_o, p_e from exact BIGINT cell
    counts and marginals; only the final expression is float (snapped).

    Scale: ONE hash agg to the |categories|^2 contingency cells (25 rows),
    then bounded re-aggs — same count-first discipline as chi_square."""
    ev = _t(spark, sf_dir, "events")
    cats = ["click", "error", "purchase", "signup", "view"]
    rb = F.element_at(
        F.array(*[F.lit(c) for c in cats]),
        (F.floor(F.col("value") / F.lit(100.0)).cast("long") % 5 + 1).cast("int"),
    )
    cells = (
        ev.select(F.col("event_type").alias("ra"), rb.alias("rb"))
        .groupBy("ra", "rb")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cells.groupBy().agg(
        F.sum("c").alias("n"),
        F.sum(F.when(F.col("ra") == F.col("rb"), F.col("c")).otherwise(0)).alias(
            "agree"
        ),
    )
    ra_tot = cells.groupBy(F.col("ra").alias("k")).agg(F.sum("c").alias("ra_tot"))
    rb_tot = cells.groupBy(F.col("rb").alias("k")).agg(F.sum("c").alias("rb_tot"))
    marg = (
        ra_tot.join(rb_tot, "k")
        .groupBy()
        .agg(F.sum(F.col("ra_tot") * F.col("rb_tot")).alias("chance_num"))
    )
    nd = F.col("n").cast("double")
    po = F.col("agree").cast("double") / nd
    pe = F.col("chance_num").cast("double") / (nd * nd)
    return tot.crossJoin(F.broadcast(marg)).select(
        dround((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
        F.col("agree").alias("n_agree"),
        "n",
    )


# ---------------------------------------------------------------------------
# psi_value_drift — population stability index between two time halves
# ---------------------------------------------------------------------------

_PSI_ORACLE = f"""
WITH binned AS (
  SELECT least(greatest(CAST(floor(value / 50.0) AS BIGINT), 0), 9) AS bin,
         CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS is_a
  FROM events
), cells AS (
  SELECT bin,
         sum(is_a)::BIGINT AS ca, sum(1 - is_a)::BIGINT AS cb
  FROM binned GROUP BY bin
), tot AS (SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb FROM cells),
terms AS (
  SELECT bin, ca, cb,
         (CAST(ca + 1 AS DOUBLE) / (na + 10) - CAST(cb + 1 AS DOUBLE) / (nb + 10))
         * ln((CAST(ca + 1 AS DOUBLE) / (na + 10)) / (CAST(cb + 1 AS DOUBLE) / (nb + 10)))
         AS term
  FROM cells, tot
)
SELECT {_DR6.format(x='sum(term)')} AS psi,
       count(*)::BIGINT AS n_bins,
       sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b
FROM terms
"""


@register("psi_value_drift", _PSI_ORACLE)
def q_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of the value distribution between the
    first and second half of the month — THE production drift monitor for
    feature/score pipelines.  Fixed-width bins (data-independent edges keep
    it one-pass and cross-engine exact), Laplace-smoothed proportions
    ((c+1)/(n+B)) so empty bins contribute finite terms deterministically,
    and the PSI sum DECIMAL-snapped.

    Scale: projection + ONE hash agg on the 10-bin key + a 1-row total —
    drift monitoring at 100 TB must be exactly this cheap."""
    ev = _t(spark, sf_dir, "events")
    bin_ = F.least(
        F.greatest(F.floor(F.col("value") / F.lit(50.0)).cast("long"), F.lit(0)),
        F.lit(9),
    )
    is_a = (F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp")).cast("long")
    cells = (
        ev.select(bin_.alias("bin"), is_a.alias("is_a"))
        .groupBy("bin")
        .agg(F.sum("is_a").alias("ca"), F.sum(F.lit(1) - F.col("is_a")).alias("cb"))
    )
    tot = cells.groupBy().agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    pa = (F.col("ca") + 1).cast("double") / (F.col("na") + 10)
    pb = (F.col("cb") + 1).cast("double") / (F.col("nb") + 10)
    return (
        cells.crossJoin(F.broadcast(tot))
        .select("ca", "cb", ((pa - pb) * F.log(pa / pb)).alias("term"))
        .groupBy()
        .agg(
            dround(F.sum("term"), 6).alias("psi"),
            F.count(F.lit(1)).alias("n_bins"),
            F.sum("ca").alias("n_a"),
            F.sum("cb").alias("n_b"),
        )
    )


# ---------------------------------------------------------------------------
# km_survival — discrete survival curve, horizon censoring
# ---------------------------------------------------------------------------

_KM_ORACLE = """
WITH signup AS (
  SELECT user_id, min(epoch_us(ts)) AS s_us FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), conv AS (
  SELECT s.user_id, min(epoch_us(e.ts)) AS p_us
  FROM signup s JOIN events e
    ON e.user_id = s.user_id AND e.event_type = 'purchase'
   AND epoch_us(e.ts) >= s.s_us
  GROUP BY s.user_id
), days AS (
  SELECT s.user_id,
         CASE WHEN c.p_us IS NOT NULL
              THEN (c.p_us - s.s_us) // 86400000000 END AS d
  FROM signup s LEFT JOIN conv c ON s.user_id = c.user_id
), spine AS (SELECT unnest(generate_series(0, 13)) AS day),
agg AS (
  SELECT sp.day,
         count(CASE WHEN d.d = sp.day THEN 1 END)::BIGINT AS d_events,
         count(CASE WHEN d.d <= sp.day THEN 1 END)::BIGINT AS cum_events
  FROM spine sp CROSS JOIN days d
  GROUP BY sp.day
), tot AS (SELECT count(*)::BIGINT AS n_users FROM days)
SELECT day, d_events,
       (n_users - cum_events + d_events)::BIGINT AS n_at_risk,
       CAST(n_users - cum_events AS DOUBLE) / CAST(n_users AS DOUBLE) AS surv
FROM agg, tot
ORDER BY day
"""


@register("km_survival", _KM_ORACLE)
def q_km_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete time-to-conversion survival over days 0..13 after signup,
    with censoring only at the horizon — under which the Kaplan-Meier
    product telescopes to the exact empirical form
    S(t) = (U - cum_events(t)) / U, one division of exact BIGINTs per day
    (no float product chain, no window at all).

    Plan: per-user signup/first-purchase hash aggs, the day histogram,
    then a 14-row day spine CROSS-broadcast against the (tiny) histogram
    for cumulative counts — bounded join, no global window, no explode of
    user rows per day.

    Scale: user-keyed aggs are the data-sized work (linear, hash-
    partitioned); everything after the histogram is O(horizon)."""
    ev = _t(spark, sf_dir, "events")
    signup = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(_us(F.col("ts"))).alias("s_us"))
    )
    conv = (
        signup.join(
            ev.where(F.col("event_type") == "purchase").select(
                "user_id", _us(F.col("ts")).alias("p_us")
            ),
            "user_id",
        )
        .where(F.col("p_us") >= F.col("s_us"))
        .groupBy("user_id")
        .agg(F.min("p_us").alias("p_us"))
    )
    days = signup.join(conv, "user_id", "left").select(
        "user_id",
        F.expr("(p_us - s_us) DIV 86400000000").alias("d"),
    )
    hist = days.groupBy("d").agg(F.count(F.lit(1)).alias("c"))
    tot = days.groupBy().agg(F.count(F.lit(1)).alias("n_users"))
    spine = _t(spark, sf_dir, "events").sparkSession.range(0, 14).select(
        F.col("id").alias("day")
    )
    # 14-row spine x bounded histogram: broadcast, no window
    agg = (
        spine.crossJoin(F.broadcast(hist))
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("d") == F.col("day"), F.col("c")).otherwise(0)).alias(
                "d_events"
            ),
            F.sum(F.when(F.col("d") <= F.col("day"), F.col("c")).otherwise(0)).alias(
                "cum_events"
            ),
        )
    )
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "day",
            "d_events",
            (F.col("n_users") - F.col("cum_events") + F.col("d_events")).alias(
                "n_at_risk"
            ),
            (
                (F.col("n_users") - F.col("cum_events")).cast("double")
                / F.col("n_users").cast("double")
            ).alias("surv"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# impute_battery — deterministic group imputation report
# ---------------------------------------------------------------------------

_IMPUTE_ORACLE = f"""
WITH holed AS (
  SELECT event_type,
         CASE WHEN event_id % 10 = 3 THEN NULL ELSE value END AS v
  FROM events
)
SELECT event_type,
       count(*)::BIGINT AS n,
       sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
       {_DR6.format(x='avg(v)')} AS mean_fill,
       {_DR6.format(x='median(v)')} AS median_fill,
       {_DR6.format(x='''avg(v) * sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END)
                        + sum(COALESCE(v, 0))''')} AS imputed_sum
FROM holed
GROUP BY event_type ORDER BY event_type
"""


@register("impute_battery", _IMPUTE_ORACLE)
def q_impute_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise imputation report over a deterministically holed column
    (event_id % 10 == 3 -> null — same planted-null discipline as
    null_semantics_battery): per group the null count, the mean and exact-
    median fill values, and the post-imputation sum (nulls replaced by the
    group mean) — verifying fill-value math without materializing a filled
    copy of the data.

    Scale: ONE hash agg per group; the exact median is Spark's
    percentile(0.5) within the same agg (matches DuckDB median on even
    counts via midpoint interpolation). Null-aware avg ignores the holes
    on both engines by SQL semantics."""
    ev = _t(spark, sf_dir, "events")
    v = F.when(F.col("event_id") % 10 == 3, F.lit(None)).otherwise(F.col("value"))
    holed = ev.select("event_type", v.alias("v"))
    n_null = F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
    return (
        holed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            n_null.alias("n_null"),
            dround(F.avg("v"), 6).alias("mean_fill"),
            dround(F.expr("percentile(v, 0.5)"), 6).alias("median_fill"),
            dround(
                F.avg("v") * n_null + F.sum(F.coalesce(F.col("v"), F.lit(0.0))), 6
            ).alias("imputed_sum"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# two_proportion_ztest — A/B conversion-rate test
# ---------------------------------------------------------------------------

_ZTEST_ORACLE = f"""
WITH arms AS (
  SELECT user_id % 2 AS arm,
         max({_IS_PURCHASE}) AS converted
  FROM events GROUP BY user_id
), c AS (
  SELECT sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
         sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
         sum(CASE WHEN arm = 0 THEN converted ELSE 0 END)::BIGINT AS x0,
         sum(CASE WHEN arm = 1 THEN converted ELSE 0 END)::BIGINT AS x1
  FROM arms
)
SELECT {_DR6.format(x='''(CAST(x0 AS DOUBLE) / n0 - CAST(x1 AS DOUBLE) / n1)
       / sqrt((CAST(x0 + x1 AS DOUBLE) / (n0 + n1)) * (1 - CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
              * (1.0 / n0 + 1.0 / n1))''')} AS z_stat,
       {_DR6.format(x='CAST(x0 AS DOUBLE) / n0')} AS rate_0,
       {_DR6.format(x='CAST(x1 AS DOUBLE) / n1')} AS rate_1,
       n0, n1
FROM c
"""


@register("two_proportion_ztest", _ZTEST_ORACLE)
def q_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test of per-user conversion (any purchase) between
    the two experiment arms user_id % 2 — the A/B-test primitive, computed
    from four exact counts with the pooled-variance formula; the z and
    rates are snapped at the edge.

    Scale: per-user conversion is one user-keyed hash agg (linear), then a
    1-row combine — experiment readouts must not cost more than this."""
    ev = _t(spark, sf_dir, "events")
    arms = (
        ev.groupBy("user_id")
        .agg(F.max(F.expr(_IS_PURCHASE)).alias("converted"))
        .select((F.col("user_id") % 2).alias("arm"), "converted")
    )
    c = arms.groupBy().agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0)).alias("x0"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0)).alias("x1"),
    )
    r0 = F.col("x0").cast("double") / F.col("n0")
    r1 = F.col("x1").cast("double") / F.col("n1")
    p = (F.col("x0") + F.col("x1")).cast("double") / (F.col("n0") + F.col("n1"))
    z = (r0 - r1) / F.sqrt(
        p * (F.lit(1.0) - p) * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1"))
    )
    return c.select(
        dround(z, 6).alias("z_stat"),
        dround(r0, 6).alias("rate_0"),
        dround(r1, 6).alias("rate_1"),
        "n0",
        "n1",
    )


# ---------------------------------------------------------------------------
# variant_extract_stats — Spark 4 VARIANT semi-structured path
# ---------------------------------------------------------------------------

_VARIANT_ORACLE = f"""
WITH x AS (
  SELECT event_type,
         (props->>'k')::BIGINT AS k,
         (props->>'missing')::BIGINT AS m
  FROM events
)
SELECT event_type,
       count(*)::BIGINT AS n,
       sum(k)::BIGINT AS sum_k,
       {_DR6.format(x='median(k)')} AS median_k,
       count(m)::BIGINT AS n_missing_path
FROM x GROUP BY event_type ORDER BY event_type
"""


@register("variant_extract_stats", _VARIANT_ORACLE)
def q_variant_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through Spark 4's VARIANT type:
    parse_json(props) -> binary variant encoding -> typed
    try_variant_get("$.k", "long"), plus the missing-path contract
    (try_variant_get on an absent key yields NULL, counted as 0 by
    count()).  Contrast json_extract_summary (JsonPath on strings): the
    variant path parses each document ONCE into a traversable binary and
    is the scalable choice when several fields are extracted from large
    documents.

    Scale: parse + extraction are a narrow projection fused into the scan
    stage; only the 5-group aggregate shuffles.  The exact median keeps
    the oracle value-exact (integer k domain)."""
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "long")
    m = F.try_variant_get(v, "$.missing", "long")
    return (
        ev.select("event_type", k.alias("k"), m.alias("m"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            dround(F.expr("percentile(k, 0.5)"), 6).alias("median_k"),
            F.count("m").alias("n_missing_path"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# stream_sliding_window_equiv — 5th streaming<->batch equivalence query
# ---------------------------------------------------------------------------

_SLIDING_ORACLE = """
WITH offsets AS (SELECT unnest(generate_series(0, 4)) AS i),
wins AS (
  SELECT e.user_id,
         ((epoch_us(e.ts) // 60000000) - o.i) * 60000000 AS w_start_us
  FROM events e CROSS JOIN offsets o
)
SELECT user_id, w_start_us AS window_start_us, count(*)::BIGINT AS n_events
FROM wins
GROUP BY user_id, w_start_us
ORDER BY user_id, window_start_us
"""


@register("stream_sliding_window_equiv", _SLIDING_ORACLE)
def q_stream_sliding_window_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (5 minutes, 1-minute slide) executed by
    the STREAMING engine (window() with slide + watermark, availableNow)
    vs the batch identity: each event belongs to exactly 5 slide-aligned
    windows, so the batch twin is a 5-way offset expansion + hash agg.
    Window starts are epoch-minute-aligned UTC instants, so
    unix_micros(window.start) matches the oracle's integer bucket math
    exactly.

    Scale: streaming sliding windows hold one state row per (key, open
    window) — 5x the tumbling state, evicted by the watermark in
    production append mode; complete mode here is for the equivalence
    check (see replay.py)."""
    from ..streaming.replay import replay_stream
    from .catalog_stream import _events_key, _staged_events

    ev = _staged_events(spark, sf_dir)

    def build(s: DataFrame) -> DataFrame:
        return (
            s.select("user_id", "ts")
            .withWatermark("ts", "1 hour")
            .groupBy(
                F.window(F.col("ts"), "5 minutes", "1 minute").alias("w"),
                F.col("user_id"),
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
        )

    out = replay_stream(
        spark, ev, build, "stream_sliding_window", output_mode="complete",
        staging_key=_events_key(sf_dir),
    )
    return out.select(
        "user_id",
        _us(F.col("w.start")).alias("window_start_us"),
        "n_events",
    ).orderBy("user_id", "window_start_us")


# ---------------------------------------------------------------------------
# bpe_train_merges — distributed BPE tokenizer training (iterative)
# ---------------------------------------------------------------------------


_BPE_TRAIN_K = 8


def _bpe_train_oracle(k: int = _BPE_TRAIN_K) -> str:
    """The VALUE-EXACT twin of the iterative BPE trainer: the fixed-K
    merge loop UNROLLED into a CTE chain (VERDICT r5 item 3 — the same
    move as pagerank's unrolled iterations).  Each round re-derives pair
    counts from the guarded segment-string vocabulary, picks the argmax
    pair under the trainer's exact tiebreak (n DESC, a, b), and applies
    the merge as ONE string replace — replace() is leftmost-greedy
    non-overlapping in both engines, which under the pipe-guard encoding
    IS the BPE merge rule (see operators/bpe.bpe_segment_string).  The
    alphabetic-token restriction is the encoding's documented
    precondition; the Spark side trains under the same
    ``token_pattern``."""
    parts = [
        """WITH words AS (
  SELECT w.word, count(*)::BIGINT AS cnt
  FROM documents d,
       unnest(list_filter(regexp_split_to_array(lower(d.text), '\\s+'),
                          x -> regexp_matches(x, '^[a-z]+$'))) AS w(word)
  GROUP BY w.word
),
w0 AS (SELECT regexp_replace(word, '(.)', '|\\1|  ', 'g') || '|</w>|' AS s, cnt FROM words)"""
    ]
    for r in range(1, k + 1):
        parts.append(f""",
p{r} AS (
  SELECT trim(toks[i], '|') AS a, trim(toks[i+1], '|') AS b, sum(cnt)::BIGINT AS n
  FROM (SELECT regexp_split_to_array(s, '  ') AS toks, cnt FROM w{r - 1}) t,
       unnest(range(1, len(toks))) AS u(i)
  GROUP BY 1, 2
),
t{r} AS (SELECT a, b, n FROM p{r} ORDER BY n DESC, a, b LIMIT 1)""")
        if r < k:
            parts.append(f""",
w{r} AS (
  SELECT replace(w.s, '|' || t.a || '|  |' || t.b || '|', '|' || t.a || t.b || '|') AS s, cnt
  FROM w{r - 1} w, t{r} t
)""")
    sel = "\nUNION ALL\n".join(
        f'SELECT {r} AS rank, a AS "left", b AS "right", n AS pair_count FROM t{r}'
        for r in range(1, k + 1)
    )
    parts.append(f"\nSELECT * FROM (\n{sel}\n) ORDER BY rank")
    return "".join(parts)


@register("bpe_train_merges", _bpe_train_oracle())
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn 8 BPE merges from the alphabetic word vocabulary of the
    document corpus (operators/bpe.py) — an ITERATIVE trainer under the
    VALUE-EXACT gate: the oracle unrolls the same fixed-K loop into a CTE
    chain over the guarded string encoding, so every learned (left,
    right, pair_count) row is checked merge-for-merge against an
    independent engine (plus the pure-Python differential in
    tests/test_bpe.py).  Determinism: pair argmax ties break on (n DESC,
    left, right) in both engines; min_pair_count=1 mirrors the oracle's
    unconditional LIMIT 1 per round.

    Scale: one corpus-sized word-frequency reduction, then every round is
    O(|vocab|) — explode adjacent symbol pairs, one hash agg, a 1-row
    argmax to the driver, a narrow merge fold, one fixpoint-driver round
    (operators/fixpoint.py). The corpus is touched exactly once
    regardless of merge count."""
    from ..operators.bpe import bpe_train_df

    docs = _t(spark, sf_dir, "documents")
    return bpe_train_df(
        docs,
        num_merges=_BPE_TRAIN_K,
        min_pair_count=1,
        token_pattern="^[a-z]+$",
    )


# ---------------------------------------------------------------------------
# bpe_segment_counts — value-exact BPE APPLY (fixed merge table)
# ---------------------------------------------------------------------------

#: Fixed literal merge table (common-English merges) — sf-independent, so
#: the same literals appear in the Spark plan and the SQL twin.
_BPE_MERGES = [
    ("e", "r"), ("er", "</w>"), ("t", "h"), ("th", "e"), ("the", "</w>"),
    ("i", "n"), ("o", "n"), ("a", "n"),
]


def _bpe_sql_segments() -> str:
    """The SQL twin of bpe.bpe_segment_string: guarded encoding + chained
    replace() calls for the fixed merge table."""
    s = "regexp_replace(word, '(.)', '|\\1|  ', 'g') || '|</w>|'"
    for a, b in _BPE_MERGES:
        s = f"replace({s}, '|{a}|  |{b}|', '|{a}{b}|')"
    return s


_BPE_SEG_ORACLE = f"""
WITH words AS (
  SELECT d.source, w.word
  FROM documents d,
       unnest(list_filter(regexp_split_to_array(lower(d.text), '\\s+'),
                          x -> regexp_matches(x, '^[a-z]+$'))) AS w(word)
), seg AS (
  SELECT source, word,
         ((length({_bpe_sql_segments()})
           - length(replace({_bpe_sql_segments()}, '  ', ''))) // 2 + 1)
         AS n_seg
  FROM words
)
SELECT source,
       count(*)::BIGINT AS n_words,
       sum(n_seg)::BIGINT AS total_segments,
       {_DR6.format(x='CAST(sum(n_seg) AS DOUBLE) / count(*)')} AS avg_segments
FROM seg GROUP BY source ORDER BY source
"""


@register("bpe_segment_counts", _BPE_SEG_ORACLE)
def q_bpe_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE APPLY under the value-exact gate: segment every alphabetic word
    with a fixed 8-merge table via the guarded string-replace formulation
    (operators/bpe.bpe_segment_count — replace() is leftmost-greedy
    non-overlapping in BOTH engines, which IS the BPE merge rule under
    the pipe-guard encoding), and aggregate segment counts per source.
    The alphabetic filter is the encoding's documented precondition
    (symbols must not contain '|' or spaces).

    Scale: the 8-merge guarded-replace chain is a DEEP string
    expression, and natural-language word frequencies are Zipfian, so
    the tokenizer is applied to DISTINCT (source, word) pairs only (a
    map-side-combinable count agg first — 620 distinct pairs vs 270k
    occurrences at sf0.1) and the per-word segment counts are folded
    back frequency-weighted: sum(n_seg * cnt) over exact longs is
    bit-identical to sum(n_seg) over occurrences, in any order
    (optimization guide §1.2 step 2 — make the per-row work run on
    fewer rows; measured 1.1 -> 0.75 s at sf0.1, 1.5x).  The trailing
    agg is a 5-group hash agg; the trainer twin (`bpe_train_merges`)
    is iterative and rows-only; THIS query gives the tokenize loop its
    value-exact driver signal."""
    from ..operators.bpe import bpe_segment_count

    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "source",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), r"\s+"),
                lambda t: t.rlike("^[a-z]+$"),
            )
        ).alias("word"),
    )
    wc = words.groupBy("source", "word").agg(F.count(F.lit(1)).alias("cnt"))
    n_seg = bpe_segment_count(F.col("word"), _BPE_MERGES)
    return (
        wc.select("source", "cnt", n_seg.alias("n_seg"))
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("n_seg") * F.col("cnt")).alias("total_segments"),
            dround(
                F.sum(F.col("n_seg") * F.col("cnt")).cast("double")
                / F.sum("cnt").cast("double"),
                6,
            ).alias("avg_segments"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# zorder_clustering_preview — Morton layout extents (multi-column pruning)
# ---------------------------------------------------------------------------

#: SQL twin of operators/layout.zvalue for 8-bit buckets: the identical
#: shift/mask interleave, generated once here so both engines share it.
def _z_sql(a: str, b: str, bits: int = 8) -> str:
    cap = (1 << bits) - 1
    ac = f"least(greatest({a}, 0), {cap})"
    bc = f"least(greatest({b}, 0), {cap})"
    terms = []
    for i in range(bits):
        terms.append(f"((({ac} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({bc} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


_ZORDER_ORACLE = f"""
WITH b AS (
  SELECT (o_custkey % 256)::BIGINT AS ck,
         ((epoch_us(o_orderdate) // 86400000000) % 256)::BIGINT AS dy,
         o_totalprice
  FROM orders
), z AS (
  SELECT ck, dy, o_totalprice, ({_z_sql('ck', 'dy')})::BIGINT AS zv FROM b
)
SELECT (zv >> 12)::BIGINT AS z_bucket,
       count(*)::BIGINT AS n_rows,
       min(ck)::BIGINT AS ck_min, max(ck)::BIGINT AS ck_max,
       min(dy)::BIGINT AS dy_min, max(dy)::BIGINT AS dy_max,
       CAST(round(CAST(sum(o_totalprice) AS DECIMAL(28,8)), 2) AS DOUBLE)
         AS sum_price
FROM z GROUP BY 1 ORDER BY z_bucket
"""


@register("zorder_clustering_preview", _ZORDER_ORACLE)
def q_zorder_clustering_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering preview over orders, keyed on
    (customer bucket, order-day bucket): interleave the two 8-bit keys
    (operators/layout.zvalue — pure shift/mask Column math, identical SQL
    twin), group by fixed-width z-buckets (top bits of z — deterministic
    stand-ins for the files a range-partitioned write produces), and
    report each bucket's row count and min/max EXTENT in both dimensions.

    Small per-bucket extents in BOTH columns simultaneously is the Morton
    locality property that makes multi-column parquet min/max pruning
    work — this query pins the layout transform's arithmetic under the
    value-exact gate, while `layout.zorder_by` is the physical
    repartitionByRange form a writer uses.

    Scale: a projection plus one hash agg on the z-bucket key; the
    physical form adds exactly one range exchange before the write."""
    from ..operators.layout import zvalue

    orders = _t(spark, sf_dir, "orders")
    ck = (F.col("o_custkey") % 256).cast("long")
    dy = (
        (F.unix_micros(F.col("o_orderdate")) / F.lit(86_400_000_000)).cast("long")
        % 256
    )
    z = zvalue(ck, dy, bits=8)
    return (
        orders.select(
            ck.alias("ck"), dy.alias("dy"), "o_totalprice", z.alias("zv")
        )
        .groupBy(F.shiftright(F.col("zv"), 12).alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("ck").alias("ck_min"),
            F.max("ck").alias("ck_max"),
            F.min("dy").alias("dy_min"),
            F.max("dy").alias("dy_max"),
            dround(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .orderBy("z_bucket")
    )


# ---------------------------------------------------------------------------
# compaction_plan_bins — small-files compaction planning (layout ops)
# ---------------------------------------------------------------------------

_COMPACT_ORACLE = """
WITH manifest AS (
  SELECT 'part-' || lpad((l_orderkey % 40)::VARCHAR, 4, '0') AS file_name,
         (sum(CAST(l_quantity * 100 AS BIGINT)) + 500 * count(*))::BIGINT
           AS bytes
  FROM lineitem GROUP BY 1
), cum AS (
  SELECT file_name, bytes,
         sum(bytes) OVER (ORDER BY bytes DESC, file_name
                          ROWS UNBOUNDED PRECEDING) AS cum_bytes
  FROM manifest
), planned AS (
  SELECT file_name, bytes,
         ((cum_bytes - bytes) // 20000000)::BIGINT AS bin
  FROM cum
)
SELECT bin,
       count(*)::BIGINT AS n_files,
       sum(bytes)::BIGINT AS total_bytes,
       min(bytes)::BIGINT AS min_file, max(bytes)::BIGINT AS max_file
FROM planned GROUP BY bin ORDER BY bin
"""


@register("compaction_plan_bins", _COMPACT_ORACLE)
def q_compaction_plan_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planning (operators/layout.compaction_plan):
    contiguous next-fit over the size-DESC manifest — bin = exact
    cumulative start offset // target — then the per-bin report an
    OPTIMIZE job would execute.  The manifest here is synthesized
    deterministically from lineitem (40 pseudo-files with exact byte
    proxies) so the planner's arithmetic sits under the value-exact gate;
    production feeds `_metadata.file_path`/`file_size` from any parquet
    scan (single-file test fixtures make the real manifest degenerate).

    Scale: planning is metadata-sized, and the only ordered step is the
    range-partitioned two-phase scan — a 100M-file manifest plans without
    a single-partition window."""
    from ..operators.layout import compaction_plan

    li = _t(spark, sf_dir, "lineitem")
    manifest = (
        li.groupBy((F.col("l_orderkey") % 40).alias("g"))
        .agg(
            (
                F.sum((F.col("l_quantity") * 100).cast("long"))
                + F.lit(500) * F.count(F.lit(1))
            ).alias("bytes")
        )
        .select(
            F.concat(
                F.lit("part-"), F.lpad(F.col("g").cast("string"), 4, "0")
            ).alias("file_name"),
            "bytes",
        )
    )
    plan = compaction_plan(manifest, target_bytes=20_000_000)
    return (
        plan.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("bytes").alias("total_bytes"),
            F.min("bytes").alias("min_file"),
            F.max("bytes").alias("max_file"),
        )
        .orderBy("bin")
    )
