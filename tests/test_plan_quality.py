"""Physical-plan quality gates — the 100 TB design contract, asserted.

These tests pin the *plan shape*, not results: filters reach the parquet
scan, scans prune columns, dimension joins broadcast, the whole W1-W7
feature block costs a single shuffle, and top-k never globally sorts. A
regression here is a scale regression even if every value stays correct.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

from advanced_elb_logs_etl_spark.operators.sessions import add_session_features
from advanced_elb_logs_etl_spark.plans.catalog import CATALOG
from advanced_elb_logs_etl_spark.sources.testdata import load_table

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    """error_report's IN-list filter must appear in PushedFilters."""
    df = CATALOG["error_report"][0](spark, SF)
    scan = df._jdf.queryExecution().sparkPlan().toString()
    assert "PushedFilters" in scan
    assert "In(event_type" in scan, scan[:2000]


def test_column_pruning(spark):
    """A two-column projection must not read the full events schema."""
    ev = load_table(spark, SF, "events")
    df = ev.select("event_id", "user_id")
    scan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in scan
    read_schema = scan.split("ReadSchema:")[1].splitlines()[0]
    assert "value" not in read_schema and "props" not in read_schema


def test_dim_join_is_broadcast(spark):
    """Geo-style dimension joins must be broadcast hash joins (no shuffle
    of the fact side)."""
    plan = _plan(CATALOG["dim_enrich_join"][0](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_window_block_single_shuffle(spark):
    """The full W1-W7 feature block (lag/diff/session/cumsum/2 rolling
    windows) must hash-partition by the session key exactly ONCE."""
    ev = load_table(spark, SF, "events").withColumnRenamed("ts", "time")
    out = add_session_features(
        ev, key="user_id", ts="time", proc_time_col="value", request_col="event_type"
    )
    plan = _plan(out)
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exchanges) == 1, f"expected 1 shuffle, got {len(exchanges)}:\n" + "\n".join(exchanges)


def test_pipeline_e2e_plan_shape(spark):
    """The end-to-end pipeline query (parse -> enrich -> features -> hourly)
    must broadcast both dimension joins (fact side never shuffles for a
    join) and keep the whole path JVM-side."""
    plan = _plan(CATALOG["pipeline_e2e_hourly"][0](spark, SF))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_topk_uses_take_ordered(spark):
    """LIMIT+ORDER BY must plan TakeOrderedAndProject (per-partition heaps),
    never a global Sort."""
    plan = _plan(CATALOG["topk_orders"][0](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_aggregation_has_partial_phase(spark):
    """The pricing summary must use partial (map-side) aggregation."""
    plan = _plan(CATALOG["pricing_summary"][0](spark, SF))
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_parser_is_udf_free(spark):
    """The ALB parse path must contain no Python UDF (BatchEvalPython) —
    everything stays JVM-side."""
    from advanced_elb_logs_etl_spark.operators.parse import parse_alb_lines

    raw = spark.createDataFrame([("x",)], "value string")
    plan = _plan(parse_alb_lines(raw))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_anti_join_streams_fact_side(spark):
    """The cache-miss probe must broadcast the small side of the anti-join."""
    plan = _plan(CATALOG["anti_join_uncached"][0](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Two tables bucketed+sorted on the join key must sort-merge join with
    ZERO Exchange — the write-once-shuffle-never pattern for 100 TB facts."""
    from advanced_elb_logs_etl_spark.sources.bucketing import read_table, write_bucketed

    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        ev = load_table(spark, SF, "events")
        write_bucketed(ev.select("event_id", "user_id", "value"), "b_events",
                       bucket_by="user_id", num_buckets=4, sort_by="user_id")
        write_bucketed(ev.select(F.col("user_id").alias("user_id"), "event_type").distinct(),
                       "b_users", bucket_by="user_id", num_buckets=4, sort_by="user_id")
        joined = read_table(spark, "b_events").join(read_table(spark, "b_users"), "user_id")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan[:3000]
        # groupBy on the bucket key also skips its shuffle
        agg = read_table(spark, "b_events").groupBy("user_id").count()
        assert "Exchange" not in _plan(agg)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_events")
        spark.sql("DROP TABLE IF EXISTS b_users")


def test_blocked_neardup_no_cross_join(spark):
    """embedding_neardup_blocked's candidate generation must be a cluster
    EQUI-join; the only nested-loop join allowed is the tiny centroid
    broadcast inside assign_clusters. A CartesianProduct anywhere means the
    blocking regressed to all-pairs."""
    from advanced_elb_logs_etl_spark.plans.catalog_llm import q_embedding_neardup_blocked

    plan = _plan(q_embedding_neardup_blocked(spark, SF))
    assert "CartesianProduct" not in plan
    # the pair self-join duplicates the assign_clusters subtree (one per
    # side), so exactly TWO 16-row centroid-broadcast BNLJs are expected;
    # any more would mean a vector-pair nested loop crept in
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan[:3000]


def test_chunk_and_mix_are_shuffle_free(spark):
    """chunk_documents and epoch_mix are narrow generate+explode passes —
    ANY Exchange in their plans means a reshaping operator started paying a
    shuffle it never needed."""
    from advanced_elb_logs_etl_spark.plans.catalog_llm import (
        q_chunk_documents,
        q_epoch_mix,
    )

    for q in (q_chunk_documents, q_epoch_mix):
        plan = _plan(q(spark, SF))
        assert "Exchange" not in plan, plan[:2000]


def test_funnel_shuffles_only_on_user(spark):
    """Every Exchange in the funnel plan must hash on user_id — a shuffle on
    any other key would mean a stage re-partitions the stream needlessly."""
    import re

    from advanced_elb_logs_etl_spark.plans.catalog import q_funnel

    plan = _plan(q_funnel(spark, SF))
    assert "CartesianProduct" not in plan
    for m in re.finditer(r"Exchange hashpartitioning\(([^,]+),", plan):
        assert "user_id" in m.group(1), m.group(0)


# ---------------------------------------------------------------------------
# round-3 wave plan pins
# ---------------------------------------------------------------------------


def test_q16_broadcasts_part_dim(spark):
    """parts_supplier_q16: part is dimension-shaped — must broadcast onto
    the lineitem scan, never sort-merge (which would shuffle the fact)."""
    plan = _plan(CATALOG["parts_supplier_q16"][0](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q10_topk_no_global_sort(spark):
    """returned_item_q10's top-20 must run as TakeOrderedAndProject —
    a global Sort before a limit is the scale bug this test forbids."""
    plan = _plan(CATALOG["returned_item_q10"][0](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_q4_semi_join_no_nested_loop(spark):
    """order_priority_q4's EXISTS with a non-equi ship-late predicate must
    still plan a hash LeftSemi on the equi orderkey (extra condition rides
    the join) — not BroadcastNestedLoopJoin."""
    plan = _plan(CATALOG["order_priority_q4"][0](spark, SF))
    assert "LeftSemi" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_levenshtein_pairs_are_blocked(spark):
    """levenshtein_block_pairs must self-join via the source equi key —
    no cartesian/nested-loop all-pairs form."""
    plan = _plan(CATALOG["levenshtein_block_pairs"][0](spark, SF))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_first_last_is_single_aggregation(spark):
    """first_last_by_key must be ONE hash agg (min_by/max_by struct form),
    not a window sort: no Window operator, one exchange on user_id."""
    plan = _plan(CATALOG["first_last_by_key"][0](spark, SF))
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan[:3000]


def test_run_length_single_exchange_sort(spark):
    """sequential_dedup_runs: the lag + running-sum windows must share one
    (user_id, ts, event_id) Exchange+Sort; downstream aggs reuse the
    partitioning, so exactly one hashpartitioning on raw rows."""
    plan = _plan(CATALOG["sequential_dedup_runs"][0](spark, SF))
    import re

    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len([e for e in exchanges if "user_id" in e and "run_id" not in e]) <= 1, plan[:3000]


def test_single_exchange_window_agg_queries(spark):
    """autocorr_lag1 and time_weighted_avg: the lag/lead window and the
    per-key aggregation must share ONE hashpartitioning on the key."""
    import re

    for name in ("autocorr_lag1", "time_weighted_avg"):
        plan = _plan(CATALOG[name][0](spark, SF))
        exchanges = re.findall(r"Exchange hashpartitioning\(([^,)]+)", plan)
        assert len(exchanges) == 1 and "user_id" in exchanges[0], (name, exchanges)


def test_winsorize_broadcasts_bounds(spark):
    """winsorize_values: the 5-row percentile-bounds frame must broadcast
    back onto the fact scan, never sort-merge."""
    plan = _plan(CATALOG["winsorize_values"][0](spark, SF))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_profile_approx_has_no_expand(spark):
    """profile_table(exact=False) must drop the multi-distinct Expand —
    the whole point of the approx path at 100 TB. Pinned on the OPERATOR:
    the catalog gate query (profile_table_approx) deliberately runs both
    profiles to hash-cover the sketch's error bound, so its plan carries
    the exact lane's Expand by design."""
    from advanced_elb_logs_etl_spark.operators import warehouse
    from advanced_elb_logs_etl_spark.sources.testdata import load_table

    orders = load_table(spark, SF, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus"]
    exact_plan = _plan(warehouse.profile_table(orders, cols))
    approx_plan = _plan(warehouse.profile_table(orders, cols, exact=False))
    assert "Expand" in exact_plan  # sanity: exact path does expand
    assert "Expand" not in approx_plan


def test_r4_interval_and_containment_joins_are_equi(spark):
    """The round-4 pair joins must plan as hash EQUI-joins on their blocking
    keys — a CartesianProduct means the band/block degenerated to
    all-pairs."""
    for name in ("interval_overlap_join", "doc_minhash_containment"):
        plan = _plan(CATALOG[name][0](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_r4_salted_join_broadcasts_dim(spark):
    """skew_salted_join: the x16 salt-expanded dim must broadcast — the
    fact side never shuffles for the join (its only Exchange is the final
    aggregation)."""
    plan = _plan(CATALOG["skew_salted_join"][0](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_r4_unpivot_is_expand_single_shuffle(spark):
    """unpivot_metrics: the melt is an in-place Expand; exactly one
    aggregation Exchange in the whole plan."""
    plan = _plan(CATALOG["unpivot_metrics"][0](spark, SF))
    assert "Expand" in plan
    # one agg exchange + possibly the orderBy range exchange; no join/extra
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]


def test_r4_attribution_has_no_self_join(spark):
    """event_attribution_last_touch replaces the purchases x clicks
    self-join with one running-max window: no join operator at all."""
    plan = _plan(CATALOG["event_attribution_last_touch"][0](spark, SF))
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert op not in plan, op


def test_r4_ua_classifier_is_udf_free(spark):
    """The vendored UA rule chain compiles to pure Column CASE/rlike —
    no Python evaluation node may appear."""
    plan = _plan(CATALOG["ua_family_counts"][0](spark, SF))
    for op in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert op not in plan, op


# ---------------------------------------------------------------------------
# TPC-H completion wave (catalog_tpch.py)
# ---------------------------------------------------------------------------


def test_q21_exists_chain_is_hash_semi_anti(spark):
    """waiting_supplier_q21's EXISTS / NOT EXISTS must plan as hash
    LeftSemi / LeftAnti on the equi orderkey (the suppkey inequality rides
    as a residual) — never a nested-loop form."""
    plan = _plan(CATALOG["waiting_supplier_q21"][0](spark, SF))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_q2_correlated_min_is_window_not_self_join(spark):
    """min_cost_supplier_q2 re-expresses the correlated min subquery as a
    window over the part key: exactly one Window operator and no
    nested-loop join."""
    plan = _plan(CATALOG["min_cost_supplier_q2"][0](spark, SF))
    assert plan.count("Window") >= 1
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_q6_filters_push_into_scan(spark):
    """forecast_revenue_q6's shipdate/discount/quantity predicates must
    reach the parquet scan as PushedFilters."""
    plan = _plan(CATALOG["forecast_revenue_q6"][0](spark, SF))
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]


def test_q11_threshold_is_broadcast_not_collect(spark):
    """important_value_q11's scalar threshold joins back as a broadcast —
    the 1-row aggregate must appear in-plan (no driver-side collect)."""
    plan = _plan(CATALOG["important_value_q11"][0](spark, SF))
    assert "Broadcast" in plan


def test_q8_dimensions_broadcast(spark):
    """market_share_q8: the only sort-merge/shuffled join keys allowed are
    the lineitem |><| orders orderkey — every dimension hop broadcasts."""
    plan = _plan(CATALOG["market_share_q8"][0](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 5


# ---------------------------------------------------------------------------
# graph wave (catalog_graph.py)
# ---------------------------------------------------------------------------


def test_triangle_census_all_joins_are_hash(spark):
    """triangle_census: wedge build and closure probe are equi hash joins —
    an OR-of-orientations closure predicate would fall back to
    BroadcastNestedLoopJoin over every wedge (the bug this pin guards)."""
    plan = _plan(CATALOG["triangle_census"][0](spark, SF))
    # the only nested-loop joins allowed are the final 1-row stats
    # crossJoins; any Inner NL join means the closure probe degenerated
    nl = [l for l in plan.splitlines() if "NestedLoop" in l or "CartesianProduct" in l]
    assert all("Cross" in l for l in nl), nl
    # r7: the closure probe (pair-keyed [u, v] join) is HINTED
    # ShuffledHashJoin — without the hint it crosses into a sort-merge
    # join above the broadcast threshold and SORTS the O(m^1.5) wedge
    # stream (SCALE.md: 110.6 -> 24.3 s at 10x).  The wedge SELF-join
    # (single src key) may stay SMJ: it sorts only the edge-sized
    # INPUTS, never the wedge output.  Assert no SMJ carries the
    # two-column pair key.
    import re

    smj_pair = [
        l for l in plan.splitlines()
        if re.search(r"SortMergeJoin \[u#\d+L?, v#\d+L?\]", l.strip())
    ]
    assert not smj_pair, f"closure probe fell into SMJ: {smj_pair}"


def test_graph_jaccard_seed_adjacency_broadcasts(spark):
    """graph_jaccard_topk's wedge probe must broadcast the seed adjacency
    (seed-restricted), not shuffle the full adjacency twice."""
    plan = _plan(CATALOG["graph_jaccard_topk"][0](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# sketch wave (catalog_sketch.py)
# ---------------------------------------------------------------------------


def test_heavy_hitters_prunes_before_global_shuffle(spark):
    """heavy_hitters_exact: pass-1 groups by (partition id, key) and the
    candidate probe is a LeftSemi — the full-cardinality groupBy never
    reaches the exchange unfiltered."""
    plan = _plan(CATALOG["heavy_hitters_exact"][0](spark, SF))
    assert "SPARK_PARTITION_ID" in plan.upper() or "spark_partition_id" in plan
    assert "LeftSemi" in plan


def test_f2_moment_two_stage_agg(spark):
    """f2_moment_users is two hash aggregations (per-key counts, then the
    1-row moment re-agg) with no window/sort."""
    plan = _plan(CATALOG["f2_moment_users"][0](spark, SF))
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2


# ---------------------------------------------------------------------------
# round-4b/4c waves (catalog_r4b.py / catalog_r4c.py)
# ---------------------------------------------------------------------------


def test_grouping_sets_single_expand_single_agg(spark):
    """grouping_sets_pricing: GROUPING SETS must compile to ONE Expand
    feeding one partial+final hash-agg pair — no per-granularity rescan,
    no union of aggregates."""
    plan = _plan(CATALOG["grouping_sets_pricing"][0](spark, SF))
    assert plan.count("Expand") == 1
    assert "Union" not in plan


def test_ks_and_rfm_use_range_scan_not_global_window(spark):
    """The two-phase scan underpinning ks/rfm must be range-partitioned.
    Since global_cumsum gained its eager pin (round 5), the scan executes
    at checkpoint time and the QUERY plans show a pinned RDD scan — so the
    range-partitioning contract is asserted on the operator's lazy form
    (pin=False), plus the query plans must NOT have re-grown a global
    data window."""
    from advanced_elb_logs_etl_spark.operators import stats

    ev = load_table(spark, SF, "events").select("event_id", "value")
    lazy = _plan(
        stats.global_cumsum(ev, ["value", "event_id"], ["value"], pin=False)
    ).lower()
    assert "rangepartitioning" in lazy
    # A data window may appear (r15: rfm's fused melt keeps the two-phase
    # scan lazy behind pin="defer", so its partition-local window is
    # visible in the plan again), and so may the global offsets window
    # over the num_ranges-row frame, which orders by the range id `_pid`
    # alone.  A global window ordered by anything else is the
    # single-task data window this test exists to forbid.
    from pyspark.sql import Window

    planted = ev.withColumn("r", F.row_number().over(Window.orderBy("value")))
    assert _global_data_windows(_plan(planted))  # the guard can fail
    for name in ("ks_two_sample_values", "rfm_segmentation"):
        plan = _plan(CATALOG[name][0](spark, SF))
        assert not _global_data_windows(plan), name


def _global_data_windows(plan: str) -> list[str]:
    """Global Window lines (tools/plan_lint.py's parse) whose ordering is
    not exactly the `_pid` range id."""
    from plan_lint import _window_nodes, bracket_groups

    bad = []
    for line, is_global in _window_nodes(plan):
        groups = bracket_groups(line)
        keys = groups[-1][1:-1].split(", ") if len(groups) == 2 else [""]
        if is_global and not all(k.startswith("_pid#") for k in keys):
            bad.append(line)
    return bad


def test_chi2_and_mi_margins_broadcast(spark):
    """chi_square / mutual_information: margin and total frames join back
    by broadcast — the contingency cells never sort-merge."""
    for name in ("chi_square_type_bucket", "mutual_information"):
        plan = _plan(CATALOG[name][0](spark, SF))
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_referential_integrity_anti_joins(spark):
    """referential_integrity_audit: every orphan probe is a hash LeftAnti
    (no cartesian); the 1-row report frames combine via broadcast."""
    plan = _plan(CATALOG["referential_integrity_audit"][0](spark, SF))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_centroid_cosine_is_udf_free(spark):
    """centroid_cosine_outliers: decimal-snapped float reductions stay
    JVM-side — no Python evaluation anywhere in the plan."""
    plan = _plan(CATALOG["centroid_cosine_outliers"][0](spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ewma_is_single_window_block(spark):
    """ewma_control_chart: the trailing-frame fold plus the recency rank
    share one hash partitioning by series key (two Window ops, and only
    the final ORDER BY adds a further exchange)."""
    df = CATALOG["ewma_control_chart"][0](spark, SF)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.lower().count("hashpartitioning(event_type") <= 2


def test_rules_battery_zero_exchange(spark):
    """gopher_rules_battery is ONE narrow projection over the scan — any
    Exchange means a per-document rule started paying a shuffle."""
    plan = _plan(CATALOG["gopher_rules_battery"][0](spark, SF))
    assert "Exchange" not in plan, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semantic_dedup_exemplar_is_aggregated(spark):
    """The SemDeDup exemplar pick must stay a hash aggregation, never a
    per-component Window: partitionBy(component) would sort a giant
    all-duplicates component inside one task (the r8 skew fix)."""
    plan = _plan(CATALOG["semantic_dedup_corpus"][0](spark, SF))
    assert "Window" not in plan, plan[:2000]


def test_bm25_topk_is_take_ordered_and_udf_free(spark):
    """BM25 selection must compile to TakeOrdered (per-partition top-k +
    k-row merge), never a global sort of the scored corpus; scoring is
    pure Column math — no Python in the plan."""
    plan = _plan(CATALOG["bm25_topk"][0](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lm_selection_is_take_ordered(spark):
    """The fluency filter's k-document selection must be TakeOrdered —
    a global sort of per-doc NLL rows would single-task a 100 TB
    corpus's score frame."""
    plan = _plan(CATALOG["lm_perplexity_filter"][0](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pq_production_search_is_udf_free(spark):
    """PQ ADC search: LUTs ride as plan literals, distances are integer
    Column math over the codes array — no Python evaluation anywhere in
    the production search plan."""
    from advanced_elb_logs_etl_spark.plans.catalog import PRODUCTION_FORMS

    plan = _plan(PRODUCTION_FORMS["pq_adc_topk"](spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def _executed_metric_sum(df, node_name: str, metric_key: str) -> int:
    """Sum a SQLMetric over all executed-plan nodes named node_name —
    run AFTER an action; descends AQE query stages."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    total = 0

    def walk(node):
        nonlocal total
        if node.nodeName().startswith(node_name):
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == metric_key:
                    total += kv._2().value()
        ch = node.children()
        for i in range(ch.length()):
            walk(ch.apply(i))
        if "QueryStage" in node.nodeName():
            try:
                walk(node.plan())
            except Exception:
                pass

    walk(plan)
    return total


def test_pricing_shuffle_carries_partials_not_rows(spark):
    """Map-side combine MEASURED, not just asserted from plan shape: the
    flagship aggregation's Exchange must write per-(partition, group)
    partial records — a handful — while the scan emits thousands of
    rows. A regression to row-shuffling (e.g. a non-combinable agg
    rewrite) multiplies the records by orders of magnitude."""
    df = CATALOG["pricing_summary"][0](spark, SF)
    df.collect()
    scanned = _executed_metric_sum(df, "Scan parquet", "numOutputRows")
    shuffled = _executed_metric_sum(df, "Exchange", "shuffleRecordsWritten")
    assert scanned >= 1000, scanned
    # |groups| x map partitions: 6 groups, single-file scan -> tiny
    assert 0 < shuffled <= 64, (shuffled, scanned)


def test_sessionize_shuffles_rows_exactly_once_measured(spark):
    """The measured form of the W1-W7 single-shuffle contract (the
    string form is test_window_block_single_shuffle): the window block
    must move each data row through an Exchange EXACTLY once — total
    shuffle records written == rows entering the window block. A second
    row-shuffle doubles the measured count even if some future plan
    shape confuses the string match."""
    ev = load_table(spark, SF, "events").withColumnRenamed("ts", "time")
    out = add_session_features(
        ev, key="user_id", ts="time", proc_time_col="value",
        request_col="event_type",
    )
    n = len(out.collect())  # execute THIS frame's QueryExecution
    rows = _executed_metric_sum(out, "Scan parquet", "numOutputRows")
    shuffled = _executed_metric_sum(out, "Exchange", "shuffleRecordsWritten")
    assert n > 0 and rows >= n  # scan may emit more pre-filter rows
    # exactly one row-shuffle: every surviving row crosses one Exchange
    assert n <= shuffled <= rows, (rows, shuffled, n)
