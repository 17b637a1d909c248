#!/usr/bin/env python
"""Catalog-wide physical-plan lint: audit EVERY registered query's plan for
scale anti-patterns, not just the pinned headliners.

Checks per query (executed plan at sf0.001 — plan SHAPE is scale-invariant
even though AQE may pick broadcast sizes differently at real scale):

  CARTESIAN      CartesianProduct / BroadcastNestedLoopJoin (1-row report
                 frames cross-joining is fine and excluded by allowlist)
  PY_ROW_UDF     BatchEvalPython (row-at-a-time Python) anywhere
  GLOBAL_WINDOW  a Window node with an EMPTY partition spec (single-
                 partition data window) — the scalable rewrite is
                 operators/stats.py global_cumsum
  SCAN_FANOUT    more than MAX_SOURCE_SCANS source-scan nodes in one
                 executed plan — the lazy re-derivation class the r12
                 sweep caught in neyman_allocation_report (64 corpus
                 scans); the fix is localCheckpoint on the bounded
                 frame before fanning out (VERDICT r12 item 5's
                 standing gate)

Documented exceptions live in the ALLOW maps — each entry names the query,
the check it may trip, and WHY that is intentional. The pytest twin
(tests/test_plan_lint.py) asserts the catalog stays clean modulo ALLOW, so
a new query with a cartesian, a Python row UDF, or a global data window
fails CI, not review.

The lint also reports allowlist entries a full run never exercises
(verified identical at sf0.001 and sf0.01 — plan shape is scale-invariant
for these checks), and the pytest twin FAILS on them: the allowlist must
shrink, not accrete (VERDICT r4 item 7 — round 5 pruned 17 cartesian and
9 global-window entries that were defensive, plus the ks/rfm/ntile offset
windows that moved behind global_cumsum's eager pin and no longer appear
in any audited plan).

Usage: python tools/plan_lint.py [sf_dir]   (prints a report, exit 1 on
unallowed findings)
"""

from __future__ import annotations

import sys

#: (query -> reason) for intentional cartesian/nested-loop joins.
#: Pattern A: 1-row statistic/report frames combined at the plan root.
#: Pattern B: documented brute-force ground-truth variants.
CARTESIAN_ALLOW: dict[str, str] = {
    "hll_shard_union": "1-row sketch estimate x 1-row exact count (bound check)",
    "ivf_cosine_topk": "three 1-row count frames stitched for the recall bound",
    "set_ops_battery": "six 1-row count frames cross-joined",
    "null_semantics_battery": "five 1-row report frames",
    "referential_integrity_audit": "six 1-row audit counters",
    "ks_two_sample_values": "1-row n_a/n_b frame broadcast",
    "chi_square_type_bucket": "1-row N total broadcast",
    "mutual_information": "1-row margins/total frames",
    "rfm_segmentation": "1-row count frame for the fused ntile pass (r15)",
    "event_cooccurrence_lift": "1-row user-count frame",
    "temperature_mix_sample": "1-row sum(c^tau) frame",
    "triangle_census": "three 1-row census aggregates combined",
    "tfidf_top_terms": "1-row corpus doc-count frame (IDF denominator)",
    "embedding_neardup_pairs": "exact all-pairs ground truth (300-vec slice)",
    "ann_cosine_topk": "8 broadcast query vectors x corpus — brute-force baseline",
    "knn_label_vote": "broadcast query block x candidate set",
    "important_value_q11": "1-row global HAVING-threshold frame (TPC-H Q11 shape)",
    "global_sales_q22": "1-row avg-acctbal threshold frame (TPC-H Q22 shape)",
    "ivf_cosine_topk": "query block x 16-centroid probe assignment (bounded)",
    "ntile_latency_buckets": "1-row count frame of the scalable_ntile pass",
    "unigram_logprob_score": "1-row corpus-token-total frame (broadcast IDF-style denominator)",
    "time_to_conversion": "1-row signup-count frame joined to the 1-row latency report",
    "cohens_kappa": "1-row agreement total x 1-row chance-agreement frame",
    "triangle_count_sampled": "1-row edge count x 1-row sampled-census frame (+ census's internal 1-row combines)",
    "psi_value_drift": "10-bin cell frame x 1-row population totals",
    "km_survival": "14-row day spine x bounded day histogram + 1-row user total",
    "dsir_importance_topk": "B-row bucket frame x two 1-row corpus-total frames",
    "bm25_topk": "1-row corpus (n_docs, dl_sum) frame broadcast into idf/contrib",
    "lm_perplexity_filter": "1-row unk-floor scalar broadcast into scoring",
    "pq_adc_topk": "three 1-row count frames stitched for the recall bound (the ivf pattern)",
    "cm_point_frequency": "1-row cm_check_geometry guard frame broadcast into the probe side",
    "stream_cm_point_frequency": "1-row cm_check_geometry guard frame broadcast into the probe side",
    "kmv_distinct_setops": "five 1-row estimate/exact report frames stitched (k-row sketches, never data)",
    "stream_kmv_distinct": "1-row estimate x 1-row exact count (the hll_shard_union shape)",
    "butterfly_census": "three 1-row census aggregates combined (the triangle_census shape)",
    "cm_join_size": "1-row sketch estimate x 1-row exact join count (the hll_shard_union bound-check shape)",
    "leakage_safe_split_report": "3-row per-split frame x 1-row leakage-audit counter",
    "neyman_allocation_report": "1-row weight-total/leftover frames broadcast into the strata apportionment",
    "quantile_sketch_report": "4-row quantile-estimate frame broadcast into the exact-rank corpus pass (bound check)",
    "rrf_hybrid_retrieval": "bm25 lane's 1-row corpus (n_docs, dl_sum) frame + brute-force lane's single broadcast query vector (both bounded; the fusion itself is k-row equi joins)",
}

#: (query -> reason) for Window nodes with an empty partition spec. Every
#: entry must be bounded input BY CONSTRUCTION (series-level frames,
#: partition-count offset frames), never raw data rows.
GLOBAL_WINDOW_ALLOW: dict[str, str] = {
    "running_distinct_users": "first-seen rewrite: window over per-day counts (bounded)",
    "month_over_month_revenue": "month-level series (bounded rows)",
    "freq_items_battery": "window-sum over the tiny heavy-hitter result",
    "benford_first_digit": "share window over the 9-row digit aggregate",
    "conditional_ratio_report": "share-of-total window over the 5-row event-type aggregate",
    "sequence_top_paths": "rank over the <=|types|^3 trigram aggregate (125 rows), never data",
    "ntile_latency_buckets": (
        "global_cumsum offsets window over the num_ranges-row partition-"
        "totals aggregate (32 rows, never data); was hidden behind the "
        "pin=True eager checkpoint until r7's pin='defer' exposed the "
        "lazy plan"
    ),
    "rfm_segmentation": (
        "same offsets window as ntile_latency_buckets: the r15 fused "
        "melt runs ONE global_cumsum pass under pin='defer', so the "
        "num_ranges-row (32-row, never data) offsets window is visible "
        "in the lazy plan"
    ),
    "neyman_allocation_report": (
        "largest-remainder row_number over the |strata|-row aggregate "
        "(5 rows, bounded by construction — the benford class)"
    ),
    "rrf_hybrid_retrieval": (
        "BM25 lane rank row_number over the 100-row TakeOrdered output "
        "(bounded by construction — the benford class)"
    ),
}

#: SCAN_FANOUT (VERDICT r12 item 5 — the standing version of the r12
#: sweep that caught neyman_allocation_report's lazy fan-out replaying
#: the corpus aggregate 64 times): count the SOURCE scan nodes
#: ("Scan parquet" / LocalTableScan — checkpointed ExistingRDD frames
#: are pinned by definition and don't count) in every executed plan and
#: fail above MAX_SOURCE_SCANS unless the query is allowlisted with its
#: reason.  A multi-table join legitimately scans each table once; a
#: count far above the table count means a bounded frame is being
#: re-derived from the corpus instead of localCheckpoint-pinned.
MAX_SOURCE_SCANS = 8
SCAN_FANOUT_ALLOW: dict[str, int] = {
    # pq_adc_topk: 8 scans are its documented recall-bound lanes — at
    # the cap already, pinned here so growth past 8 still fails.
    "pq_adc_topk": 8,
    # referential_integrity_audit: six FK audit lanes, each reading
    # ONLY its pruned key columns from its own table (lineitem/orders
    # scanned twice for different single columns) — you cannot audit 6
    # relations without reading each side, and every scan is
    # column-pruned to the key it checks.
    "referential_integrity_audit": 10,
}


def _source_scan_count(plan: str) -> int:
    """Source-scan nodes excluding InMemoryRelation subtrees: an
    InMemoryTableScan reads CACHED partitions — the child plan printed
    under its InMemoryRelation is provenance, not a re-scan, and it
    repeats at every cache reference (alternating_components: 12 cache
    references x 4 provenance scans = 48 apparent scans, 0 real)."""
    count = 0
    skip_indent: int | None = None
    for line in plan.splitlines():
        stripped = line.lstrip(" :+-*")
        indent = len(line) - len(stripped)
        if skip_indent is not None:
            if indent > skip_indent:
                continue
            skip_indent = None
        if stripped.startswith("InMemoryRelation"):
            skip_indent = indent
            continue
        if "Scan parquet" in stripped or stripped.startswith("LocalTableScan"):
            count += 1
    return count


def bracket_groups(line: str) -> list[str]:
    """The top-level ``[...]`` groups of a plan line, brackets included."""
    groups: list[str] = []
    depth, start = 0, None
    for i, ch in enumerate(line):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0 and start is not None:
                groups.append(line[start : i + 1])
                start = None
    return groups


def _window_nodes(plan: str):
    """Yield (line, is_global) per Window operator line.

    Node shapes: `Window [exprs], [part], [order]` (3 groups, keyed);
    `Window [exprs], [spec]` (2 groups) is partition-only (fine) when the
    spec has no ASC/DESC ordering, order-only (GLOBAL) when it does; and
    `Window [exprs]` (1 group) is a frame-over-everything total — also
    global."""
    for line in plan.splitlines():
        stripped = line.lstrip(" :+-*")
        if not stripped.startswith("Window "):
            continue
        groups = bracket_groups(stripped)
        if len(groups) >= 3:
            is_global = False
        elif len(groups) == 2:
            is_global = " ASC" in groups[1] or " DESC" in groups[1]
        else:
            is_global = True
        yield stripped, is_global


def lint(sf_dir: str = "/root/testdata/sf0.001"):
    sys.path.insert(0, "/root/repo")
    from advanced_elb_logs_etl_spark.session import get_spark
    from advanced_elb_logs_etl_spark.plans.catalog import CATALOG

    spark = get_spark(app_name="plan-lint", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    findings: list[tuple[str, str, str]] = []
    allowed: list[tuple[str, str]] = []
    for name, (fn, _oracle) in sorted(CATALOG.items()):
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # pragma: no cover — lint must list, not die
            findings.append((name, "PLAN_ERROR", str(exc)[:120]))
            continue

        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            if name in CARTESIAN_ALLOW:
                allowed.append((name, "CARTESIAN"))
            else:
                findings.append((name, "CARTESIAN", "cartesian/nested-loop join"))
        if "BatchEvalPython" in plan:
            findings.append((name, "PY_ROW_UDF", "row-at-a-time Python UDF"))
        n_scans = _source_scan_count(plan)
        cap = SCAN_FANOUT_ALLOW.get(name, MAX_SOURCE_SCANS)
        if n_scans > cap:
            findings.append(
                (name, "SCAN_FANOUT", f"{n_scans} source scans > cap {cap}")
            )
        elif name in SCAN_FANOUT_ALLOW:
            allowed.append((name, "SCAN_FANOUT"))
        for line, is_global in _window_nodes(plan):
            if is_global:
                if name in GLOBAL_WINDOW_ALLOW:
                    allowed.append((name, "GLOBAL_WINDOW"))
                else:
                    findings.append((name, "GLOBAL_WINDOW", line[:100]))
                break

    unused = [
        ("CARTESIAN", n)
        for n in sorted(set(CARTESIAN_ALLOW) - {q for q, c in allowed if c == "CARTESIAN"})
    ] + [
        ("GLOBAL_WINDOW", n)
        for n in sorted(
            set(GLOBAL_WINDOW_ALLOW) - {q for q, c in allowed if c == "GLOBAL_WINDOW"}
        )
    ] + [
        ("SCAN_FANOUT", n)
        for n in sorted(
            set(SCAN_FANOUT_ALLOW) - {q for q, c in allowed if c == "SCAN_FANOUT"}
        )
    ]
    return findings, allowed, unused


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    findings, allowed, unused = lint(sf_dir)
    print(f"plan-lint: {len(allowed)} allowed exceptions exercised")
    for check, name in unused:
        print(f"UNUSED ALLOW {check:14s} {name}: prune this entry")
    if not findings and not unused:
        print("plan-lint: catalog clean")
        return 0
    for name, check, detail in findings:
        print(f"FINDING {check:14s} {name}: {detail}")
    return 1 if (findings or unused) else 0


if __name__ == "__main__":
    sys.exit(main())
