"""Physical-plan regression tests — the 100 TB posture, asserted.

Correctness is the oracle gate's job; these tests pin the plan SHAPES
that make the same queries viable at scale: predicate pushdown into
the parquet scans, column pruning, broadcast dimension joins (never a
shuffled or cartesian plan for a small build side), sort-merge for the
full-outer MERGE, and top-k via TakeOrderedAndProject. A regression
that silently turns a broadcast join into a cartesian product passes
the oracle but fails here.
"""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    import __spark_entry__ as e

    queries = e.queries()

    def plan_of(name: str) -> str:
        df = queries[name](spark, sf_dir)
        qe = df._jdf.queryExecution()
        # formatted mode prints PushedFilters un-truncated; append the
        # tree form too so node-name assertions keep working unchanged.
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        return qe.explainString(mode) + "\n" + qe.executedPlan().toString()

    return plan_of


def test_filters_are_pushed_to_scan(plans):
    p = plans("q_filter_eq")
    assert "PushedFilters: [" in p
    assert "EqualTo" in p or "IsNotNull" in p


def test_projection_prunes_scan_columns(plans):
    # q_scan_project selects a handful of customer columns; the scan
    # schema must not contain the unused comment/phone columns.
    p = plans("q_scan_project")
    assert "c_comment" not in p and "c_phone" not in p


def test_dimension_joins_broadcast(plans):
    for q in ("q_join_equi", "q_join_alias", "q_join_ip"):
        p = plans(q)
        assert "BroadcastHashJoin" in p, q
        assert "CartesianProduct" not in p, q


def test_theta_join_is_broadcast_nested_loop(plans):
    # J6: tiny literal build side — broadcast nested loop is the
    # intended plan; a shuffled cartesian product is not.
    p = plans("q_join_theta")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_merge_is_sort_merge_full_outer(plans):
    p = plans("q_upsert_nodes")
    assert "SortMergeJoin" in p and "FullOuter" in p


def test_anti_join_gc_broadcasts_live_set(plans):
    p = plans("q_gc_anti")
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_topk_plans_take_ordered(plans):
    p = plans("q_topk")
    assert "TakeOrderedAndProject" in p


def test_flagship_aggregate_shape(plans):
    p = plans("q_flow_edges")
    # partial+final hash aggregation and pushed value predicate
    assert p.count("HashAggregate") >= 2
    assert "GreaterThan(value,0" in p.replace(" ", "")
    assert "CartesianProduct" not in p


def test_round2_queries_have_clean_shapes(plans):
    # Round-2 additions must keep the same posture as the core: no
    # cartesian products, no broadcast nested loops, and (q_metric_batch
    # specifically) no single-partition global window — its batch
    # packing is the parallel bucket + prefix-offset layout.
    for q in ("q_tfidf", "q_corpus_curation", "q_scd2", "q_metric_batch",
              "q_salted_agg", "q_lead_lag", "q_ntile"):
        p = plans(q)
        assert "CartesianProduct" not in p, q
        assert "BroadcastNestedLoopJoin" not in p, q
    assert "SinglePartition" not in plans("q_metric_batch")


def test_tfidf_is_two_aggregates_and_a_window(plans):
    p = plans("q_tfidf")
    assert p.count("HashAggregate") >= 4  # partial+final for tf and df
    assert "RunningWindowFunction" in p or "Window" in p


def test_curation_reuses_content_hash_exchange(plans):
    # groupBy(content_hash) + join(content_hash) must not add a second
    # scan-side exchange pair beyond the shared hash distribution: the
    # plan has exactly one Exchange hashpartitioning(content_hash...) on
    # the enriched side reused by both consumers.
    p = plans("q_corpus_curation")
    assert "ReusedExchange" in p or p.count("hashpartitioning(content_hash") <= 3


def test_stratified_sample_prefilters_sort_input(plans):
    # The per-stratum ranking window must be fed by the hash-prefix
    # pre-filter (md5 < '1', ~1/16 of rows), with the small-stratum
    # fallback as a broadcast anti-join — not a full-table sort.
    p = plans("q_sample_stratified")
    assert "md5" in p and "< 1" in p.replace("(", " ").replace(")", " ")
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_lookback_anchor_is_pushed_literal(plans):
    # The sliding-lookback cutoff must reach the parquet reader as a
    # pushed literal comparison on the raw ts column (VERDICT r1 item 1):
    # a non-literal anchor (max_ts crossJoined back) defeats row-group
    # and partition pruning, turning a 5-minute window into a full-history
    # scan at 100 TB. Also pin that the old 1-row crossJoin is gone.
    for q in ("q_flow_edges", "q_time_window"):
        p = plans(q).replace(" ", "")
        assert "GreaterThanOrEqual(ts," in p, q
        assert "BroadcastNestedLoopJoin" not in p, q
        assert "CartesianProduct" not in p, q


def test_no_row_at_a_time_python_in_relational_core(plans):
    # The relational core must stay JVM-side: no BatchEvalPython
    # (row-at-a-time UDF) anywhere; Arrow ops are allowed only in the
    # LLM/json_refs family.
    for q in ("q_flow_edges", "q_join_envvar", "q_tags_map", "q_degrees"):
        assert "BatchEvalPython" not in plans(q), q


def test_rollup_is_single_pass_expand(plans):
    # grouping sets run as ONE scan + Expand + hash aggregate — not one
    # scan per grouping level.
    p = plans("q_rollup")
    assert "Expand" in p
    assert p.count("FileScan") == 1


def test_count_distinct_two_phase(plans):
    # exact distinct-count plans as expand + two-phase aggregate, with
    # the scan reading only the two needed columns.
    p = plans("q_count_distinct")
    assert "HashAggregate" in p
    # only the two needed columns reach the scan
    assert "props" not in p and "value:double" not in p


def test_round3_queries_have_clean_shapes(plans):
    # Round-3 additions keep the core posture: no cartesian products,
    # no broadcast nested loops, no row-at-a-time Python.
    for q in ("q_asof_forward", "q_asof_nearest", "q_moving_avg",
              "q_histogram", "q_simhash_band", "q_unigram_logprob",
              "q_boilerplate", "q_pagerank"):
        p = plans(q)
        assert "CartesianProduct" not in p, q
        assert "BroadcastNestedLoopJoin" not in p, q
        assert "BatchEvalPython" not in p, q


def test_asof_join_is_single_union_window(plans):
    # The as-of family must stay the union + one-window plan: exactly
    # zero joins (a per-key theta join or range explosion would show as
    # SortMergeJoin/BroadcastHashJoin), windows partitioned by the key
    # (never a single-partition global window).
    for q in ("q_asof_join", "q_asof_forward", "q_asof_nearest"):
        p = plans(q)
        assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, q
        assert "SinglePartition" not in p, q


def test_histogram_is_single_scan_single_agg(plans):
    p = plans("q_histogram")
    assert p.count("FileScan") == 1
    # partial + final hash aggregate on the bucket key
    assert p.count("HashAggregate") >= 2


def test_tpch_plans_broadcast_and_pushdown(plans):
    # Q6: the pure scan-aggregate — date + quantity predicates must
    # reach the parquet reader, and the scan reads only the 4 needed
    # columns.
    p6 = plans("q_tpch_q6")
    assert "PushedFilters" in p6 and "l_shipdate" in p6
    assert "l_orderkey" not in p6.split("ReadSchema")[-1].split("\n")[0]
    # Q3/Q5: every dimension join is a broadcast hash join — a
    # sort-merge join would mean a full shuffle of lineitem per dim.
    for q in ("q_tpch_q3", "q_tpch_q5"):
        p = plans(q)
        assert "BroadcastHashJoin" in p, q
        assert "SortMergeJoin" not in p, q
    # Q1: single scan, partial+final hash agg
    p1 = plans("q_tpch_q1")
    assert p1.count("FileScan") == 1
    assert p1.count("HashAggregate") >= 2


def test_tpch_wave2_plan_shapes(plans):
    # Q19: part is a broadcast dim and the disjunctive predicate stays
    # JVM-side after the join — no shuffle beyond the final 1-row agg.
    p19 = plans("q_tpch_q19")
    assert "BroadcastHashJoin" in p19
    assert "SortMergeJoin" not in p19
    assert "CartesianProduct" not in p19
    # Q13: the LEFT OUTER + double agg must NOT broadcast the fact side;
    # both aggregates are keyed hash aggs (partial + final pairs).
    p13 = plans("q_tpch_q13")
    assert p13.count("HashAggregate") >= 4
    # Q17: the correlated-avg rewrite is division-free in the filter —
    # the threshold compare happens in decimal, not double division.
    p17 = plans("q_tpch_q17")
    assert "BroadcastHashJoin" in p17
    # Q21: the EXISTS/NOT-EXISTS rewrite is aggregation + join-back, so
    # the fact side shuffles on l_orderkey a bounded number of times and
    # never self-joins as a nested loop.
    p21 = plans("q_tpch_q21")
    assert "CartesianProduct" not in p21
    assert "BroadcastNestedLoopJoin" not in p21
    # Q22: the anti join and the literal threshold — no scalar-subquery
    # join node survives into the plan (the anchor resolved driver-side).
    p22 = plans("q_tpch_q22")
    assert "BroadcastNestedLoopJoin" not in p22


def test_tpch_partsupp_wave_plan_shapes(plans):
    # Q11: supplier/nation broadcast onto the synthesized partsupp; the
    # scalar threshold is a driver literal, so no scalar-subquery join
    # node and no nested loop survives.
    p11 = plans("q_tpch_q11")
    assert "BroadcastHashJoin" in p11
    assert "BroadcastNestedLoopJoin" not in p11
    assert "CartesianProduct" not in p11
    # Q16: part filter and the complaints NOT-IN both broadcast; the
    # anti join must be LeftAnti, not a nested loop (the key sets are
    # non-null by construction).
    p16 = plans("q_tpch_q16")
    assert "LeftAnti" in p16
    assert "BroadcastNestedLoopJoin" not in p16
    # Q20: the correlated-qty rewrite is ONE keyed lineitem aggregate
    # joined back — semi joins for part/nation pruning, no correlated
    # re-scan (no nested loop), and the year filter reaches the scan.
    p20 = plans("q_tpch_q20")
    assert "LeftSemi" in p20
    assert "BroadcastNestedLoopJoin" not in p20
    assert "CartesianProduct" not in p20
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p20 or "l_shipdate" in p20.split("PushedFilters", 1)[-1]


def test_cdc_and_linkage_plan_shapes(plans):
    # snapshot_diff: ONE full-outer join (SMJ or shuffled hash), no
    # window, no nested loop.
    pd_ = plans("q_snapshot_diff")
    assert "FullOuter" in pd_
    assert "Window" not in pd_
    # entity match: the verify is codegen levenshtein after an equi
    # join on the blocking key — no cartesian anywhere.
    pe = plans("q_entity_match")
    assert "CartesianProduct" not in pe
    assert "BroadcastNestedLoopJoin" not in pe
    # span dedup: digest-keyed agg + join-back; no row-at-a-time Python
    # (the kernel is an Arrow mapInArrow row kernel), no cartesian.
    ps = plans("q_span_dedup")
    assert "BatchEvalPython" not in ps
    assert "CartesianProduct" not in ps


def test_round4_plan_shapes(plans):
    # int8 quantization is a pure narrow projection: no exchange at all.
    pq = plans("q_int8_quant")
    assert "Exchange" not in pq
    assert "CartesianProduct" not in pq
    # winsorize: the percentile-bounds side joins back as a BROADCAST
    # dim (dimension-sized), never a shuffle join of the fact table
    # against itself.
    pw = plans("q_winsorize")
    assert "BroadcastHashJoin" in pw
    assert "CartesianProduct" not in pw
    # paginated custom source: a planned Python data-source scan (its
    # own partitioning), one keyed agg on top; no Python row-at-a-time
    # eval node in the relational part.
    pp = plans("q_paginated_scan")
    assert "BatchEvalPython" not in pp
    assert pp.count("HashAggregate") >= 2  # partial + final
    # dsir: model join is vocab-bounded; the fact side never
    # nested-loops.
    pd_ = plans("q_dsir")
    assert "CartesianProduct" not in pd_
    assert "BroadcastNestedLoopJoin" not in pd_
    # cuped: the one-row moment frame rides a broadcast nested loop by
    # DESIGN (1-row build side, the sanctioned q_join_theta shape) or a
    # broadcast join — never a shuffled cross.
    pc = plans("q_cuped")
    assert "CartesianProduct" not in pc


def test_round5_no_unbounded_rank_windows(plans, spark, sf_dir):
    """VERDICT r4 task 1 pin: the six formerly single-partition
    rank/ntile queries now rank via the distributed two-phase prefix
    sum — no ntile/row_number/rank window function appears anywhere in
    their plans (the only remaining global windows are over the
    one-row-per-partition offset table, which are sum() windows).

    prefix_sums localCheckpoints the pid-stamped frame (the sf1
    pid-divergence fix), so the consumer-visible plan truncates at an
    ExistingRDD scan. A bare "ExistingRDD in plan" escape hatch would
    also accept a plan that LOST the range exchange behind the
    checkpoint (ADVICE r5) — so each query is re-derived with the
    rank-module capture hook on, and the range exchange is asserted on
    the captured PRE-checkpoint plan."""
    from etl_neptune_spark.operators import rank as rank_mod

    import __spark_entry__ as e

    queries = e.queries()
    for name in ("q_gini", "q_lorenz", "q_rfm", "q_gains", "q_auc",
                 "q_ks_test"):
        p = plans(name)
        assert "ntile(" not in p, name
        assert "row_number(" not in p, name
        assert " rank(" not in p, name
        assert (
            "rangepartitioning" in p.lower() or "ExistingRDD" in p
        ), name
        rank_mod.PRECHECKPOINT_PLANS = []
        try:
            queries[name](spark, sf_dir)
            captured = rank_mod.PRECHECKPOINT_PLANS
        finally:
            rank_mod.PRECHECKPOINT_PLANS = None
        assert captured, f"{name} no longer routes through prefix_sums"
        for pre in captured:
            assert "rangepartitioning" in pre.lower(), name


def test_round5_format_and_prune_plan_shapes(plans):
    # fixture scans stay tiny and JVM-side: no Python eval in the
    # relational part of the format queries
    for name in ("q_csv_scan", "q_json_scan", "q_template_scan"):
        p = plans(name)
        assert "BatchEvalPython" not in p, name
        assert "CartesianProduct" not in p, name
