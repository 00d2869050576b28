"""Spark-job budgets for one pipeline run.

A pipeline run should launch only the jobs its store writes need. The
budgets count ``dagScheduler().nextJobId()`` around one warm aws
snapshot run over the sf0.001 fixture and one deepflow ``foreachBatch``
apply, so a post-write ``count()``, a second pass over the batch, or a
re-run of the edge merge inside the nodes write shows up as a budget
breach rather than as a slower benchmark.

Budget history:
- initial: the aws run took 56 jobs while its stats were four
  ``count()``s after the writes (37 of the 56) and 18 with the stats
  observed during the writes; the deepflow apply took 23 with
  ``isEmpty()`` + ``max(ts).first()``, parquet schema inference on
  every store read and the degrees recomputed from the unpublished edge
  merge, 13 with one ``agg().first()``, recorded snapshot schemas and
  degrees read from the published edges. The bounds leave 2-4 jobs of
  headroom for AQE re-planning a stage.
- graph operators: (build, run) jobs of every ``operators.components``
  call in ``graph_cases`` on a clean cache (local[4], 8 shuffle
  partitions), pinned at the counts the operators had before they
  shared one driver gate, one round loop and one BFS, plus 3 build and
  2 run jobs of headroom. msbfs_closeness's distributed path raised an
  AnalysisException then; its budget starts from its first working count
  (14, 2). With the shared pieces the counts were, old → new:
  pagerank 7+9 → 5+10, triangle_counts 4+10 → 1+9, kcore 9+2 → 8+2,
  label_propagation 12+1 → 12+1, hits_scores 22+7 → 20+7;
  connected_components 3+1 → 2+1 (distributed 31+3 → 27+4), bfs_hops
  5+1 → 3+1 (44+1 → 31+1), temporal_reach 5+1 → 3+1 (33+1 → 33+1),
  sssp_bounded 5+1 → 3+1 (15+2 → 15+1), msbfs_closeness 5+1 → 3+1.
- dedup and store queries: (build, run) jobs of the queries whose
  materializations moved into ``etl_neptune_spark.materialize``, on the
  sf0.01 fixture with the result ``count()``ed, on a clean cache
  (local[4], 8 shuffle partitions), pinned with no headroom. Old → new,
  when each cut stopped being filled by an eager ``count()`` or an
  eager output ``localCheckpoint``: q_jaccard_prefix 19+2 → 8+5,
  q_ngram_jaccard 12+2 → 3+5, q_containment 12+2 → 3+5,
  q_dedup_minhash 10+6 → 8+5, q_minhash_estimate 11+8 → 2+6,
  q_cross_dedup 1+11 → 3+6, q_simhash64_band 9+6 → 3+6,
  q_simhash_band 5+8 → 2+7, q_edit_verify 9+7 → 3+7, q_boilerplate
  8+2 → 2+2, q_store_delta_log 10+3 → 10+3. A run count may rise: a
  cut's last stage now runs inside the query's own action.
- parquet schema once per layout: every schema-less parquet read goes
  through ``sources.tables.read_parquet``, which reuses the schema of an
  earlier file with the same footer layout and session settings. The
  warm aws run went 18 → 13 jobs (its five table reads no longer infer),
  so ``AWS_RUN_JOBS`` goes 22 → 16 (3 of headroom as before). The 12
  benchmark ``query-mix`` queries at sf0.01 build with 17 jobs in a warm
  pass before and 0 after; ``test_warm_query_build_launches_no_job``
  pins the 0.
"""

from __future__ import annotations

import pytest
from graph_cases import CASES as GRAPH_CASES
from graph_cases import graph_edges
from test_plan_budgets import SF_01

import __spark_entry__ as entry

from etl_neptune_spark.pipelines import run_aws_snapshot_etl
from etl_neptune_spark.sources import load_table
from etl_neptune_spark.streaming import GraphStore, flow_projection
from etl_neptune_spark.streaming.pipeline import deepflow_batch

AWS_RUN_JOBS = 16
DEEPFLOW_APPLY_JOBS = 15
GRAPH_JOBS = {  # (build, run)
    "pagerank": (10, 11),
    "triangle_counts": (7, 12),
    "kcore": (12, 4),
    "label_propagation": (15, 3),
    "hits_scores": (25, 9),
    "connected_components": (6, 3),
    "connected_components-distributed": (34, 5),
    "bfs_hops": (8, 3),
    "bfs_hops-distributed": (47, 3),
    "temporal_reach": (8, 3),
    "temporal_reach-distributed": (36, 3),
    "sssp_bounded": (8, 3),
    "sssp_bounded-distributed": (18, 4),
    "msbfs_closeness": (8, 3),
    "msbfs_closeness-distributed": (17, 4),
}
# The benchmark's query-mix queries (perfbench QUERY_MIX), copied so
# this budget does not depend on the benchmark package.
WARM_BUILD_QUERIES = (
    "q_flow_edges",
    "q_json_refs_udtf",
    "q_gc_anti",
    "q_lang_id",
    "q_stream_window",
    "q_tpch_q1",
    "q_tpch_q9",
    "q_entity_match",
    "q_semdedup",
    "q_template_scan",
    "q_url_parse",
    "q_geofence",
)
QUERY_JOBS = {  # (build, run) at sf0.01
    "q_jaccard_prefix": (8, 5),
    "q_ngram_jaccard": (3, 5),
    "q_containment": (3, 5),
    "q_dedup_minhash": (8, 5),
    "q_minhash_estimate": (2, 6),
    "q_cross_dedup": (3, 6),
    "q_simhash64_band": (3, 6),
    "q_simhash_band": (2, 7),
    "q_edit_verify": (3, 7),
    "q_boilerplate": (2, 2),
    "q_store_delta_log": (10, 3),
}


def _next_job(spark) -> int:
    # The job id is session-wide: a stream left running by an earlier
    # test would add its jobs to every budget measured after it.
    assert spark.streams.active == [], spark.streams.active
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_warm_aws_run_job_budget(spark, sf_dir, tmp_path):
    store = GraphStore(str(tmp_path / "store"))
    run_aws_snapshot_etl(spark, sf_dir, store, version=0)
    start = _next_job(spark)
    run_aws_snapshot_etl(spark, sf_dir, store, version=1)
    jobs = _next_job(spark) - start
    assert jobs <= AWS_RUN_JOBS, jobs


def test_deepflow_apply_job_budget(spark, sf_dir, tmp_path):
    apply = deepflow_batch(GraphStore(str(tmp_path / "store")))
    batch = flow_projection(load_table(spark, sf_dir, "events"))
    apply(batch, 0)
    start = _next_job(spark)
    apply(batch, 1)
    jobs = _next_job(spark) - start
    assert jobs <= DEEPFLOW_APPLY_JOBS, jobs


@pytest.mark.parametrize("case", sorted(GRAPH_CASES))
def test_graph_operator_job_budget(spark, case):
    spark.catalog.clearCache()
    edges = graph_edges(spark)
    start = _next_job(spark)
    out = GRAPH_CASES[case](edges)
    built = _next_job(spark)
    out.collect()
    jobs = (built - start, _next_job(spark) - built)
    build_budget, run_budget = GRAPH_JOBS[case]
    assert jobs[0] <= build_budget and jobs[1] <= run_budget, jobs


@pytest.mark.parametrize("name", sorted(QUERY_JOBS))
def test_query_job_budget(spark, name):
    spark.catalog.clearCache()
    start = _next_job(spark)
    df = entry.queries()[name](spark, SF_01)
    built = _next_job(spark)
    df.count()
    jobs = (built - start, _next_job(spark) - built)
    build_budget, run_budget = QUERY_JOBS[name]
    assert jobs[0] <= build_budget and jobs[1] <= run_budget, jobs


def test_warm_query_build_launches_no_job(spark):
    """After one pass, building each query again launches no job: the
    table schemas, time anchors and staged inputs are all reused."""
    queries = entry.queries()
    for name in WARM_BUILD_QUERIES:
        queries[name](spark, SF_01).count()
    built = {}
    for name in WARM_BUILD_QUERIES:
        start = _next_job(spark)
        queries[name](spark, SF_01)
        built[name] = _next_job(spark) - start
    assert built == dict.fromkeys(WARM_BUILD_QUERIES, 0), built
