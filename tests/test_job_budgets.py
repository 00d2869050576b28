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
"""

from __future__ import annotations

from etl_neptune_spark.pipelines import run_aws_snapshot_etl
from etl_neptune_spark.sources import load_table
from etl_neptune_spark.streaming import GraphStore, flow_projection
from etl_neptune_spark.streaming.pipeline import deepflow_batch

AWS_RUN_JOBS = 22
DEEPFLOW_APPLY_JOBS = 15


def _next_job(spark) -> int:
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
