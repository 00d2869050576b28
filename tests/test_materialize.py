"""``materialize.cut`` and ``materialize.held``: a kernel under a cut
runs once per input row however many branches of one action read it,
a cut keeps the plan it was made from while it lives, and neither form
leaves a cache entry behind."""

from __future__ import annotations

import gc
import time

from pyspark.sql import functions as F

from etl_neptune_spark.boundary import map_batches
from etl_neptune_spark.materialize import cut, held, origin_plan

N = 2000


def _counted(spark, acc):
    """``spark.range(N)`` through an Arrow kernel that adds every row it
    sees to ``acc``."""

    def kernel(batches):
        for b in batches:
            acc.add(b.num_rows)
            yield [b.column(0).to_pylist()]

    return map_batches(spark.range(N, numPartitions=4), kernel, "id long")


def _self_join_and_agg(df):
    """One action whose plan reads ``df`` in three branches: both sides
    of a self-join plus an aggregate."""
    joined = df.alias("a").join(df.alias("b"), F.col("a.id") == F.col("b.id") + 1)
    return joined.select(F.col("a.id").alias("id")).unionByName(
        df.groupBy().agg(F.max("id").alias("id"))
    ).count()


def test_cut_kernel_sees_each_row_once(spark):
    plain = spark.sparkContext.accumulator(0)
    assert _self_join_and_agg(_counted(spark, plain)) == N
    assert plain.value > N  # without the cut, branches re-run the kernel

    once = spark.sparkContext.accumulator(0)
    df = cut(_counted(spark, once))
    assert _self_join_and_agg(df) == N
    assert once.value == N
    assert df.count() == N  # a later action reuses the filled cut
    assert once.value == N


def _metric_ids(plan) -> set[int]:
    """Accumulator ids of every SQL metric in an executed plan, into
    adaptive plans and query stages."""
    ids: set[int] = set()
    todo = [plan]
    while todo:
        node = todo.pop()
        it = node.metrics().valuesIterator()
        while it.hasNext():
            ids.add(it.next().id())
        ch = node.children()
        todo += [ch.apply(i) for i in range(ch.size())]
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
    return ids


def test_cut_keeps_its_origin_metrics_registered(spark):
    # The first job that fills a cut truncates its lineage; tasks of the
    # same action serialized before then still report the origin plan's
    # metrics, so they must stay registered while the cut lives (else
    # the scheduler logs "Failed to update accumulator" and drops them).
    def grouped():
        return spark.range(N, numPartitions=4).groupBy(F.col("id") % 7).count()

    def ids_of(frame):
        return _metric_ids(frame._jdf.queryExecution().executedPlan())

    origin, control = grouped(), grouped()
    df = cut(origin)
    ids, control_ids = ids_of(origin), ids_of(control)
    assert len(control.collect()) == 7
    assert df.count() == 7  # fills the cut and truncates its lineage
    del origin, control
    gc.collect()  # drop the Python handles on the plans' JVM objects
    registry = spark._jvm.org.apache.spark.util.AccumulatorContext
    for _ in range(3):  # the scheduler lets go of finished stages async
        spark._jvm.System.gc()
        time.sleep(0.5)
    assert not any(registry.get(i).isDefined() for i in control_ids)
    assert all(registry.get(i).isDefined() for i in ids)


def test_cut_lets_go_of_its_origin_with_the_frame(spark):
    def rdd(frame):
        return frame._jdf.queryExecution().logical().rdd()

    df = cut(spark.range(N, numPartitions=4).groupBy(F.col("id") % 7).count())
    assert df.count() == 7
    gone = rdd(df).id()
    assert origin_plan(gone) is not None
    # what the context cleaner does once the frame's RDD is collected
    rdd(df).unpersist(True)
    nxt = cut(spark.range(1))  # each cut drops the origins of dead cuts
    assert origin_plan(gone) is None
    assert origin_plan(rdd(nxt).id()) is not None


def test_held_releases_its_cache_entry(spark):
    cache = spark._jsparkSession.sharedState().cacheManager()
    acc = spark.sparkContext.accumulator(0)
    with held(_counted(spark, acc)) as df:
        assert not cache.isEmpty()
        assert _self_join_and_agg(df) == N
    assert cache.isEmpty()
    assert acc.value == N
