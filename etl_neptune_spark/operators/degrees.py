"""Graph degree metrics over an edge DataFrame.

The reference computes per-service out/in degree plus label-filtered
neighbor counts in a single Gremlin ``project()`` pass
(lambda/etl_deepflow/neptune_etl_deepflow.py:540-568), then derives
``is_entry_point = upstream_count == 0`` and
``has_db_dependency = db_count > 0`` (lines 566-568).

Spark-first: one grouped aggregation. Each edge row is exploded into
its two ends, ``(src, out)`` and ``(dst, in)``, and both are grouped by
the node id together: a partial + final hash aggregate with a single
shuffle of the partially aggregated ends. Out- and in-degree, the
weight sum and the label-filtered counts are all ``count_if`` / ``sum``
columns of that one pass, which is the reference's "4 queries → 1
project()" optimization (OPTIMIZATION-CHANGELOG.md:44) as a Spark plan.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def degree_metrics(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    dst_label_filters: dict[str, Column] | None = None,
) -> DataFrame:
    """Per-node degree metrics from an edge list.

    Returns one row per node id appearing as src or dst (a null id is
    one node): ``node, out_degree, [out_weight,] [<name>_count...,]
    in_degree, is_entry_point, [has_<name>_dependency...]`` where
    ``dst_label_filters`` maps an output column prefix to a predicate
    over the edge row (e.g. "db" → dst-is-database), counted on
    out-edges — the reference's db/cache-dependency counts.
    """
    filters = dst_label_filters or {}
    # Both ends of an edge in one row each, tagged by side; the
    # predicates are evaluated on the edge row before it is split.
    end = F.explode(
        F.array(
            F.struct(F.col(src).alias("node"), F.lit(True).alias("out")),
            F.struct(F.col(dst).alias("node"), F.lit(False).alias("out")),
        )
    ).alias("end")
    carried = [F.col(weight).alias("w")] if weight else []
    carried += [pred.alias(f"p{i}") for i, pred in enumerate(filters.values())]
    ends = edges.select(end, *carried)
    out = F.col("end.out")
    aggs = [F.count_if(out).alias("out_degree")]
    if weight:
        aggs.append(F.sum(F.when(out, F.col("w"))).alias("out_weight"))
    for i, name in enumerate(filters):
        aggs.append(F.count_if(out & F.col(f"p{i}")).alias(f"{name}_count"))
    aggs.append(F.count_if(~out).alias("in_degree"))
    result = ends.groupBy(F.col("end.node").alias("node")).agg(*aggs)
    # A node with no out-edge, or only null weights, sums to null.
    if weight:
        result = result.na.fill({"out_weight": 0})

    # Derived flags (neptune_etl_deepflow.py:566-568): an entry point has
    # no upstream callers; downstream/dependency flags from the counts.
    result = result.withColumn("is_entry_point", F.col("in_degree") == 0)
    for name in filters:
        result = result.withColumn(f"has_{name}_dependency", F.col(f"{name}_count") > 0)
    return result
