"""Wide-metric batch-fetch source adapter (SURVEY §2.1 SRC7).

The reference polls a metrics service for MANY metrics per entity per
window in one batched call stream: it generates a per-entity query
catalog (conditional on entity attributes — EKS nodes get
ContainerInsights memory/disk dims, other nodes get CWAgent, some only
after a dimension-discovery probe), packs the queries into API calls of
at most 500 (reference `lambda/etl_aws/neptune_etl_aws.py:823-1038`,
batching at 884-885: ``for i in range(0, len(queries), 500)``), maps
results back through an id→(entity, metric) table, substitutes ``-1.0``
for metrics with no datapoints, converts units, and joins the wide
result onto the entity table.

Spark-first realization: the catalog IS a DataFrame — one row per
MetricDataQuery with its batch assignment — so generation, batching,
fetching, and the join-back are all declarative plan steps:

- ``metric_query_plan`` builds the tall query frame from an entity
  dimension table and a conditional spec list, and assigns batch ids
  by global (entity, metric) order — the same contiguous 500-packing
  the reference does. Entity dimensions are small by construction
  (they fan OUT to the fact-sized metric values), so the single
  ranking window over the catalog is bounded.
- The FETCH is a seam: any ``DataFrame → DataFrame`` that appends a
  ``value`` column — a real connector would mapInArrow each batch
  partition into client calls (one task per 500-query batch, the
  API's own unit of parallelism). ``deterministic_fetch`` is the
  offline stand-in: values derived arithmetically from the query row
  (CLEARLY a simulator — no service exists here), with an injectable
  missing-data predicate to exercise the ``-1.0`` sentinel path.
- ``widen_metrics`` pivots the tall fetch back to one wide row per
  entity (max-per-key pivot, sentinel fill), the frame the reference
  join-updates onto its graph.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# The service's hard cap on queries per call (neptune_etl_aws.py:884).
METRIC_BATCH_SIZE = 500

# A metric spec: (metric_key, namespace, metric_name, stat, period_sec,
# condition) — condition None means "every entity", else a Column
# predicate over the entity table (the reference's EKS/CWAgent split).
MetricSpec = tuple[str, str, str, str, int, "Column | None"]


def metric_query_plan(
    entities: DataFrame,
    id_col: str,
    specs: Sequence[MetricSpec],
    batch_size: int = METRIC_BATCH_SIZE,
    n_packers: int = 8,
) -> DataFrame:
    """Tall query catalog: one row per (entity, metric) with batch id.

    Columns: entity_id, metric_key, namespace, metric_name, stat,
    period, batch_id. Batch ids are dense (0..n_batches−1) with
    ≤ ``batch_size`` queries per batch — each batch is one service call
    (one fetch task).

    Packing is PARALLEL, not a global sort: rows hash to ``n_packers``
    buckets by entity id (all of an entity's queries stay together),
    each bucket ranks its own rows (a partitioned window — no
    single-partition exchange), and each bucket's batches start at a
    prefix-sum offset computed from the ``n_packers`` bucket counts —
    one bounded driver action over ≤ n_packers rows, the same pattern
    as the time-anchor literal. Batch ids are globally dense and every
    batch respects the cap.
    """
    parts = []
    for key, namespace, metric, stat, period, cond in specs:
        side = entities if cond is None else entities.filter(cond)
        parts.append(
            side.select(
                F.col(id_col).alias("entity_id"),
                F.lit(key).alias("metric_key"),
                F.lit(namespace).alias("namespace"),
                F.lit(metric).alias("metric_name"),
                F.lit(stat).alias("stat"),
                F.lit(period).alias("period"),
            )
        )
    tall = parts[0]
    for p in parts[1:]:
        tall = tall.unionByName(p)
    tall = tall.withColumn("__bkt", F.pmod(F.col("entity_id"), F.lit(n_packers)))
    counts = {
        r["__bkt"]: r["c"]
        for r in tall.groupBy("__bkt").agg(F.count("*").alias("c")).collect()  # bounded: n_packers rows
    }
    off, offsets = 0, {}
    for b in sorted(counts):
        offsets[b] = off
        off += -(-counts[b] // batch_size)  # ceil division
    omap = F.create_map(
        *[F.lit(x) for b in sorted(offsets) for x in (b, offsets[b])]
    )
    w = Window.partitionBy("__bkt").orderBy("entity_id", "metric_key")
    return (
        tall.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "batch_id",
            (
                omap[F.col("__bkt")]
                + F.floor((F.col("__rn") - 1) / F.lit(batch_size))
            ).cast("long"),
        )
        .drop("__bkt", "__rn")
    )


def deterministic_fetch(
    queries: DataFrame, missing: Column | None = None
) -> DataFrame:
    """SIMULATED fetch — the offline stand-in for the service call.

    Appends ``value`` derived deterministically from the query row
    (reproducible in any engine, which is how the oracle certifies the
    adapter end-to-end). Rows matching ``missing`` get NULL — the
    "no datapoints in the window" case the reference maps to ``-1.0``.
    A real connector replaces only this function: mapInArrow over
    ``batch_id`` partitions, one client call per batch.
    """
    value = (
        (
            F.col("entity_id") * 131
            + F.col("period")
            + F.length("metric_name") * 17
        )
        % 10007
    ) / 10.0
    if missing is not None:
        value = F.when(missing, F.lit(None).cast("double")).otherwise(value)
    return queries.withColumn("value", value)


def widen_metrics(
    tall: DataFrame,
    out_cols: Sequence[tuple[str, Column]],
    sentinel: float = -1.0,
) -> DataFrame:
    """Pivot the fetched tall frame to one wide row per entity.

    ``out_cols`` maps output column name → aggregate expression over
    the tall frame (typically ``max(CASE WHEN metric_key=… THEN value
    END)`` with unit conversion); NULL results (missing metric or no
    datapoints) are filled with the reference's ``-1.0`` sentinel.
    Also emits ``n_queries`` and ``first_batch`` so the catalog and
    batching are part of the certified output.
    """
    aggs = [
        F.count("*").alias("n_queries"),
        F.min("batch_id").alias("first_batch"),
    ]
    for name, expr in out_cols:
        aggs.append(F.coalesce(expr, F.lit(sentinel)).alias(name))
    return tall.groupBy("entity_id").agg(*aggs)
