"""The cfn template pipeline (§3.3) as a batch DAG.

Reference: lambda/etl_cfn/neptune_etl_cfn.py:378-446 — fetch template,
recursively extract ``Ref``/``Fn::GetAtt`` references, resolve
logical→physical ids, upsert declared dependency edges with evidence
properties. Spark shape (SURVEY §3.3): ``spark.read.json(templates)``
→ pandas-UDF ref extraction → ``explode`` → broadcast join of the
physical-id dimension → MERGE edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.json_refs import extract_json_refs
from ..operators.merge import merge_keyed
from ..streaming.store import GraphStore


def extract_declared_deps(
    templates: DataFrame,
    physical_ids: DataFrame,
    stack_col: str = "stack_name",
    body_col: str = "template",
) -> DataFrame:
    """(src_stack, dst_physical_id, edge_label, evidence) rows.

    ``templates``: one row per stack with the raw JSON body.
    ``physical_ids``: (logical_id, physical_id, target_label) dimension
    — tiny, broadcast (the reference's get_physical_id_map, SRC6).
    Unresolvable refs are dropped (inner join), mirroring the
    reference's skip-on-missing behavior (neptune_etl_cfn.py:361-366).
    """
    refs = templates.select(
        F.col(stack_col),
        F.explode(extract_json_refs(F.col(body_col))).alias("logical_id"),
    ).distinct()
    return refs.join(F.broadcast(physical_ids), "logical_id").select(
        F.col(stack_col).alias("src_stack"),
        F.col("physical_id").alias("dst_physical_id"),
        F.lit("DependsOn").alias("edge_label"),
        F.concat(F.lit("declared_in:"), F.col(stack_col)).alias("evidence"),
    )


def run_cfn_etl(
    spark: SparkSession,
    templates: DataFrame,
    physical_ids: DataFrame,
    store: GraphStore,
    version: int = 0,
) -> int:
    """Extract declared edges and MERGE them into the store keyed
    (src, dst, label) — get-or-create, evidence last-write-wins
    (upsert_cfn_edge, neptune_etl_cfn.py:140-165). Returns the stored
    edge count, observed during the write, so re-running the same
    ``version`` never re-reads the snapshot the publish replaced."""
    incoming = extract_declared_deps(templates, physical_ids)
    existing = store.read(spark, "cfn_edges")
    if existing is None:
        existing = spark.createDataFrame([], incoming.schema)
    merged = merge_keyed(
        existing,
        incoming,
        keys=["src_stack", "dst_physical_id", "edge_label"],
        update_cols=["evidence"],
    )
    stats = Observation()
    store.write(
        merged.observe(stats, F.count(F.lit(1)).alias("edges")), "cfn_edges", version
    )
    return stats.get["edges"]
