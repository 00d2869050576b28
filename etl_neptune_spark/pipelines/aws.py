"""The aws snapshot pipeline (§3.2) as one batch DAG.

Reference: lambda/etl_aws/neptune_etl_aws.py:1393-2114 — 16 sequenced
steps of "scan → project/enrich → upsert", then metric join-updates,
per-label anti-join GC, and alarm-driven health status. Here the
fixture star schema plays the resource snapshots (FIXTURES.md):
region→Region, nation→AvailabilityZone, customer→resource entities
with a tier tag, supplier→a second writer converging on the same
store, orders→the metrics/alarms side-channel.

Every step is a certified operator or a column of one (merge_keyed,
tag precedence coalesce, join-update); this module only sequences them
— like the reference's ``run_etl``, which is pure step order. The
ghost GC and the health alarms ride on passes the run already makes:
the merge carries a presence column that is non-null exactly for the
keys in the live snapshot, so the per-label GC is one filter on the
merged rows, and the per-customer metrics aggregate also computes the
alarm flag that sets ``health_status``. All steps are single
declarative plans; the only driver action is the final store write per
table. The per-run ``stats`` are counted by ``Observation``s on those
writes, as the reference accumulates them from the upserts it is
already doing (etl_aws:1410, 2060-2064) — the graph is never queried a
second time to count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import merge_keyed
from ..sources import load_table
from ..streaming.store import GraphStore


def _nodes(df: DataFrame, label: str, name: F.Column, **props: F.Column) -> DataFrame:
    cols = [F.lit(label).alias("label"), name.alias("name")]
    cols += [c.alias(k) for k, c in props.items()]
    return df.select(*cols)


def run_aws_snapshot_etl(
    spark: SparkSession, sf_dir: str, store: GraphStore, version: int = 0
) -> dict[str, int]:
    """One full snapshot run: upserts → enrichment → GC → metrics and
    health. Returns per-step counts (the reference's ``stats``
    accumulation, §2.4 A16), observed during the writes. Idempotent: a
    second identical run leaves the store byte-identical, also when it
    republishes the same ``version`` its own plan reads."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")

    # Steps 0-1: Region + AZ nodes, Contains edges (etl_aws:1415-1440).
    regions = _nodes(region, "Region", F.col("r_name"))
    azs = _nodes(nation, "AvailabilityZone", F.col("n_name"))
    contains = (
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .select(
            F.concat(F.lit("Region|"), "r_name").alias("src_id"),
            F.concat(F.lit("AvailabilityZone|"), "n_name").alias("dst_id"),
            F.lit("Contains").alias("edge_label"),
        )
    )

    # Step 2: resource entities with tag-precedence tier enrichment
    # (etl_aws:1445-1499; tags_map F13 — explicit tier beats inference)
    # and LocatedIn edges to their AZ.
    tier = F.coalesce(
        F.when(F.col("c_custkey") % 3 == 0,
               F.concat(F.lit("tier"), (F.col("c_custkey") % 4).cast("string"))),
        F.lit("unknown"),
    )
    resources = _nodes(
        customer,
        "EC2Instance",
        F.col("c_name"),
        tier=tier,
        segment=F.col("c_mktsegment"),
    )
    located_in = (
        customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        .select(
            F.concat(F.lit("EC2Instance|"), "c_name").alias("src_id"),
            F.concat(F.lit("AvailabilityZone|"), "n_name").alias("dst_id"),
            F.lit("LocatedIn").alias("edge_label"),
        )
    )

    # Step 3: second writer (multi-writer convergence S4/ST6 — distinct
    # label namespace, same keyed store).
    services = _nodes(supplier, "Microservice", F.col("s_name"))

    # Assemble incoming node set; one MERGE into the store.
    # Region/AZ/service rows carry no tier or segment: the union pads
    # them with typed nulls. ``_live`` marks every incoming key; the
    # merge takes it from incoming only, so afterwards it is non-null
    # exactly for the nodes in the live snapshot.
    incoming = (
        resources.unionByName(regions, allowMissingColumns=True)
        .unionByName(azs, allowMissingColumns=True)
        .unionByName(services, allowMissingColumns=True)
        .withColumn("_live", F.lit(True))
    )

    existing = store.read(spark, "nodes")
    if existing is None:
        existing = spark.createDataFrame([], incoming.schema)
    # ST6: columns owned by the other writers (deepflow last_seen /
    # degree metrics, cfn evidence) pass through untouched; this
    # pipeline's namespace is tier/segment + the metric/health columns
    # it recomputes below.
    own = {"label", "name", "tier", "segment", "_live", "order_count", "total_spend",
           "health_status"}
    preserve = [c for c in existing.columns if c not in own]
    merged = merge_keyed(
        existing,
        incoming,
        keys=["label", "name"],
        update_cols=["tier", "segment", "_live"],
        preserve_cols=preserve,
    )

    # Step 15: ghost GC (etl_aws:1932-2066, J8) — PER-LABEL, and only
    # for labels this pipeline owns: survivors are the nodes present in
    # the live snapshot. Microservice is deepflow's label (its TTL GC
    # owns retention there), so it passes through — per-writer GC is
    # what lets three cadences share one store without deleting each
    # other's state (ST6).
    gc_labels = ["Region", "AvailabilityZone", "EC2Instance"]
    gced = merged.filter(~F.col("label").isin(gc_labels) | F.col("_live").isNotNull())

    # Metrics join-update (etl_aws:1484-1499, SNK3): per-customer order
    # stats attached to the matching resource nodes; untouched elsewhere.
    # The same aggregate flags the alarm set of Step 16: customers with
    # any urgent open order.
    urgent_open = (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderstatus") == "O")
    metrics = (
        orders.groupBy("o_custkey")
        .agg(
            F.count("*").alias("order_count"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
            F.max(urgent_open).alias("_alarm"),
        )
        .join(customer.select("c_custkey", "c_name"), F.col("o_custkey") == F.col("c_custkey"))
        .select(F.lit("EC2Instance").alias("label"), F.col("c_name").alias("name"),
                "order_count", "total_spend", "_alarm")
    )

    # Step 16: health reset-then-degrade (etl_aws:2068-2111, ST7) as one
    # column: every node resets to healthy unless its customer alarms.
    final = (
        gced.join(metrics, ["label", "name"], "left")
        .withColumn(
            "health_status",
            F.when(F.col("_alarm"), F.lit("degraded")).otherwise(F.lit("healthy")),
        )
        .drop("_live", "_alarm")
    )

    edges = contains.unionByName(located_in)
    node_stats, edge_stats = Observation(), Observation()
    store.write(
        final.observe(
            node_stats,
            F.count(F.lit(1)).alias("nodes"),
            F.count_if(F.col("health_status") == "degraded").alias("degraded"),
            F.count("order_count").alias("with_metrics"),
        ),
        "nodes",
        version,
    )
    store.write(
        edges.observe(edge_stats, F.count(F.lit(1)).alias("edges")),
        "infra_edges",
        version,
    )
    return {**node_stats.get, **edge_stats.get}
