"""Golden end-to-end pipeline tests — SURVEY §5.2.

The aws (§3.2) and cfn (§3.3) pipelines composed from certified
operators, run on sf0.001, asserting snapshot outputs AND the
idempotency property the reference gets from mergeV (run twice ⇒
identical state).
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from etl_neptune_spark.pipelines import run_aws_snapshot_etl, run_cfn_etl
from etl_neptune_spark.sources import load_table
from etl_neptune_spark.streaming import GraphStore


def _snapshot(spark, store, table):
    df = store.read(spark, table)
    return sorted(map(tuple, df.collect()))


def test_aws_pipeline_golden(spark, sf_dir, tmp_path):
    store = GraphStore(str(tmp_path / "store"))
    stats = run_aws_snapshot_etl(spark, sf_dir, store, version=0)

    region = load_table(spark, sf_dir, "region").count()
    nation = load_table(spark, sf_dir, "nation").count()
    customer = load_table(spark, sf_dir, "customer").count()
    supplier = load_table(spark, sf_dir, "supplier").count()

    # one node per live entity, one LocatedIn per customer + one
    # Contains per nation
    assert stats["nodes"] == region + nation + customer + supplier
    assert stats["edges"] == nation + customer
    assert 0 < stats["with_metrics"] <= customer
    assert 0 <= stats["degraded"] <= customer

    nodes = store.read(spark, "nodes")
    by_label = {r["label"]: r["n"] for r in nodes.groupBy("label").agg(F.count("*").alias("n")).collect()}
    assert by_label == {
        "Region": region,
        "AvailabilityZone": nation,
        "EC2Instance": customer,
        "Microservice": supplier,
    }
    # enrichment: explicit tier only on custkey%3==0 entities; others 'unknown'
    ec2 = nodes.filter(F.col("label") == "EC2Instance")
    assert ec2.filter(F.col("tier").isNull()).count() == 0
    # non-resource nodes never get resource metrics (None-preserve shape)
    assert (
        nodes.filter((F.col("label") == "Region") & F.col("order_count").isNotNull()).count()
        == 0
    )


def test_aws_pipeline_idempotent(spark, sf_dir, tmp_path):
    store = GraphStore(str(tmp_path / "store"))
    run_aws_snapshot_etl(spark, sf_dir, store, version=0)
    first = _snapshot(spark, store, "nodes")
    run_aws_snapshot_etl(spark, sf_dir, store, version=1)
    assert _snapshot(spark, store, "nodes") == first


def test_aws_pipeline_gc_drops_ghosts(spark, sf_dir, tmp_path):
    """Seed the store with a node absent from the live snapshot — the
    run must GC it (etl_aws ghost-node semantics)."""
    store = GraphStore(str(tmp_path / "store"))
    run_aws_snapshot_etl(spark, sf_dir, store, version=0)
    nodes = store.read(spark, "nodes")
    ghost = spark.createDataFrame(
        [("EC2Instance", "ghost-node-not-in-aws")], "label string, name string"
    )
    polluted = nodes.unionByName(ghost, allowMissingColumns=True)
    store.write(polluted, "nodes", 1)

    run_aws_snapshot_etl(spark, sf_dir, store, version=2)
    assert (
        store.read(spark, "nodes")
        .filter(F.col("name") == "ghost-node-not-in-aws")
        .count()
        == 0
    )


def _cfn_inputs(spark):
    tpl = {
        "Resources": {
            "Fn": {
                "Type": "AWS::Lambda::Function",
                "Properties": {
                    "Environment": {"Variables": {"TABLE": {"Ref": "OrdersTable"}}},
                    "Role": {"RoleArn": "arn:aws:iam::1:role/r"},
                },
            },
            "Q": {"Type": "AWS::SQS::Queue", "DependsOn": {"Ref": "Fn"}},
        }
    }
    templates = spark.createDataFrame(
        [("stack-a", json.dumps(tpl))], "stack_name string, template string"
    )
    dims = spark.createDataFrame(
        [
            ("OrdersTable", "orders-ddb", "DynamoDBTable"),
            ("Fn", "fn-physical", "LambdaFunction"),
        ],
        "logical_id string, physical_id string, target_label string",
    )
    return templates, dims


def test_cfn_pipeline_extracts_and_merges(spark, tmp_path):
    templates, dims = _cfn_inputs(spark)
    store = GraphStore(str(tmp_path / "store"))
    n = run_cfn_etl(spark, templates, dims, store, version=0)
    edges = {tuple(r) for r in store.read(spark, "cfn_edges").collect()}
    assert n == 2
    assert ("stack-a", "orders-ddb", "DependsOn", "declared_in:stack-a") in edges
    assert ("stack-a", "fn-physical", "DependsOn", "declared_in:stack-a") in edges
    # 'arn:...' is a RoleArn string ref but resolves to no logical id ⇒ dropped
    assert not any(e[1].startswith("arn:") for e in edges)

    # idempotent re-run
    assert run_cfn_etl(spark, templates, dims, store, version=1) == 2


def test_aws_same_version_replay_keeps_stats_and_rows(spark, sf_dir, tmp_path):
    """Re-running a pipeline at the version it already published (a
    retried run): its merge READS that version while the publish
    replaces it, so the returned counts must come from the write
    itself — a count after the publish would re-read files the publish
    just deleted. Same stats, same stored rows."""
    store = GraphStore(str(tmp_path / "store"))
    stats = run_aws_snapshot_etl(spark, sf_dir, store, version=0)
    nodes = _snapshot(spark, store, "nodes")
    edges = _snapshot(spark, store, "infra_edges")
    assert run_aws_snapshot_etl(spark, sf_dir, store, version=0) == stats
    assert _snapshot(spark, store, "nodes") == nodes
    assert _snapshot(spark, store, "infra_edges") == edges


def test_cfn_same_version_replay_keeps_count_and_rows(spark, tmp_path):
    """The cfn form of the same-version replay above."""
    templates, dims = _cfn_inputs(spark)
    store = GraphStore(str(tmp_path / "store"))
    assert run_cfn_etl(spark, templates, dims, store, version=0) == 2
    edges = _snapshot(spark, store, "cfn_edges")
    assert run_cfn_etl(spark, templates, dims, store, version=0) == 2
    assert _snapshot(spark, store, "cfn_edges") == edges


def test_multi_writer_convergence_st6(spark, sf_dir, tmp_path):
    """ST6: the aws batch pipeline and the deepflow stream share one
    keyed store at different cadences; each writer touches only its own
    column namespace and GCs only its own labels."""
    from etl_neptune_spark.streaming import run_deepflow_stream
    from etl_neptune_spark.sources import load_table as lt

    store = GraphStore(str(tmp_path / "store"))

    # cadence 1: aws snapshot
    run_aws_snapshot_etl(spark, sf_dir, store, version=0)
    ec2_before = {
        r.name: (r.tier, r.health_status)
        for r in store.read(spark, "nodes").filter(F.col("label") == "EC2Instance").collect()
    }
    assert ec2_before

    # cadence 2: deepflow stream drains into the same store
    src = str(tmp_path / "in")
    lt(spark, sf_dir, "events").coalesce(1).write.parquet(src)
    run_deepflow_stream(spark, src, store)

    nodes = store.read(spark, "nodes")
    # deepflow added its Microservice nodes with degree metrics...
    ms = nodes.filter((F.col("label") == "Microservice") & F.col("last_seen").isNotNull())
    assert ms.count() > 0
    assert ms.filter(F.col("out_degree").isNull()).count() == 0
    # ...and did NOT clobber or GC the aws nodes / namespaces
    ec2_after = {
        r.name: (r.tier, r.health_status)
        for r in nodes.filter(F.col("label") == "EC2Instance").collect()
    }
    assert ec2_after == ec2_before

    # cadence 3: aws runs again — deepflow's columns survive untouched
    run_aws_snapshot_etl(spark, sf_dir, store, version=99)
    nodes2 = store.read(spark, "nodes")
    ms2 = {
        r.name: r.last_seen
        for r in nodes2.filter(
            (F.col("label") == "Microservice") & F.col("last_seen").isNotNull()
        ).collect()
    }
    ms1 = {r.name: r.last_seen for r in ms.collect()}
    for name, seen in ms1.items():
        assert ms2[name] == seen


def test_corpus_pipeline_stages_and_determinism(spark, sf_dir):
    """End-to-end corpus assembly: per-stage counts are monotone
    non-increasing through the gates, survivors are unique by content,
    packing covers every train doc exactly once, and a re-run is
    byte-identical (seedless determinism)."""
    from etl_neptune_spark.pipelines.corpus import run_corpus_pipeline

    packed, stats = run_corpus_pipeline(spark, sf_dir)
    order = ["raw", "after_quality", "after_decontamination",
             "after_exact_dedup", "after_near_dedup", "train_docs"]
    vals = [stats[k] for k in order]
    assert vals == sorted(vals, reverse=True), stats
    assert stats["raw"] > 0 and stats["train_docs"] > 0
    assert stats["packed_sequences"] >= 1

    rows = packed.collect()
    assert len(rows) == stats["train_docs"]  # one row per train doc
    assert len({r.doc_id for r in rows}) == len(rows)
    assert all(r.seq_id >= 0 and r.n_tokens > 0 for r in rows)

    packed2, stats2 = run_corpus_pipeline(spark, sf_dir)
    assert stats2 == stats
    assert sorted(map(tuple, packed2.collect())) == sorted(map(tuple, rows))


def test_aws_gc_and_health_from_one_pass(spark, sf_dir, tmp_path):
    """The ghost GC and the health alarms of one run, on a store another
    writer shares: an EC2Instance ghost absent from the snapshot is
    dropped, a Microservice row the other writer put there survives
    (this pipeline GCs only its own labels), a customer with an urgent
    open order is degraded, one whose urgent orders are all closed is
    healthy, and a re-run at the same version returns the same stats
    and rows."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").join(
        customer, F.col("o_custkey") == F.col("c_custkey")
    )
    open_any = urgent.groupBy("c_name").agg(
        F.max(F.col("o_orderstatus") == "O").alias("open")
    )
    alarmed = {r.c_name for r in open_any.filter("open").collect()}
    closed_only = {r.c_name for r in open_any.filter("NOT open").collect()}
    assert alarmed and closed_only

    store = GraphStore(str(tmp_path / "store"))
    run_aws_snapshot_etl(spark, sf_dir, store, version=0)
    foreign = spark.createDataFrame(
        [("EC2Instance", "ghost-node-not-in-aws", "degraded"),
         ("Microservice", "svc-of-another-writer", "degraded")],
        "label string, name string, health_status string",
    )
    store.write(
        store.read(spark, "nodes").unionByName(foreign, allowMissingColumns=True), "nodes", 1
    )

    stats = run_aws_snapshot_etl(spark, sf_dir, store, version=2)
    nodes = {(r.label, r.name): r for r in store.read(spark, "nodes").collect()}
    assert ("EC2Instance", "ghost-node-not-in-aws") not in nodes
    assert nodes[("Microservice", "svc-of-another-writer")].health_status == "healthy"
    ec2 = {n: r.health_status for (label, n), r in nodes.items() if label == "EC2Instance"}
    assert all(ec2[n] == "degraded" for n in alarmed)
    assert all(ec2[n] == "healthy" for n in closed_only)
    assert {n for n, h in ec2.items() if h == "degraded"} == alarmed
    assert stats["degraded"] == len(alarmed)
    assert stats["nodes"] == len(nodes)

    rows = _snapshot(spark, store, "nodes")
    assert run_aws_snapshot_etl(spark, sf_dir, store, version=2) == stats
    assert _snapshot(spark, store, "nodes") == rows
