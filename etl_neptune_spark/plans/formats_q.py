"""Certified queries over the non-parquet wire formats (SURVEY §2.1
SRC2–SRC5, §2.2 P2) — the parse → explode → project paths that were
previously unit-test-only, now driver-gated against committed
deterministic fixtures under ``fixtures/``.

Reference shapes:
- SRC2 TSV rows from ClickHouse HTTP (``ch_query``,
  lambda/etl_deepflow/neptune_etl_deepflow.py:116-125).
- SRC3/SRC4 JSON rows + nested K8s payloads with containers[] arrays
  (``ch_query_json`` :127-136; pod walk :288-374).
- SRC5 CloudFormation ``GetTemplate`` JSON keyed by logical id
  (lambda/etl_cfn/neptune_etl_cfn.py:169-183).

The fixture paths are repo-absolute (committed test data, not runtime
inputs); the DuckDB oracles read the SAME files via read_csv /
read_json, so the gate certifies the parse itself, not just the
downstream relational work. Float-bearing columns are snapped to
integer tenths before aggregation so both engines sum exact BIGINTs
(the strict-hash posture — summation order must not matter).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_neptune_spark.plans.registry import register, scratch_dir
from etl_neptune_spark.sources.formats import explode_nested, read_json, read_tsv
from etl_neptune_spark.sources.tables import read_parquet

FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "fixtures",
)

_FLOWS_SCHEMA = (
    "src bigint, dst bigint, protocol string, calls bigint, "
    "errors bigint, dur_ms double"
)

_PODS_SCHEMA = (
    "metadata struct<name:string, namespace:string>, "
    "status struct<phase:string, hostIP:string>, "
    "spec struct<nodeName:string, "
    "containers:array<struct<name:string, image:string, restartCount:bigint>>>"
)

_TEMPLATE_SCHEMA = (
    "map<string, struct<Type:string, "
    "Properties:struct<Tag:string, Index:bigint>>>"
)


def q_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC2: schema-full TSV scan (the ClickHouse-HTTP row shape) →
    filter → keyed aggregate. Duration milliseconds are snapped to
    exact integer tenths BEFORE summing so the aggregate is an exact
    BIGINT on both engines; one final division renders the weighted
    mean."""
    flows = read_tsv(spark, os.path.join(FIXTURES, "flows.tsv"), _FLOWS_SCHEMA)
    dur_e1 = F.round(F.col("dur_ms") * 10).cast("bigint")
    return (
        flows.filter(F.col("calls") >= 10)
        .groupBy("protocol")
        .agg(
            F.count("*").alias("n_flows"),
            F.sum("calls").alias("total_calls"),
            F.sum("errors").alias("total_errors"),
            F.sum(dur_e1).alias("dur_e1"),
        )
        .select(
            "protocol",
            "n_flows",
            "total_calls",
            "total_errors",
            F.round(
                F.col("dur_e1").cast("double")
                / 10.0
                / F.col("n_flows").cast("double"),
                4,
            ).alias("avg_dur_ms"),
        )
    )


register(
    "q_csv_scan",
    q_csv_scan,
    f"""
    SELECT protocol,
           count(*) AS n_flows,
           CAST(sum(calls) AS BIGINT) AS total_calls,
           CAST(sum(errors) AS BIGINT) AS total_errors,
           round(CAST(sum(CAST(round(dur_ms * 10) AS BIGINT)) AS DOUBLE)
                 / 10.0 / CAST(count(*) AS DOUBLE), 4) AS avg_dur_ms
    FROM read_csv('{FIXTURES}/flows.tsv', delim='\t', header=false,
      columns={{'src':'BIGINT','dst':'BIGINT','protocol':'VARCHAR',
               'calls':'BIGINT','errors':'BIGINT','dur_ms':'DOUBLE'}})
    WHERE calls >= 10
    GROUP BY protocol
    """,
)


def q_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC3/SRC4 + P2: JSON-lines scan with an explicit nested schema
    (typed nulls, no inference pass) → containers[] explode → dotted-
    path projection — the K8s pod walk as one declarative plan."""
    pods = read_json(spark, os.path.join(FIXTURES, "pods.jsonl"), _PODS_SCHEMA)
    base = pods.select(
        F.col("metadata.name").alias("pod_name"),
        F.col("metadata.namespace").alias("namespace"),
        F.col("spec.nodeName").alias("node"),
        F.col("status.phase").alias("phase"),
        F.col("spec.containers").alias("containers"),
    )
    out = explode_nested(
        base,
        "containers",
        ["name", "image", "restartCount"],
        keep=["pod_name", "namespace", "node", "phase"],
    )
    return out.select(
        "pod_name",
        "namespace",
        "node",
        "phase",
        F.col("name").alias("container"),
        "image",
        F.col("restartCount").alias("restarts"),
    )


register(
    "q_json_scan",
    q_json_scan,
    f"""
    SELECT pod_name, namespace, node, phase,
           c.name AS container, c.image AS image,
           CAST(c.restartCount AS BIGINT) AS restarts
    FROM (
      SELECT metadata.name AS pod_name, metadata.namespace AS namespace,
             spec.nodeName AS node, status.phase AS phase,
             unnest(spec.containers) AS c
      FROM read_json('{FIXTURES}/pods.jsonl', format='newline_delimited',
        columns={{'metadata':'STRUCT(name VARCHAR, namespace VARCHAR)',
                 'status':'STRUCT(phase VARCHAR, hostIP VARCHAR)',
                 'spec':'STRUCT(nodeName VARCHAR, containers
                     STRUCT(name VARCHAR, image VARCHAR,
                            restartCount BIGINT)[])'}})
    )
    """,
)


def q_template_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC5: CloudFormation-template parse — whole-document text scan
    → ``from_json`` with a MAP<logical_id, resource> schema (the
    Resources object is keyed by arbitrary logical ids, so a struct
    schema can't hold it) → map explode → typed projection. This is
    the scale path for N templates (one row per stack, JVM-side
    parse); the single-document JSON-then-YAML fallback seam is
    ``sources.formats.parse_template_text``
    (neptune_etl_cfn.py:175-179), unit-covered."""
    raw = spark.read.text(
        os.path.join(FIXTURES, "template.json"), wholetext=True
    )
    parsed = raw.select(
        F.from_json(
            F.get_json_object("value", "$.Resources"), _TEMPLATE_SCHEMA
        ).alias("resources")
    )
    return (
        parsed.select(F.explode("resources").alias("logical_id", "res"))
        .select(
            "logical_id",
            F.col("res.Type").alias("resource_type"),
            F.col("res.Properties.Tag").alias("tag"),
            F.col("res.Properties.Index").alias("idx"),
        )
    )


def q_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB read-path claim (SURVEY §4) certified rather than
    asserted: write events to a date-partitioned parquet layout
    (hive-style ``day=`` directories — the layout a 5-min-cadence
    pipeline lands its batches in), then answer a 3-day lookback from
    the PRUNED read — the scan carries ``PartitionFilters`` and
    touches 3 of ~30 day directories (pinned by test_sinks +
    PLAN_AUDIT). The oracle recomputes the same 3-day aggregate from
    the unpartitioned snapshot, so the gate certifies that pruning
    loses nothing. Reference: the 5-min EventBridge batch cadence
    (lib/neptune-etl-stack.ts:148-153) is what makes time the primary
    partition axis."""
    from etl_neptune_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    out = os.path.join(
        os.path.dirname(FIXTURES), "spark-warehouse", f"events_by_day_{sf_tag}"
    )
    (
        ev.withColumn("day", F.to_date("ts"))
        .write.partitionBy("day")
        .mode("overwrite")
        .parquet(out)
    )
    back = read_parquet(spark, out)
    pruned = back.filter(
        (F.col("day") >= F.lit("2024-01-05").cast("date"))
        & (F.col("day") <= F.lit("2024-01-07").cast("date"))
    )
    return pruned.groupBy(
        F.date_format("day", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
        F.countDistinct("user_id").alias("n_users"),
    )


register(
    "q_partition_prune",
    q_partition_prune,
    """
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN '2024-01-05' AND '2024-01-07'
    GROUP BY 1
    """,
)


register(
    "q_template_scan",
    q_template_scan,
    f"""
    SELECT e.key AS logical_id,
           e.value."Type" AS resource_type,
           e.value."Properties"."Tag" AS tag,
           CAST(e.value."Properties"."Index" AS BIGINT) AS idx
    FROM (
      SELECT unnest(map_entries(Resources)) AS e
      FROM read_json('{FIXTURES}/template.json', format='unstructured',
        columns={{'AWSTemplateFormatVersion':'VARCHAR',
                 'Resources':'MAP(VARCHAR, STRUCT("Type" VARCHAR,
                     "Properties" STRUCT("Tag" VARCHAR, "Index" BIGINT)))'}})
    )
    """,
)


def q_bucketed_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB co-located MERGE, gated: both sides written as
    bucketed+sorted tables on the merge key, then merge_keyed's
    full-outer LWW join runs with NO Exchange — the bucketed scans
    satisfy the join's required hash distribution (plain-equality
    keys; operators/merge.py ``null_safe`` note), so at scale the
    nightly keyed merge never reshuffles the store. The no-shuffle
    plan is pinned by tests/test_bucketing.py and
    test_formats_queries.py; THIS query certifies the merge RESULT
    through the driver gate (the oracle recomputes the LWW outcome
    from the base table). Reference: the mergeV/property(single)
    upsert is the reference's core write
    (neptune_etl_aws.py:209-253)."""
    from etl_neptune_spark.operators.merge import merge_keyed
    from etl_neptune_spark.sources import load_table

    cust = load_table(spark, sf_dir, "customer")
    existing = cust.select(
        F.lit("EC2Instance").alias("label"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("balance"),
    )
    incoming = cust.filter(F.col("c_custkey") % 2 == 0).select(
        F.lit("EC2Instance").alias("label"),
        F.col("c_name").alias("name"),
        (F.col("c_acctbal") * 2).alias("balance"),
    )
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_") or "sf"
    # the managed-table LOCATION outlives the in-memory catalog (a new
    # session forgets the table but the warehouse dir keeps the files),
    # so DROP TABLE alone leaves a stale location that saveAsTable
    # refuses — remove both
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")).path
    names = []
    for suffix, df in (("existing", existing), ("incoming", incoming)):
        tbl = f"qbm_{tag}_{suffix}"
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(os.path.join(wh, tbl), ignore_errors=True)
        (
            df.write.bucketBy(8, "label", "name")
            .sortBy("label", "name")
            .mode("overwrite")
            .saveAsTable(tbl)
        )
        names.append(tbl)
    ex, inc = (spark.table(n) for n in names)
    return merge_keyed(
        ex,
        inc,
        keys=["label", "name"],
        update_cols=["balance"],
        null_safe=False,
    )


register(
    "q_bucketed_merge",
    q_bucketed_merge,
    """
    SELECT 'EC2Instance' AS label,
           c_name AS name,
           CASE WHEN c_custkey % 2 = 0 THEN c_acctbal * 2
                ELSE c_acctbal END AS balance
    FROM customer
    """,
)


def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION on the storage layer, certified through the
    gate: two parquet generations of the same table — an old one
    without ``price_cents`` and a new one with it — are read as ONE
    relation via ``mergeSchema``, old rows surfacing NULL for the
    added column. The aggregate separates row counts from priced-row
    counts, so the hash compare certifies the union-with-nulls
    semantics (a silent column drop or zero-fill would shift both).

    This is the 100 TB reality of any long-lived table: columns are
    added mid-history and readers must span generations without a
    rewrite. Complements load_table's timestamp-encoding
    normalization (sources/tables.py) — that certifies type drift,
    this certifies column-set drift."""
    from etl_neptune_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    root = scratch_dir("schema_evo", sf_dir)
    gen_old = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus"
    )
    gen_new = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias(
            "price_cents"
        ),
    )
    gen_old.write.mode("overwrite").parquet(os.path.join(root, "g0"))
    gen_new.write.mode("overwrite").parquet(os.path.join(root, "g1"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "g0"), os.path.join(root, "g1")
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        F.count("price_cents").alias("n_priced"),
        F.sum(F.coalesce("price_cents", F.lit(0))).alias("cents"),
    )


register(
    "q_schema_evolution",
    q_schema_evolution,
    """
    SELECT o_orderstatus,
           count(*) AS n_rows,
           count(*) FILTER (WHERE o_orderkey % 2 = 1) AS n_priced,
           CAST(sum(CASE WHEN o_orderkey % 2 = 1
                         THEN CAST(round(o_totalprice * 100) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS cents
    FROM orders
    GROUP BY o_orderstatus
    """,
)
