"""Graph-table plans — keyed upserts, metric join-updates, multi-writer
convergence, last-write-wins, and degree metrics (SURVEY §2.1 SNK1-SNK5,
§2.4 A13-A14, §2.8 ST3/ST6).

The property graph lives as nodes/edges DataFrames keyed ``(label,
name)`` / ``(src, dst, edge_label)`` (SURVEY §1.4); every mutation is
the ``operators.merge.merge_keyed`` full-outer-coalesce MERGE, mirroring
Gremlin mergeV/mergeE semantics without a transactional store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dec_avg
from ..materialize import cut
from ..operators import degree_metrics, merge_keyed
from ..sources import load_table
from .flow import _flows
from .registry import register, scratch_dir


def q_upsert_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNK1/F14 — vertex upsert with distinct onCreate/onMatch column
    sets and None-preserving updates (mergeV,
    neptune_etl_aws.py:209-253): the incoming batch overwrites the
    metric column, must NOT clobber with its NULL segment, and must NOT
    rewrite the create-only batch stamp."""
    cust = load_table(spark, sf_dir, "customer")
    existing = cust.filter(F.col("c_custkey") % 3 != 0).select(
        F.lit("Customer").alias("label"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
        F.lit(1).alias("created_batch"),
    )
    incoming = cust.filter(F.col("c_custkey") % 2 == 0).select(
        F.lit("Customer").alias("label"),
        F.col("c_name").alias("name"),
        # decimal-exact ×1.1 so the rounded value is engine-independent
        F.round(
            F.col("c_acctbal").cast("decimal(18,2)") * F.lit("1.1").cast("decimal(3,1)"), 2
        )
        .cast("double")
        .alias("acctbal"),
        F.lit(None).cast("string").alias("segment"),  # must not clobber
        F.lit(2).alias("created_batch"),
    )
    return merge_keyed(
        existing,
        incoming,
        keys=["label", "name"],
        update_cols=["acctbal", "segment"],
        create_only_cols=["created_batch"],
    )


register(
    "q_upsert_nodes",
    q_upsert_nodes,
    """
    WITH existing AS (
        SELECT 'Customer' AS label, c_name AS name, c_acctbal AS acctbal,
               c_mktsegment AS segment, 1 AS created_batch
        FROM customer WHERE c_custkey % 3 != 0
    ),
    incoming AS (
        SELECT 'Customer' AS label, c_name AS name,
               CAST(round(CAST(c_acctbal AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(3,1)), 2)
                    AS DOUBLE) AS acctbal,
               CAST(NULL AS VARCHAR) AS segment, 2 AS created_batch
        FROM customer WHERE c_custkey % 2 = 0
    )
    SELECT coalesce(e.label, i.label) AS label,
           coalesce(e.name, i.name) AS name,
           coalesce(i.acctbal, e.acctbal) AS acctbal,
           coalesce(i.segment, e.segment) AS segment,
           coalesce(e.created_batch, i.created_batch) AS created_batch
    FROM existing e FULL OUTER JOIN incoming i
      ON e.label = i.label AND e.name = i.name
    """,
)


def q_upsert_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNK2/ST5 — edge get-or-create keyed (src, dst, label) with
    metric overwrite + activity stamp (coalesce(inE…, addE…) then
    last-write-wins props, neptune_etl_aws.py:255-275;
    neptune_etl_deepflow.py:503-534). Two micro-batches (split by
    event_id parity) merge into one edge table: calls/last_seen updated
    by the newer batch, first_seen_batch kept from the older."""
    ev = load_table(spark, sf_dir, "events")

    def batch(parity: int, stamp: int) -> DataFrame:
        return (
            ev.filter(F.col("event_id") % 2 == parity)
            .groupBy(
                (F.col("user_id") % 25).cast("bigint").alias("src"),
                (
                    F.regexp_extract("props", r'"k": ([0-9]+)', 1).cast("bigint") % 8
                ).alias("dst"),
            )
            .agg(F.count("*").alias("calls"))
            .withColumn("edge_label", F.lit("Calls"))
            .withColumn("last_seen_batch", F.lit(stamp))
            .withColumn("first_seen_batch", F.lit(stamp))
        )

    return merge_keyed(
        batch(0, 1),
        batch(1, 2),
        keys=["src", "dst", "edge_label"],
        update_cols=["calls", "last_seen_batch"],
        create_only_cols=["first_seen_batch"],
    )


register(
    "q_upsert_edges",
    q_upsert_edges,
    """
    WITH b0 AS (
        SELECT CAST(user_id % 25 AS BIGINT) AS src,
               TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) % 8 AS dst,
               'Calls' AS edge_label, count(*) AS calls,
               1 AS last_seen_batch, 1 AS first_seen_batch
        FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2
    ),
    b1 AS (
        SELECT CAST(user_id % 25 AS BIGINT) AS src,
               TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) % 8 AS dst,
               'Calls' AS edge_label, count(*) AS calls,
               2 AS last_seen_batch, 2 AS first_seen_batch
        FROM events WHERE event_id % 2 = 1 GROUP BY 1, 2
    )
    SELECT coalesce(b0.src, b1.src) AS src,
           coalesce(b0.dst, b1.dst) AS dst,
           coalesce(b0.edge_label, b1.edge_label) AS edge_label,
           coalesce(b1.calls, b0.calls) AS calls,
           coalesce(b1.last_seen_batch, b0.last_seen_batch) AS last_seen_batch,
           coalesce(b0.first_seen_batch, b1.first_seen_batch) AS first_seen_batch
    FROM b0 FULL OUTER JOIN b1
      ON b0.src = b1.src AND (b0.dst = b1.dst OR (b0.dst IS NULL AND b1.dst IS NULL))
     AND b0.edge_label = b1.edge_label
    """,
)


def q_metric_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNK3/J10 — in-place metric join-update: match nodes by key,
    overwrite only metric columns, default when no metrics arrived
    (update_ec2_metrics, neptune_etl_aws.py:1087-1099;
    batch_fetch_dependency_and_update, neptune_etl_deepflow.py:536-617)."""
    cust = load_table(spark, sf_dir, "customer")
    metrics = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            dec_avg("value", round_to=2).alias("avg_value"),
            F.count("*").alias("n_events"),
        )
    )
    return (
        cust.join(metrics, cust.c_custkey == metrics.user_id, "left")
        .select(
            "c_custkey",
            "c_name",
            F.coalesce(F.col("avg_value"), F.lit(0.0)).alias("avg_value"),
            F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
        )
    )


register(
    "q_metric_update",
    q_metric_update,
    """
    WITH metrics AS (
        SELECT user_id,
               CAST((CAST(sum(CAST(value AS DECIMAL(28,2))) * 200 AS BIGINT)
                     + count(value)) // (2 * count(value)) AS DOUBLE) / 100.0
                   AS avg_value,
               count(*) AS n_events
        FROM events GROUP BY user_id
    )
    SELECT c_custkey, c_name,
           coalesce(avg_value, 0.0) AS avg_value,
           coalesce(n_events, 0) AS n_events
    FROM customer LEFT JOIN metrics ON c_custkey = user_id
    """,
)


def q_multi_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/ST6 — three pipelines at different cadences converge on one
    keyed store with per-source column ownership (aws topology writer +
    deepflow traffic writer + cfn dependency writer all upserting the
    same (label,name) vertices; neptune_etl_aws.py:1227-1241 vs
    neptune_etl_deepflow.py:451-501 vs neptune_etl_cfn.py:356-366).
    Commutative because each writer owns disjoint columns."""
    key = F.col("node_key")
    aws = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").cast("bigint").alias("node_key"))
        .agg(F.count("*").alias("n_customers"))
    )
    deepflow = (
        load_table(spark, sf_dir, "events")
        .groupBy((F.col("user_id") % 25).cast("bigint").alias("node_key"))
        .agg(F.count("*").alias("n_calls"))
    )
    cfn = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").cast("bigint").alias("node_key"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    merged = merge_keyed(
        merge_keyed(aws, deepflow, keys=["node_key"], update_cols=["n_customers", "n_calls"]),
        cfn,
        keys=["node_key"],
        update_cols=["n_customers", "n_calls", "n_suppliers"],
    )
    return merged.select(
        key,
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_calls", F.lit(0)).alias("n_calls"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


register(
    "q_multi_writer",
    q_multi_writer,
    """
    WITH aws AS (
        SELECT CAST(c_nationkey AS BIGINT) AS node_key, count(*) AS n_customers
        FROM customer GROUP BY 1
    ),
    deepflow AS (
        SELECT CAST(user_id % 25 AS BIGINT) AS node_key, count(*) AS n_calls
        FROM events GROUP BY 1
    ),
    cfn AS (
        SELECT CAST(s_nationkey AS BIGINT) AS node_key, count(*) AS n_suppliers
        FROM supplier GROUP BY 1
    )
    SELECT coalesce(aws.node_key, deepflow.node_key, cfn.node_key) AS node_key,
           coalesce(n_customers, 0) AS n_customers,
           coalesce(n_calls, 0) AS n_calls,
           coalesce(n_suppliers, 0) AS n_suppliers
    FROM aws
    FULL OUTER JOIN deepflow ON aws.node_key = deepflow.node_key
    FULL OUTER JOIN cfn ON coalesce(aws.node_key, deepflow.node_key) = cfn.node_key
    """,
)


def q_lww(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3 — last-write-wins keyed state across micro-batches
    (``property(single, …)`` + last_updated stamps,
    neptune_etl_aws.py:232-238; the cardinality bug the reference had
    to repair in production, fix_neptune_data.py:32-68). Two batches
    union, then ``max_by`` over the (ts, event_id) total order picks the
    newest value per key."""
    ev = load_table(spark, sf_dir, "events")
    batches = ev.filter(F.col("event_id") % 2 == 0).unionByName(
        ev.filter(F.col("event_id") % 2 == 1)
    )
    order = F.struct(F.col("ts"), F.col("event_id"))
    return batches.groupBy("user_id").agg(
        F.max_by("value", order).alias("last_value"),
        F.max_by("event_type", order).alias("last_event_type"),
        F.max("ts").alias("last_updated"),
    )


register(
    "q_lww",
    q_lww,
    """
    SELECT user_id, value AS last_value, event_type AS last_event_type,
           max_ts AS last_updated
    FROM (
        SELECT *, max(ts) OVER (PARTITION BY user_id) AS max_ts,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)


def q_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13/A14 — per-node degree metrics + derived flags from the Calls
    edge table: out/in degree, db-dependency count, entry-point flag —
    the reference's 4-queries-merged-into-one project() pass
    (neptune_etl_deepflow.py:540-568; OPTIMIZATION-CHANGELOG.md:44)."""
    edges = (
        _flows(spark, sf_dir)
        .groupBy("src", "dst")
        .agg(F.count("*").alias("calls"))
    )
    return degree_metrics(
        edges,
        src="src",
        dst="dst",
        weight="calls",
        dst_label_filters={"db": F.col("dst").isin(0, 1)},
    )


register(
    "q_degrees",
    q_degrees,
    """
    WITH bounds AS (SELECT max(ts) AS max_ts FROM events),
    flows AS (
        SELECT CAST(user_id % 25 AS BIGINT) AS src,
               TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) % 8 AS dst
        FROM events, bounds
        WHERE value > 0 AND ts >= max_ts - INTERVAL 15 DAY
    ),
    edges AS (
        SELECT src, dst, count(*) AS calls FROM flows
        WHERE src != dst GROUP BY src, dst
    ),
    outs AS (
        SELECT src AS node, count(*) AS out_degree, sum(calls) AS out_weight,
               count(*) FILTER (WHERE dst IN (0, 1)) AS db_count
        FROM edges GROUP BY src
    ),
    ins AS (
        SELECT dst AS node, count(*) AS in_degree FROM edges GROUP BY dst
    )
    SELECT coalesce(outs.node, ins.node) AS node,
           coalesce(out_degree, 0) AS out_degree,
           coalesce(in_degree, 0) AS in_degree,
           CAST(coalesce(out_weight, 0) AS BIGINT) AS out_weight,
           coalesce(db_count, 0) AS db_count,
           coalesce(in_degree, 0) = 0 AS is_entry_point,
           coalesce(db_count, 0) > 0 AS has_db_dependency
    FROM outs FULL OUTER JOIN ins ON outs.node = ins.node
    """,
)


PR_MOD = 200
PR_ITERS = 5


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PageRank (operators.components.pagerank) over the
    interaction graph derived from events (user bucket → props.k
    bucket): 5 fixed power iterations of the GraphX-style recurrence,
    certified value-exact (4 dp) against DuckDB's recursive-CTE run of
    the same recurrence."""
    from ..operators.components import pagerank

    events = load_table(spark, sf_dir, "events")
    edges = events.select(
        (F.col("user_id") % PR_MOD).cast("bigint").alias("src"),
        (F.regexp_extract("props", r'"k": ([0-9]+)', 1).cast("bigint") % PR_MOD)
        .alias("dst"),
    )
    return pagerank(edges, iters=PR_ITERS)


register(
    "q_pagerank",
    q_pagerank,
    f"""
    WITH RECURSIVE
    raw AS (
        SELECT DISTINCT CAST(user_id % {PR_MOD} AS BIGINT) AS u,
               TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
                   % {PR_MOD} AS v
        FROM events
        WHERE user_id IS NOT NULL
          AND TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
              IS NOT NULL
    ),
    deg AS (SELECT u, count(*) AS d FROM raw GROUP BY u),
    verts AS (
        SELECT DISTINCT x FROM (SELECT u AS x FROM raw UNION SELECT v FROM raw)
    ),
    e2 AS (
        SELECT r.u, r.v, CAST(1.0 AS DOUBLE) / deg.d AS w
        FROM raw r JOIN deg USING (u)
        UNION ALL
        SELECT x, x, CAST(0.0 AS DOUBLE) FROM verts
    ),
    pr AS (
        SELECT x AS u, CAST(1.0 AS DOUBLE) AS r, 0 AS it FROM verts
        UNION ALL
        SELECT e2.v AS u,
               CAST(0.15 AS DOUBLE)
                   + CAST(0.85 AS DOUBLE) * sum(pr.r * e2.w) AS r,
               min(pr.it) + 1 AS it
        FROM pr JOIN e2 ON e2.u = pr.u
        WHERE pr.it < {PR_ITERS}
        GROUP BY e2.v
    )
    SELECT u AS vertex, round(r, 4) AS rank FROM pr WHERE it = {PR_ITERS}
    """,
)


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts over the events interaction graph
    (operators.components.triangle_counts — ordered-wedge plan, every
    triangle found once in vertex-sorted order)."""
    from ..operators.components import triangle_counts

    events = load_table(spark, sf_dir, "events")
    edges = events.select(
        (F.col("user_id") % PR_MOD).cast("bigint").alias("src"),
        (F.regexp_extract("props", r'"k": ([0-9]+)', 1).cast("bigint") % PR_MOD)
        .alias("dst"),
    ).filter(F.col("dst").isNotNull())
    return triangle_counts(edges)


register(
    "q_triangles",
    q_triangles,
    f"""
    WITH raw AS (
        SELECT DISTINCT
               least(CAST(user_id % {PR_MOD} AS BIGINT),
                     TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
                         % {PR_MOD}) AS a,
               greatest(CAST(user_id % {PR_MOD} AS BIGINT),
                        TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
                            % {PR_MOD}) AS b
        FROM events
        WHERE user_id IS NOT NULL
          AND TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
              IS NOT NULL
    ),
    e AS (SELECT a, b FROM raw WHERE a <> b),
    tri AS (
        SELECT ab.a AS x, ab.b AS y, bc.b AS z
        FROM e ab
        JOIN e bc ON bc.a = ab.b
        JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
    ),
    members AS (
        SELECT x AS vertex FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    ),
    verts AS (
        SELECT DISTINCT vertex
        FROM (SELECT a AS vertex FROM e UNION SELECT b FROM e)
    )
    SELECT v.vertex, coalesce(m.triangles, 0) AS triangles
    FROM verts v
    LEFT JOIN (SELECT vertex, count(*) AS triangles FROM members GROUP BY vertex) m
      USING (vertex)
    """,
)


KCORE_K = 10
KCORE_ROUNDS = 12


def _interaction_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.select(
        (F.col("user_id") % PR_MOD).cast("bigint").alias("src"),
        (F.regexp_extract("props", r'"k": ([0-9]+)', 1).cast("bigint") % PR_MOD)
        .alias("dst"),
    ).filter(F.col("dst").isNotNull())


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertices of the 10-core of the events interaction graph
    (operators.components.kcore — fixed peel rounds, reproduced by the
    oracle as unrolled CTE stages). k=10 peels a 2-round cascade at
    sf0.001 (100→21 vertices) while staying non-empty at every SF; the
    triangle-with-pendant unit test pins deeper cascades."""
    from ..operators.components import kcore

    return kcore(_interaction_edges(spark, sf_dir), k=KCORE_K, rounds=KCORE_ROUNDS)


def _kcore_sql(k: int, rounds: int) -> str:
    stages = [f"""
    e0 AS MATERIALIZED (
        SELECT DISTINCT least(a0, b0) AS a, greatest(a0, b0) AS b
        FROM (
            SELECT CAST(user_id % {PR_MOD} AS BIGINT) AS a0,
                   TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
                       % {PR_MOD} AS b0
            FROM events
            WHERE user_id IS NOT NULL
              AND TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
                  IS NOT NULL
        ) WHERE a0 <> b0
    )"""]
    for i in range(1, rounds + 1):
        p = i - 1
        stages.append(f"""
    d{i} AS MATERIALIZED (
        SELECT v, count(*) AS d
        FROM (SELECT a AS v FROM e{p} UNION ALL SELECT b FROM e{p})
        GROUP BY v
    ),
    k{i} AS MATERIALIZED (SELECT v FROM d{i} WHERE d >= {k}),
    e{i} AS MATERIALIZED (
        SELECT e.a, e.b FROM e{p} e
        JOIN k{i} x ON e.a = x.v
        JOIN k{i} y ON e.b = y.v
    )""")
    return (
        "WITH " + ",".join(stages)
        + f"""
    SELECT DISTINCT vertex
    FROM (SELECT a AS vertex FROM e{rounds} UNION SELECT b FROM e{rounds})
    """
    )


register("q_kcore", q_kcore, _kcore_sql(KCORE_K, KCORE_ROUNDS))


def q_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per vertex: triangles(v) divided by
    C(deg(v), 2) on the simple interaction graph — triangle_counts
    composed with a degree aggregate, rounded to 4 dp."""
    from ..operators.components import triangle_counts

    edges = _interaction_edges(spark, sf_dir)
    e = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("vertex"))
        .unionByName(e.select(F.col("b").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count("*").alias("degree"))
    )
    tri = triangle_counts(edges)
    return tri.join(deg, "vertex").select(
        "vertex",
        "degree",
        "triangles",
        F.when(
            F.col("degree") >= 2,
            F.round(
                F.col("triangles") * 2.0
                / (F.col("degree") * (F.col("degree") - 1)),
                4,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


register(
    "q_clustering",
    q_clustering,
    f"""
    WITH raw AS (
        SELECT DISTINCT
               least(CAST(user_id % {PR_MOD} AS BIGINT),
                     TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
                         % {PR_MOD}) AS a,
               greatest(CAST(user_id % {PR_MOD} AS BIGINT),
                        TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
                            % {PR_MOD}) AS b
        FROM events
        WHERE user_id IS NOT NULL
          AND TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
              IS NOT NULL
    ),
    e AS (SELECT a, b FROM raw WHERE a <> b),
    deg AS (
        SELECT vertex, count(*) AS degree
        FROM (SELECT a AS vertex FROM e UNION ALL SELECT b FROM e)
        GROUP BY vertex
    ),
    tri AS (
        SELECT ab.a AS x, ab.b AS y, bc.b AS z
        FROM e ab
        JOIN e bc ON bc.a = ab.b
        JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
    ),
    members AS (
        SELECT x AS vertex FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    ),
    tcount AS (
        SELECT d.vertex, coalesce(m.n, 0) AS triangles
        FROM deg d
        LEFT JOIN (SELECT vertex, count(*) AS n FROM members GROUP BY vertex) m
          USING (vertex)
    )
    SELECT t.vertex, d.degree, t.triangles,
           CASE WHEN d.degree >= 2
                THEN round(t.triangles * 2.0 / (d.degree * (d.degree - 1)), 4)
                ELSE 0.0 END AS clustering
    FROM tcount t JOIN deg d USING (vertex)
    """,
)


BFS_SOURCE = 0
BFS_MAX_HOPS = 8


def q_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS hop counts (operators.components.bfs_hops)
    over the directed events interaction graph: minimum number of edges
    from vertex 0 to every vertex reachable in ≤ 8 hops. Certified
    against DuckDB's recursive enumeration of (vertex, hops) states
    with a min-hops rollup."""
    from ..operators.components import bfs_hops

    return bfs_hops(
        _interaction_edges(spark, sf_dir), BFS_SOURCE, max_hops=BFS_MAX_HOPS
    )


register(
    "q_bfs",
    q_bfs,
    f"""
    WITH RECURSIVE raw AS (
        SELECT DISTINCT CAST(user_id % {PR_MOD} AS BIGINT) AS u,
               TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
                   % {PR_MOD} AS v
        FROM events
        WHERE user_id IS NOT NULL
          AND TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
              IS NOT NULL
    ),
    e AS (SELECT u, v FROM raw WHERE u <> v),
    walk AS (
        SELECT CAST({BFS_SOURCE} AS BIGINT) AS vertex, 0 AS hops
        UNION
        SELECT e.v, walk.hops + 1
        FROM walk JOIN e ON e.u = walk.vertex
        WHERE walk.hops < {BFS_MAX_HOPS}
    )
    SELECT vertex, min(hops) AS hops FROM walk GROUP BY vertex
    """,
)


def q_temporal_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earliest time-respecting arrival from vertex 0 over the
    timestamped events interaction graph (operators.components.
    temporal_reach) — causal reachability, certified against DuckDB's
    recursive enumeration of admissible (vertex, ts) states with a
    min rollup."""
    from ..operators.components import temporal_reach

    events = load_table(spark, sf_dir, "events")
    edges = events.select(
        (F.col("user_id") % PR_MOD).cast("bigint").alias("src"),
        (F.regexp_extract("props", r'"k": ([0-9]+)', 1).cast("bigint") % PR_MOD)
        .alias("dst"),
        "ts",
    ).filter(F.col("dst").isNotNull())
    return temporal_reach(edges, BFS_SOURCE)


register(
    "q_temporal_reach",
    q_temporal_reach,
    f"""
    WITH RECURSIVE raw AS (
        SELECT DISTINCT CAST(user_id % {PR_MOD} AS BIGINT) AS u,
               TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
                   % {PR_MOD} AS v,
               ts
        FROM events
        WHERE user_id IS NOT NULL
          AND TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
              IS NOT NULL
    ),
    e AS (SELECT u, v, ts FROM raw WHERE u <> v),
    walk AS (
        SELECT CAST({BFS_SOURCE} AS BIGINT) AS vertex,
               TIMESTAMP '1970-01-01 00:00:00' AS t
        UNION
        SELECT e.v, e.ts
        FROM walk JOIN e ON e.u = walk.vertex AND e.ts >= walk.t
    )
    SELECT vertex, min(t) AS t FROM walk GROUP BY vertex
    """,
)


LP_ROUNDS = 3

# Shared raw symmetrized edge CTE for the label-propagation oracle —
# same interaction graph as q_pagerank/q_triangles.
_LP_EDGE_SQL = f"""
    raw0 AS (
        SELECT DISTINCT CAST(user_id % {PR_MOD} AS BIGINT) AS u,
               TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
                   % {PR_MOD} AS v
        FROM events
        WHERE user_id IS NOT NULL
          AND TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
              IS NOT NULL
    ),
    sym AS (
        SELECT a, b FROM (
            SELECT u AS a, v AS b FROM raw0
            UNION
            SELECT v AS a, u AS b FROM raw0
        ) WHERE a <> b
    )
"""


def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by 3 synchronous label-propagation rounds
    (operators.components.label_propagation) over the events
    interaction graph — deterministic (total tie order), certified
    round-for-round against an unrolled-CTE oracle."""
    from ..operators.components import label_propagation

    return label_propagation(_interaction_edges(spark, sf_dir), rounds=LP_ROUNDS)


def _lp_round_sql(i: int) -> str:
    prev = f"l{i - 1}"
    return f"""
    c{i} AS (
        SELECT s.a AS v, l.community AS lab, count(*) AS c
        FROM sym s JOIN {prev} l ON l.v = s.b
        GROUP BY s.a, l.community
    ),
    l{i} AS (
        SELECT v, lab AS community FROM c{i}
        QUALIFY row_number() OVER (PARTITION BY v ORDER BY c DESC, lab) = 1
    )"""


register(
    "q_label_prop",
    q_label_prop,
    f"""
    WITH {_LP_EDGE_SQL},
    l0 AS (SELECT DISTINCT a AS v, a AS community FROM sym),
    {",".join(_lp_round_sql(i) for i in range(1, LP_ROUNDS + 1))}
    SELECT v AS vertex, community FROM l{LP_ROUNDS}
    """,
)


SSSP_SOURCE = 0
SSSP_HOPS = 6


def q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded single-source shortest paths
    (operators.components.sssp_bounded): minimum integer-cent path
    cost from vertex 0 over ≤6 edges of the events interaction graph,
    edge weight = min event value in exact cents (the certified
    decimal-cents conversion) — Bellman-Ford with a hop bound, so the
    semantics are total (no negative-cycle caveat) and
    recursive-CTE-checkable."""
    from ..operators.components import sssp_bounded

    events = load_table(spark, sf_dir, "events")
    edges = events.select(
        (F.col("user_id") % PR_MOD).cast("bigint").alias("src"),
        (F.regexp_extract("props", r'"k": ([0-9]+)', 1).cast("bigint") % PR_MOD)
        .alias("dst"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("w"),
    ).filter(F.col("dst").isNotNull())
    return sssp_bounded(edges, SSSP_SOURCE, max_hops=SSSP_HOPS)


register(
    "q_sssp",
    q_sssp,
    f"""
    WITH RECURSIVE raw AS (
        SELECT CAST(user_id % {PR_MOD} AS BIGINT) AS u,
               TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
                   % {PR_MOD} AS v,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS w
        FROM events
        WHERE user_id IS NOT NULL
          AND TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
              IS NOT NULL
    ),
    e AS (SELECT u, v, min(w) AS w FROM raw GROUP BY u, v),
    d AS (
        SELECT CAST({SSSP_SOURCE} AS BIGINT) AS v, CAST(0 AS BIGINT) AS dist,
               0 AS it
        UNION ALL
        SELECT e.v, min(d.dist + e.w) AS dist, min(d.it) + 1 AS it
        FROM d JOIN e ON e.u = d.v
        WHERE d.it < {SSSP_HOPS}
        GROUP BY e.v
    )
    SELECT v AS vertex, min(dist) AS dist FROM d GROUP BY v
    """,
)


def q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed-graph reciprocity: the fraction of edges whose reverse
    edge also exists — the mutual-dependency signal for a service-call
    topology (a high value means 'Calls' edges are really
    conversations). One distinct-edge self-join on the reversed key +
    a global rollup; exact per-mille via integer floor division."""
    e = (
        _interaction_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.join(rev, ["src", "dst"], "left_semi")
    n = e.count()  # bounded: |V|^2-capped distinct edge set
    # n == 0 guard: "div 0" is NULL (or an ANSI error) — emit NULL
    # explicitly so an empty edge set matches the oracle's CASE arm.
    pm = (
        F.expr(f"(count(*) * 1000) div {n}")
        if n > 0
        else F.lit(None).cast("bigint")
    )
    return recip.agg(
        F.lit(n).alias("n_edges"),
        F.count("*").alias("n_reciprocated"),
        pm.alias("reciprocity_pm"),
    )


register(
    "q_reciprocity",
    q_reciprocity,
    f"""
    WITH raw AS (
        SELECT DISTINCT CAST(user_id % {PR_MOD} AS BIGINT) AS src,
               TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
                   % {PR_MOD} AS dst
        FROM events
        WHERE user_id IS NOT NULL
          AND TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
              IS NOT NULL
    ),
    e AS (SELECT src, dst FROM raw WHERE src <> dst),
    r AS (
        SELECT e.src, e.dst FROM e
        WHERE EXISTS (SELECT 1 FROM e e2 WHERE e2.src = e.dst AND e2.dst = e.src)
    )
    SELECT (SELECT count(*) FROM e) AS n_edges,
           count(*) AS n_reciprocated,
           CASE WHEN (SELECT count(*) FROM e) > 0
                THEN (count(*) * 1000) // (SELECT count(*) FROM e)
           END AS reciprocity_pm
    FROM r
    """,
)


def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: exact Jaccard between the USER SETS of
    every event-type pair — the segment-similarity readout (which
    behaviors share an audience). One (user, type) distinct frame,
    a user-keyed self-join bounded by |types|² per user, and exact
    |A∩B| / (|A|+|B|−|A∩B|) from integer counts."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    sizes = ut.groupBy("event_type").agg(F.count("*").alias("n"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_inter",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                4,
            ).alias("jaccard"),
        )
    )


register(
    "q_audience_overlap",
    q_audience_overlap,
    """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    sizes AS (SELECT event_type, count(*) AS n FROM ut GROUP BY event_type),
    inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               count(*) AS n_inter
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT i.type_a, i.type_b, sa.n AS n_a, sb.n AS n_b, i.n_inter,
           round(i.n_inter * 1.0 / (sa.n + sb.n - i.n_inter), 4) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    """,
)


HITS_ITERS = 3


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (operators.components.hits_scores) over
    the events interaction graph: the alternating recurrence collapsed
    to a single co-citation-matrix power iteration (a_{t+1} = AᵀA·a_t),
    3 fixed rounds, EXACT integer arithmetic end to end — certified
    hash-exact against DuckDB's recursive-CTE run of the identical
    recurrence (the q_pagerank template, no float tolerance)."""
    from ..operators.components import hits_scores

    return hits_scores(_interaction_edges(spark, sf_dir), iters=HITS_ITERS)


register(
    "q_hits",
    q_hits,
    f"""
    WITH RECURSIVE
    raw AS (
        SELECT DISTINCT CAST(user_id % {PR_MOD} AS BIGINT) AS u,
               TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
                   % {PR_MOD} AS v
        FROM events
        WHERE user_id IS NOT NULL
          AND TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
              IS NOT NULL
    ),
    verts AS (
        SELECT DISTINCT x FROM (SELECT u AS x FROM raw UNION SELECT v FROM raw)
    ),
    cmat AS (
        SELECT e1.v AS w, e2.v AS vv, count(*) AS c
        FROM raw e1 JOIN raw e2 ON e1.u = e2.u
        GROUP BY e1.v, e2.v
        UNION ALL
        SELECT x, x, 0 FROM verts
    ),
    au AS (
        SELECT x AS w, CAST(1 AS BIGINT) AS a, 0 AS it FROM verts
        UNION ALL
        SELECT cmat.vv AS w, sum(cmat.c * au.a) AS a, min(au.it) + 1 AS it
        FROM au JOIN cmat ON cmat.w = au.w
        WHERE au.it < {HITS_ITERS}
        GROUP BY cmat.vv
    ),
    fin AS (SELECT w, a FROM au WHERE it = {HITS_ITERS}),
    hub AS (
        SELECT raw.u, sum(fin.a) AS hub
        FROM raw JOIN fin ON fin.w = raw.v
        GROUP BY raw.u
    )
    SELECT fin.w AS vertex, fin.a AS authority,
           CAST(coalesce(hub.hub, 0) AS BIGINT) AS hub
    FROM fin LEFT JOIN hub ON hub.u = fin.w
    """,
)


CLOSENESS_HOPS = 3


def q_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded closeness centrality (operators.components.
    msbfs_closeness): multi-source frontier BFS over the interaction
    graph, every vertex a source, distances capped at 3 hops — the
    k-hop closeness used on large graphs where exact all-pairs is
    O(V·E). Exact integer sufficient statistics (n_reached,
    total_dist); certified against DuckDB's recursive-UNION frontier
    (the dedup in recursive UNION is precisely BFS settling, so the
    oracle's row universe is |V|²-bounded like the operator's)."""
    from ..operators.components import msbfs_closeness

    return msbfs_closeness(
        _interaction_edges(spark, sf_dir), max_hops=CLOSENESS_HOPS
    )


register(
    "q_closeness",
    q_closeness,
    f"""
    WITH RECURSIVE raw AS (
        SELECT DISTINCT CAST(user_id % {PR_MOD} AS BIGINT) AS u,
               TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
                   % {PR_MOD} AS v
        FROM events
        WHERE user_id IS NOT NULL
          AND TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
              IS NOT NULL
    ),
    e AS (SELECT u, v FROM raw WHERE u <> v),
    verts AS (
        SELECT DISTINCT x FROM (SELECT u AS x FROM e UNION SELECT v FROM e)
    ),
    d AS (
        SELECT x AS s, x AS v, 0 AS dist FROM verts
        UNION
        SELECT d.s, e.v, d.dist + 1
        FROM d JOIN e ON e.u = d.v
        WHERE d.dist < {CLOSENESS_HOPS}
    ),
    md AS (SELECT s, v, min(dist) AS dist FROM d GROUP BY s, v)
    SELECT s AS vertex,
           CAST(count(*) FILTER (WHERE dist > 0) AS BIGINT) AS n_reached,
           CAST(sum(dist) FILTER (WHERE dist > 0) AS BIGINT) AS total_dist
    FROM md GROUP BY s
    HAVING count(*) FILTER (WHERE dist > 0) > 0
    """,
)


def _und_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical undirected simple edges (a < b, distinct) of the
    interaction graph — the shared frame of the graph-metrics wave."""
    e = _interaction_edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    return (
        e.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )


def _und_degrees(und: DataFrame) -> DataFrame:
    """(x, d): distinct-neighbor count over the canonical edge set."""
    return (
        und.select(F.col("a").alias("x"))
        .unionByName(und.select(F.col("b").alias("x")))
        .groupBy("x")
        .agg(F.count("*").alias("d"))
    )


_UND_SQL = f"""
    rawu AS (
        SELECT DISTINCT CAST(user_id % {PR_MOD} AS BIGINT) AS u,
               TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
                   % {PR_MOD} AS v
        FROM events
        WHERE user_id IS NOT NULL
          AND TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
              IS NOT NULL
    ),
    und AS (
        SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
        FROM rawu WHERE u <> v
    ),
    deg AS (
        SELECT x, count(*) AS d FROM (
            SELECT a AS x FROM und UNION ALL SELECT b AS x FROM und
        ) GROUP BY x
    )
"""


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the interaction graph —
    do hubs attach to hubs? Pearson r over the degree pairs of every
    undirected edge (both orientations), from EXACT BIGINT sufficient
    statistics (the q_corr_stats recipe on graph structure): one
    degree agg, one edge join, one moment rollup. The quotient is the
    only double."""
    und = _und_edges(spark, sf_dir)
    deg = _und_degrees(und)
    j = (
        und.join(deg.select(F.col("x").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("x").alias("b"), F.col("d").alias("db")), "b")
    )
    agg = j.agg(
        (F.count("*") * 2).alias("m2"),
        F.sum(F.lit(2) * F.col("da") * F.col("db")).alias("sxy"),
        F.sum(F.col("da") + F.col("db")).alias("sx"),
        F.sum(F.col("da") * F.col("da") + F.col("db") * F.col("db")).alias("sxx"),
    )
    num = F.col("m2") * F.col("sxy") - F.col("sx") * F.col("sx")
    den = F.col("m2") * F.col("sxx") - F.col("sx") * F.col("sx")
    return agg.select(
        "m2",
        "sxy",
        "sx",
        "sxx",
        F.when(den != 0, F.round(num.cast("double") / den.cast("double"), 6))
        .alias("assortativity"),
    )


register(
    "q_assortativity",
    q_assortativity,
    f"""
    WITH {_UND_SQL},
    mom AS (
        SELECT CAST(count(*) * 2 AS BIGINT) AS m2,
               CAST(sum(2 * da.d * db.d) AS BIGINT) AS sxy,
               CAST(sum(da.d + db.d) AS BIGINT) AS sx,
               CAST(sum(da.d * da.d + db.d * db.d) AS BIGINT) AS sxx
        FROM und JOIN deg da ON da.x = und.a JOIN deg db ON db.x = und.b
    )
    SELECT m2, sxy, sx, sxx,
           CASE WHEN m2 * sxx - sx * sx != 0
                THEN round(CAST(m2 * sxy - sx * sx AS DOUBLE)
                           / CAST(m2 * sxx - sx * sx AS DOUBLE), 6)
           END AS assortativity
    FROM mom
    """,
)


def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity readout of the label-propagation communities — the
    quality score that tells you whether the community detector found
    real structure: per community, intra-edge count e_c, total member
    degree d_c, |E|, and the exact-int-derived contribution
    e_c/m − (d_c/2m)². Composes two certified constructions (the LP
    labels and the degree frame); one membership join + two keyed
    aggs."""
    from ..operators.components import label_propagation

    und = _und_edges(spark, sf_dir)
    comm = label_propagation(_interaction_edges(spark, sf_dir), rounds=LP_ROUNDS)
    m = und.count()  # bounded: |V|²-capped distinct edge set
    ca = comm.select(F.col("vertex").alias("a"), F.col("community").alias("comm_a"))
    cb = comm.select(F.col("vertex").alias("b"), F.col("community").alias("comm_b"))
    intra = (
        und.join(ca, "a")
        .join(cb, "b")
        .filter(F.col("comm_a") == F.col("comm_b"))
        .groupBy(F.col("comm_a").alias("community"))
        .agg(F.count("*").alias("e_c"))
    )
    dtot = (
        _und_degrees(und)
        .join(comm.select(F.col("vertex").alias("x"), "community"), "x")
        .groupBy("community")
        .agg(F.sum("d").alias("d_c"))
    )
    return (
        dtot.join(intra, "community", "left")
        .select(
            "community",
            F.coalesce("e_c", F.lit(0)).cast("bigint").alias("e_c"),
            F.col("d_c").cast("bigint").alias("d_c"),
            F.lit(m).cast("bigint").alias("m"),
            F.round(
                F.coalesce("e_c", F.lit(0)).cast("double") / F.lit(float(m))
                - (F.col("d_c").cast("double") / F.lit(float(2 * m))) ** 2,
                6,
            ).alias("contribution"),
        )
    )


register(
    "q_modularity",
    q_modularity,
    f"""
    WITH {_LP_EDGE_SQL},
    l0 AS (SELECT DISTINCT a AS v, a AS community FROM sym),
    {",".join(_lp_round_sql(i) for i in range(1, LP_ROUNDS + 1))},
    und AS (
        SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM sym
    ),
    m AS (SELECT count(*) AS m FROM und),
    deg AS (
        SELECT x, count(*) AS d FROM (
            SELECT a AS x FROM und UNION ALL SELECT b AS x FROM und
        ) GROUP BY x
    ),
    intra AS (
        SELECT ca.community, count(*) AS e_c
        FROM und
        JOIN l{LP_ROUNDS} ca ON ca.v = und.a
        JOIN l{LP_ROUNDS} cb ON cb.v = und.b
        WHERE ca.community = cb.community
        GROUP BY ca.community
    ),
    dtot AS (
        SELECT c.community, CAST(sum(deg.d) AS BIGINT) AS d_c
        FROM deg JOIN l{LP_ROUNDS} c ON c.v = deg.x
        GROUP BY c.community
    )
    SELECT dtot.community,
           CAST(coalesce(intra.e_c, 0) AS BIGINT) AS e_c,
           dtot.d_c,
           CAST(m.m AS BIGINT) AS m,
           round(CAST(coalesce(intra.e_c, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
                 - (CAST(dtot.d_c AS DOUBLE) / CAST(2 * m.m AS DOUBLE)) ** 2, 6)
               AS contribution
    FROM dtot LEFT JOIN intra USING (community) CROSS JOIN m
    """,
)


def q_nbr_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard link prediction: for every vertex pair
    sharing ≥1 neighbor (the wedge frame — Σdeg² bound, never
    all-pairs), |N(a)∩N(b)| / |N(a)∪N(b)| from exact integer counts.
    The classic structural-similarity scorer; pairs above a threshold
    are the 'should probably be an edge' candidates."""
    und = _und_edges(spark, sf_dir)
    deg = _und_degrees(und)
    sym = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    w1 = sym.select(F.col("b").alias("w"), F.col("a").alias("pa"))
    w2 = sym.select(F.col("b").alias("w"), F.col("a").alias("pb"))
    inter = (
        w1.join(w2, "w")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(deg.select(F.col("x").alias("pa"), F.col("d").alias("da")), "pa")
        .join(deg.select(F.col("x").alias("pb"), F.col("d").alias("db")), "pb")
        .select(
            "pa",
            "pb",
            "n_inter",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("da") + F.col("db") - F.col("n_inter")).cast("double"),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.25)
    )


register(
    "q_nbr_jaccard",
    q_nbr_jaccard,
    f"""
    WITH {_UND_SQL},
    sym AS (
        SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und
    ),
    inter AS (
        SELECT w1.a AS pa, w2.a AS pb, count(*) AS n_inter
        FROM sym w1 JOIN sym w2 ON w1.b = w2.b AND w1.a < w2.a
        GROUP BY w1.a, w2.a
    )
    SELECT pa, pb, n_inter,
           round(CAST(n_inter AS DOUBLE)
                 / CAST(da.d + db.d - n_inter AS DOUBLE), 4) AS jaccard
    FROM inter JOIN deg da ON da.x = pa JOIN deg db ON db.x = pb
    WHERE round(CAST(n_inter AS DOUBLE)
                / CAST(da.d + db.d - n_inter AS DOUBLE), 4) >= 0.25
    """,
)


def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction over the same wedge frame: rare
    shared neighbors count more (weight 1/ln deg(w)). The weight is
    INTEGER-SCALED per shared neighbor — floor(10⁶/ln d(w)), a
    deterministic double→int snap — so the per-pair score is an EXACT
    BIGINT sum (no float summation-order drift, the trap a naive
    Σ 1/ln d oracle would hit). Top-100 by score."""
    und = _und_edges(spark, sf_dir)
    deg = _und_degrees(und)
    sym = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    # A shared neighbor w always has deg ≥ 2 (it touches both pa and
    # pb), so restrict BEFORE the weight: a degree-1 vertex would give
    # ln(1)=0 → Infinity, which CAST(... AS BIGINT) rejects under ANSI
    # mode / in the DuckDB oracle. Semantics unchanged — d=1 vertices
    # can never appear as wedge centers.
    wdeg = deg.filter(F.col("d") >= 2).select(
        F.col("x").alias("w"),
        F.floor(F.lit(1_000_000.0) / F.log(F.col("d").cast("double")))
        .cast("bigint")
        .alias("wt"),
    )
    w1 = sym.select(F.col("b").alias("w"), F.col("a").alias("pa"))
    w2 = sym.select(F.col("b").alias("w"), F.col("a").alias("pb"))
    return (
        w1.join(w2, "w")
        .filter(F.col("pa") < F.col("pb"))
        .join(wdeg, "w")
        .groupBy("pa", "pb")
        .agg(F.sum("wt").alias("aa_score_e6"), F.count("*").alias("n_common"))
        .orderBy(F.desc("aa_score_e6"), "pa", "pb")
        .limit(100)
    )


register(
    "q_adamic_adar",
    q_adamic_adar,
    f"""
    WITH {_UND_SQL},
    sym AS (
        SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und
    ),
    wdeg AS (
        SELECT x AS w,
               CAST(floor(1000000.0 / ln(CAST(d AS DOUBLE))) AS BIGINT) AS wt
        FROM deg WHERE d >= 2
    )
    SELECT w1.a AS pa, w2.a AS pb,
           CAST(sum(wdeg.wt) AS BIGINT) AS aa_score_e6,
           count(*) AS n_common
    FROM sym w1
    JOIN sym w2 ON w1.b = w2.b AND w1.a < w2.a
    JOIN wdeg ON wdeg.w = w1.b
    GROUP BY w1.a, w2.a
    ORDER BY aa_score_e6 DESC, pa, pb
    LIMIT 100
    """,
)


def q_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law fit of the degree distribution — the scale-free test
    that tells you whether the interaction graph has hubs (and
    therefore whether hub-aware plans like ordered wedges matter): the
    continuous-MLE exponent α = 1 + n / Σ ln(d/d_min) over vertices
    with d ≥ d_min, with the log-sum INTEGER-SCALED per vertex
    (floor(10⁶·ln(d/d_min)) — a deterministic double→int snap, the
    q_adamic_adar recipe) so the aggregate is an exact BIGINT and the
    certificate is hash-stable. Emits n, the scaled log-sum, and α
    (one closed-form double)."""
    und = _und_edges(spark, sf_dir)
    deg = _und_degrees(und)
    dmin = 2
    eligible = deg.filter(F.col("d") >= dmin)
    lnterm = F.floor(
        F.lit(1_000_000.0)
        * F.log(F.col("d").cast("double") / F.lit(float(dmin)))
    ).cast("bigint")
    agg = eligible.agg(
        F.count("*").alias("n_vertices"),
        F.sum(lnterm).alias("ln_sum_e6"),
    )
    return agg.select(
        "n_vertices",
        "ln_sum_e6",
        F.when(
            F.col("ln_sum_e6") > 0,
            F.round(
                F.lit(1.0)
                + F.col("n_vertices").cast("double")
                / (F.col("ln_sum_e6").cast("double") / F.lit(1e6)),
                4,
            ),
        ).alias("alpha"),
    )


register(
    "q_powerlaw",
    q_powerlaw,
    f"""
    WITH {_UND_SQL},
    elig AS (SELECT d FROM deg WHERE d >= 2),
    agg AS (
        SELECT count(*) AS n_vertices,
               CAST(sum(CAST(floor(1000000.0
                          * ln(CAST(d AS DOUBLE) / 2.0)) AS BIGINT))
                    AS BIGINT) AS ln_sum_e6
        FROM elig
    )
    SELECT n_vertices, ln_sum_e6,
           CASE WHEN ln_sum_e6 > 0
                THEN round(1.0 + CAST(n_vertices AS DOUBLE)
                           / (CAST(ln_sum_e6 AS DOUBLE) / 1e6), 4)
           END AS alpha
    FROM agg
    """,
)


def q_store_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERSIONED-STORE TIME TRAVEL certified through the gate: two LWW
    merge batches land in a fresh GraphStore as snapshots v=0 and v=1,
    then BOTH retained versions are read back (`read_version` — the
    `VERSION AS OF` surface) and diffed. The output classifies every
    key's transition (inserted / updated / carried) with exact value
    checksums per class, so the driver's hash compare certifies the
    snapshot isolation claim itself: v=0 is still byte-readable after
    v=1 was published, and the delta between them is exactly the
    second batch's effect.

    Batches are split by EVENT-DAY PARITY (even days → batch 0, odd →
    batch 1) — data-independent, so the oracle reconstructs both
    states from the raw events without knowing any fixture bounds.
    LWW merge semantics (merge_keyed update_cols): a user active in
    both halves carries batch 1's profile; only-batch-0 users survive
    untouched (merge never deletes); only-batch-1 users are inserts.

    Reference: the store pointer-flip + prune cycle is this repo's
    stand-in for Delta/Iceberg commits (streaming/store.py docstring);
    the reference's Neptune graph has no time travel — this is the
    lakehouse capability added on top of its idempotent-upsert model."""
    from ..streaming.store import GraphStore

    ev = load_table(spark, sf_dir, "events")
    store = GraphStore(scratch_dir("ttravel", sf_dir), keep_versions=2)

    day = F.floor(F.unix_micros("ts") / F.lit(86_400_000_000))

    def profile(batch) -> DataFrame:
        return batch.groupBy("user_id", "event_type").agg(
            F.max(day).alias("last_day"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "cents"
            ),
        )

    # Keys are (user, event_type) profiles. Batch 0 (even days) never
    # saw signups; batch 1 (odd days) only covers 2/3 of users — so
    # v0→v1 exhibits all three transitions: signup keys are INSERTED,
    # mod-3-0 users' keys are CARRIED, the rest are UPDATED.
    b0 = profile(ev.filter((day % 2 == 0) & (F.col("event_type") != "signup")))
    b1 = profile(ev.filter((day % 2 == 1) & (F.col("user_id") % 3 != 0)))
    store.write(b0, "users", 0)
    v0 = store.read_version(spark, "users", 0)
    merged = merge_keyed(
        v0,
        b1,
        keys=["user_id", "event_type"],
        update_cols=["last_day", "cents"],
    )
    store.write(merged, "users", 1)

    # Time travel: read BOTH retained snapshots back from disk.
    s0 = store.read_version(spark, "users", 0).select(
        "user_id",
        "event_type",
        F.col("last_day").alias("d0"),
        F.col("cents").alias("c0"),
    )
    s1 = store.read_version(spark, "users", 1)
    diff = s1.join(s0, ["user_id", "event_type"], "left").withColumn(
        "status",
        F.when(F.col("d0").isNull(), "inserted")
        .when(
            (F.col("last_day") != F.col("d0"))
            | (F.col("cents") != F.col("c0")),
            "updated",
        )
        .otherwise("carried"),
    )
    return diff.groupBy("status").agg(
        F.count("*").alias("n_keys"),
        F.sum("cents").alias("cents_v1"),
        F.sum(F.coalesce("c0", F.lit(0))).alias("cents_v0"),
    )


register(
    "q_store_time_travel",
    q_store_time_travel,
    """
    WITH e AS (
        SELECT user_id, event_type,
               epoch_us(ts) // 86400000000 AS day,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    b0 AS (
        SELECT user_id, event_type, max(day) AS last_day,
               sum(cents) AS cents
        FROM e WHERE day % 2 = 0 AND event_type != 'signup'
        GROUP BY user_id, event_type
    ),
    b1 AS (
        SELECT user_id, event_type, max(day) AS last_day,
               sum(cents) AS cents
        FROM e WHERE day % 2 = 1 AND user_id % 3 != 0
        GROUP BY user_id, event_type
    ),
    v1 AS (
        SELECT coalesce(b1.user_id, b0.user_id) AS user_id,
               coalesce(b1.last_day, b0.last_day) AS last_day,
               coalesce(b1.cents, b0.cents) AS cents,
               b0.last_day AS d0, b0.cents AS c0
        FROM b0 FULL OUTER JOIN b1
          ON b0.user_id = b1.user_id AND b0.event_type = b1.event_type
    ),
    classified AS (
        SELECT *,
               CASE WHEN d0 IS NULL THEN 'inserted'
                    WHEN last_day != d0 OR cents != c0 THEN 'updated'
                    ELSE 'carried' END AS status
        FROM v1
    )
    SELECT status,
           count(*) AS n_keys,
           CAST(sum(cents) AS BIGINT) AS cents_v1,
           CAST(sum(coalesce(c0, 0)) AS BIGINT) AS cents_v0
    FROM classified
    GROUP BY status
    """,
)


def q_store_delta_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELTA-LOG INGEST certified through the gate — the O(batch)
    write path of the versioned store (streaming/store.py
    append_delta/compact): a base snapshot plus two appended delta
    generations are read back MERGED, then compacted into one snapshot
    and read again — and BOTH reads must produce the identical
    aggregate the oracle computes from raw events. The output carries
    each row twice under a ``phase`` tag ('delta_read' /
    'compacted'), so the exact-hash compare certifies that the
    union-of-deltas read loses nothing AND that compaction folds the
    log losslessly.

    Keys are (user, ten-day bucket) profiles; each generation owns one
    disjoint bucket, matching append_delta's new-rows contract. Scale
    shape: each append writes O(batch); compaction is the amortized
    fold that keeps file counts bounded (reference analogue: the
    idempotent mergeV micro-batches that never rewrite the store,
    neptune_etl_aws.py:209-253)."""
    from ..streaming.store import GraphStore

    ev = load_table(spark, sf_dir, "events")
    store = GraphStore(scratch_dir("deltalog", sf_dir), keep_versions=4)

    day = F.floor(F.unix_micros("ts") / F.lit(86_400_000_000))
    decade = F.floor(day / 10).alias("decade")

    def gen(which: int) -> DataFrame:
        return (
            ev.withColumn("decade", decade)
            .filter(F.col("decade") % 3 == which)
            .groupBy("user_id", "decade")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                    "cents"
                ),
            )
        )

    store.write(gen(0), "profiles", 0)
    store.append_delta(gen(1), "profiles", 1)
    store.append_delta(gen(2), "profiles", 2)

    merged = store.read(spark, "profiles")
    agg = lambda df: df.groupBy("decade").agg(  # noqa: E731
        F.count("*").alias("n_keys"),
        F.sum("n_events").alias("n_events"),
        F.sum("cents").alias("cents"),
    )
    # Freeze the delta-merged aggregate BEFORE compacting: compact()
    # retires the delta dirs, and a lazy plan would re-read the deleted
    # files at collection time. The collect is that freeze's one job;
    # it fills the cut and its rows are not needed.
    from_deltas = cut(agg(merged).withColumn("phase", F.lit("delta_read")))
    from_deltas.collect()  # bounded: one row per decade

    store.compact(spark, "profiles", 3)
    compacted = store.read_version(spark, "profiles", 3)
    from_compact = agg(compacted).withColumn("phase", F.lit("compacted"))
    return from_deltas.unionByName(from_compact)


register(
    "q_store_delta_log",
    q_store_delta_log,
    """
    WITH e AS (
        SELECT user_id,
               (epoch_us(ts) // 86400000000) // 10 AS decade,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    profiles AS (
        SELECT user_id, decade, count(*) AS n_events, sum(cents) AS cents
        FROM e GROUP BY user_id, decade
    ),
    agg AS (
        SELECT decade, count(*) AS n_keys,
               CAST(sum(n_events) AS BIGINT) AS n_events,
               CAST(sum(cents) AS BIGINT) AS cents
        FROM profiles GROUP BY decade
    )
    SELECT decade, n_keys, n_events, cents, 'delta_read' AS phase FROM agg
    UNION ALL
    SELECT decade, n_keys, n_events, cents, 'compacted' AS phase FROM agg
    """,
)
