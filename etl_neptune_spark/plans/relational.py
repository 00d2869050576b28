"""Relational core plans — projections, filters, scalar functions,
aggregations, top-k (SURVEY §2.2, §2.4, §2.5, §2.7).

Each query certifies one operator family from the reference, mapped onto
the driver fixture tables (FIXTURES.md). All expressions are native
``pyspark.sql.functions`` — JVM-side, codegen-friendly, pushdown-safe.
Aggregates over doubles route through decimal-exact sums
(``functions.dec_sum``) so results are bit-identical across engines and
partitionings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import dec_sum, ipv4_to_string, split_part
from ..sources import load_events_lookback, load_table
from .registry import register

# ---------------------------------------------------------------------------
# §2.2 Projections / filters


def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/SRC1 — projection + rename, the collect_* flatten step
    (neptune_etl_aws.py:372-387)."""
    return load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.lower("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("acctbal"),
    )


register(
    "q_scan_project",
    q_scan_project,
    """
    SELECT c_custkey AS id, c_name AS name,
           lower(c_mktsegment) AS segment, c_acctbal AS acctbal
    FROM customer
    """,
)


def q_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/P10 — equality/state filter (running-only EC2 scan,
    neptune_etl_aws.py:359-361). Pushed down to the parquet scan."""
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


register(
    "q_filter_eq",
    q_filter_eq,
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'",
)


def q_filter_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 — set-membership filter (namespace allowlist,
    neptune_etl_deepflow.py:39,333-334)."""
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select("event_id", "user_id", "event_type")
    )


register(
    "q_filter_in",
    q_filter_in,
    """
    SELECT event_id, user_id, event_type FROM events
    WHERE event_type IN ('click', 'view')
    """,
)


def q_filter_ne(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 — inequality/null-ish filter (``ip4 != 0 AND duration > 0``,
    neptune_etl_deepflow.py:151,640)."""
    return (
        load_table(spark, sf_dir, "events")
        .filter((F.col("user_id") != 0) & (F.col("value") > 0))
        .select("event_id", "user_id", "value")
    )


register(
    "q_filter_ne",
    q_filter_ne,
    "SELECT event_id, user_id, value FROM events WHERE user_id != 0 AND value > 0",
)


def q_selfjoin_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 — self-pair rejection (``ip4_0 != ip4_1`` / src==dst skip,
    neptune_etl_deepflow.py:642,682-683)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            (F.col("user_id") % 25).cast("bigint").alias("src"),
            (F.regexp_extract("props", r'"k": ([0-9]+)', 1).cast("bigint") % 8).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


register(
    "q_selfjoin_filter",
    q_selfjoin_filter,
    """
    SELECT DISTINCT CAST(user_id % 25 AS BIGINT) AS src,
           TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) % 8 AS dst
    FROM events
    WHERE CAST(user_id % 25 AS BIGINT)
          != TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) % 8
    """,
)


def q_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/F2/F3/ST2 — sliding lookback window anchored at max(ts)
    (``time > now() - INTERVAL_MIN*60``, neptune_etl_deepflow.py:150,641).
    The anchor is resolved to a literal (cached footer-stats action, see
    sources.tables.max_ts_micros) so the window predicate is pushed into
    the parquet scan — partition-prunable at 100 TB."""
    ev = load_events_lookback(spark, sf_dir, 5)
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(dec_sum("value"), 2).alias("total_value"),
        )
    )


register(
    "q_time_window",
    q_time_window,
    """
    WITH bounds AS (SELECT max(ts) AS max_ts FROM events)
    SELECT event_type, count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE), 2) AS total_value
    FROM events, bounds
    WHERE ts >= max_ts - INTERVAL 5 DAY
    GROUP BY event_type
    """,
)


def q_filter_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/F8 — multi-clause validity predicate (`_is_valid_svc_name`:
    no ARN prefix, no slash, bounded length;
    neptune_etl_deepflow.py:685-691). A deterministic corruption step
    fabricates the invalid rows the fixture lacks."""
    withbad = load_table(spark, sf_dir, "customer").withColumn(
        "svc_name",
        F.when(F.col("c_custkey") % 7 == 0, F.concat(F.lit("arn:aws:"), F.col("c_name")))
        .when(F.col("c_custkey") % 11 == 0, F.concat(F.col("c_name"), F.lit("/pod")))
        .otherwise(F.col("c_name")),
    )
    return (
        withbad.filter(
            (~F.col("svc_name").startswith("arn:"))
            & (~F.col("svc_name").contains("/"))
            & (F.length("svc_name") <= 64)
        )
        .select("c_custkey", "svc_name")
    )


register(
    "q_filter_valid",
    q_filter_valid,
    """
    WITH named AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN 'arn:aws:' || c_name
                    WHEN c_custkey % 11 = 0 THEN c_name || '/pod'
                    ELSE c_name END AS svc_name
        FROM customer
    )
    SELECT c_custkey, svc_name FROM named
    WHERE svc_name NOT LIKE 'arn:%'
      AND svc_name NOT LIKE '%/%'
      AND length(svc_name) <= 64
    """,
)


def q_filter_denylist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 — keyword-denylist predicate (CDK-internal node skip,
    neptune_etl_aws.py:1183-1207) as a regex alternation."""
    return (
        load_table(spark, sf_dir, "part")
        .filter(~F.col("p_name").rlike("bolt|rod|nut"))
        .select("p_partkey", "p_name")
    )


register(
    "q_filter_denylist",
    q_filter_denylist,
    """
    SELECT p_partkey, p_name FROM part
    WHERE NOT regexp_matches(p_name, 'bolt|rod|nut')
    """,
)


def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 — HAVING floor on an aggregate (``HAVING calls >= 2``,
    neptune_etl_deepflow.py:645)."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .filter(F.col("n_events") >= 70)
    )


register(
    "q_having",
    q_having,
    "SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id HAVING count(*) >= 70",
)


# ---------------------------------------------------------------------------
# §2.5 top-k / argmax


def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — top-k by measure with deterministic tiebreak
    (``ORDER BY calls DESC LIMIT 100``, neptune_etl_deepflow.py:645).
    Spark plans TakeOrderedAndProject — no global sort."""
    return (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "value")
        .orderBy(F.desc("value"), "event_id")
        .limit(50)
    )


register(
    "q_topk",
    q_topk,
    "SELECT event_id, user_id, value FROM events ORDER BY value DESC, event_id LIMIT 50",
)


def q_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12/W2 — latest-value-per-key (sort CloudWatch datapoints by
    Timestamp, take last — neptune_etl_aws.py:795-796,1018-1019) via a
    ranking window with a unique tiebreak."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("value").alias("last_value"),
            F.col("event_type").alias("last_event_type"),
        )
    )


register(
    "q_argmax",
    q_argmax,
    """
    SELECT user_id, value AS last_value, event_type AS last_event_type
    FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)


def q_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 — distinct-key dedup (`nodes_set[name] = {...}`,
    neptune_etl_deepflow.py:660-695)."""
    return load_table(spark, sf_dir, "events").select("user_id", "event_type").distinct()


register(
    "q_dedup",
    q_dedup,
    "SELECT DISTINCT user_id, event_type FROM events",
)


# ---------------------------------------------------------------------------
# §2.4 Aggregations


def q_l7_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A3 — rate + approximate-quantile metric block per protocol
    (p50/p99/rps/error-rate, neptune_etl_deepflow.py:143-153). The
    reference's ClickHouse ``quantile`` is approximate; Spark's exact
    ``percentile`` is used so the oracle can certify values (the
    ``percentile_approx`` fast path is exposed separately)."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.count("*") / 300.0, 4).alias("rps"),
            F.round(F.percentile("value", 0.5), 4).alias("p50_ms"),
            F.round(F.percentile("value", 0.99), 4).alias("p99_ms"),
            F.round(F.count_if(F.col("value") >= 250.0) / F.count("*"), 4).alias(
                "error_rate"
            ),
        )
    )


register(
    "q_l7_metrics",
    q_l7_metrics,
    """
    SELECT event_type,
           round(count(*) / 300.0, 4) AS rps,
           round(quantile_cont(value, 0.5), 4) AS p50_ms,
           round(quantile_cont(value, 0.99), 4) AS p99_ms,
           round((count(*) FILTER (WHERE value >= 250.0)) * 1.0 / count(*), 4) AS error_rate
    FROM events GROUP BY event_type
    """,
)


def q_countif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — conditional counts (``countIf(response_status >= 1)``,
    neptune_etl_deepflow.py:148,637)."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count_if(F.col("value") >= 100.0).alias("n_slow"),
            F.count_if(F.col("value") < 10.0).alias("n_fast"),
        )
    )


register(
    "q_countif",
    q_countif,
    """
    SELECT event_type, count(*) AS n,
           count(*) FILTER (WHERE value >= 100.0) AS n_slow,
           count(*) FILTER (WHERE value < 10.0) AS n_fast
    FROM events GROUP BY event_type
    """,
)


def q_sumif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — conditional sums, three metric groups in one pass
    (``sumIf(value, name IN (...))``, neptune_etl_deepflow.py:179-191)."""
    ev = load_table(spark, sf_dir, "events")

    def sum_if(cond):
        return F.sum(F.when(cond, F.col("value")).cast("decimal(28,2)")).cast("double")

    return (
        ev.withColumn("bucket", (F.col("user_id") % 10).cast("bigint"))
        .groupBy("bucket")
        .agg(
            F.round(sum_if(F.col("event_type").isin("click", "view")), 2).alias("traffic_value"),
            F.round(sum_if(F.col("event_type") == "error"), 2).alias("error_value"),
            F.round(sum_if(F.col("event_type").isin("signup", "purchase")), 2).alias(
                "conversion_value"
            ),
        )
    )


register(
    "q_sumif",
    q_sumif,
    """
    SELECT CAST(user_id % 10 AS BIGINT) AS bucket,
           round(CAST(sum(CAST(CASE WHEN event_type IN ('click','view') THEN value END
                 AS DECIMAL(28,2))) AS DOUBLE), 2) AS traffic_value,
           round(CAST(sum(CAST(CASE WHEN event_type = 'error' THEN value END
                 AS DECIMAL(28,2))) AS DOUBLE), 2) AS error_value,
           round(CAST(sum(CAST(CASE WHEN event_type IN ('signup','purchase') THEN value END
                 AS DECIMAL(28,2))) AS DOUBLE), 2) AS conversion_value
    FROM events GROUP BY CAST(user_id % 10 AS BIGINT)
    """,
)


def q_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — plain sums (``sum(syn_count)``,
    neptune_etl_deepflow.py:224-231) plus a derived revenue product,
    decimal-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    # Round the DECIMAL sums (exact half-up, engine-portable) BEFORE the
    # double cast: round(double, 2) diverges on half-ulp boundaries
    # (Spark rounds the shortest decimal rendering, DuckDB the binary
    # value — the dec_avg class; hit by the sf1 strict sweep).
    return li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_quantity").cast("decimal(28,2)")), 2)
        .cast("double")
        .alias("total_qty"),
        F.round(F.sum(revenue), 2).cast("double").alias("revenue"),
    )


register(
    "q_sum",
    q_sum,
    """
    SELECT l_suppkey,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(28,2))), 2) AS DOUBLE) AS total_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2)
                 AS DOUBLE) AS revenue
    FROM lineitem GROUP BY l_suppkey
    """,
)


def q_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — guarded post-aggregation ratio (``error_rate = errors/calls``
    with div-by-0 guard, neptune_etl_deepflow.py:511)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
        )
        .withColumn(
            "finish_ratio",
            F.when(
                F.col("n_orders") > 0,
                F.round(F.col("n_finished") / F.col("n_orders"), 4),
            ).otherwise(F.lit(0.0)),
        )
    )


register(
    "q_ratio",
    q_ratio,
    """
    SELECT o_custkey, count(*) AS n_orders,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           CASE WHEN count(*) > 0
                THEN round((count(*) FILTER (WHERE o_orderstatus = 'F')) * 1.0 / count(*), 4)
                ELSE 0.0 END AS finish_ratio
    FROM orders GROUP BY o_custkey
    """,
)


def q_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — max aggregates (max restartCount per service,
    neptune_etl_deepflow.py:363-367). Picking, not summing — no fp
    ordering concerns."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.max("l_quantity").alias("max_qty"),
            F.max("l_extendedprice").alias("max_price"),
        )
    )


register(
    "q_max",
    q_max,
    """
    SELECT l_partkey, max(l_quantity) AS max_qty, max(l_extendedprice) AS max_price
    FROM lineitem GROUP BY l_partkey
    """,
)


def q_bool_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — boolean OR aggregate (per-service throttle flag ``|=`` across
    pods, neptune_etl_deepflow.py:202-215)."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.bool_or((F.col("event_type") == "error") & (F.col("value") >= 250.0)).alias(
                "any_hard_error"
            ),
            F.bool_or(F.col("value") >= 400.0).alias("any_throttled"),
        )
    )


register(
    "q_bool_or",
    q_bool_or,
    """
    SELECT user_id,
           bool_or(event_type = 'error' AND value >= 250.0) AS any_hard_error,
           bool_or(value >= 400.0) AS any_throttled
    FROM events GROUP BY user_id
    """,
)


def q_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10/S3/SNK5 — set-cardinality property rebuild (service → set of
    AZs, drop+rewrite, neptune_etl_deepflow.py:709-746). Rendered as a
    sorted joined string so the certified value is order-stable."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.array_join(F.array_sort(F.collect_set("n_name")), ",").alias("az_set"),
            F.countDistinct("n_name").alias("az_count"),
        )
    )


register(
    "q_collect_set",
    q_collect_set,
    """
    SELECT c_mktsegment,
           array_to_string(list_sort(list(DISTINCT n_name)), ',') AS az_set,
           count(DISTINCT n_name) AS az_count
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY c_mktsegment
    """,
)


# ---------------------------------------------------------------------------
# §2.7 Scalar functions


def q_ipv4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — uint32 → dotted-quad rendering (``IPv4NumToString``,
    neptune_etl_deepflow.py:144,634) as pure bit arithmetic."""
    ev = load_table(spark, sf_dir, "events").select("user_id").distinct()
    ip_num = (F.lit(3232235520) + F.col("user_id") * 7777) % F.lit(4294967296)
    return ev.select(
        "user_id",
        ip_num.cast("bigint").alias("ip_num"),
        ipv4_to_string(ip_num).alias("ip"),
    )


register(
    "q_ipv4",
    q_ipv4,
    """
    WITH u AS (SELECT DISTINCT user_id FROM events),
    n AS (SELECT user_id, CAST((3232235520 + user_id * 7777) % 4294967296 AS BIGINT) AS ip_num
          FROM u)
    SELECT user_id, ip_num,
           CAST((ip_num >> 24) & 255 AS VARCHAR) || '.' ||
           CAST((ip_num >> 16) & 255 AS VARCHAR) || '.' ||
           CAST((ip_num >> 8) & 255 AS VARCHAR) || '.' ||
           CAST(ip_num & 255 AS VARCHAR) AS ip
    FROM n
    """,
)


def q_unitconv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 — unit conversion + rounding (bytes/300 s → Mbps ×8, µs → ms,
    neptune_etl_aws.py:915-919; neptune_etl_deepflow.py:145-146)."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(dec_sum("value") * 8.0 / 300.0 / 1000000.0, 6).alias("mbps"),
            F.round(dec_sum("value") / F.count("*") / 1000.0, 4).alias("avg_ms"),
        )
    )


register(
    "q_unitconv",
    q_unitconv,
    """
    SELECT event_type,
           round(CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) * 8.0 / 300.0 / 1000000.0, 6)
               AS mbps,
           round(CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) / count(*) / 1000.0, 4)
               AS avg_ms
    FROM events GROUP BY event_type
    """,
)


def q_sanitize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5/F9 — char-class normalize + truncate (``safe_str`` +
    metric-id mangling, neptune_etl_aws.py:182-183,933)."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring(
            F.regexp_replace(F.lower("text"), "[^a-z0-9]", "_"), 1, 64
        ).alias("clean"),
    )


register(
    "q_sanitize",
    q_sanitize,
    """
    SELECT doc_id,
           substr(regexp_replace(lower(text), '[^a-z0-9]', '_', 'g'), 1, 64) AS clean
    FROM documents
    """,
)


def q_splitpart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 — split-part extraction (queue URL / ARN / image-tag suffix
    slicing, neptune_etl_aws.py:652,1790-1797,2022)."""
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        split_part("c_name", "#", -1).cast("bigint").alias("name_id"),
        split_part("c_name", "#", 1).alias("name_prefix"),
    )


register(
    "q_splitpart",
    q_splitpart,
    """
    SELECT c_custkey,
           CAST(split_part(c_name, '#', -1) AS BIGINT) AS name_id,
           split_part(c_name, '#', 1) AS name_prefix
    FROM customer
    """,
)


def q_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 — case mapping (``lower()`` dlq check, ``capitalize()``
    tier0→Tier0, neptune_etl_aws.py:668,343-345)."""
    s = load_table(spark, sf_dir, "supplier")
    lowered = F.lower("s_name")
    return s.select(
        "s_suppkey",
        lowered.alias("lname"),
        F.concat(
            F.upper(F.substring(lowered, 1, 1)), F.expr("lower(substring(s_name, 2))")
        ).alias("capitalized"),
    )


register(
    "q_case",
    q_case,
    """
    SELECT s_suppkey, lower(s_name) AS lname,
           upper(substr(lower(s_name), 1, 1)) || lower(substr(s_name, 2)) AS capitalized
    FROM supplier
    """,
)


def q_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 — regex extraction (``${LogicalId}`` scan,
    neptune_etl_cfn.py:211-219): trailing-digit id from an entity name."""
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.regexp_extract("c_name", "([0-9]+)$", 1).cast("bigint").alias("extracted_id"),
    )


register(
    "q_regex",
    q_regex,
    """
    SELECT c_custkey,
           CAST(regexp_extract(c_name, '([0-9]+)$', 1) AS BIGINT) AS extracted_id
    FROM customer
    """,
)


def q_json_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 — JSON field extraction (``RedrivePolicy`` parse,
    neptune_etl_aws.py:669-677)."""
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )


register(
    "q_json_get",
    q_json_get,
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)


def q_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT path (Spark 4 ``parse_json`` /
    ``variant_get``): the props JSON is parsed ONCE into the binary
    variant encoding and every downstream access is a typed path
    extraction — the modern lakehouse layout for open-schema payloads
    (the reference's dynamic property bags, neptune_etl_aws.py:222) at
    100 TB: shredded columnar storage + typed gets instead of
    re-parsing a JSON string per access per query. Post-shred the plan
    is plain relational: bucket the extracted measure and hash-agg
    counts per (event_type, bucket)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.parse_json("props").alias("v")
    )
    k = F.expr("variant_get(v, '$.k', 'bigint')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type", (F.col("k") % 10).alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


register(
    "q_variant_shred",
    q_variant_shred,
    """
    WITH shred AS (
        SELECT event_type,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events
    )
    SELECT event_type, k % 10 AS bucket,
           count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
           min(k) AS min_k, max(k) AS max_k
    FROM shred GROUP BY event_type, k % 10
    """,
)


def q_try_safety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe ``try_*`` expression surface: at 100 TB a handful of
    malformed rows must degrade to NULL, not kill the job (the
    reference's pervasive log-and-continue posture,
    neptune_etl_aws.py:1386-1388, as engine expressions instead of
    try/except). Certifies try_cast (bad→NULL, good→typed), try_divide
    (÷0→NULL), and try_to_timestamp (unparseable→NULL) against
    DuckDB's TRY_CAST / NULLIF equivalents."""
    ev = load_table(spark, sf_dir, "events")
    # the divisor derivation must itself be try_cast — a malformed $.k
    # would otherwise throw under ANSI before try_divide ever runs
    k = F.expr("try_cast(get_json_object(props, '$.k') AS BIGINT)")
    return ev.select(
        "event_id",
        F.expr("try_cast(event_type AS BIGINT)").alias("bad_int"),
        F.expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").alias("good_int"),
        F.try_divide(F.col("value"), (k % 3).cast("double")).alias("div3"),
        F.try_to_timestamp(F.date_format("ts", "yyyy-MM-dd")).alias("day_ts"),
        F.try_to_timestamp("event_type").alias("bad_ts"),
    )


register(
    "q_try_safety",
    q_try_safety,
    """
    SELECT event_id,
           TRY_CAST(event_type AS BIGINT) AS bad_int,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS good_int,
           value / nullif(CAST(TRY_CAST(json_extract_string(props, '$.k')
                                        AS BIGINT) % 3 AS DOUBLE), 0.0) AS div3,
           TRY_CAST(strftime(ts, '%Y-%m-%d') AS TIMESTAMP) AS day_ts,
           TRY_CAST(event_type AS TIMESTAMP) AS bad_ts
    FROM events
    """,
)


def q_map_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order-function parity (the MapType surface §1.3 maps
    tags/env-vars onto): build → ``transform_values`` → ``map_filter``
    → keyed reads, all JVM-side codegen. DuckDB evaluates the
    value-equivalent program over a list of entry structs — the
    cross-engine certificate is the post-HOF entry set, rendered
    order-canonically."""
    cust = load_table(spark, sf_dir, "customer")
    m0 = F.map_from_entries(
        F.array(
            F.struct(F.lit("name").alias("k"), F.length("c_name").cast("bigint").alias("v")),
            F.struct(F.lit("nation").alias("k"), F.col("c_nationkey").cast("bigint").alias("v")),
            F.struct(F.lit("seg").alias("k"), F.length("c_mktsegment").cast("bigint").alias("v")),
        )
    )
    m1 = F.transform_values(m0, lambda k, v: v * 2 + F.length(k))
    m2 = F.map_filter(m1, lambda k, v: v % 4 != 0)
    return cust.select(
        "c_custkey",
        F.size(m2).alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys(m2)), ",").alias("keys"),
        F.aggregate(F.map_values(m2), F.lit(0).cast("bigint"), lambda a, x: a + x).alias(
            "total"
        ),
        F.element_at(m1, "nation").alias("nation_v"),
    )


register(
    "q_map_suite",
    q_map_suite,
    """
    WITH ent AS (
        SELECT c_custkey,
               [struct_pack(k := 'name', v := CAST(len(c_name) AS BIGINT)),
                struct_pack(k := 'nation', v := CAST(c_nationkey AS BIGINT)),
                struct_pack(k := 'seg', v := CAST(len(c_mktsegment) AS BIGINT))]
                   AS m0
        FROM customer
    ),
    hof AS (
        SELECT c_custkey,
               list_filter(
                   list_transform(m0,
                       e -> struct_pack(k := e.k, v := e.v * 2 + len(e.k))),
                   e -> e.v % 4 <> 0) AS m2,
               list_transform(m0,
                   e -> struct_pack(k := e.k, v := e.v * 2 + len(e.k))) AS m1
        FROM ent
    )
    SELECT c_custkey,
           len(m2) AS n_keys,
           array_to_string(list_sort(list_transform(m2, e -> e.k)), ',') AS keys,
           CAST(coalesce(list_sum(list_transform(m2, e -> e.v)), 0) AS BIGINT)
               AS total,
           (SELECT e.v FROM unnest(m1) AS t(e) WHERE e.k = 'nation') AS nation_v
    FROM hof
    """,
)


def q_tags_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13/W3 — tag list→map pivot + precedence lookup
    (``{t.Key: t.Value}`` then ``Tier``-or-``tier``,
    neptune_etl_aws.py:311-352). The map is built with
    ``map_from_entries`` and read with precedence ``coalesce``."""
    cust = load_table(spark, sf_dir, "customer")
    def tag(key: Column, value: Column) -> Column:
        return F.struct(key.alias("key"), value.alias("value"))

    tags = F.map_from_entries(
        F.array(
            tag(F.lit("Name"), F.col("c_name")),
            tag(F.lit("segment"), F.col("c_mktsegment")),
            tag(
                F.lit("Tier"),
                F.when(
                    F.col("c_custkey") % 3 == 0,
                    F.concat(F.lit("tier"), (F.col("c_custkey") % 4).cast("string")),
                ).otherwise(F.lit(None).cast("string")),
            ),
        )
    )
    return cust.withColumn("tags", tags).select(
        "c_custkey",
        F.coalesce(F.col("tags")["Tier"], F.col("tags")["tier"], F.lit("unknown")).alias(
            "tier"
        ),
        F.col("tags")["segment"].alias("segment"),
    )


def q_json_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 — recursive JSON reference scan (CFN/SFN tree walk,
    neptune_etl_cfn.py:200-242; neptune_etl_aws.py:1117-1147) via the
    engine's one pandas UDF, rendered order-stable."""
    from ..functions.json_refs import json_refs_joined

    return load_table(spark, sf_dir, "events").select(
        "event_id", json_refs_joined("props").alias("refs")
    )


register(
    "q_json_refs",
    q_json_refs,
    """
    SELECT event_id,
           array_to_string(regexp_extract_all(props, '-?[0-9]+'), ',') AS refs
    FROM events
    """,
)


def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG/STRING_AGG parity: per user, the '|'-joined ORDERED
    distinct event types — rendered order-canonically in both engines
    (sorted collect_set vs string_agg DISTINCT ... ORDER BY), so the
    certificate is exact. One keyed hash agg; the per-group payload is
    bounded by the type vocabulary, not the event count."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), "|").alias(
            "types"
        ),
        F.count_distinct("event_type").alias("n_types"),
    )


register(
    "q_string_agg",
    q_string_agg,
    """
    SELECT user_id,
           string_agg(DISTINCT event_type, '|' ORDER BY event_type) AS types,
           count(DISTINCT event_type) AS n_types
    FROM events GROUP BY user_id
    """,
)


def q_json_refs_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 in its TABLE-FUNCTION form (Spark 4 Python UDTF): the
    recursive reference walk yields one (ref, pos) row per token,
    LATERAL-joined per event — the UDTF API surface certified against
    DuckDB's positional unnest of the same token stream. Same
    slow-path policy as the pandas-UDF form (q_json_refs): per-row
    O(tree), embarrassingly parallel, no state."""
    from ..functions.json_refs import json_refs_udtf
    from ..sources import register_views

    register_views(spark, sf_dir, "events")
    spark.udtf.register("json_refs_udtf", json_refs_udtf())
    return spark.sql(
        """
        SELECT e.event_id, s.ref, s.pos
        FROM events e, LATERAL json_refs_udtf(e.props) s
        """
    )


register(
    "q_json_refs_udtf",
    q_json_refs_udtf,
    """
    WITH arrs AS (
        SELECT event_id, regexp_extract_all(props, '-?[0-9]+') AS arr
        FROM events
    ),
    pairs AS (
        SELECT event_id,
               list_transform(range(1, len(arr) + 1),
                              i -> struct_pack(ref := arr[i],
                                               pos := CAST(i - 1 AS INT)))
                   AS ps
        FROM arrs
    )
    SELECT event_id, e.ref AS ref, e.pos AS pos
    FROM pairs, unnest(ps) AS t(e)
    """,
)


register(
    "q_tags_map",
    q_tags_map,
    """
    SELECT c_custkey,
           coalesce(CASE WHEN c_custkey % 3 = 0
                         THEN 'tier' || CAST(c_custkey % 4 AS VARCHAR) END,
                    'unknown') AS tier,
           c_mktsegment AS segment
    FROM customer
    """,
)


def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count aggregate — no reference counterpart (SURVEY §2.4
    closing note) but mandatory for a 100 TB engine. The certified form
    is exact ``count_distinct`` (expand + two-phase hash aggregate);
    the scale path is ``approx_count_distinct`` (HLL++, one pass, no
    expand), exercised rows-only in tests/test_relational.py since no
    two engines share sketch internals."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("distinct_users"),
            F.count("*").alias("events"),
        )
    )


register(
    "q_count_distinct",
    q_count_distinct,
    """
    SELECT event_type,
           count(DISTINCT user_id) AS distinct_users,
           count(*) AS events
    FROM events GROUP BY event_type
    """,
)


def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking / frame window functions — beyond the reference (SURVEY
    §2.5 note: only W1/W2 exist there) but part of the engine surface:
    per-customer order ranking by price with dense_rank and a lag
    delta. One shuffle on the partition key; WindowGroupLimit prunes
    nothing here (full ranking is the point)."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("price_rank", F.dense_rank().over(w))
        .withColumn(
            "prev_price", F.round(F.lag("o_totalprice", 1).over(w), 2)
        )
        .filter(F.col("price_rank") <= 3)
        .withColumn("o_totalprice", F.round("o_totalprice", 2))
    )


register(
    "q_window_rank",
    q_window_rank,
    """
    SELECT o_custkey, o_orderkey,
           round(o_totalprice, 2) AS o_totalprice,
           CAST(price_rank AS INT) AS price_rank,
           round(prev_price, 2) AS prev_price
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               dense_rank() OVER w AS price_rank,
               lag(o_totalprice, 1) OVER w AS prev_price
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey ASC)
    )
    WHERE price_rank <= 3
    """,
)


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets — absent from the reference (SURVEY §2.4
    closing note) but a first-class engine aggregate: revenue totals at
    (returnflag, linestatus), (returnflag), and grand-total levels in
    one pass (Spark expands grouping sets inside a single hash
    aggregate; no repeated scans)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(28,2)")).cast("double"), 2
            ).alias("revenue"),
        )
    )


register(
    "q_rollup",
    q_rollup,
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_items,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE), 2)
               AS revenue
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets — all four aggregation levels of
    (returnflag, linestatus) in one Expand + hash aggregate pass."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_items")
    )


register(
    "q_cube",
    q_cube,
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n_items
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)


def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set op (SURVEY §2.6 notes only set-difference exists in
    the reference; the engine exposes the full family): nations that
    have both customers and suppliers."""
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    return customer.select(F.col("c_nationkey").alias("nationkey")).intersect(
        supplier.select(F.col("s_nationkey").alias("nationkey"))
    )


register(
    "q_intersect",
    q_intersect,
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)


def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT set op: orders with no lineitems — the set-difference
    form of the anti-join family."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return orders.select(F.col("o_orderkey").alias("orderkey")).exceptAll(
        lineitem.select(F.col("l_orderkey").alias("orderkey"))
    ).distinct()


register(
    "q_except",
    q_except,
    """
    SELECT o_orderkey AS orderkey FROM orders
    EXCEPT
    SELECT l_orderkey FROM lineitem
    """,
)


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: event counts per user bucket reshaped to one column per
    event type (fixed pivot values → single-pass aggregate, no second
    scan for value discovery)."""
    events = load_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase"]
    return (
        events.filter(F.col("event_type").isin(types))
        .withColumn("bucket", (F.col("user_id") % 10).cast("bigint"))
        .groupBy("bucket")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


register(
    "q_pivot",
    q_pivot,
    """
    SELECT CAST(user_id % 10 AS BIGINT) AS bucket,
           count(*) FILTER (WHERE event_type = 'click') AS click,
           count(*) FILTER (WHERE event_type = 'view') AS view,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase
    FROM events
    WHERE event_type IN ('click', 'view', 'purchase')
    GROUP BY 1
    """,
)


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form of ROLLUP/CUBE (both
    certified above): order-priority totals per (orderstatus, priority)
    and per (priority) alone, skipping the grand-total level. One
    Expand + single hash aggregate, same physical shape the plan tests
    pin for q_rollup."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderpriority"]],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count("*").alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(28,2)")).cast("double"), 2
        ).alias("total_price"),
    )


register(
    "q_grouping_sets",
    q_grouping_sets,
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE), 2)
               AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderpriority))
    """,
)


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated two-phase aggregate (operators.skew.salted_agg):
    output must equal the plain one-shuffle GROUP BY — the salt fans a
    hot key over reducers and re-combines exactly. Sums run in decimal
    so the recombination is reassociation-proof; the salt is a
    row-content hash (retry-stable, see skew._row_salt)."""
    from ..operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        keys=["event_type"],
        aggs={
            "total_dec": ("sum", F.col("value").cast("decimal(28,2)")),
            "n": ("count", "value"),
            "mx": ("max", F.col("value")),
        },
        salt=8,
    )
    return out.select(
        "event_type",
        F.round(F.col("total_dec").cast("double"), 2).alias("total_value"),
        "n",
        "mx",
    )


register(
    "q_salted_agg",
    q_salted_agg,
    """
    SELECT event_type,
           round(CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE), 2)
               AS total_value,
           count(value) AS n,
           max(value) AS mx
    FROM events GROUP BY event_type
    """,
)


def q_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window offset functions: per-user previous/next values along the
    event timeline (lag/lead with deterministic (ts, event_id) order)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("event_type").over(w).alias("next_type"),
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("delta"),
    )


register(
    "q_lead_lag",
    q_lead_lag,
    """
    SELECT event_id, user_id,
           lag(value) OVER w AS prev_value,
           lead(event_type) OVER w AS next_type,
           round(value - lag(value) OVER w, 2) AS delta
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)


def q_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile quartiles, percent_rank and
    cume_dist per user over the value ordering (event_id tiebreak)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


register(
    "q_ntile",
    q_ntile,
    """
    SELECT event_id, user_id,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
    """,
)


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of the response-duration distribution:
    50-unit buckets with count and decimal-exact bucket mass — the
    profiling primitive behind latency heatmaps. One hash agg on the
    bucket key; the bucket expression is codegen'd arithmetic, so the
    scan stays a single pass."""
    events = load_table(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / F.lit(50.0)).cast("long")
    return (
        events.filter(F.col("value").isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            dec_sum("value").alias("mass"),
        )
        .withColumn("lo", (F.col("bucket") * 50).cast("double"))
        .withColumn("hi", ((F.col("bucket") + 1) * 50).cast("double"))
        .select("bucket", "lo", "hi", "n", "mass")
    )


register(
    "q_histogram",
    q_histogram,
    """
    SELECT CAST(floor(value / 50.0) AS BIGINT) AS bucket,
           CAST(CAST(floor(value / 50.0) AS BIGINT) * 50 AS DOUBLE) AS lo,
           CAST((CAST(floor(value / 50.0) AS BIGINT) + 1) * 50 AS DOUBLE) AS hi,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS mass
    FROM events WHERE value IS NOT NULL
    GROUP BY 1
    """,
)


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler over the orders snapshot: per column — row
    count, null count, exact distinct count, min and max (rendered as
    strings so one result schema covers all column types). The
    data-quality first-look every pipeline run wants; each column's
    stats are one aggregate over a shared scan, unioned — Spark
    executes them as parallel aggregates over one exchange."""
    orders = load_table(spark, sf_dir, "orders")

    def col_stats(c: str) -> DataFrame:
        return orders.agg(
            F.lit(c).alias("column"),
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias("n_null"),
            F.count_distinct(F.col(c)).alias("n_distinct"),
            F.min(F.col(c)).cast("string").alias("min_val"),
            F.max(F.col(c)).cast("string").alias("max_val"),
        )

    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    out = col_stats(cols[0])
    for c in cols[1:]:
        out = out.unionByName(col_stats(c))
    return out


register(
    "q_profile",
    q_profile,
    """
    SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
           count(*) - count(o_orderkey) AS n_null,
           count(DISTINCT o_orderkey) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_val,
           CAST(max(o_orderkey) AS VARCHAR) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
           count(DISTINCT o_custkey),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus),
           min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
           count(DISTINCT o_orderpriority),
           min(o_orderpriority), max(o_orderpriority)
    FROM orders
    """,
)


def q_boxplot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact box-plot bands per event type: min / q1 / median / q3 /
    max / IQR over the value column — interpolated (type-7) quantiles,
    which Spark's percentile() and DuckDB's quantile_cont compute
    identically. One hash agg; the sort is per-group inside the
    aggregate buffer, never a global sort."""
    events = load_table(spark, sf_dir, "events")
    p = lambda q: F.round(F.percentile("value", q), 4)  # noqa: E731
    return (
        events.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.round(F.min("value"), 4).alias("lo"),
            p(0.25).alias("q1"),
            p(0.5).alias("median"),
            p(0.75).alias("q3"),
            F.round(F.max("value"), 4).alias("hi"),
            F.round(
                F.percentile("value", 0.75) - F.percentile("value", 0.25), 4
            ).alias("iqr"),
        )
    )


register(
    "q_boxplot",
    q_boxplot,
    """
    SELECT event_type,
           round(min(value), 4) AS lo,
           round(quantile_cont(value, 0.25), 4) AS q1,
           round(quantile_cont(value, 0.5), 4) AS median,
           round(quantile_cont(value, 0.75), 4) AS q3,
           round(max(value), 4) AS hi,
           round(quantile_cont(value, 0.75) - quantile_cont(value, 0.25), 4)
               AS iqr
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type
    """,
)


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per group: median absolute deviation
    (median(|x − median|), the breakdown-resistant spread estimate) and
    the count of rows beyond 3·1.4826·MAD — the robust z-score rule
    that survives the heavy tails that wreck mean/stddev gates. Two
    exact type-7 medians (the q_boxplot convention both engines share),
    each a keyed agg whose dimension-sized result broadcasts back onto
    the scan (no fact-table window); integer-cent inputs keep the
    interpolated midpoints exact (x.0/x.5)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    med = ev.groupBy("event_type").agg(F.percentile("cents", 0.5).alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("cents") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", 0.5).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.first("med"), 4).alias("med_cents"),
            F.round(F.first("mad"), 4).alias("mad_cents"),
            F.sum(
                (
                    F.col("adev") > F.lit(3.0) * F.lit(1.4826) * F.col("mad")
                ).cast("bigint")
            ).alias("n_outliers"),
        )
    )


register(
    "q_mad_outliers",
    q_mad_outliers,
    """
    WITH ev AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    med AS (
        SELECT event_type, quantile_cont(cents, 0.5) AS med
        FROM ev GROUP BY event_type
    ),
    dev AS (
        SELECT ev.event_type, med.med, abs(ev.cents - med.med) AS adev
        FROM ev JOIN med USING (event_type)
    )
    SELECT event_type,
           round(any_value(med), 4) AS med_cents,
           round(quantile_cont(adev, 0.5), 4) AS mad_cents,
           CAST(sum(CASE WHEN adev > 3.0 * 1.4826 * (
                   SELECT quantile_cont(d2.adev, 0.5) FROM dev d2
                   WHERE d2.event_type = dev.event_type)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev GROUP BY event_type
    """,
)


SAMPLE_PER_GROUP = 5


def q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size per-stratum sample: the first
    ``SAMPLE_PER_GROUP`` rows of each event type in md5(event_id)
    order — reproducible across runs, engines, and partitionings (the
    per-group complement to the global A-Res sampler,
    q_sample_weighted). One keyed window; at scale the rank-k
    selection pushes into a per-group top-k buffer, never a global
    sort."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), F.col("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SAMPLE_PER_GROUP)
        .select("event_type", "event_id", F.col("rn").cast("int").alias("rn"))
    )


register(
    "q_sample_per_group",
    q_sample_per_group,
    f"""
    SELECT event_type, event_id, CAST(rn AS INT) AS rn FROM (
        SELECT event_type, event_id,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
        FROM events
    ) WHERE rn <= {SAMPLE_PER_GROUP}
    """,
)


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient salted equi-join (operators.skew.salted_join):
    the fact side's key is salted and the dim side replicated across
    the salt space, so one hot key spreads over ``salt`` reducers —
    the standard remedy when the dim is too big to broadcast and AQE's
    skew split isn't available. Certified value-identical to the plain
    join (the oracle) — salting is an execution strategy, not a
    semantic."""
    from ..operators.skew import salted_join

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_nationkey"
    )
    return salted_join(orders, cust, "o_custkey", salt=8).select(
        "o_orderkey", "c_name", "c_nationkey"
    )


register(
    "q_salted_join",
    q_salted_join,
    """
    SELECT o.o_orderkey, c.c_name, c.c_nationkey
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)


def q_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` ≡ IS NOT DISTINCT FROM): NULL
    keys MATCH each other instead of vanishing — the semantic the
    MERGE engine's change detection relies on (operators/merge.py),
    certified at the join operator itself. Each side pre-aggregates to
    its (nullable key, count) summary, so the null-safe join runs on
    dimension-sized frames."""
    ev = load_table(spark, sf_dir, "events")
    k = F.when(F.col("event_id") % 97 == 0, F.lit(None)).otherwise(
        F.col("user_id") % 1000
    )
    a = (
        ev.filter(F.col("event_id") % 2 == 0)
        .select(k.alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n_a"))
    )
    b = (
        ev.filter(F.col("event_id") % 2 == 1)
        .select(k.alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n_b"))
    )
    return a.join(b, a["k"].eqNullSafe(b["k"])).select(
        a["k"].alias("k"), "n_a", "n_b", (F.col("n_a") * F.col("n_b")).alias("pairs")
    )


register(
    "q_nullsafe_join",
    q_nullsafe_join,
    """
    WITH keyed AS (
        SELECT event_id,
               CASE WHEN event_id % 97 = 0 THEN NULL
                    ELSE user_id % 1000 END AS k
        FROM events
    ),
    a AS (SELECT k, count(*) AS n_a FROM keyed WHERE event_id % 2 = 0 GROUP BY k),
    b AS (SELECT k, count(*) AS n_b FROM keyed WHERE event_id % 2 = 1 GROUP BY k)
    SELECT a.k, a.n_a, b.n_b, a.n_a * b.n_b AS pairs
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)


def q_seq_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern support (the 2-item sequence core of
    GSP/PrefixSpan): for every ORDERED event-type pair (a, b), how many
    users exhibit 'some a happens before some b'. The naive definition
    is an EXISTS over event pairs (quadratic per user); it reduces
    EXACTLY to ``min_ts(a) < max_ts(b)`` — an a precedes a b iff the
    EARLIEST a precedes the LATEST b. So the plan is one (user, type)
    hash agg, a user-keyed self-join of the tiny per-user type summary
    (≤ |types|² rows per user), and a pair rollup — cost is linear in
    the event log with a |types|²-bounded blowup, never event-pairs.
    Support is exact per-mille of the total user population."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("mn"), F.max("ts").alias("mx")
    )
    a = per.select(
        "user_id", F.col("event_type").alias("type_a"), F.col("mn").alias("mn_a")
    )
    b = per.select(
        "user_id", F.col("event_type").alias("type_b"), F.col("mx").alias("mx_b")
    )
    total = ev.select("user_id").distinct().count()  # bounded 1-value action
    return (
        a.join(b, "user_id")
        .filter(F.col("mn_a") < F.col("mx_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_users"))
        .select(
            "type_a",
            "type_b",
            "n_users",
            # integer floor division in BOTH engines (double-cast
            # truncation rounds differently across dialects); total==0
            # can only co-occur with an empty result, but guard anyway
            # so ANSI mode never sees a div-0 literal
            F.expr(f"(n_users * 1000) div {max(total, 1)}").alias("support_pm"),
        )
    )


register(
    "q_seq_pairs",
    q_seq_pairs,
    """
    WITH per AS (
        SELECT user_id, event_type, min(ts) AS mn, max(ts) AS mx
        FROM events GROUP BY user_id, event_type
    ),
    tot AS (SELECT count(DISTINCT user_id) AS n FROM events)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           count(*) AS n_users,
           (count(*) * 1000) // tot.n AS support_pm
    FROM per a JOIN per b ON a.user_id = b.user_id AND a.mn < b.mx
    CROSS JOIN tot
    GROUP BY a.event_type, b.event_type, tot.n
    """,
)


def q_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4 collations ≡ ANSI COLLATE):
    a case-mixed key column (upper for even keys, lower for odd)
    grouped under the case-insensitive collation — the ENGINE folds
    case inside the hash agg, no normalize-then-group rewrite. The
    certificate renders the group canonically (binary min variant +
    lower form) so both engines' outputs compare exactly; the binary
    variant count proves the group really contained mixed case."""
    cust = load_table(spark, sf_dir, "customer")
    v = F.when(
        F.col("c_custkey") % 2 == 0, F.upper("c_mktsegment")
    ).otherwise(F.lower("c_mktsegment"))
    return (
        cust.select(v.alias("seg"))
        .groupBy(F.expr("collate(seg, 'UTF8_LCASE')").alias("k"))
        .agg(
            F.count("*").alias("n"),
            F.count_distinct(F.expr("collate(seg, 'UTF8_BINARY')")).alias(
                "n_variants"
            ),
            F.min(F.expr("collate(seg, 'UTF8_BINARY')")).alias("first_variant"),
        )
        .select(
            F.lower("first_variant").alias("segment"),
            "n",
            "n_variants",
            F.col("first_variant").cast("string").alias("first_variant"),
        )
    )


register(
    "q_collation",
    q_collation,
    """
    WITH v AS (
        SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
                    ELSE lower(c_mktsegment) END AS seg
        FROM customer
    )
    SELECT lower(min(seg)) AS segment,
           count(*) AS n,
           count(DISTINCT seg) AS n_variants,
           min(seg) AS first_variant
    FROM v GROUP BY seg COLLATE NOCASE
    """,
)


def q_abtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment readout — the classic warehouse A/B analysis: users
    hash-split into two arms (user_id parity standing in for the
    assignment hash), per-user conversion = any 'purchase' event, then
    the two-proportion pooled z statistic. All sufficient statistics
    are exact BIGINT counts from two hash aggs (user rollup → arm
    rollup); the z-score is one fixed double expression over those four
    integers, written identically in both engines and rounded 4 dp.
    Scales as two keyed aggs — the metric pipeline shape, no windows."""
    ev = load_table(spark, sf_dir, "events")
    # conversion = any HIGH-VALUE purchase (top decile of the price
    # range) — a per-user rare event, so both arms keep variance.
    users = ev.groupBy("user_id").agg(
        F.max(
            (
                (F.col("event_type") == "purchase") & (F.col("value") > 150.0)
            ).cast("int")
        ).alias("conv")
    )
    arms = users.groupBy((F.col("user_id") % 2).alias("arm")).agg(
        F.count("*").alias("n"), F.sum("conv").alias("c")
    )
    one = arms.agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.sum(F.when(F.col("arm") == 0, F.col("c"))).alias("c0"),
        F.sum(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("c"))).alias("c1"),
    )
    p0 = F.col("c0") / F.col("n0")
    p1 = F.col("c1") / F.col("n1")
    pp = (F.col("c0") + F.col("c1")) / (F.col("n0") + F.col("n1"))
    se = F.sqrt(pp * (1 - pp) * (1 / F.col("n0") + 1 / F.col("n1")))
    return one.select(
        "n0",
        "c0",
        "n1",
        "c1",
        F.round(p0, 4).alias("rate0"),
        F.round(p1, 4).alias("rate1"),
        F.when(se > 0, F.round((p1 - p0) / se, 4)).alias("z"),
    )


register(
    "q_abtest",
    q_abtest,
    """
    WITH users AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'purchase' AND value > 150.0
                        THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY user_id
    ),
    arms AS (
        SELECT user_id % 2 AS arm, count(*) AS n, sum(conv) AS c
        FROM users GROUP BY user_id % 2
    ),
    one AS (
        SELECT CAST(sum(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n0,
               CAST(sum(CASE WHEN arm = 0 THEN c END) AS BIGINT) AS c0,
               CAST(sum(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN arm = 1 THEN c END) AS BIGINT) AS c1
        FROM arms
    )
    SELECT n0, c0, n1, c1,
           round(c0 / n0, 4) AS rate0,
           round(c1 / n1, 4) AS rate1,
           CASE WHEN sqrt((c0 + c1) / (n0 + n1)
                           * (1 - (c0 + c1) / (n0 + n1))
                           * (1 / n0 + 1 / n1)) > 0
                THEN round((c1 / n1 - c0 / n0)
                           / sqrt((c0 + c1) / (n0 + n1)
                                  * (1 - (c0 + c1) / (n0 + n1))
                                  * (1 / n0 + 1 / n1)), 4)
           END AS z
    FROM one
    """,
)


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt of the customer numeric columns (Spark
    ``unpivot``/``melt`` ≡ ANSI UNPIVOT): one narrow projection, no
    shuffle — the layout change feeding per-metric pipelines."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    ).unpivot(
        ids=["c_custkey"],
        values=["acctbal", "nationkey"],
        variableColumnName="metric",
        valueColumnName="val",
    )


register(
    "q_unpivot",
    q_unpivot,
    """
    SELECT c_custkey, metric, val
    FROM (
        SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS acctbal,
               CAST(c_nationkey AS DOUBLE) AS nationkey
        FROM customer
    )
    UNPIVOT (val FOR metric IN (acctbal, nationkey))
    """,
)


def q_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-RANGE window frame (RANGE, not ROWS): per user, the count
    and decimal-exact sum of that user's events in the trailing hour of
    EVENT TIME at each event — the windowed form of the bounded range
    join. Both engines order by WHOLE epoch seconds (unix_timestamp
    truncates; the oracle floors epoch(ts) to match — fractional-second
    peers at the 3600s boundary differ otherwise, caught at sf0.1)."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    secs = F.unix_timestamp(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(secs)
        .rangeBetween(-3600, Window.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_1h"),
        F.sum(F.col("value").cast("decimal(28,2)")).over(w)
        .cast("double")
        .alias("sum_1h"),
    )


register(
    "q_range_window",
    q_range_window,
    """
    SELECT event_id, user_id,
           count(*) OVER w AS n_1h,
           CAST(sum(CAST(value AS DECIMAL(28,2))) OVER w AS DOUBLE) AS sum_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)


def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint sweep — the validation gate a pipeline
    runs before promoting a snapshot: referential integrity (anti-join),
    key uniqueness, null checks, and domain-range rules, emitted as one
    (rule, n_checked, n_violations) report. Each rule is a single
    pruned-scan aggregate (the FK rule one broadcast-able anti-join);
    the union is metadata-sized. At 100 TB rules share nothing and run
    as independent narrow scans — the cheapest possible full-table
    audit shape."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    def rule(name: str, checked: DataFrame, violated) -> DataFrame:
        return checked.agg(
            F.lit(name).alias("rule"),
            F.count("*").alias("n_checked"),
            F.count_if(violated).alias("n_violations"),
        )

    fk = li.join(
        orders.select("o_orderkey"),
        li["l_orderkey"] == F.col("o_orderkey"),
        "left",
    )
    checks = [
        rule("lineitem_orderkey_fk", fk, F.col("o_orderkey").isNull()),
        rule(
            "orders_custkey_not_null",
            orders,
            F.col("o_custkey").isNull(),
        ),
        rule(
            "lineitem_quantity_domain",
            li,
            (F.col("l_quantity") <= 0) | (F.col("l_quantity") > 50),
        ),
        rule(
            "lineitem_discount_domain",
            li,
            (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1),
        ),
        rule(
            "orders_totalprice_positive",
            orders,
            F.col("o_totalprice") <= 0,
        ),
    ]
    uniq = cust.groupBy("c_custkey").agg(F.count("*").alias("n"))
    checks.append(rule("customer_custkey_unique", uniq, F.col("n") > 1))
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


register(
    "q_dq_checks",
    q_dq_checks,
    """
    SELECT 'lineitem_orderkey_fk' AS rule, count(*) AS n_checked,
           count(*) FILTER (WHERE o.o_orderkey IS NULL) AS n_violations
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'orders_custkey_not_null', count(*),
           count(*) FILTER (WHERE o_custkey IS NULL)
    FROM orders
    UNION ALL
    SELECT 'lineitem_quantity_domain', count(*),
           count(*) FILTER (WHERE l_quantity <= 0 OR l_quantity > 50)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_discount_domain', count(*),
           count(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1)
    FROM lineitem
    UNION ALL
    SELECT 'orders_totalprice_positive', count(*),
           count(*) FILTER (WHERE o_totalprice <= 0)
    FROM orders
    UNION ALL
    SELECT 'customer_custkey_unique', count(*),
           count(*) FILTER (WHERE n > 1)
    FROM (SELECT c_custkey, count(*) AS n FROM customer GROUP BY c_custkey)
    """,
)


# ONE SQL text, two engines: the Spark side registers the normalized
# snapshot views and runs THIS string through spark.sql; the oracle runs
# the IDENTICAL string in DuckDB. Certifies the engine's SQL surface on
# the dialect intersection (CTEs, ordinal GROUP BY, FILTER clauses,
# decimal casts, date_trunc) — a user can hand this engine ANSI SQL, not
# just DataFrame programs.
_SQL_SURFACE = """
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day, event_type,
               count(*) AS n,
               count(*) FILTER (WHERE value >= 250.0) AS n_hot,
               CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total
        FROM events
        GROUP BY 1, 2
    )
    SELECT day, event_type, n, n_hot, total
    FROM daily
"""


def q_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface parity: the exact oracle SQL text executed by
    ``spark.sql`` over the registered snapshot views — certifying the
    ANSI dialect intersection end-to-end, not a DataFrame translation
    of it."""
    from ..sources import register_views

    register_views(spark, sf_dir, "events")
    return spark.sql(_SQL_SURFACE)


register("q_sql_surface", q_sql_surface, _SQL_SURFACE)


def q_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation of response value vs hour-of-day per event type, via
    EXACT integer sufficient statistics: n, Σx, Σy, Σxy, Σx², Σy² in
    cents/hours (bigint — no float folds), covariance and variance
    numerators (n·Σxy − ΣxΣy etc.) as exact integers, and Pearson r as
    their unrounded IEEE quotient — division and sqrt are correctly
    rounded operations, so the double is bit-identical across engines
    (only ``round()`` is not portable; it is deliberately absent).
    One hash aggregate; sufficient statistics are the mergeable form
    (operators.incremental posture) a standing profile table keeps."""
    events = load_table(spark, sf_dir, "events")
    base = events.select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("x"),
        F.hour("ts").cast("bigint").alias("y"),
    )
    agg = base.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return agg.select(
        "event_type",
        "n",
        cov.alias("cov_num"),
        vx.alias("var_x_num"),
        vy.alias("var_y_num"),
        (
            cov.cast("double")
            / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double")))
        ).alias("pearson_r"),
    )


register(
    "q_corr_stats",
    q_corr_stats,
    """
    WITH base AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
               CAST(hour(ts) AS BIGINT) AS y
        FROM events
    ),
    agg AS (
        SELECT event_type, count(*) AS n,
               sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        FROM base GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(n * sxy - sx * sy AS BIGINT) AS cov_num,
           CAST(n * sxx - sx * sx AS BIGINT) AS var_x_num,
           CAST(n * syy - sy * sy AS BIGINT) AS var_y_num,
           CAST(n * sxy - sx * sy AS DOUBLE)
               / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                  * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS pearson_r
    FROM agg
    """,
)


def q_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable approximate quantiles (KLL-style percentile_approx)
    certified by an exact-bracket contract: the sketch's p50/p95 must
    land between the exact interpolated quantiles ±5 rank-percentiles.
    The sketch path is the 100 TB plan — single pass, bounded memory,
    associative merges (the same reason the reference keeps p99 in
    ClickHouse's approximate quantile, neptune_etl_deepflow.py) —
    while the oracle pins the exact brackets and asserts the contract
    booleans are uniformly true."""
    events = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    agg = events.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.5), 4).alias("p50_exact"),
        F.round(F.percentile("value", 0.95), 4).alias("p95_exact"),
        F.percentile("value", 0.45).alias("_p45"),
        F.percentile("value", 0.55).alias("_p55"),
        F.percentile("value", 0.90).alias("_p90"),
        F.percentile("value", 0.99).alias("_p99"),
        F.percentile_approx("value", 0.5, 10000).alias("_a50"),
        F.percentile_approx("value", 0.95, 10000).alias("_a95"),
    )
    return agg.select(
        "event_type",
        "p50_exact",
        "p95_exact",
        ((F.col("_a50") >= F.col("_p45")) & (F.col("_a50") <= F.col("_p55"))).alias(
            "p50_in_bracket"
        ),
        ((F.col("_a95") >= F.col("_p90")) & (F.col("_a95") <= F.col("_p99"))).alias(
            "p95_in_bracket"
        ),
    )


register(
    "q_approx_quantile",
    q_approx_quantile,
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50_exact,
           round(quantile_cont(value, 0.95), 4) AS p95_exact,
           TRUE AS p50_in_bracket,
           TRUE AS p95_in_bracket
    FROM events
    WHERE value IS NOT NULL
    GROUP BY event_type
    """,
)


def q_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/distribution window-function suite in one pass: rank,
    dense_rank, percent_rank, cume_dist, and first_value IGNORE NULLS
    over a deterministic (value, event_id) order per event type. The
    rational rank arithmetic (percent_rank, cume_dist) is identical
    IEEE in both engines; one keyed window shuffle total — all five
    functions share the same (partition, order) spec, so Catalyst
    evaluates them in a single Window node."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    big = F.when(F.col("value") >= 5.0, F.col("value"))
    return ev.select(
        "event_id",
        "event_type",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.first(big, ignorenulls=True)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("first_big"),
    )


register(
    "q_window_suite",
    q_window_suite,
    """
    SELECT event_id, event_type,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           first_value(CASE WHEN value >= 5.0 THEN value END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY value, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS first_big
    FROM events
    WHERE value IS NOT NULL
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
)


def q_datetime_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function parity suite: calendar field extraction,
    month truncation, end-of-month, day offsets, day difference, and
    epoch conversion — the portable subset (day-of-week normalized to
    Sunday=0; ISO-week variants excluded where engine definitions
    diverge). Pure per-row codegen expressions, zero shuffles."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.year("ts").alias("y"),
        F.quarter("ts").alias("q"),
        F.month("ts").alias("m"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.minute("ts").alias("mi"),
        (F.dayofweek("ts") - 1).alias("dow0"),
        F.dayofyear("ts").alias("doy"),
        F.date_trunc("month", F.col("ts")).alias("month_start"),
        F.last_day("ts").cast("timestamp").alias("month_end_day"),
        F.date_add(F.col("ts").cast("date"), 30).cast("timestamp").alias("plus_30d"),
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .alias("days_since_2024"),
        F.unix_timestamp("ts").alias("epoch_s"),
    )


register(
    "q_datetime_suite",
    q_datetime_suite,
    """
    SELECT event_id,
           CAST(year(ts) AS INTEGER) AS y,
           CAST(quarter(ts) AS INTEGER) AS q,
           CAST(month(ts) AS INTEGER) AS m,
           CAST(day(ts) AS INTEGER) AS d,
           CAST(hour(ts) AS INTEGER) AS h,
           CAST(minute(ts) AS INTEGER) AS mi,
           CAST(dayofweek(ts) AS INTEGER) AS dow0,
           CAST(dayofyear(ts) AS INTEGER) AS doy,
           date_trunc('month', ts) AS month_start,
           CAST(last_day(CAST(ts AS DATE)) AS TIMESTAMP) AS month_end_day,
           CAST(CAST(ts AS DATE) + INTERVAL 30 DAY AS TIMESTAMP) AS plus_30d,
           CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INTEGER)
               AS days_since_2024,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
    FROM events
    """,
)


def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) of parts — cheapest-for-the-size:
    a part survives unless another part is no pricier AND no smaller
    with at least one strict improvement. The quadratic NOT-EXISTS
    definition (kept as the oracle) collapses to ONE running-max
    window over the DISTINCT (price, size) pairs sorted (price asc,
    size desc) — the classic O(n log n) 2-D skyline sweep: any
    preceding pair in that order has price ≤ current, so the current
    pair is dominated iff a preceding size is ≥ its own (equal-pair
    duplicates collapse before the sweep, so self-domination never
    triggers). The window input is the distinct value-pair set
    (domain-sized, not table-sized); at extreme domain cardinality the
    standard two-phase local-skyline + merge replaces the single sweep."""
    from pyspark.sql import Window

    parts = load_table(spark, sf_dir, "part")
    pairs = (
        parts.groupBy("p_retailprice", "p_size")
        .agg(F.count("*").alias("n_parts"), F.min("p_partkey").alias("min_partkey"))
    )
    w = (
        Window.orderBy(F.asc("p_retailprice"), F.desc("p_size"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        pairs.withColumn("best_prev_size", F.max("p_size").over(w))
        .filter(
            F.col("best_prev_size").isNull()
            | (F.col("p_size") > F.col("best_prev_size"))
        )
        .select("p_retailprice", "p_size", "n_parts", "min_partkey")
    )


register(
    "q_skyline",
    q_skyline,
    """
    WITH pairs AS (
        SELECT p_retailprice, p_size, count(*) AS n_parts,
               min(p_partkey) AS min_partkey
        FROM part GROUP BY p_retailprice, p_size
    )
    SELECT p_retailprice, p_size, n_parts, min_partkey
    FROM pairs p
    WHERE NOT EXISTS (
        SELECT 1 FROM pairs q
        WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    """,
)


def q_array_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array-function parity suite over the embedding
    vectors: fold (L1 norm in exact cents), element-wise zip_with
    (self dot-product as integer cents²), filter + size (positive
    component count), transform (first component scaled), slice, and
    sort — each against DuckDB's list_* equivalents. Exactness: floats
    quantize to integer cents BEFORE any fold, so sums are
    associativity-proof in both engines. Per-row codegen-adjacent
    expressions, zero shuffles."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 100).cast("long")
    )
    ec = emb.select("vec_id", "label", cents.alias("c"))
    return ec.select(
        "vec_id",
        "label",
        F.aggregate("c", F.lit(0).cast("long"), lambda a, x: a + F.abs(x)).alias(
            "l1_cents"
        ),
        F.aggregate(
            F.zip_with("c", "c", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("dot_self_cents2"),
        F.size(F.filter("c", lambda x: x > 0)).alias("n_pos"),
        F.element_at(F.slice("c", 1, 3), 1).alias("first_cents"),
        F.element_at(F.array_sort("c"), 1).alias("min_cents"),
        F.element_at(F.array_sort("c"), F.size("c")).alias("max_cents"),
    )


register(
    "q_array_suite",
    q_array_suite,
    """
    WITH ec AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 100) AS BIGINT)) AS c
        FROM embeddings
    )
    SELECT vec_id, label,
           CAST(list_sum(list_transform(c, x -> abs(x))) AS BIGINT) AS l1_cents,
           CAST(list_sum(list_transform(c, x -> x * x)) AS BIGINT)
               AS dot_self_cents2,
           CAST(len(list_filter(c, x -> x > 0)) AS INTEGER) AS n_pos,
           c[1] AS first_cents,
           list_min(c) AS min_cents,
           list_max(c) AS max_cents
    FROM ec
    """,
)


def q_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS fit (value-cents on hour-of-day) via EXACT integer
    sufficient statistics — the q_corr_stats posture extended to the
    full regression line: slope and intercept emitted as exact integer
    numerator/denominator pairs (engine-portable by construction) plus
    their IEEE quotients (one correctly-rounded division each, so the
    doubles are also bit-identical). One hash aggregate; the sufficient
    statistics are the mergeable form a standing model table keeps, so
    the fit is maintainable incrementally (operators.incremental)."""
    events = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = events.select(
        "event_type",
        F.hour("ts").cast("bigint").alias("x"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("y"),
    )
    agg = base.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope_num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope_den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    icept_num = F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")
    return agg.select(
        "event_type",
        "n",
        slope_num.alias("slope_num"),
        slope_den.alias("slope_den"),
        icept_num.alias("icept_num"),
        (slope_num.cast("double") / slope_den.cast("double")).alias("slope_cents"),
        (icept_num.cast("double") / slope_den.cast("double")).alias("icept_cents"),
    )


register(
    "q_regression",
    q_regression,
    """
    WITH base AS (
        SELECT event_type,
               CAST(hour(ts) AS BIGINT) AS x,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        FROM events WHERE value IS NOT NULL
    ),
    agg AS (
        SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x*y) AS sxy, sum(x*x) AS sxx
        FROM base GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(n*sxy - sx*sy AS BIGINT) AS slope_num,
           CAST(n*sxx - sx*sx AS BIGINT) AS slope_den,
           CAST(sy*sxx - sx*sxy AS BIGINT) AS icept_num,
           CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
               AS slope_cents,
           CAST(sy*sxx - sx*sxy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
               AS icept_cents
    FROM agg
    """,
)


_SQL_SURFACE2 = """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(rank() OVER (ORDER BY count(*) DESC, user_id) AS BIGINT)
               AS activity_rank,
           CAST(sum(count(*)) OVER (ORDER BY count(*) DESC, user_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS running_total
    FROM events
    WHERE event_type IN ('view', 'click')
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
    GROUP BY user_id
    ORDER BY activity_rank
    LIMIT 40
"""


def q_sql_surface2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface parity #2: windows OVER aggregates — rank and a
    running total computed over the grouped result — in ONE shared
    ANSI text executed verbatim by both engines (the dialect
    intersection covers mixed aggregation + windowing, the shape BI
    tools emit).

    Scale note: the verbatim text necessarily carries a global rank
    window (PLAN_AUDIT marks it SinglePartition(RANK)) — that is the
    point of the query: it demonstrates the DIALECT surface, executed
    as written. The engine's scale-safe form of this exact readout is
    the two-phase distributed rank (operators/rank.py, proven on
    q_gini/q_lorenz/q_rfm/q_gains/q_auc/q_ks_test); a user with a
    10⁹-user frame writes that, not raw OVER (ORDER BY)."""
    from ..sources import register_views

    register_views(spark, sf_dir, "events")
    return spark.sql(_SQL_SURFACE2)


register("q_sql_surface2", q_sql_surface2, _SQL_SURFACE2)


def q_sql_surface2_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IDENTICAL readout as q_sql_surface2, computed the way you
    would SHIP it at 100 TB (VERDICT r5 task 4): the global
    ``rank()``/running-total windows are replaced by the distributed
    two-phase prefix rank (operators/rank.py prefix_sums — range
    exchange → partition-local cumsum → one-row-per-partition offset
    table), so no SinglePartition window touches the per-user frame.
    The oracle is the SAME verbatim ANSI text as q_sql_surface2, which
    links the dialect-surface certificate and the scale recipe by a
    value oracle: both produce byte-identical results.

    Exactness: the ORDER BY (n_events DESC, user_id) is total (user_id
    is unique after the groupBy), so ``rank()`` degenerates to the row
    number prefix_sums computes, and the running total is an exact
    BIGINT cumsum — partition-boundary independent."""
    from ..operators.rank import prefix_sums
    from ..sources import load_table

    ev = load_table(spark, sf_dir, "events")
    agg = (
        ev.filter(
            F.col("event_type").isin("view", "click")
            & (F.col("ts") >= F.lit("2024-01-01 00:00:00").cast("timestamp"))
        )
        .groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("n_events"))
    )
    ranked = prefix_sums(
        agg,
        order_by=[F.col("n_events").desc(), F.col("user_id").asc()],
        sums={"running_total": F.col("n_events")},
        row_number="activity_rank",
    )
    return (
        ranked.filter(F.col("activity_rank") <= 40)
        .select("user_id", "n_events", "activity_rank", "running_total")
        .orderBy("activity_rank")
    )


register("q_sql_surface2_scaled", q_sql_surface2_scaled, _SQL_SURFACE2)


_SQL_SURFACE3 = """
    WITH types AS (SELECT DISTINCT event_type FROM events)
    SELECT t.event_type, l.n, l.p50, l.p90
    FROM types t, LATERAL (
        SELECT CAST(count(*) AS BIGINT) AS n,
               round(percentile_cont(0.5) WITHIN GROUP (ORDER BY v.value), 4) AS p50,
               round(percentile_cont(0.9) WITHIN GROUP (ORDER BY v.value), 4) AS p90
        FROM events v WHERE v.event_type = t.event_type
    ) l
    ORDER BY t.event_type
"""


def q_sql_surface3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface parity #3: correlated LATERAL derived tables +
    ordered-set aggregates (``percentile_cont ... WITHIN GROUP``) in
    ONE shared ANSI text executed verbatim by both engines. Catalyst
    decorrelates the lateral into a join + aggregate, so the verbatim
    BI-tool shape still runs as a distributed plan (no per-row
    re-execution)."""
    from ..sources import register_views

    register_views(spark, sf_dir, "events")
    return spark.sql(_SQL_SURFACE3)


register("q_sql_surface3", q_sql_surface3, _SQL_SURFACE3)


_SQL_SURFACE4 = """
    WITH RECURSIVE o AS (
        SELECT user_id, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents,
               CAST(round(value * 100) AS BIGINT) % 5 AS pct,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
        WHERE user_id % 50 = 0
    ),
    oc AS (SELECT * FROM o WHERE rn <= 8),
    r AS (
        SELECT user_id, event_id, rn, cents AS bal
        FROM oc WHERE rn = 1
        UNION ALL
        SELECT oc.user_id, oc.event_id, oc.rn,
               CAST(floor((r.bal * (100 + oc.pct)) / 100.0) AS BIGINT)
                   + oc.cents
        FROM oc JOIN r ON oc.user_id = r.user_id AND oc.rn = r.rn + 1
    )
    SELECT user_id, event_id, rn, bal FROM r
"""


def q_sql_surface4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface parity #4: ``WITH RECURSIVE`` (Spark 4 recursive
    CTEs) — a per-key COMPOUNDING balance in exact integer cents, ONE
    shared ANSI text executed verbatim by both engines. The recurrence
    multiplies then floors each step, so it is genuinely sequential
    (floor division distributes over neither sum nor product — no
    window/aggregate rewrite exists); every intermediate stays an
    exact BIGINT (products ≤ 1e8 are exact in the double used by the
    shared ``floor(x/100.0)`` step), so the certificate is value-exact
    with no float tolerance. The depth cap bounds the iterative
    executor's rounds; on an unbounded-depth production recurrence the
    keyed ``mapInArrow`` EWMA kernel (operators.timeseries.ewma) is
    the 100 TB path, and this surface is the cross-engine semantics
    pin for it."""
    from ..sources import register_views

    register_views(spark, sf_dir, "events")
    return spark.sql(_SQL_SURFACE4)


register("q_sql_surface4", q_sql_surface4, _SQL_SURFACE4)


def q_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score normalization — the feature-scaling pass of a
    tabular pipeline — from EXACT integer sufficient statistics: the
    (n, Σcents, Σcents²) hash agg per event type broadcasts back onto
    the scan, and mean/std/z are ONE fixed double expression over
    those integers (sample std, the n−1 form), written identically in
    both engines and rounded 4 dp. No window over the fact table; sums
    of squares stay inside BIGINT at this value range (≤ ~2^53 rows ×
    cents² would need decimal — the decimal-cents discipline documents
    the switch point)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    stats = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("ss"),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    mean = s.cast("double") / n.cast("double")
    var = (n * ss - s * s).cast("double") / (n * (n - 1)).cast("double")
    return ev.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        F.round(mean, 4).alias("mean_cents"),
        (
            F.round(
                F.when(
                    (n > 1) & ((n * ss - s * s) > 0),
                    (F.col("cents") - mean) / F.sqrt(var),
                ).otherwise(F.lit(0.0)),
                4,
            )
            + F.lit(0.0)  # normalize -0.0 (signed-zero class, corpus.py:215)
        ).alias("z"),
    )


register(
    "q_zscore",
    q_zscore,
    """
    WITH ev AS (
        SELECT event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    stats AS (
        SELECT event_type, count(*) AS n, sum(cents) AS s,
               sum(cents * cents) AS ss
        FROM ev GROUP BY event_type
    )
    SELECT ev.event_id, ev.event_type,
           round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 4) AS mean_cents,
           round(CASE WHEN n > 1 AND (n * ss - s * s) > 0
                      THEN (ev.cents - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                           / sqrt(CAST(n * ss - s * s AS DOUBLE)
                                  / CAST(n * (n - 1) AS DOUBLE))
                      ELSE 0.0 END, 4) + 0.0 AS z
    FROM ev JOIN stats USING (event_type)
    """,
)


def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user spend — the concentration metric
    for usage/revenue skew (how unevenly load or value distributes
    over the population), computed EXACTLY in integers: per-user cents
    (fact-table hash agg), then the global rank i via the DISTRIBUTED
    two-phase prefix rank (operators/rank.py — range-partitioned local
    row number + a per-partition offset table broadcast back), so the
    user frame never serializes through one task at 10⁹ users; G =
    (2·Σ i·xᵢ)/(n·Σx) − (n+1)/n uses exact BIGINT sums with ONE double
    division at the end."""
    from etl_neptune_spark.operators.rank import prefix_sums

    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents")
    )
    ranked = prefix_sums(
        per, [F.asc("cents"), F.asc("user_id")], row_number="i"
    )
    return ranked.agg(
        F.count("*").alias("n_users"),
        F.sum("cents").alias("total_cents"),
        F.round(
            (2.0 * F.sum(F.col("i") * F.col("cents")))
            / (F.count("*") * F.sum("cents"))
            - (F.count("*") + 1) / F.count("*"),
            6,
        ).alias("gini"),
    )


register(
    "q_gini",
    q_gini,
    """
    WITH per AS (
        SELECT user_id, sum(CAST(round(value * 100) AS BIGINT)) AS cents
        FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents, user_id) AS i
        FROM per
    )
    SELECT count(*) AS n_users,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           round((2.0 * sum(i * cents)) / (count(*) * sum(cents))
                 - (count(*) + 1) / CAST(count(*) AS DOUBLE), 6) AS gini
    FROM ranked
    """,
)


def q_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity: Shannon entropy (nats) of each user's
    event-type mix — the engagement-breadth feature. Exact integer
    counts from two hash aggs feed p·ln p with one division per term
    and a 4 dp round; the per-user term count is bounded by the type
    vocabulary, so the plan is two keyed aggregates and a broadcast
    back — no window, no event-pair blowup."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n_ut"))
    u = ut.groupBy("user_id").agg(F.sum("n_ut").alias("n_u"))
    p = F.col("n_ut").cast("double") / F.col("n_u").cast("double")
    return (
        ut.join(F.broadcast(u), "user_id")
        .groupBy("user_id")
        .agg(
            F.max("n_u").alias("n_events"),
            F.count("*").alias("n_types"),
            F.round(-F.sum(p * F.log(p)), 4).alias("entropy"),
        )
    )


register(
    "q_entropy",
    q_entropy,
    """
    WITH ut AS (
        SELECT user_id, event_type, count(*) AS n_ut
        FROM events GROUP BY user_id, event_type
    ),
    u AS (SELECT user_id, sum(n_ut) AS n_u FROM ut GROUP BY user_id)
    SELECT ut.user_id,
           CAST(max(u.n_u) AS BIGINT) AS n_events,
           count(*) AS n_types,
           round(-sum((CAST(n_ut AS DOUBLE) / CAST(n_u AS DOUBLE))
                      * ln(CAST(n_ut AS DOUBLE) / CAST(n_u AS DOUBLE))), 4)
               AS entropy
    FROM ut JOIN u USING (user_id)
    GROUP BY ut.user_id
    """,
)


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization — the robust-stats companion to
    q_mad_outliers: clip each event's value (exact integer cents) at
    the group's [p05, p95] band and report the clipped rollup. The
    percentile bounds are floor/ceil-snapped to integers so every
    downstream number is EXACT BIGINT arithmetic (no engine
    interpolation-rendering in the certificate). Plan: one keyed
    percentile agg on the dimension-sized group frame, broadcast back,
    one pass of least/greatest — no fact-table window, no second
    shuffle."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    bounds = ev.groupBy("event_type").agg(
        F.floor(F.percentile("cents", 0.05)).cast("bigint").alias("lo"),
        F.ceil(F.percentile("cents", 0.95)).cast("bigint").alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi"))
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("lo").alias("lo_cents"),
            F.max("hi").alias("hi_cents"),
            F.count_if(F.col("cents") < F.col("lo")).alias("n_below"),
            F.count_if(F.col("cents") > F.col("hi")).alias("n_above"),
            F.sum(clipped).alias("sum_winsorized"),
        )
    )


register(
    "q_winsorize",
    q_winsorize,
    """
    WITH ev AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    bounds AS (
        SELECT event_type,
               CAST(floor(quantile_cont(cents, 0.05)) AS BIGINT) AS lo,
               CAST(ceil(quantile_cont(cents, 0.95)) AS BIGINT) AS hi
        FROM ev GROUP BY event_type
    )
    SELECT ev.event_type,
           max(b.lo) AS lo_cents,
           max(b.hi) AS hi_cents,
           CAST(count(*) FILTER (WHERE ev.cents < b.lo) AS BIGINT) AS n_below,
           CAST(count(*) FILTER (WHERE ev.cents > b.hi) AS BIGINT) AS n_above,
           CAST(sum(least(greatest(ev.cents, b.lo), b.hi)) AS BIGINT)
               AS sum_winsorized
    FROM ev JOIN bounds b USING (event_type)
    GROUP BY ev.event_type
    """,
)


PAG_TOTAL, PAG_PAGE = 10_000, 100


def q_paginated_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC1 (paginated resource scans, neptune_etl_aws.py:356-428) as a
    Spark 4 custom Python data source (sources/paginated.py): the page
    space is sharded into InputPartition ranges, so the NextToken loop
    the reference runs on one Lambda becomes a partition-parallel scan
    — then an ordinary relational rollup on top. The synthetic pager
    is deterministic, so the WHOLE ingestion path (partition planning →
    page fetch → schema → aggregation) is certified by an oracle that
    recomputes the relation from ``range`` in SQL."""
    from ..sources.paginated import register_paginated_source

    register_paginated_source(spark)
    df = (
        spark.read.format("paginated_scan")
        .option("total_rows", PAG_TOTAL)
        .option("page_size", PAG_PAGE)
        .load()
    )
    return df.groupBy("az", "state").agg(
        F.count("*").alias("n"),
        F.sum(F.col("cpu_cores").cast("bigint")).alias("total_cores"),
        F.min("instance_id").alias("min_id"),
        F.max("instance_id").alias("max_id"),
        F.count_distinct("page").alias("n_pages"),
    )


register(
    "q_paginated_scan",
    q_paginated_scan,
    f"""
    WITH api AS (
        SELECT i AS instance_id,
               CASE WHEN i % 7 < 5 THEN 'running'
                    WHEN i % 7 < 6 THEN 'stopped'
                    ELSE 'pending' END AS state,
               'az-' || CAST(i % 3 AS VARCHAR) AS az,
               (1 << (i % 5)) AS cpu_cores,
               i // {PAG_PAGE} AS page
        FROM unnest(range(0, {PAG_TOTAL})) AS t(i)
    )
    SELECT az, state,
           count(*) AS n,
           CAST(sum(cpu_cores) AS BIGINT) AS total_cores,
           CAST(min(instance_id) AS BIGINT) AS min_id,
           CAST(max(instance_id) AS BIGINT) AS max_id,
           count(DISTINCT page) AS n_pages
    FROM api
    GROUP BY az, state
    """,
)


def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al. 2013) — the
    standard experimentation-platform upgrade of q_abtest: per user,
    pre-period covariate x (first-half spend) and measurement y
    (second-half spend) in exact integer cents; θ = cov(x,y)/var(x)
    from EXACT BIGINT sufficient statistics over the pooled
    population; adjusted metric ŷ = y − θ·(x − x̄). Emits the exact
    integer moment sums (hash-stable certificate) plus the per-arm
    adjusted means and the variance-reduction ratio. Two keyed hash
    aggs (user rollup → arm rollup) + one driver-free global moment
    row carried by a cross join — no window over the fact table."""
    ev = load_table(spark, sf_dir, "events")
    # exact integer midpoint in epoch micros: interval/2 arithmetic
    # rounds differently across engines, integer floor-mean does not
    b = ev.agg(
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("lo"),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("hi"),
    ).first()
    # empty events → NULL bounds; default the midpoint to 0 so the
    # (empty) per-user rollup flows through instead of a TypeError
    mid_us = (
        (int(b["lo"]) + int(b["hi"])) // 2 if b["lo"] is not None else 0
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(ts_us < F.lit(mid_us), cents).otherwise(0)).alias("x"),
            F.sum(F.when(ts_us >= F.lit(mid_us), cents).otherwise(0)).alias("y"),
        )
        .withColumn("arm", (F.col("user_id") % 2).cast("bigint"))
    )
    mom = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    theta = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    )
    xbar = F.col("sx").cast("double") / F.col("n").cast("double")
    adj = (
        F.col("y").cast("double")
        - theta * (F.col("x").cast("double") - xbar)
    )
    return (
        per_user.crossJoin(mom)
        .groupBy("arm")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("x").alias("sum_x"),
            F.sum("y").alias("sum_y"),
            F.round(F.avg(F.col("y").cast("double")), 4).alias("mean_raw"),
            F.round(F.avg(adj), 4).alias("mean_cuped"),
        )
        .orderBy("arm")
    )


register(
    "q_cuped",
    q_cuped,
    """
    WITH bounds AS (
        SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid_us
        FROM events
    ),
    per_user AS (
        SELECT user_id,
               CAST(sum(CASE WHEN epoch_us(ts) < mid_us
                             THEN CAST(round(value * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN epoch_us(ts) >= mid_us
                             THEN CAST(round(value * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS y,
               CAST(user_id % 2 AS BIGINT) AS arm
        FROM events, bounds
        GROUP BY user_id
    ),
    mom AS (
        SELECT count(*) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM per_user
    )
    SELECT arm,
           count(*) AS n_users,
           CAST(sum(x) AS BIGINT) AS sum_x,
           CAST(sum(y) AS BIGINT) AS sum_y,
           round(avg(CAST(y AS DOUBLE)), 4) AS mean_raw,
           round(avg(CAST(y AS DOUBLE)
                     - (CAST(n * sxy - sx * sy AS DOUBLE)
                        / CAST(n * sxx - sx * sx AS DOUBLE))
                       * (CAST(x AS DOUBLE)
                          - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))), 4)
               AS mean_cuped
    FROM per_user CROSS JOIN mom
    GROUP BY arm
    ORDER BY arm
    """,
)


def q_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (the UDAF surface, SURVEY §2.9's
    third Python API beside the scalar Arrow UDF and the UDTF): a numpy
    median over exact integer cents per group — Arrow ships each
    group's column once, the kernel is one vectorized reduction, and
    the statistic is EXACTLY certifiable (a median of BIGINTs is x.0
    or x.5, both exact doubles, so numpy and quantile_cont agree
    bit-for-bit — no summation-order drift, the trap a float-sum UDAF
    would hit). Demonstrates where a custom aggregate is legitimate at
    100 TB: per-group order statistics the built-ins don't expose."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit GROUPED_AGG marker: type-hint inference can't resolve
    # string annotations when pandas is imported function-locally
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def median_cents(v):
        import numpy as np

        return float(np.median(v.to_numpy(dtype="int64")))

    # Spark disallows mixing a GROUPED_AGG pandas UDF with built-in
    # aggregates in one agg, so the count is a pandas UDAF too.
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def n_rows(v):
        return len(v)

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return ev.groupBy("event_type").agg(
        n_rows(F.col("cents")).alias("n"),
        median_cents(F.col("cents")).alias("median_cents"),
    )


register(
    "q_pandas_udaf",
    q_pandas_udaf,
    """
    SELECT event_type, count(*) AS n,
           quantile_cont(CAST(round(value * 100) AS BIGINT), 0.5)
               AS median_cents
    FROM events GROUP BY event_type
    """,
)


def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit — the classic fabricated-numbers
    detector a data-quality pass runs over monetary columns: exact
    per-digit counts of the leading digit of positive integer cents,
    Benford expectation p_d = log10(1 + 1/d), and the per-digit
    chi-square contribution (obs − n·p_d)²/(n·p_d). Counts are exact
    BIGINTs (hash-stable); expectations are identical closed-form
    doubles in both engines. One hash agg + dimension-sized math."""
    ev = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("bigint").alias("cents")
    ).filter(F.col("cents") > 0)
    digit = F.substring(F.col("cents").cast("string"), 1, 1).cast("int")
    per = ev.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("obs")
    )
    n = F.sum("obs").over(Window.partitionBy())
    p = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    exp = n.cast("double") * p
    return per.select(
        "digit",
        "obs",
        F.round(exp, 4).alias("expected"),
        F.round((F.col("obs").cast("double") - exp) ** 2 / exp, 4).alias(
            "chi2_term"
        ),
    )


register(
    "q_benford",
    q_benford,
    """
    WITH per AS (
        SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INTEGER) AS digit,
               count(*) AS obs
        FROM (SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        WHERE cents > 0
        GROUP BY 1
    )
    SELECT digit, obs,
           round(CAST(sum(obs) OVER () AS DOUBLE)
                 * log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 4) AS expected,
           round((CAST(obs AS DOUBLE)
                  - CAST(sum(obs) OVER () AS DOUBLE)
                    * log10(1.0 + 1.0 / CAST(digit AS DOUBLE))) ** 2
                 / (CAST(sum(obs) OVER () AS DOUBLE)
                    * log10(1.0 + 1.0 / CAST(digit AS DOUBLE))), 4)
               AS chi2_term
    FROM per
    """,
)


def q_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz-curve deciles of per-user spend — the concentration
    readout behind q_gini (which decile of users carries which share
    of revenue): users ranked by exact integer spend, bucketed into
    10 ntiles, per-decile exact sums and the cumulative share. The
    decile assignment is the distributed two-phase rank
    (operators/rank.py) + the closed-form NTILE bucket from (i, n) —
    no global ntile window, so the per-user frame scales out; only the
    10-row decile aggregate takes an ordered window."""
    from etl_neptune_spark.operators.rank import ntile_from_rank, prefix_sums

    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents")
    )
    ranked = prefix_sums(
        per,
        [F.asc("cents"), F.asc("user_id")],
        row_number="_i",
        totals={"_n": "_i"},
    )
    dec = ranked.select(
        "user_id",
        "cents",
        ntile_from_rank(F.col("_i"), F.col("_n"), 10)
        .cast("int")
        .alias("decile"),
    )
    agg = dec.groupBy("decile").agg(
        F.count("*").alias("n_users"), F.sum("cents").alias("decile_cents")
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy()
    return agg.select(
        "decile",
        "n_users",
        "decile_cents",
        F.sum("decile_cents").over(wc).alias("cum_cents"),
        F.round(
            F.sum("decile_cents").over(wc).cast("double")
            / F.sum("decile_cents").over(wt).cast("double"),
            4,
        ).alias("cum_share"),
    )


register(
    "q_lorenz",
    q_lorenz,
    """
    WITH per AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY user_id
    ),
    dec AS (
        SELECT user_id, cents,
               ntile(10) OVER (ORDER BY cents, user_id) AS decile
        FROM per
    ),
    agg AS (
        SELECT decile, count(*) AS n_users,
               CAST(sum(cents) AS BIGINT) AS decile_cents
        FROM dec GROUP BY decile
    )
    SELECT CAST(decile AS INTEGER) AS decile, n_users, decile_cents,
           CAST(sum(decile_cents) OVER (ORDER BY decile
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
           round(CAST(sum(decile_cents) OVER (ORDER BY decile
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / CAST(sum(decile_cents) OVER () AS DOUBLE), 4) AS cum_share
    FROM agg
    """,
)


def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral burstiness per user (Goh & Barabási 2008-style
    CV-based signature): over the inter-event gaps in exact integer
    seconds, the (n, Σg, Σg²) sufficient statistics and the
    burstiness proxy B = (n·Σg² − (Σg)²) / (n·Σg² + (Σg)²) ∈ [−1, 1)
    — 0 for a Poisson-like stream, →1 for heavy bursts — computed
    from EXACT BIGINTs with one closed-form double at the end. One
    lag window + one keyed agg; users with < 2 events have no gap and
    are absent."""
    # whole seconds via FLOOR division of exact epoch-micros: direct
    # second extraction rounds vs floors differently across engines on
    # sub-second timestamps, and micros-squared overflows BIGINT
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 1000000").alias("s"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    gaps = (
        ev.select("user_id", (F.col("s") - F.lag("s").over(w)).alias("g"))
        .filter(F.col("g").isNotNull())
    )
    agg = gaps.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("g").alias("sg"),
        F.sum(F.col("g") * F.col("g")).alias("sgg"),
    )
    num = F.col("n") * F.col("sgg") - F.col("sg") * F.col("sg")
    den = F.col("n") * F.col("sgg") + F.col("sg") * F.col("sg")
    return agg.select(
        "user_id",
        "n",
        "sg",
        "sgg",
        F.when(den != 0, F.round(num.cast("double") / den.cast("double"), 4))
        .alias("burstiness"),
    )


register(
    "q_burstiness",
    q_burstiness,
    """
    WITH ev AS (
        SELECT user_id, epoch_us(ts) // 1000000 AS s, event_id FROM events
    ),
    gaps AS (
        SELECT user_id,
               s - lag(s) OVER (PARTITION BY user_id
                                ORDER BY s, event_id) AS g
        FROM ev
    ),
    agg AS (
        SELECT user_id, count(*) AS n,
               CAST(sum(g) AS BIGINT) AS sg,
               CAST(sum(g * g) AS BIGINT) AS sgg
        FROM gaps WHERE g IS NOT NULL GROUP BY user_id
    )
    SELECT user_id, n, sg, sgg,
           CASE WHEN n * sgg + sg * sg != 0
                THEN round(CAST(n * sgg - sg * sg AS DOUBLE)
                           / CAST(n * sgg + sg * sg AS DOUBLE), 4)
           END AS burstiness
    FROM agg
    """,
)


def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and day-of-week — the
    feature-relevance screen (is behavior day-dependent?): per cell,
    exact joint/marginal counts and the pointwise MI contribution
    p(t,d)·ln(p(t,d)·n / (n_t·n_d)), 6 dp. The cell universe is
    |types|×7 — three hash aggs and broadcast joins of
    dimension-sized frames; every input to the one float expression
    is an exact BIGINT."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", ((F.dayofweek("ts") + 5) % 7 + 1).alias("dow")
    )
    joint = ev.groupBy("event_type", "dow").agg(F.count("*").alias("n_td"))
    mt = ev.groupBy("event_type").agg(F.count("*").alias("n_t"))
    md = ev.groupBy("dow").agg(F.count("*").alias("n_d"))
    n = ev.count()
    ratio = (
        F.col("n_td").cast("double")
        * F.lit(float(n))
        / (F.col("n_t").cast("double") * F.col("n_d").cast("double"))
    )
    return (
        joint.join(F.broadcast(mt), "event_type")
        .join(F.broadcast(md), "dow")
        .select(
            "event_type",
            "dow",
            "n_td",
            "n_t",
            "n_d",
            F.round(
                (F.col("n_td").cast("double") / F.lit(float(n))) * F.log(ratio),
                6,
            ).alias("mi_term"),
        )
    )


register(
    "q_mutual_info",
    q_mutual_info,
    """
    WITH ev AS (
        SELECT event_type, isodow(ts) AS dow FROM events
    ),
    joint AS (
        SELECT event_type, dow, count(*) AS n_td
        FROM ev GROUP BY event_type, dow
    ),
    mt AS (SELECT event_type, count(*) AS n_t FROM ev GROUP BY event_type),
    md AS (SELECT dow, count(*) AS n_d FROM ev GROUP BY dow),
    n AS (SELECT count(*) AS n FROM ev)
    SELECT joint.event_type, CAST(joint.dow AS BIGINT) AS dow,
           joint.n_td, mt.n_t, md.n_d,
           round((CAST(n_td AS DOUBLE) / CAST(n.n AS DOUBLE))
                 * ln(CAST(n_td AS DOUBLE) * CAST(n.n AS DOUBLE)
                      / (CAST(n_t AS DOUBLE) * CAST(n_d AS DOUBLE))), 6)
               AS mi_term
    FROM joint JOIN mt USING (event_type) JOIN md USING (dow) CROSS JOIN n
    """,
)


def q_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index between the md5 train/val splits —
    the drift monitor ML-ops runs between a reference and a serving
    window: exact integer counts per value-cents band per split, and
    the per-band PSI term (p_t − p_v)·ln(p_t/p_v). Bands are fixed
    1000-cent buckets (data-independent, so band boundaries never
    drift with the sample); the certificate is exact counts + one
    closed-form float per band."""
    ev = load_table(spark, sf_dir, "events").select(
        F.when(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 1) < "8",
            "train",
        )
        .otherwise("val")
        .alias("split"),
        (F.round(F.col("value") * 100).cast("bigint") / F.lit(1000))
        .cast("bigint")
        .alias("band"),
    )
    per = ev.groupBy("band").agg(
        F.count_if(F.col("split") == "train").alias("n_t"),
        F.count_if(F.col("split") == "val").alias("n_v"),
    )
    tot = per.agg(F.sum("n_t").alias("tt"), F.sum("n_v").alias("tv")).first()
    tt, tv = int(tot["tt"]), int(tot["tv"])
    p_t = F.col("n_t").cast("double") / F.lit(float(tt))
    p_v = F.col("n_v").cast("double") / F.lit(float(tv))
    return per.select(
        "band",
        "n_t",
        "n_v",
        F.when(
            (F.col("n_t") > 0) & (F.col("n_v") > 0),
            F.round((p_t - p_v) * F.log(p_t / p_v), 6),
        ).alias("psi_term"),
    )


register(
    "q_psi",
    q_psi,
    """
    WITH ev AS (
        SELECT CASE WHEN substring(md5(CAST(event_id AS VARCHAR)), 1, 1) < '8'
                    THEN 'train' ELSE 'val' END AS split,
               CAST(round(value * 100) AS BIGINT) // 1000 AS band
        FROM events
    ),
    per AS (
        SELECT band,
               CAST(count(*) FILTER (WHERE split = 'train') AS BIGINT) AS n_t,
               CAST(count(*) FILTER (WHERE split = 'val') AS BIGINT) AS n_v
        FROM ev GROUP BY band
    ),
    tot AS (SELECT sum(n_t) AS tt, sum(n_v) AS tv FROM per)
    SELECT CAST(band AS BIGINT) AS band, n_t, n_v,
           CASE WHEN n_t > 0 AND n_v > 0
                THEN round((CAST(n_t AS DOUBLE) / CAST(tt AS DOUBLE)
                            - CAST(n_v AS DOUBLE) / CAST(tv AS DOUBLE))
                           * ln((CAST(n_t AS DOUBLE) / CAST(tt AS DOUBLE))
                                / (CAST(n_v AS DOUBLE) / CAST(tv AS DOUBLE))),
                           6)
           END AS psi_term
    FROM per CROSS JOIN tot
    """,
)


def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between the purchase and
    view value distributions — EXACT: the ECDF difference is evaluated
    at every distinct value as the INTEGER |cum_a·n_b − cum_b·n_a|
    (cross-multiplied, no fractions), its max is an exact BIGINT, and
    D = max / (n_a·n_b) is one final division. The ECDF cumulative
    counts run through the DISTRIBUTED two-phase prefix sum
    (operators/rank.py) over the distinct-value frame — exact BIGINTs,
    no single-partition window even when the value grid grows with the
    data; ties handled exactly (cumulative counts are per distinct
    value, both samples advanced together)."""
    from etl_neptune_spark.operators.rank import prefix_sums

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("c")
    )
    per = (
        ev.filter(F.col("event_type").isin("purchase", "view"))
        .groupBy("c")
        .agg(
            F.count_if(F.col("event_type") == "purchase").alias("a"),
            F.count_if(F.col("event_type") == "view").alias("b"),
        )
    )
    cs = prefix_sums(
        per,
        [F.asc("c")],
        sums={"cum_a": F.col("a"), "cum_b": F.col("b")},
        totals={"n_a": "cum_a", "n_b": "cum_b"},
    )
    diffs = cs.select(
        F.abs(
            F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")
        ).alias("d_num"),
        "n_a",
        "n_b",
    )
    return diffs.agg(
        F.max("d_num").alias("d_num"),
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
    ).select(
        "n_a",
        "n_b",
        F.col("d_num").cast("bigint").alias("d_num"),
        F.round(
            F.col("d_num").cast("double")
            / (F.col("n_a") * F.col("n_b")).cast("double"),
            6,
        ).alias("ks_d"),
    )


register(
    "q_ks_test",
    q_ks_test,
    """
    WITH ev AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
        FROM events WHERE event_type IN ('purchase', 'view')
    ),
    per AS (
        SELECT c,
               count(*) FILTER (WHERE event_type = 'purchase') AS a,
               count(*) FILTER (WHERE event_type = 'view') AS b
        FROM ev GROUP BY c
    ),
    diffs AS (
        SELECT abs(sum(a) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)
                   * sum(b) OVER ()
                   - sum(b) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)
                     * sum(a) OVER ()) AS d_num,
               sum(a) OVER () AS n_a,
               sum(b) OVER () AS n_b
        FROM per
    )
    SELECT CAST(max(n_a) AS BIGINT) AS n_a,
           CAST(max(n_b) AS BIGINT) AS n_b,
           CAST(max(d_num) AS BIGINT) AS d_num,
           round(CAST(max(d_num) AS DOUBLE)
                 / CAST(max(n_a) * max(n_b) AS DOUBLE), 6) AS ks_d
    FROM diffs
    """,
)


def q_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group median by distributed rank selection — the
    exact-quantile answer that still works at 100 TB. Instead of
    sorting each group's rows (approx_percentile's exact sibling would
    single-task large groups), the rows collapse to one row per
    DISTINCT value first (hash agg, linear), then a per-group
    cumulative count over the distinct-value frame locates the
    bracketing ranks floor((n+1)/2) and floor((n+2)/2): odd n gives
    lo = hi = the median element, even n gives the two middle
    elements. The window is PARTITIONED by group and runs over value
    cardinality, not row count — the same collapse-then-window rule as
    q_acf / the rank rewrites (operators/rank.py).

    Complements q_approx_quantile (which certifies the approx sketch
    against an exact bracket); here the result itself is exact."""
    ev = load_table(spark, sf_dir, "events")
    cents = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    counts = cents.groupBy("event_type", "cents").agg(
        F.count("*").alias("cnt")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    cum = counts.select(
        "event_type",
        "cents",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    return cum.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.min(
            F.when(F.col("cum") >= F.expr("(n + 1) DIV 2"), F.col("cents"))
        ).alias("lo_cents"),
        F.min(
            F.when(F.col("cum") >= F.expr("(n + 2) DIV 2"), F.col("cents"))
        ).alias("hi_cents"),
    )


register(
    "q_exact_median",
    q_exact_median,
    """
    WITH c AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    agg AS (
        SELECT event_type, cents, count(*) AS cnt
        FROM c GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, cents,
               sum(cnt) OVER (PARTITION BY event_type ORDER BY cents
                              ROWS UNBOUNDED PRECEDING) AS cum,
               sum(cnt) OVER (PARTITION BY event_type) AS n
        FROM agg
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n,
           CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN cents END)
                AS BIGINT) AS lo_cents,
           CAST(min(CASE WHEN cum >= (n + 2) // 2 THEN cents END)
                AS BIGINT) AS hi_cents
    FROM cum GROUP BY event_type
    """,
)


def q_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group MODE (most frequent value) with a deterministic
    tie-break (smallest value wins): the categorical summary statistic
    profilers emit next to median/quantiles. Same scale shape as
    q_exact_median — collapse to one row per distinct value (linear
    hash agg), then a per-group window over value CARDINALITY picks
    the top row; no group is ever sorted at row scale."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    ).groupBy("event_type", "cents").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("event_type").orderBy(
        F.col("cnt").desc(), F.col("cents").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("cents").alias("mode_cents"),
            F.col("cnt").alias("n_occurrences"),
        )
    )


register(
    "q_mode",
    q_mode,
    """
    WITH c AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    agg AS (
        SELECT event_type, cents, count(*) AS cnt
        FROM c GROUP BY 1, 2
    ),
    ranked AS (
        SELECT event_type, cents, cnt,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY cnt DESC, cents ASC) AS rn
        FROM agg
    )
    SELECT event_type, cents AS mode_cents, cnt AS n_occurrences
    FROM ranked WHERE rn = 1
    """,
)


QUANTILE_PCTS = (25, 50, 75, 95)


def q_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group quantile band (p25/p50/p75/p95 lower-bracket
    values) by the same distributed rank selection as q_exact_median:
    one collapse to distinct values, one per-group cumulative count,
    then each percentile is the smallest value whose cumulative count
    reaches ceil(n·q/100) — pure integer arithmetic end to end, no
    row-scale sort, no approximation."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    ).groupBy("event_type", "cents").agg(F.count("*").alias("cnt"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = counts.select(
        "event_type",
        "cents",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("event_type")).alias("n"),
    )
    aggs = [F.max("n").alias("n")]
    for q in QUANTILE_PCTS:
        aggs.append(
            F.min(
                F.when(
                    F.col("cum") >= F.expr(f"(n * {q} + 99) DIV 100"),
                    F.col("cents"),
                )
            ).alias(f"p{q}")
        )
    return cum.groupBy("event_type").agg(*aggs)


register(
    "q_exact_quantiles",
    q_exact_quantiles,
    f"""
    WITH c AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    agg AS (
        SELECT event_type, cents, count(*) AS cnt FROM c GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, cents,
               sum(cnt) OVER (PARTITION BY event_type ORDER BY cents
                              ROWS UNBOUNDED PRECEDING) AS cum,
               sum(cnt) OVER (PARTITION BY event_type) AS n
        FROM agg
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n,
           {", ".join(
               f"CAST(min(CASE WHEN cum >= (n * {q} + 99) // 100 "
               f"THEN cents END) AS BIGINT) AS p{q}"
               for q in QUANTILE_PCTS
           )}
    FROM cum GROUP BY event_type
    """,
)


def q_sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL PIPE SYNTAX surface (`FROM … |> WHERE … |>
    AGGREGATE`): the linear query-flow dialect executed for real
    through ``spark.sql``, certified against the identical semantics
    in classic ANSI form on DuckDB. Pipe stages compile to the same
    logical plan as the classic text — this q-id pins that the engine
    accepts the new surface and that its result is bit-identical to
    the ANSI formulation."""
    from ..sources import register_views

    register_views(spark, sf_dir, "events")
    return spark.sql(
        """
        FROM events
        |> WHERE value >= 0
        |> EXTEND CAST(round(value * 100) AS BIGINT) AS cents
        |> AGGREGATE count(*) AS n,
                     sum(cents) AS cents,
                     count(DISTINCT user_id) AS n_users
           GROUP BY event_type
        |> WHERE n >= 10
        """
    )


register(
    "q_sql_pipe",
    q_sql_pipe,
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE value >= 0
    GROUP BY event_type
    HAVING count(*) >= 10
    """,
)


TYPE_BITS = (
    ("view", 1),
    ("click", 2),
    ("purchase", 4),
    ("signup", 8),
    ("error", 16),
)


def q_bitmask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-segment BITMASKS via bitwise aggregation: each event
    type owns one bit, ``bit_or`` folds a user's history into a single
    integer mask PER (user, week), and the segment readout counts
    user-weeks per exact type-combination (``bit_count`` decodes the
    combo size).
    The roaring-bitmap-style audience idiom in its integer-column form:
    two hash aggregates, masks stay 1 byte wide no matter how long the
    history — the segment table is users-deep, never events-deep."""
    ev = load_table(spark, sf_dir, "events")
    bit = F.lit(0)
    for name, b in TYPE_BITS:
        bit = F.when(F.col("event_type") == name, b).otherwise(bit)
    week = F.floor(F.unix_micros("ts") / F.lit(7 * 86_400_000_000))
    masks = (
        ev.select("user_id", week.alias("week"), bit.alias("bit"))
        .groupBy("user_id", "week")
        .agg(F.bit_or("bit").alias("mask"))
    )
    return masks.groupBy("mask").agg(
        F.bit_count(F.col("mask").cast("bigint")).alias("n_types"),
        F.count("*").alias("n_user_weeks"),
        F.countDistinct("user_id").alias("n_users"),
    )


register(
    "q_bitmask",
    q_bitmask,
    f"""
    WITH b AS (
        SELECT user_id,
               epoch_us(ts) // 604800000000 AS week,
               CASE event_type
                    {" ".join(f"WHEN '{n}' THEN {v}" for n, v in TYPE_BITS)}
                    ELSE 0 END AS bit
        FROM events
    ),
    masks AS (
        SELECT user_id, week, CAST(bit_or(bit) AS INTEGER) AS mask
        FROM b GROUP BY user_id, week
    )
    SELECT mask,
           CAST(bit_count(CAST(mask AS BIGINT)) AS INTEGER) AS n_types,
           count(*) AS n_user_weeks,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM masks
    GROUP BY mask
    """,
)


PCONT_PCTS = (50, 90)


def q_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT SQL-standard PERCENTILE_CONT (linear interpolation) by
    distributed rank selection — completing the order-statistics
    family (q_exact_median / q_exact_quantiles are the disc forms).
    The continuous rank r = (n−1)·q/100 splits into an integer part
    (two bracketing value lookups on the cumulative-count frame, ranks
    k and k+1) and a fractional part f/100 with f = (n−1)·q mod 100;
    the interpolated percentile ×100 is then the exact integer
    lo·(100−f) + hi·f — no float arithmetic anywhere, so the oracle
    matches to the digit rather than to a tolerance. Same scale shape
    as the siblings: windows over DISTINCT values only."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    ).groupBy("event_type", "cents").agg(F.count("*").alias("cnt"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = counts.select(
        "event_type",
        "cents",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("event_type")).alias("n"),
    )
    aggs = [F.max("n").alias("n")]
    for q in PCONT_PCTS:
        k1 = f"((n - 1) * {q} DIV 100) + 1"
        lo = F.min(
            F.when(F.col("cum") >= F.expr(k1), F.col("cents"))
        )
        hi = F.min(
            F.when(
                F.col("cum") >= F.expr(f"LEAST(({k1}) + 1, n)"),
                F.col("cents"),
            )
        )
        f100 = F.expr(f"(max(n) - 1) * {q} % 100")
        aggs.append(
            (lo * (F.lit(100) - f100) + hi * f100).alias(f"p{q}_x100")
        )
    return cum.groupBy("event_type").agg(*aggs)


register(
    "q_percentile_cont",
    q_percentile_cont,
    f"""
    WITH c AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    agg AS (
        SELECT event_type, cents, count(*) AS cnt FROM c GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, cents,
               sum(cnt) OVER (PARTITION BY event_type ORDER BY cents
                              ROWS UNBOUNDED PRECEDING) AS cum,
               sum(cnt) OVER (PARTITION BY event_type) AS n
        FROM agg
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n,
           {", ".join(
               f"CAST(min(CASE WHEN cum >= ((n - 1) * {q} // 100) + 1 "
               f"THEN cents END) * (100 - (max(n) - 1) * {q} % 100) "
               f"+ min(CASE WHEN cum >= least(((n - 1) * {q} // 100) + 2, n) "
               f"THEN cents END) * ((max(n) - 1) * {q} % 100) AS BIGINT) "
               f"AS p{q}_x100"
               for q in PCONT_PCTS
           )}
    FROM cum GROUP BY event_type
    """,
)


def q_auth_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15 — the reference's EKS bearer-token RENDER (etl_aws:1289–1293:
    ``'k8s-aws-v1.' + base64.urlsafe_b64encode(signed).rstrip('=')``)
    re-expressed declaratively: per cluster row, a deterministic
    presigned-URL-shaped payload (NO real signing — the signature slot
    carries an md5 of the name; what's certified is the render: UTF-8
    → base64 → urlsafe alphabet → padding strip → version prefix).
    Name lengths vary mod 3, so all three padding cases are exercised.
    One narrow projection over a dimension table — zero shuffles."""
    sup = load_table(spark, sf_dir, "supplier")
    payload = F.concat(
        F.lit("https://sts.amazonaws.com/?Action=GetCallerIdentity"
              "&X-Amz-Credential="),
        F.col("s_name"),
        F.lit("&X-Amz-SignedHeaders=x-k8s-aws-id&X-Amz-Signature="),
        F.md5(F.col("s_name").cast("binary")),
    )
    token = F.concat(
        F.lit("k8s-aws-v1."),
        F.regexp_replace(
            # Spark's base64 is MIME-chunked (76-char CRLF lines);
            # translate drops \r\n to match Python's unchunked encoder
            F.translate(F.base64(payload.cast("binary")), "+/\r\n", "-_"),
            "=+$",
            "",
        ),
    )
    return sup.select(
        F.col("s_suppkey").alias("suppkey"), token.alias("token")
    )


register(
    "q_auth_token",
    q_auth_token,
    """
    SELECT s_suppkey AS suppkey,
           'k8s-aws-v1.' || replace(replace(regexp_replace(
               to_base64(encode(
                   'https://sts.amazonaws.com/?Action=GetCallerIdentity'
                   || '&X-Amz-Credential=' || s_name
                   || '&X-Amz-SignedHeaders=x-k8s-aws-id&X-Amz-Signature='
                   || md5(s_name)
               )), '=+$', ''), '+', '-'), '/', '_') AS token
    FROM supplier
    """,
)
