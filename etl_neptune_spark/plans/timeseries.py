"""Certified queries for the time-series operators (as-of join,
bucketed range join, gap sessionization, session windows, deterministic
stratified sampling).

No reference counterpart (SURVEY §2.5/§2.8 note the reference has no
range/as-of joins and no session windows) — these are the standard
event-analytics operators the engine adds for flow/telemetry data, cast
here as purchase-attribution queries over the ``events`` fixture:
"which view led to this purchase" (as-of), "how many clicks in the hour
before purchase" (range), "user sessions at a 30-minute gap"
(sessionize / session_window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.timeseries import (
    asof_join,
    bucketed_range_join,
    ewma,
    scd2_compact,
    sessionize,
)
from ..sources import load_table
from .registry import register, scratch_dir

GAP_MIN = 30
SAMPLE_PER_STRATUM = 100


def _typed(spark: SparkSession, sf_dir: str, event_type: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == event_type)
        .select("event_id", "user_id", "ts", "value")
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each purchase picks the latest view by the
    same user at or before the purchase instant (left outer — purchases
    with no prior view keep nulls). The right side is pre-deduped to
    one row per (user, ts) so tie-breaking is engine-independent."""
    purchases = _typed(spark, sf_dir, "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("purchase_ts")
    )
    w = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    views = (
        _typed(spark, sf_dir, "view")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    joined = asof_join(
        purchases,
        views,
        on="user_id",
        left_ts="purchase_ts",
        right_ts="ts",
        payload=["event_id", "ts", "value"],
        right_order="event_id",
    )
    # The matched view's timestamp goes out as epoch millis: a nullable
    # LongType survives the driver's value hash uniformly across engines
    # (a null TIMESTAMP would compare NaT-vs-NaT).
    return joined.select(
        "purchase_id",
        "user_id",
        "purchase_ts",
        "r_event_id",
        # cast: no-op on TimestampType, exact NTZ reinterpretation under
        # the UTC session pin (unix_millis rejects NTZ input).
        F.unix_millis(F.col("r_ts").cast("timestamp")).alias("r_ts_ms"),
        "r_value",
    )


register(
    "q_asof_join",
    q_asof_join,
    """
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ),
    v AS (
        SELECT event_id, user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'view'
    ),
    v1 AS (SELECT event_id, user_id, ts, value FROM v WHERE rn = 1)
    SELECT p.purchase_id, p.user_id, p.purchase_ts,
           v1.event_id AS r_event_id, epoch_ms(v1.ts) AS r_ts_ms,
           v1.value AS r_value
    FROM p ASOF LEFT JOIN v1
      ON p.user_id = v1.user_id AND v1.ts <= p.purchase_ts
    """,
)


def _asof_frames(spark: SparkSession, sf_dir: str):
    purchases = _typed(spark, sf_dir, "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("purchase_ts")
    )
    w = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    views = (
        _typed(spark, sf_dir, "view")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return purchases, views


_ASOF_CTES = """
    p AS (
        SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ),
    v AS (
        SELECT event_id, user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'view'
    ),
    v1 AS (SELECT event_id, user_id, ts, value FROM v WHERE rn = 1)
"""


def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with tolerance: each purchase picks the
    EARLIEST view at or after the purchase instant, but only within one
    day — matches farther out are nulled (pandas merge_asof
    direction='forward', tolerance semantics)."""
    purchases, views = _asof_frames(spark, sf_dir)
    joined = asof_join(
        purchases,
        views,
        on="user_id",
        left_ts="purchase_ts",
        right_ts="ts",
        payload=["event_id", "ts", "value"],
        right_order="event_id",
        direction="forward",
        tolerance_sec=86_400,
    )
    return joined.select(
        "purchase_id",
        "user_id",
        "purchase_ts",
        "r_event_id",
        F.unix_millis(F.col("r_ts").cast("timestamp")).alias("r_ts_ms"),
        "r_value",
    )


register(
    "q_asof_forward",
    q_asof_forward,
    f"""
    WITH {_ASOF_CTES},
    j AS (
        SELECT p.purchase_id, p.user_id, p.purchase_ts,
               v1.event_id, v1.ts, v1.value,
               row_number() OVER (PARTITION BY p.purchase_id
                                  ORDER BY v1.ts ASC, v1.event_id DESC) AS rn
        FROM p LEFT JOIN v1
          ON v1.user_id = p.user_id AND v1.ts >= p.purchase_ts
         AND v1.ts <= p.purchase_ts + INTERVAL 1 DAY
    )
    SELECT purchase_id, user_id, purchase_ts,
           event_id AS r_event_id, epoch_ms(ts) AS r_ts_ms, value AS r_value
    FROM j WHERE rn = 1
    """,
)


def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join: each purchase picks the view closest in time
    on either side, ties breaking backward (pandas merge_asof
    direction='nearest')."""
    purchases, views = _asof_frames(spark, sf_dir)
    joined = asof_join(
        purchases,
        views,
        on="user_id",
        left_ts="purchase_ts",
        right_ts="ts",
        payload=["event_id", "ts", "value"],
        right_order="event_id",
        direction="nearest",
    )
    return joined.select(
        "purchase_id",
        "user_id",
        "purchase_ts",
        "r_event_id",
        F.unix_millis(F.col("r_ts").cast("timestamp")).alias("r_ts_ms"),
        "r_value",
    )


register(
    "q_asof_nearest",
    q_asof_nearest,
    f"""
    WITH {_ASOF_CTES},
    j AS (
        SELECT p.purchase_id, p.user_id, p.purchase_ts,
               v1.event_id, v1.ts, v1.value,
               row_number() OVER (
                   PARTITION BY p.purchase_id
                   ORDER BY abs(epoch_ms(v1.ts) - epoch_ms(p.purchase_ts)) ASC,
                            (v1.ts > p.purchase_ts) ASC,
                            v1.event_id DESC) AS rn
        FROM p LEFT JOIN v1 ON v1.user_id = p.user_id
    )
    SELECT purchase_id, user_id, purchase_ts,
           event_id AS r_event_id, epoch_ms(ts) AS r_ts_ms, value AS r_value
    FROM j WHERE rn = 1
    """,
)


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-interval range join: clicks in the hour strictly before
    each purchase, aggregated per purchase (zero-click purchases kept).
    Decimal-summed so the value hash is fold-order independent."""
    purchases = _typed(spark, sf_dir, "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = _typed(spark, sf_dir, "click").select("user_id", "ts", "value")
    pairs = bucketed_range_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts", window_sec=3600
    )
    agg = pairs.groupBy("purchase_id").agg(
        F.count("r_ts").alias("n_clicks"),
        F.sum(F.col("r_value").cast("decimal(28,2)")).alias("val"),
    )
    return purchases.join(agg, "purchase_id", "left").select(
        "purchase_id",
        F.coalesce("n_clicks", F.lit(0)).cast("long").alias("n_clicks"),
        F.coalesce(F.col("val").cast("double"), F.lit(0.0)).alias("click_value"),
    )


register(
    "q_range_join",
    q_range_join,
    """
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, ts
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
    SELECT p.purchase_id,
           count(c.ts) AS n_clicks,
           CAST(coalesce(sum(CAST(c.value AS DECIMAL(28,2))), 0) AS DOUBLE)
               AS click_value
    FROM p LEFT JOIN c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
    GROUP BY p.purchase_id
    """,
)


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization (30-min gap) per user: dense session ids,
    per-session event count, bounds, and millisecond duration."""
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    sess = sessionize(events, on="user_id", ts_col="ts", gap_sec=GAP_MIN * 60,
                      order_col="event_id")
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("end_ts"),
        (F.unix_millis(F.max("ts").cast("timestamp"))
         - F.unix_millis(F.min("ts").cast("timestamp"))).alias("duration_ms"),
    )


_SESSION_CTE = f"""
    flagged AS (
        SELECT user_id, ts, event_id,
               -- full-microsecond gap test: matches the engine's
               -- unix_micros compare and Spark session_window (an
               -- epoch_ms truncation diverges on gaps within 1 ms of
               -- the threshold — ADVICE r5)
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > {GAP_MIN * 60 * 1000000}
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        -- (ts, event_id) tie-break mirrors sessionize's deterministic
        -- ordering; ORDER BY ts alone leaves equal-ts rows unspecified.
        SELECT user_id, ts,
               CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS session_id
        FROM flagged
    )
"""

register(
    "q_sessionize",
    q_sessionize,
    f"""
    WITH {_SESSION_CTE}
    SELECT user_id, session_id, count(*) AS n_events,
           min(ts) AS start_ts, max(ts) AS end_ts,
           epoch_ms(max(ts)) - epoch_ms(min(ts)) AS duration_ms
    FROM sess GROUP BY user_id, session_id
    """,
)


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native ``session_window`` aggregation — same 30-min gap
    semantics as q_sessionize but with the half-open [min_ts, max_ts+gap)
    window bounds Structured Streaming uses for stateful sessions."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", F.session_window("ts", f"{GAP_MIN} minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


register(
    "q_session_window",
    q_session_window,
    f"""
    WITH {_SESSION_CTE}
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL {GAP_MIN} MINUTE AS session_end,
           count(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per event_type, the first
    {k} rows ordered by md5(event_id) — a seedless, engine-independent
    uniform draw (hash order is uncorrelated with any data order).

    Two-phase exact scale path: a hash-prefix pre-filter
    (``md5 < '1'`` — first hex digit 0, ~1/16 of rows) cuts the window
    sort's shuffle input 16×; a per-stratum count check routes any
    stratum with fewer than K surviving rows back to its FULL input
    (broadcast anti-join on the tiny strata list), so the output is
    identical to the unfiltered window for every input: a stratum with
    ≥ K rows under the prefix bound provably has its K smallest hashes
    under it."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    h = F.md5(F.col("event_id").cast("string"))
    pre = events.filter(h < "1")
    enough = (
        pre.groupBy("event_type")
        .agg(F.count("*").alias("n_pre"))
        .filter(F.col("n_pre") >= SAMPLE_PER_STRATUM)
        .select("event_type")
    )
    kept = pre.join(F.broadcast(enough), "event_type", "inner")
    fallback = events.join(F.broadcast(enough), "event_type", "left_anti")
    base = kept.unionByName(fallback)
    w = Window.partitionBy("event_type").orderBy(h, "event_id")
    return (
        base.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= SAMPLE_PER_STRATUM)
        .select("event_id", "event_type", "user_id", "rn")
    )


register(
    "q_sample_stratified",
    q_sample_stratified,
    f"""
    WITH ranked AS (
        SELECT event_id, event_type, user_id,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY md5(CAST(event_id AS VARCHAR)),
                                           event_id) AS rn
        FROM events
    )
    SELECT event_id, event_type, user_id, rn
    FROM ranked WHERE rn <= {SAMPLE_PER_STRATUM}
    """,
)


def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 change compaction: per user, collapse the event stream into
    event_type validity intervals (operators.timeseries.scd2_compact)."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    return scd2_compact(
        events, key="user_id", attr="event_type", ts_col="ts", order_col="event_id"
    )


register(
    "q_scd2",
    q_scd2,
    """
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER w AS prev,
               row_number() OVER w AS rn
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    segs AS (
        SELECT *, sum(CASE WHEN rn = 1 OR prev IS DISTINCT FROM event_type
                           THEN 1 ELSE 0 END)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS seg
        FROM ordered
    ),
    intervals AS (
        SELECT user_id, seg, event_type,
               min(ts) AS valid_from, count(*) AS n_events
        FROM segs GROUP BY user_id, seg, event_type
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
               AS valid_to,
           n_events,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
               IS NULL AS is_current
    FROM intervals
    """,
)


def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 5-event trailing moving average and running total of
    the event value — the rolling-metric window every telemetry
    dashboard computes. Decimal-summed so the value hash is fold-order
    independent; one shuffle on the user key, linear window scan."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dec = F.col("value").cast("decimal(28,2)")
    return events.select(
        "event_id",
        "user_id",
        F.round(
            (F.sum(dec).over(w) / F.count("*").over(w)).cast("double"), 4
        ).alias("mov_avg_5"),
        F.sum(dec).over(run).cast("double").alias("running_total"),
    )


register(
    "q_moving_avg",
    q_moving_avg,
    """
    SELECT event_id, user_id,
           round(CAST(sum(CAST(value AS DECIMAL(28,2)))
                          OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
                      AS DOUBLE)
                 / count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
                 4) AS mov_avg_5,
           CAST(sum(CAST(value AS DECIMAL(28,2)))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               AS running_total
    FROM events
    """,
)


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel (view → click → purchase): per user, the
    first view, the first click AT OR AFTER that view, and the first
    purchase AT OR AFTER that click; output is the per-step distinct
    user count — the conversion funnel every event-analytics store
    computes. Three keyed aggregates chained by broadcast-size joins on
    the user key; no step ever re-scans more than its own event type."""
    events = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    steps = (
        v.agg(F.lit(1).alias("step"), F.lit("view").alias("event_type"),
              F.count("*").cast("long").alias("users"))
        .unionByName(
            c.agg(F.lit(2).alias("step"), F.lit("click").alias("event_type"),
                  F.count("*").cast("long").alias("users")))
        .unionByName(
            p.agg(F.lit(3).alias("step"), F.lit("purchase").alias("event_type"),
                  F.count("*").cast("long").alias("users")))
    )
    return steps


register(
    "q_funnel",
    q_funnel,
    """
    WITH v AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts >= v.t1
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= c.t2
        GROUP BY e.user_id
    )
    SELECT 1 AS step, 'view' AS event_type, count(*) AS users FROM v
    UNION ALL
    SELECT 2, 'click', count(*) FROM c
    UNION ALL
    SELECT 3, 'purchase', count(*) FROM p
    """,
)


def q_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by the week of their
    first event; for each (cohort week, whole-week offset) the distinct
    users active in that week — the retention triangle. Two keyed
    aggregates and one join on the user key."""
    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    return (
        events.join(first, "user_id")
        .withColumn(
            "week_offset",
            F.floor(
                (F.unix_millis(F.date_trunc("week", F.col("ts")).cast("timestamp"))
                 - F.unix_millis(F.col("cohort_week").cast("timestamp")))
                / F.lit(604_800_000)
            ).cast("long"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


register(
    "q_cohort",
    q_cohort,
    """
    WITH first AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        FROM events GROUP BY user_id
    )
    SELECT f.cohort_week,
           CAST(floor((epoch_ms(date_trunc('week', e.ts))
                       - epoch_ms(f.cohort_week)) / 604800000.0) AS BIGINT)
               AS week_offset,
           count(DISTINCT e.user_id) AS active_users
    FROM events e JOIN first f USING (user_id)
    GROUP BY 1, 2
    """,
)


def q_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup: for each purchase, the SCD-2
    state interval (built by scd2_compact from the same stream) that is
    ACTIVE one hour after the purchase — the warehouse 'dimension AS OF
    fact time' join. Because SCD-2 intervals tile each key's timeline
    (valid_to = next valid_from), the covering interval is exactly the
    backward as-of match on valid_from, so the lookup rides the same
    single-shuffle union-window plan as every as-of join — no range
    join, no interval explosion."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    intervals = scd2_compact(
        events, key="user_id", attr="event_type", ts_col="ts", order_col="event_id"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("at_ts"),
    )
    out = asof_join(
        purchases,
        intervals,
        on="user_id",
        left_ts="at_ts",
        right_ts="valid_from",
        payload=["event_type", "valid_from", "n_events"],
        right_order="valid_from",
    )
    return out.select(
        "purchase_id",
        "user_id",
        F.unix_millis(F.col("at_ts").cast("timestamp")).alias("at_ts_ms"),
        F.col("r_event_type").alias("state"),
        F.unix_millis(F.col("r_valid_from").cast("timestamp")).alias("state_since_ms"),
        F.col("r_n_events").alias("state_events"),
    )


register(
    "q_scd2_lookup",
    q_scd2_lookup,
    """
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER w AS prev,
               row_number() OVER w AS rn
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    segs AS (
        SELECT *, sum(CASE WHEN rn = 1 OR prev IS DISTINCT FROM event_type
                           THEN 1 ELSE 0 END)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS seg
        FROM ordered
    ),
    intervals AS (
        SELECT user_id, seg, event_type,
               min(ts) AS valid_from, count(*) AS n_events
        FROM segs GROUP BY user_id, seg, event_type
    ),
    p AS (
        SELECT event_id AS purchase_id, user_id, ts + INTERVAL 1 HOUR AS at_ts
        FROM events WHERE event_type = 'purchase'
    )
    SELECT p.purchase_id, p.user_id, epoch_ms(p.at_ts) AS at_ts_ms,
           i.event_type AS state, epoch_ms(i.valid_from) AS state_since_ms,
           i.n_events AS state_events
    FROM p ASOF LEFT JOIN intervals i
      ON p.user_id = i.user_id AND i.valid_from <= p.at_ts
    """,
)


GAPFILL_MOD = 97


def q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucket gap filling with forward fill (the hypertable
    ``locf`` rollup): hourly sums per key, a generated per-key hour
    spine between that key's first and last observation, and
    last-observation-carried-forward across the gaps.

    Plan: one keyed hash agg (key, hour) → per-key span agg →
    ``sequence``-exploded spine (rows = span hours, data-independent) →
    left join of observations onto the spine → one window per key for
    the ignore-nulls forward fill. Two shuffles on the same key; the
    spine explosion is metadata-sized next to the event scan. Sums ride
    DECIMAL so fill values are fold-order exact."""
    events = load_table(spark, sf_dir, "events")
    hourly = (
        events.select(
            (F.col("user_id") % GAPFILL_MOD).cast("bigint").alias("k"),
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("value").cast("decimal(28,2)").alias("v"),
        )
        .groupBy("k", "hour")
        .agg(F.sum("v").cast("double").alias("obs"))
    )
    spine = (
        hourly.groupBy("k")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "k",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    w = (
        Window.partitionBy("k")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return spine.join(hourly, ["k", "hour"], "left").select(
        "k",
        "hour",
        "obs",
        F.last("obs", ignorenulls=True).over(w).alias("filled"),
        F.col("obs").isNull().alias("is_gap"),
    )


register(
    "q_gapfill",
    q_gapfill,
    f"""
    WITH hourly AS (
        SELECT CAST(user_id % {GAPFILL_MOD} AS BIGINT) AS k,
               date_trunc('hour', ts) AS hour,
               CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS obs
        FROM events
        GROUP BY 1, 2
    ),
    spans AS (SELECT k, min(hour) AS h0, max(hour) AS h1 FROM hourly GROUP BY k),
    spine AS (
        SELECT k, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        FROM spans
    )
    SELECT s.k, s.hour, h.obs,
           last_value(h.obs IGNORE NULLS) OVER (
               PARTITION BY s.k ORDER BY s.hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
           h.obs IS NULL AS is_gap
    FROM spine s LEFT JOIN hourly h ON h.k = s.k AND h.hour = s.hour
    """,
)


ANOM_WIN = 20  # trailing window size (rows)
ANOM_MIN_N = 10  # flag only once the window has enough history
# z² threshold 2.5² = 6.25 as the exact rational 625/100.
ANOM_T2_NUM, ANOM_T2_DEN = 625, 100


def q_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window z-score anomaly flags, EXACT integer arithmetic:
    within each (event_type, day), over the ``ANOM_WIN`` trailing
    events, flag values with |z| > 2.5 — evaluated as
    ``den·(n·v − Σv)²·(n−1) > num·n·(n·Σv² − (Σv)²)`` on integer cents,
    so the flag is bit-identical across engines and fold orders (no
    float variance anywhere). Window partitions are (type, day)-bounded
    — state never exceeds a day of one type, the same keying a
    streaming deployment would use."""
    events = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    base = events.select(
        F.col("event_type"),
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.col("event_id"),
        F.col("ts"),
        cents.alias("vc"),
    )
    w = (
        Window.partitionBy("event_type", "day")
        .orderBy("ts", "event_id")
        .rowsBetween(-(ANOM_WIN - 1), Window.currentRow)
    )
    n = F.count("*").over(w)
    s = F.sum("vc").over(w)
    s2 = F.sum(F.col("vc") * F.col("vc")).over(w)
    diff = n * F.col("vc") - s
    lhs = F.lit(ANOM_T2_DEN) * diff * diff * (n - 1)
    rhs = F.lit(ANOM_T2_NUM) * n * (n * s2 - s * s)
    return base.select(
        "event_type",
        "day",
        "event_id",
        "vc",
        n.alias("win_n"),
        ((n >= ANOM_MIN_N) & (lhs > rhs)).alias("is_anomaly"),
    )


register(
    "q_anomaly",
    q_anomaly,
    f"""
    WITH base AS (
        SELECT event_type, date_trunc('day', ts) AS day, event_id, ts,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        FROM events
    ),
    win AS (
        SELECT event_type, day, event_id, vc,
               count(*) OVER w AS n,
               sum(vc) OVER w AS s,
               sum(vc * vc) OVER w AS s2
        FROM base
        WINDOW w AS (PARTITION BY event_type, day ORDER BY ts, event_id
                     ROWS BETWEEN {ANOM_WIN - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day, event_id, vc, n AS win_n,
           n >= {ANOM_MIN_N} AND
           {ANOM_T2_DEN} * (n * vc - s) * (n * vc - s) * (n - 1)
               > {ANOM_T2_NUM} * n * (n * s2 - s * s) AS is_anomaly
    FROM win
    """,
)


STREAK_MOD = 500


def q_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: longest run of consecutive ACTIVE HOURS per
    user bucket. The classic constant-difference trick — distinct
    (key, hour-index) rows get ``hour_idx − row_number()`` as a
    per-streak constant — needs one distinct shuffle and one keyed
    window; all integers, trivially deterministic."""
    events = load_table(spark, sf_dir, "events")
    active = (
        events.select(
            (F.col("user_id") % STREAK_MOD).cast("bigint").alias("k"),
            F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h"),
        )
        .distinct()
    )
    w = Window.partitionBy("k").orderBy("h")
    grp = (F.col("h") - F.row_number().over(w)).alias("grp")
    return (
        active.select("k", "h", grp)
        .groupBy("k", "grp")
        .agg(F.count("*").alias("run"))
        .groupBy("k")
        .agg(
            F.max("run").alias("longest_streak"),
            F.sum("run").alias("n_active_hours"),
        )
    )


register(
    "q_streaks",
    q_streaks,
    f"""
    WITH active AS (
        SELECT DISTINCT CAST(user_id % {STREAK_MOD} AS BIGINT) AS k,
               CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h
        FROM events
    ),
    grp AS (
        SELECT k, h,
               h - row_number() OVER (PARTITION BY k ORDER BY h) AS grp
        FROM active
    ),
    runs AS (SELECT k, grp, count(*) AS run FROM grp GROUP BY k, grp)
    SELECT k, max(run) AS longest_streak,
           CAST(sum(run) AS BIGINT) AS n_active_hours
    FROM runs GROUP BY k
    """,
)


def q_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts: per user-ordered event stream, count
    (event_type → next event_type) transitions and each source type's
    exact integer per-mille share. One keyed window (lead) + one hash
    agg; shares use integer division, so no floats cross engines."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    wt = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.expr("n * 1000").cast("bigint").alias("__num"),
        F.sum("n").over(wt).alias("__den"),
    ).select(
        "from_type",
        "to_type",
        "n",
        F.expr("__num div __den").alias("per_mille"),
    )


register(
    "q_transitions",
    q_transitions,
    """
    WITH pairs AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_type
        FROM events
    ),
    counts AS (
        SELECT from_type, to_type, count(*) AS n
        FROM pairs WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           CAST((n * 1000) // sum(n) OVER (PARTITION BY from_type) AS BIGINT)
               AS per_mille
    FROM counts
    """,
)


RFM_BUCKETS = 4


def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per user, recency (days since last purchase
    vs corpus max ts), frequency (purchase count), monetary (exact
    decimal spend), each ntile'd into quartiles — the classic
    customer-scoring rollup. One keyed agg + three DISTRIBUTED
    two-phase ranks (operators/rank.py: range-partitioned local row
    number + broadcast offset table) with the closed-form NTILE bucket
    from (i, n) — no global ntile window, so the user frame scales out
    to 10⁹ users instead of serializing through one task."""
    from etl_neptune_spark.operators.rank import ntile_from_rank, prefix_sums

    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase")
    per_user = purchases.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count("*").alias("frequency"),
        F.sum(F.col("value").cast("decimal(28,2)")).alias("monetary_dec"),
    )
    anchor = purchases.agg(F.max("ts")).first()[0]
    if anchor is None:  # no purchases: empty rollup flows through
        import datetime as _dt

        anchor = _dt.datetime(1970, 1, 1)
    recency_days = F.datediff(F.lit(anchor), F.col("last_ts"))
    base = per_user.select(
        "user_id",
        recency_days.alias("recency_days"),
        "frequency",
        F.col("monetary_dec").cast("double").alias("monetary"),
    )
    b1 = prefix_sums(
        base,
        [F.asc("recency_days"), F.asc("user_id")],
        row_number="_ri",
        totals={"_n": "_ri"},
    )
    b1 = b1.withColumn(
        "r_score",
        ntile_from_rank(F.col("_ri"), F.col("_n"), RFM_BUCKETS).cast("int"),
    )
    b2 = prefix_sums(
        b1.select(*base.columns, "_n", "r_score"),
        [F.desc("frequency"), F.asc("user_id")],
        row_number="_fi",
    )
    b2 = b2.withColumn(
        "f_score",
        ntile_from_rank(F.col("_fi"), F.col("_n"), RFM_BUCKETS).cast("int"),
    )
    b3 = prefix_sums(
        b2.select(*base.columns, "_n", "r_score", "f_score"),
        [F.desc("monetary"), F.asc("user_id")],
        row_number="_mi",
    )
    return b3.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        ntile_from_rank(F.col("_mi"), F.col("_n"), RFM_BUCKETS)
        .cast("int")
        .alias("m_score"),
    )


register(
    "q_rfm",
    q_rfm,
    f"""
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    per_user AS (
        SELECT user_id, max(ts) AS last_ts, count(*) AS frequency,
               CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS monetary
        FROM p GROUP BY user_id
    ),
    anchor AS (SELECT max(ts) AS mx FROM p)
    SELECT user_id,
           date_diff('day', CAST(last_ts AS DATE), CAST(mx AS DATE))
               AS recency_days,
           frequency, monetary,
           ntile({RFM_BUCKETS}) OVER (ORDER BY date_diff('day',
               CAST(last_ts AS DATE), CAST(mx AS DATE)) ASC, user_id ASC)
               AS r_score,
           ntile({RFM_BUCKETS}) OVER (ORDER BY frequency DESC, user_id ASC)
               AS f_score,
           ntile({RFM_BUCKETS}) OVER (ORDER BY monetary DESC, user_id ASC)
               AS m_score
    FROM per_user, anchor
    """,
)


DAU_WINDOW = 7


def q_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling engagement: per day, distinct active users that day
    (DAU), in the trailing 7 days (WAU), and the DAU/WAU stickiness as
    exact integer per-mille.

    Distinct-count-over-window doesn't exist as a window function, and
    a day-spine × events range join re-scans events per day. The scale
    shape used here: reduce to DISTINCT (user, day) first (one keyed
    shuffle, corpus → activity-matrix reduction), then replicate each
    activity row to the ≤ 7 window days it can serve (bounded fan-out =
    window/slide, independent of data size), then one hash agg counting
    distinct users per window day. Trailing windows at the span's start
    are naturally partial (fewer than 7 contributing days) — the exact
    semantic a dashboard wants."""
    events = load_table(spark, sf_dir, "events")
    activity = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    serves = activity.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.date_add(F.col("day"), DAU_WINDOW - 1),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("win_day"),
        F.col("day"),
    )
    # only window days that exist in the data span
    span = activity.select(F.col("day").alias("win_day")).distinct()
    wau = (
        serves.join(span, "win_day")
        .groupBy("win_day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    dau = activity.groupBy(F.col("day").alias("win_day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    return (
        dau.join(wau, "win_day")
        .select(
            F.col("win_day").alias("day"),
            "dau",
            "wau",
            F.expr("dau * 1000 div wau").alias("stickiness_pm"),
        )
    )


register(
    "q_rolling_dau",
    q_rolling_dau,
    f"""
    WITH activity AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    span AS (SELECT DISTINCT day AS win_day FROM activity),
    serves AS (
        SELECT a.user_id,
               a.day + t.range * INTERVAL 1 DAY AS win_day
        FROM activity a, range(0, {DAU_WINDOW}) t
    ),
    wau AS (
        SELECT CAST(s.win_day AS DATE) AS win_day,
               count(DISTINCT s.user_id) AS wau
        FROM serves s JOIN span ON CAST(s.win_day AS DATE) = span.win_day
        GROUP BY 1
    ),
    dau AS (
        SELECT day AS win_day, count(DISTINCT user_id) AS dau
        FROM activity GROUP BY day
    )
    SELECT d.win_day AS day, d.dau, w.wau,
           (d.dau * 1000) // w.wau AS stickiness_pm
    FROM dau d JOIN wau w ON d.win_day = w.win_day
    """,
)


EWMA_ALPHA = 0.5


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values (α = 0.5, seeded at the first
    observation) — the sequential-recurrence operator
    (operators.timeseries.ewma): one keyed streaming ``mapInArrow`` scan,
    certified bit-exact against a recursive-CTE oracle that evaluates
    the identical IEEE double sequence."""
    return ewma(
        load_table(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
        val_col="value",
        id_col="event_id",
        alpha=EWMA_ALPHA,
    )


register(
    "q_ewma",
    q_ewma,
    """
    WITH RECURSIVE o AS (
        SELECT user_id, event_id, ts, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    r AS (
        SELECT user_id, event_id, value, rn, value AS ewma
        FROM o WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.event_id, o.value, o.rn,
               0.5 * o.value + 0.5 * r.ewma
        FROM o JOIN r ON o.user_id = r.user_id AND o.rn = r.rn + 1
    )
    SELECT user_id, event_id, value, ewma FROM r
    """,
)


def q_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC downsampling per user: open/close by deterministic
    (ts, event_id) order, exact min/max/count — the classic telemetry
    resample. Both row_number windows share the (user, bar) partition,
    so the whole query is ONE keyed shuffle, two sorts, one hash agg."""
    base = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("hour", F.col("ts")).alias("bar"),
        "ts",
        "event_id",
        "value",
    )
    wa = Window.partitionBy("user_id", "bar").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id", "bar").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        base.withColumn("ra", F.row_number().over(wa))
        .withColumn("rd", F.row_number().over(wd))
        .groupBy("user_id", "bar")
        .agg(
            F.max(F.when(F.col("ra") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rd") == 1, F.col("value"))).alias("close"),
            F.count("*").alias("n_events"),
        )
    )


register(
    "q_ohlc",
    q_ohlc,
    """
    WITH b AS (
        SELECT user_id, date_trunc('hour', ts) AS bar, ts, event_id, value
        FROM events
    ),
    r AS (
        SELECT *,
               row_number() OVER (PARTITION BY user_id, bar
                                  ORDER BY ts, event_id) AS ra,
               row_number() OVER (PARTITION BY user_id, bar
                                  ORDER BY ts DESC, event_id DESC) AS rd
        FROM b
    )
    SELECT user_id, bar,
           max(CASE WHEN ra = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rd = 1 THEN value END) AS close,
           count(*) AS n_events
    FROM r GROUP BY user_id, bar
    """,
)


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two snapshot versions of the orders table
    (operators.cdc.snapshot_diff): v_new is a deterministic mutation of
    v_old — every 13th key deleted, every 7th surviving key repriced,
    every 11th key re-inserted under a new id — and the diff emits the
    insert/update/delete changelog that turns v_old into v_new. One
    full-outer join on the key; the feed an incremental consumer
    (IVM, SCD-2, index) applies instead of re-reading the snapshot."""
    from ..operators.cdc import snapshot_diff

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    deleted = F.col("o_orderkey") % 13 == 0
    repriced = F.col("o_orderkey") % 7 == 0
    cloned = F.col("o_orderkey") % 11 == 0
    survivors = orders.filter(~deleted).withColumn(
        "o_totalprice",
        F.when(repriced, F.round(F.col("o_totalprice") + 1.5, 2)).otherwise(
            F.col("o_totalprice")
        ),
    )
    # negated clone keys: collision-free at any SF (see q_cdc_apply)
    inserts = orders.filter(cloned).withColumn(
        "o_orderkey", -F.col("o_orderkey") - 1
    )
    v_new = survivors.unionByName(inserts)
    return snapshot_diff(orders, v_new, keys=["o_orderkey"])


register(
    "q_snapshot_diff",
    q_snapshot_diff,
    """
    WITH v_new AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 7 = 0
                    THEN round(o_totalprice + 1.5, 2)
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 13 != 0
        UNION ALL
        SELECT -o_orderkey - 1, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 11 = 0
    ),
    o AS (SELECT o_orderkey, o_orderstatus AS old_o_orderstatus,
                 o_totalprice AS old_o_totalprice, TRUE AS op FROM orders),
    n AS (SELECT o_orderkey, o_orderstatus AS new_o_orderstatus,
                 o_totalprice AS new_o_totalprice, TRUE AS np FROM v_new)
    SELECT o_orderkey,
           CASE WHEN op IS NULL THEN 'insert'
                WHEN np IS NULL THEN 'delete'
                ELSE 'update' END AS change,
           old_o_orderstatus, old_o_totalprice,
           new_o_orderstatus, new_o_totalprice
    FROM o FULL OUTER JOIN n USING (o_orderkey)
    WHERE op IS NULL OR np IS NULL
       OR NOT (old_o_orderstatus IS NOT DISTINCT FROM new_o_orderstatus
               AND old_o_totalprice IS NOT DISTINCT FROM new_o_totalprice)
    """,
)


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC consumer side (operators.cdc.apply_changelog), certified as a
    ROUND TRIP through the gate: the q_snapshot_diff changelog (same
    deterministic v_old→v_new mutation of orders) is applied back onto
    v_old, and the oracle recomputes v_new directly — so the driver's
    exact-hash compare certifies ``apply(v_old, diff(v_old, v_new)) ==
    v_new`` on real data, not just in unit tests (tests/test_cdc.py
    property-tests the same identity on generated frames).

    Scale shape: diff is one full-outer sort-merge join on the key;
    apply is one anti-join + union, both keyed by o_orderkey — on a
    bucketed snapshot layout the apply is shuffle-free and costs
    O(|changelog|), never a snapshot rewrite (reference analogue: the
    incremental upsert feed of neptune_etl_aws.py's mergeV pipeline,
    which never re-reads unchanged vertices)."""
    from ..operators.cdc import apply_changelog, snapshot_diff

    v_old = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    deleted = F.col("o_orderkey") % 13 == 0
    repriced = F.col("o_orderkey") % 7 == 0
    cloned = F.col("o_orderkey") % 11 == 0
    survivors = v_old.filter(~deleted).withColumn(
        "o_totalprice",
        F.when(repriced, F.round(F.col("o_totalprice") + 1.5, 2)).otherwise(
            F.col("o_totalprice")
        ),
    )
    # Cloned keys are NEGATED (−k−1): provably collision-free against
    # the positive key domain at ANY scale factor. (+1000000 collided
    # with real orderkeys at sf1 — caught by the sf1 strict sweep: the
    # collision violated the merge's unique-key precondition and
    # fanned out duplicates.)
    inserts = v_old.filter(cloned).withColumn(
        "o_orderkey", -F.col("o_orderkey") - 1
    )
    v_new = survivors.unionByName(inserts)
    changelog = snapshot_diff(v_old, v_new, keys=["o_orderkey"])
    applied = apply_changelog(v_old, changelog, keys=["o_orderkey"])
    return applied.select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
    )


register(
    "q_cdc_apply",
    q_cdc_apply,
    """
    WITH v_new AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 7 = 0
                    THEN round(o_totalprice + 1.5, 2)
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 13 != 0
        UNION ALL
        SELECT -o_orderkey - 1, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 11 = 0
    )
    SELECT o_orderkey, o_orderstatus,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
    FROM v_new
    """,
)


ACF_LAGS = (1, 2, 3, 7)


def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation ingredients of the daily-revenue series at lags
    1/2/3/7 — the seasonality/stationarity diagnostic a forecasting
    pass (q_holt, q_seasonality) reads first. Emits EXACT integer
    moments per lag (n, Σx, Σy, Σxy, Σx², Σy²) so the correlation is
    one float division at the reader, not a float fold inside either
    engine — the q_corr_stats posture applied to a lagged self-join.

    Scale shape: the events scan collapses to ONE row per day before
    any lag work (the two-phase rule: windows/self-joins only ever run
    on metadata-scale frames); the lag join is an equi-join on the
    shifted day key over ≤|days| rows. Daily totals are floor-divided
    to whole currency units so Σxy stays far inside BIGINT at any SF."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents")
    ).select(
        "day",
        # floor division (not DIV, which truncates toward zero): DuckDB's
        # // floors, so a negative daily total would silently diverge
        # under DIV. Exact below 2^53.
        F.floor(F.col("cents") / 100).cast("bigint").alias("x"),
    )
    lagged = daily.withColumn(
        "lag", F.explode(F.array(*[F.lit(k) for k in ACF_LAGS]))
    ).select("lag", F.col("day").alias("a_day"), F.col("x").alias("xa"))
    prior = daily.select(F.col("day").alias("b_day"), F.col("x").alias("xb"))
    pairs = lagged.join(
        prior, F.col("b_day") == F.col("a_day") - F.col("lag")
    )
    return pairs.groupBy("lag").agg(
        F.count("*").alias("n_pairs"),
        F.sum("xa").alias("sum_x"),
        F.sum("xb").alias("sum_y"),
        F.sum(F.col("xa") * F.col("xb")).alias("sum_xy"),
        F.sum(F.col("xa") * F.col("xa")).alias("sum_x2"),
        F.sum(F.col("xb") * F.col("xb")).alias("sum_y2"),
    )


register(
    "q_acf",
    q_acf,
    f"""
    WITH daily AS (
        SELECT epoch_us(ts) // 86400000000 AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) // 100
                    AS BIGINT) AS x
        FROM events
        GROUP BY 1
    ),
    lags AS (SELECT * FROM (VALUES {", ".join(f"({k})" for k in ACF_LAGS)})
             t(lag))
    SELECT lag,
           count(*) AS n_pairs,
           CAST(sum(a.x) AS BIGINT) AS sum_x,
           CAST(sum(b.x) AS BIGINT) AS sum_y,
           CAST(sum(a.x * b.x) AS BIGINT) AS sum_xy,
           CAST(sum(a.x * a.x) AS BIGINT) AS sum_x2,
           CAST(sum(b.x * b.x) AS BIGINT) AS sum_y2
    FROM lags
    CROSS JOIN daily a
    JOIN daily b ON b.day = a.day - lags.lag
    GROUP BY lag
    """,
)


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan (operators.cdc.compaction_bins): the
    documents listing plays a file manifest (path = source/doc_id,
    size = n_chars) and files are first-fit binned to 4 KB targets by
    a cumulative sum over the size-ordered listing — the maintenance
    pass that keeps a streaming sink's file count from drowning scans
    in task overhead."""
    from ..operators.cdc import compaction_bins

    manifest = load_table(spark, sf_dir, "documents").select(
        F.concat_ws("/", "source", F.col("doc_id").cast("string")).alias("path"),
        F.col("n_chars").alias("size_bytes"),
    )
    return compaction_bins(manifest, target_bytes=4096)


register(
    "q_compaction_plan",
    q_compaction_plan,
    """
    WITH manifest AS (
        SELECT source || '/' || CAST(doc_id AS VARCHAR) AS path,
               n_chars AS size_bytes
        FROM documents
    ),
    binned AS (
        SELECT path, size_bytes,
               CAST(floor((sum(size_bytes) OVER (
                    ORDER BY size_bytes DESC, path
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)
                    / 4096) AS INTEGER) AS bin
        FROM manifest
    )
    SELECT path, size_bytes, bin,
           CAST(sum(size_bytes) OVER (PARTITION BY bin) AS BIGINT) AS bin_bytes
    FROM binned
    """,
)


ASSOC_MOD = 200
ASSOC_MIN_USERS = 5


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (operators.baskets): item pairs
    by support / confidence / lift over per-user baskets of props.k
    buckets — the user-keyed self-join runs on one reused exchange and
    is bounded by the documented basket cap."""
    from ..operators.baskets import association_rules

    events = load_table(spark, sf_dir, "events")
    baskets = events.select(
        "user_id",
        (
            F.regexp_extract("props", r'"k": ([0-9]+)', 1).cast("bigint")
            % ASSOC_MOD
        ).alias("item"),
    ).filter(F.col("user_id").isNotNull() & F.col("item").isNotNull())
    return association_rules(baskets, min_pair_users=ASSOC_MIN_USERS)


register(
    "q_assoc_rules",
    q_assoc_rules,
    f"""
    WITH items AS (
        SELECT DISTINCT user_id,
               TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
                   % {ASSOC_MOD} AS item
        FROM events
        WHERE user_id IS NOT NULL
          AND TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
              IS NOT NULL
    ),
    kept AS (
        SELECT user_id, item FROM items
        QUALIFY count(*) OVER (PARTITION BY user_id) <= 1000
    ),
    n AS (SELECT count(DISTINCT user_id) AS n_users FROM kept),
    ic AS (SELECT item, count(*) AS n_i FROM kept GROUP BY item),
    pairs AS (
        SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_ab
        FROM kept a JOIN kept b
          ON a.user_id = b.user_id AND a.item < b.item
        GROUP BY a.item, b.item
        HAVING count(*) >= {ASSOC_MIN_USERS}
    )
    SELECT item_a, item_b, n_ab, ca.n_i AS n_a, cb.n_i AS n_b,
           round(n_ab * 1.0 / n_users, 4) AS support,
           round(n_ab * 1.0 / ca.n_i, 4) AS confidence,
           round(n_ab * 1.0 * n_users / (ca.n_i * cb.n_i), 4) AS lift
    FROM pairs
    JOIN ic ca ON ca.item = pairs.item_a
    JOIN ic cb ON cb.item = pairs.item_b
    CROSS JOIN n
    """,
)


def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median of the event value over a 5-row trailing
    window per user — the order-statistic rolling metric Spark has no
    native window function for. Implemented as ``sort_array`` over a
    bounded ``collect_list`` frame with explicit middle-element
    selection (even frames average the two middles in one fixed IEEE
    add/divide), mirrored element-for-element by the oracle — no
    reliance on either engine's interpolation convention.

    Scale posture: the frame is a compile-time constant (5 rows), so
    per-row cost is O(frame log frame) and the whole query is one
    user-keyed window shuffle — linear in events. Unbounded or
    day-scale frames would want the two-heap/segment-tree forms; the
    bounded-frame contract is the documented limit."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    arr = F.sort_array(F.collect_list("value").over(w))
    n = F.size(arr)
    odd = F.element_at(arr, ((n + 1) / 2).cast("int"))
    even = (
        F.element_at(arr, (n / 2).cast("int"))
        + F.element_at(arr, (n / 2 + 1).cast("int"))
    ) / F.lit(2.0)
    return events.select(
        "event_id",
        "user_id",
        n.alias("frame_n"),
        F.round(F.when(n % 2 == 1, odd).otherwise(even), 6).alias("rolling_median"),
    )


register(
    "q_rolling_median",
    q_rolling_median,
    """
    WITH framed AS (
        SELECT event_id, user_id,
               list_sort(list(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS arr
        FROM events
    )
    SELECT event_id, user_id,
           CAST(len(arr) AS INTEGER) AS frame_n,
           round(CASE WHEN len(arr) % 2 = 1
                      THEN arr[(len(arr) + 1) // 2]
                      ELSE (arr[len(arr) // 2] + arr[len(arr) // 2 + 1]) / 2.0
                 END, 6) AS rolling_median
    FROM framed
    """,
)


def q_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total engaged time per user — the interval-union rollup of the
    gap-sessionized activity (Σ session spans): because sessionization
    already MERGED overlapping/adjacent activity into disjoint
    intervals, the union length is a plain keyed sum of exact
    millisecond spans on top of the session frame — no interval
    sweep-line needed. Also reports session count and the longest
    session."""
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    sess = sessionize(events, on="user_id", ts_col="ts", gap_sec=GAP_MIN * 60,
                      order_col="event_id")
    spans = sess.groupBy("user_id", "session_id").agg(
        (F.unix_millis(F.max("ts").cast("timestamp"))
         - F.unix_millis(F.min("ts").cast("timestamp"))).alias("span_ms")
    )
    return spans.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("span_ms").alias("engaged_ms"),
        F.max("span_ms").alias("longest_ms"),
    )


register(
    "q_engagement",
    q_engagement,
    f"""
    WITH {_SESSION_CTE},
    spans AS (
        SELECT user_id, session_id,
               epoch_ms(max(ts)) - epoch_ms(min(ts)) AS span_ms
        FROM sess GROUP BY user_id, session_id
    )
    SELECT user_id, count(*) AS n_sessions,
           CAST(sum(span_ms) AS BIGINT) AS engaged_ms,
           max(span_ms) AS longest_ms
    FROM spans GROUP BY user_id
    """,
)


def q_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency distribution: seconds from a user's FIRST view to
    their FIRST later purchase, summarized with exact type-7 quantiles
    over integer seconds (the q_boxplot convention). Two conditional
    min aggregates per user (one pass), then one dimension-sized
    rollup — no event-pair join anywhere."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("v"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("p"),
    )
    lag = per.filter(
        F.col("v").isNotNull() & F.col("p").isNotNull() & (F.col("p") > F.col("v"))
    ).select(
        F.expr(
            "(unix_millis(cast(p AS timestamp))"
            " - unix_millis(cast(v AS timestamp))) div 1000"
        ).alias("lag_s")
    )
    return lag.agg(
        F.count("*").alias("n_converted"),
        F.min("lag_s").alias("min_s"),
        F.round(F.percentile("lag_s", 0.5), 4).alias("p50_s"),
        F.round(F.percentile("lag_s", 0.9), 4).alias("p90_s"),
        F.max("lag_s").alias("max_s"),
    )


register(
    "q_conversion_lag",
    q_conversion_lag,
    """
    WITH per AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS v,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
        FROM events GROUP BY user_id
    ),
    lag AS (
        SELECT (epoch_ms(p) - epoch_ms(v)) // 1000 AS lag_s
        FROM per WHERE v IS NOT NULL AND p IS NOT NULL AND p > v
    )
    SELECT count(*) AS n_converted,
           min(lag_s) AS min_s,
           round(quantile_cont(lag_s, 0.5), 4) AS p50_s,
           round(quantile_cont(lag_s, 0.9), 4) AS p90_s,
           max(lag_s) AS max_s
    FROM lag
    """,
)


def q_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing per user
    (operators.timeseries.holt): level + additive trend, the
    forecasting-grade extension of q_ewma — certified BIT-EXACT (raw
    doubles, no rounding) against a recursive-CTE oracle evaluating
    the identical two-state IEEE recurrence in the identical op
    order."""
    from ..operators.timeseries import holt

    events = load_table(spark, sf_dir, "events")
    return holt(
        events, key_col="user_id", ts_col="ts", val_col="value",
        id_col="event_id", alpha=0.5, beta=0.3,
    )


register(
    "q_holt",
    q_holt,
    """
    WITH RECURSIVE o AS (
        SELECT user_id, event_id, ts, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    r AS (
        SELECT user_id, event_id, value, rn,
               value AS level, CAST(0.0 AS DOUBLE) AS trend
        FROM o WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.event_id, o.value, o.rn,
               0.5 * o.value + 0.5 * (r.level + r.trend) AS level,
               0.3 * ((0.5 * o.value + 0.5 * (r.level + r.trend)) - r.level)
                   + 0.7 * r.trend AS trend
        FROM o JOIN r ON o.user_id = r.user_id AND o.rn = r.rn + 1
    )
    SELECT user_id, event_id, value, level, trend FROM r
    """,
)


def q_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal profile: per (event_type, day-of-week), the
    exact integer spend moments and the seasonal index
    dow_mean/overall_mean — the decomposition step a telemetry
    dashboard runs before anomaly thresholds (a Monday spike is
    seasonality, not an incident). Two keyed aggs + a broadcast-back
    of the per-type overall moments; all certificate columns are
    exact BIGINTs except the two final quotients. dow is normalized
    (1=Mon..7=Sun) to dodge engine default differences."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        # ISO dow: both engines agree via this normalization
        ((F.dayofweek("ts") + 5) % 7 + 1).alias("dow"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    per = ev.groupBy("event_type", "dow").agg(
        F.count("*").alias("n"), F.sum("cents").alias("s")
    )
    tot = ev.groupBy("event_type").agg(
        F.count("*").alias("n_all"), F.sum("cents").alias("s_all")
    )
    dow_mean = F.col("s").cast("double") / F.col("n").cast("double")
    all_mean = F.col("s_all").cast("double") / F.col("n_all").cast("double")
    return (
        per.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "dow",
            "n",
            "s",
            F.round(dow_mean, 4).alias("dow_mean_cents"),
            F.round(dow_mean / all_mean, 4).alias("seasonal_index"),
        )
    )


register(
    "q_seasonality",
    q_seasonality,
    """
    WITH ev AS (
        SELECT event_type,
               (isodow(ts)) AS dow,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    per AS (
        SELECT event_type, dow, count(*) AS n,
               CAST(sum(cents) AS BIGINT) AS s
        FROM ev GROUP BY event_type, dow
    ),
    tot AS (
        SELECT event_type, count(*) AS n_all,
               CAST(sum(cents) AS BIGINT) AS s_all
        FROM ev GROUP BY event_type
    )
    SELECT per.event_type, CAST(per.dow AS BIGINT) AS dow, per.n, per.s,
           round(CAST(per.s AS DOUBLE) / CAST(per.n AS DOUBLE), 4)
               AS dow_mean_cents,
           round((CAST(per.s AS DOUBLE) / CAST(per.n AS DOUBLE))
                 / (CAST(tot.s_all AS DOUBLE) / CAST(tot.n_all AS DOUBLE)), 4)
               AS seasonal_index
    FROM per JOIN tot USING (event_type)
    """,
)


def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint localization per event type — the classic
    drift detector: over the (ts, event_id)-ordered value sequence in
    exact integer cents, the running sum of deviations from the
    series mean (scaled ×n to stay in EXACT BIGINT arithmetic:
    S_k·n = n·Σ_{i≤k} c_i − k·Σc), and the argmax of |S_k·n| — the
    most likely changepoint. One keyed window cumsum + one argmax
    window; every certificate column is an exact integer."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("event_type")
    cum = ev.select(
        "event_type",
        "event_id",
        F.sum("c").over(w).alias("cum"),
        F.count("*").over(w).alias("k"),
        F.sum("c").over(wt).alias("s_all"),
        F.count("*").over(wt).alias("n_all"),
    )
    s_scaled = F.col("n_all") * F.col("cum") - F.col("k") * F.col("s_all")
    ranked = cum.select(
        "event_type",
        "event_id",
        "k",
        s_scaled.alias("s_n"),
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(
                F.abs(s_scaled).desc(), F.col("event_id")
            )
        )
        .alias("rn"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "event_type",
        F.col("event_id").alias("changepoint_event"),
        F.col("k").alias("changepoint_pos"),
        F.col("s_n").alias("cusum_scaled"),
    )


register(
    "q_cusum",
    q_cusum,
    """
    WITH ev AS (
        SELECT event_type, ts, event_id,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events
    ),
    cum AS (
        SELECT event_type, event_id,
               sum(c) OVER (PARTITION BY event_type ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS cum,
               count(*) OVER (PARTITION BY event_type ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS k,
               sum(c) OVER (PARTITION BY event_type) AS s_all,
               count(*) OVER (PARTITION BY event_type) AS n_all
        FROM ev
    ),
    ranked AS (
        SELECT event_type, event_id, k,
               CAST(n_all * cum - k * s_all AS BIGINT) AS s_n,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY abs(n_all * cum - k * s_all) DESC, event_id) AS rn
        FROM cum
    )
    SELECT event_type,
           CAST(event_id AS BIGINT) AS changepoint_event,
           CAST(k AS BIGINT) AS changepoint_pos,
           s_n AS cusum_scaled
    FROM ranked WHERE rn = 1
    """,
)


def q_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention hazard table (the discrete Kaplan-Meier ingredient):
    per lifetime day d, how many users were still at risk (observed
    span ≥ d) and how many ended exactly there, plus the hazard ratio
    — the churn curve a product team reads. Spans are exact integer
    days from one per-user (min ts, max ts) rollup; the at-risk count
    for every d is a cumulative window over the DESCENDING span
    distribution (span-count frame is bounded by the horizon, never
    the user count). Exact BIGINTs everywhere but the one ratio."""
    ev = load_table(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.datediff(
            F.max(F.col("ts").cast("timestamp")).cast("date"),
            F.min(F.col("ts").cast("timestamp")).cast("date"),
        ).alias("span")
    )
    per = spans.groupBy("span").agg(F.count("*").alias("n_ended"))
    w = Window.orderBy(F.desc("span")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per.select(
        F.col("span").alias("day"),
        "n_ended",
        F.sum("n_ended").over(w).alias("n_at_risk"),
        F.round(
            F.col("n_ended").cast("double")
            / F.sum("n_ended").over(w).cast("double"),
            4,
        ).alias("hazard"),
    )


register(
    "q_hazard",
    q_hazard,
    """
    WITH spans AS (
        SELECT user_id,
               date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
                   AS span
        FROM events GROUP BY user_id
    ),
    per AS (SELECT span, count(*) AS n_ended FROM spans GROUP BY span)
    SELECT CAST(span AS INTEGER) AS day, n_ended,
           CAST(sum(n_ended) OVER (ORDER BY span DESC
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_at_risk,
           round(CAST(n_ended AS DOUBLE)
                 / CAST(sum(n_ended) OVER (ORDER BY span DESC
                        ROWS UNBOUNDED PRECEDING) AS DOUBLE), 4) AS hazard
    FROM per
    """,
)


def q_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-freshness audit — the engine-side form of the
    reference's last_updated stamps (neptune_etl_aws.py:223: every
    writer stamps its rows so staleness is queryable): per event type,
    the last-seen instant, exact staleness in whole minutes behind the
    corpus watermark (floor-divided epoch millis — portable), event
    count, and a stale flag at 60 min. One hash agg + a broadcast
    1-row watermark."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ms"),
    )
    per = ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"), F.max("ms").alias("last_ms")
    )
    # guard the driver action: max() over an empty events table is
    # NULL — default the watermark to 0 so empty input degrades to
    # empty output instead of a TypeError
    wm_row = ev.agg(F.max("ms")).first()[0]
    wm = int(wm_row) if wm_row is not None else 0
    lag_min = F.expr(f"({wm} - last_ms) div 60000")
    return per.select(
        "event_type",
        "n_events",
        "last_ms",
        lag_min.alias("staleness_min"),
        (lag_min >= 60).alias("is_stale"),
    )


register(
    "q_freshness",
    q_freshness,
    """
    WITH ev AS (
        SELECT event_type, epoch_ms(ts) AS ms FROM events
    ),
    wm AS (SELECT max(ms) AS w FROM ev)
    SELECT event_type,
           count(*) AS n_events,
           CAST(max(ms) AS BIGINT) AS last_ms,
           CAST((any_value(w) - max(ms)) // 60000 AS BIGINT) AS staleness_min,
           (any_value(w) - max(ms)) // 60000 >= 60 AS is_stale
    FROM ev CROSS JOIN wm
    GROUP BY event_type
    """,
)


FUNNEL_WINDOW_H = 24


def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed funnel (the ClickHouse ``windowFunnel`` shape): per
    user, the deepest view → click → purchase chain whose EVERY step
    falls within 24h of the chain's FIRST step; output is users per
    max level. Differs from q_funnel (unwindowed first-touch chain):
    here the window constraint anchors on each candidate first step.

    Greedy-earliest is exact for this semantics: if any chain
    (v, c', p) fits the window then so does (v, min-click, p), since
    p ≥ c' ≥ min-click — so two chained forward AS-OF joins (the
    operators/timeseries.py union+window plan: one shuffle per step,
    no row multiplication) decide every level. Per-user windows only;
    nothing global. The oracle mirrors the greedy chain with
    correlated min() subqueries."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    v = events.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("t1")
    )
    c = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    s1 = asof_join(
        v, c, on="user_id", left_ts="t1", right_ts="c_ts",
        payload=["c_ts"], direction="forward",
    ).withColumnRenamed("r_c_ts", "t2")
    have2 = s1.filter(F.col("t2").isNotNull())
    s2 = asof_join(
        have2, p, on="user_id", left_ts="t2", right_ts="p_ts",
        payload=["p_ts"], direction="forward",
    ).withColumnRenamed("r_p_ts", "t3")
    none2 = s1.filter(F.col("t2").isNull()).withColumn(
        "t3", F.lit(None).cast("timestamp")
    )
    w_end = F.col("t1") + F.expr(f"INTERVAL {FUNNEL_WINDOW_H} HOURS")
    lv = (
        s2.unionByName(none2)
        .select(
            "user_id",
            F.when(
                F.col("t3").isNotNull() & (F.col("t3") <= w_end), 3
            )
            .when(F.col("t2").isNotNull() & (F.col("t2") <= w_end), 2)
            .otherwise(1)
            .alias("level"),
        )
        .groupBy("user_id")
        .agg(F.max("level").alias("level"))
    )
    return lv.groupBy("level").agg(F.count("*").alias("n_users"))


register(
    "q_window_funnel",
    q_window_funnel,
    f"""
    WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    s1 AS (
        SELECT v.user_id, v.ts AS t1,
               (SELECT min(c.ts) FROM c
                WHERE c.user_id = v.user_id AND c.ts >= v.ts) AS t2
        FROM v
    ),
    s2 AS (
        SELECT user_id, t1, t2,
               CASE WHEN t2 IS NULL THEN NULL ELSE
                   (SELECT min(p.ts) FROM p
                    WHERE p.user_id = s1.user_id AND p.ts >= s1.t2)
               END AS t3
        FROM s1
    ),
    lv AS (
        SELECT user_id,
               max(CASE WHEN t3 IS NOT NULL
                             AND t3 <= t1 + INTERVAL {FUNNEL_WINDOW_H} HOURS
                        THEN 3
                        WHEN t2 IS NOT NULL
                             AND t2 <= t1 + INTERVAL {FUNNEL_WINDOW_H} HOURS
                        THEN 2
                        ELSE 1 END) AS level
        FROM s2 GROUP BY user_id
    )
    SELECT level, count(*) AS n_users FROM lv GROUP BY level
    """,
)


def q_mv_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATERIALIZED-VIEW REWRITE certified through the gate: a daily
    (day, event_type) pre-aggregate is genuinely materialized to
    parquet, and the monthly readout is answered FROM THE MV — sums of
    sums, counts of counts — while the oracle computes the same month
    directly from raw events. The hash compare therefore certifies the
    aggregate-navigator claim: daily partials compose losslessly to
    any coarser calendar grain (days nest in months), so a 100 TB
    event history answers month queries from a ~1/10⁵-size rollup
    without touching raw data. The decomposability rule is the same
    one the partial+final hash aggregates rely on inside one query,
    lifted to the storage layer."""
    ev = load_table(spark, sf_dir, "events")
    root = scratch_dir("mv_daily", sf_dir)
    daily = ev.groupBy(
        F.to_date("ts").alias("day"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
    )
    daily.write.mode("overwrite").parquet(root)  # the MV materializes
    mv = spark.read.parquet(root)
    return mv.groupBy(
        F.date_trunc("month", F.col("day")).cast("date").alias("month"),
        "event_type",
    ).agg(
        F.sum("n").alias("n_events"),
        F.sum("cents").alias("cents"),
    )


register(
    "q_mv_rewrite",
    q_mv_rewrite,
    """
    SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    GROUP BY 1, 2
    """,
)


def q_disorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-TIME DISORDER audit — the metric that SIZES watermark
    delays: per event type, how many events arrive (in event_id
    arrival order, per user) with an event time EARLIER than something
    already seen, and by how much (exact max / total disorder ms).
    The streaming certificates' 45-day delays are fixture-span sized;
    production reads THIS table and sets delay = p-max disorder +
    SLO margin. Per-user windows only (arrival order is tracked within
    the key a stream partitions by) — nothing global, nothing sorted
    at row scale across keys."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seen = ev.select(
        "event_type",
        F.unix_millis("ts").alias("ms"),
        F.max(F.unix_millis("ts")).over(w).alias("max_prev_ms"),
    )
    disorder = seen.select(
        "event_type",
        F.greatest(
            F.lit(0).cast("bigint"),
            F.coalesce(F.col("max_prev_ms") - F.col("ms"), F.lit(0)),
        ).alias("late_ms"),
    )
    return disorder.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count_if(F.col("late_ms") > 0).alias("n_late"),
        F.max("late_ms").alias("max_late_ms"),
        F.sum("late_ms").alias("sum_late_ms"),
    )


register(
    "q_disorder",
    q_disorder,
    """
    WITH seen AS (
        SELECT event_type,
               epoch_ms(ts) AS ms,
               max(epoch_ms(ts)) OVER (
                   PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS max_prev_ms
        FROM events
    ),
    d AS (
        SELECT event_type,
               greatest(0, coalesce(max_prev_ms - ms, 0)) AS late_ms
        FROM seen
    )
    SELECT event_type,
           count(*) AS n_events,
           count(*) FILTER (WHERE late_ms > 0) AS n_late,
           CAST(max(late_ms) AS BIGINT) AS max_late_ms,
           CAST(sum(late_ms) AS BIGINT) AS sum_late_ms
    FROM d
    GROUP BY event_type
    """,
)
