"""The deepflow pipeline as a Structured Streaming job — ST1–ST7.

Reference shape (lambda/etl_deepflow/neptune_etl_deepflow.py:621-830,
cadence lib/neptune-etl-stack.ts:148-153): every 5 minutes, aggregate
the last window of L7 flow rows per (src, dst, protocol), upsert
``Microservice`` nodes and ``Calls`` edges with last-write-wins metric
properties, mark edge activity, GC stale nodes, and flip alarmed
entities to ``degraded``.

Streaming mapping:

- ST1 triggers — ``readStream`` over a file-arrival directory;
  ``availableNow`` (deterministic catch-up, used in tests) or
  ``processingTime='5 minutes'`` (the production cadence).
- ST2 sliding lookback — each micro-batch re-aggregates what arrived
  (the reference recomputes its whole lookback each run — overlapping
  recomputation, not incremental state); ``windowed_flow_metrics``
  additionally exposes true event-time windows + watermark.
- ST3 last-write-wins keyed state — ``merge_keyed`` update columns.
- ST4 state GC / retention — TTL filter on ``last_seen`` after merge
  (nodes absent long enough are dropped), the anti-join form lives in
  ``operators.gc``.
- ST5 edge activity marking — merged edges get ``active=true`` +
  ``last_seen``; edges missing from the batch keep their old stamp.
- ST7 reset-then-degrade — two sequential column updates inside one
  batch apply (``apply_health_alarms``).

Everything inside ``foreachBatch`` is the engine's own batch MERGE —
the streaming layer adds triggers, checkpointing (exactly-once batch
ids over at-least-once file delivery), and watermarks, nothing else.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import dec_avg, dec_sum
from ..operators.degrees import degree_metrics
from ..operators.merge import merge_keyed, reset_then_degrade
from .store import GraphStore

# Schema of the driver's events table after timestamp restoration
# (sources.tables._NANOS_TS_COLS) — file streams require an explicit
# schema (no inference at stream start).
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("props", T.StringType()),
    ]
)

NODE_TTL = "30 days"  # ST4: nodes unseen this long are GC'd
ERROR_THRESHOLD = 250.0  # same error predicate as plans.flow


def flow_stream(spark: SparkSession, events_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-arrival stream of flow events (SRC analogue of the 5-min
    ClickHouse poll)."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(events_dir)


def flow_projection(events: DataFrame) -> DataFrame:
    """events → (src, dst, protocol, value, ts); same key mapping and
    validity filters as the batch flagship (plans.flow._flows), minus
    the lookback anchor — in streaming the trigger bounds the data."""
    from ..plans.flow import DST_MOD, SRC_MOD

    return (
        events.filter(F.col("value") > 0)
        .select(
            (F.col("user_id") % SRC_MOD).cast("bigint").alias("src"),
            (
                F.regexp_extract("props", r'"k": ([0-9]+)', 1).cast("bigint") % DST_MOD
            ).alias("dst"),
            F.col("event_type").alias("protocol"),
            F.col("value"),
            F.col("ts"),
        )
        .filter(F.col("src") != F.col("dst"))
    )


def dedup_stream(
    events: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: at-least-once sources (file re-delivery,
    Kinesis/Kafka replays) re-emit rows; ``dropDuplicates`` over the key
    keeps first-arrival-wins state, and the watermark bounds that state
    — keys older than the horizon are evicted, so memory is
    O(keys per watermark window), not O(stream). Works identically on a
    batch frame (watermark is a no-op there), which is how the test
    certifies batch-stream equivalence."""
    return events.withWatermark(ts_col, watermark).dropDuplicates(list(keys))


def attribution_stream(
    clicks: DataFrame,
    purchases: DataFrame,
    window_sec: int = 3600,
    watermark: str = "2 hours",
    join_type: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each purchase pairs with the same
    user's clicks in the preceding ``window_sec`` — the streaming form
    of ``operators.timeseries.bucketed_range_join``'s attribution
    query. Both sides carry event-time watermarks and the join
    condition bounds the click's age relative to the purchase, so
    Spark's state store retains each side only within the watermark +
    interval horizon (state is O(rate × horizon), not O(stream)).
    Works identically on batch frames (watermarks are no-ops there),
    which is how the test certifies stream-batch equivalence.

    ``join_type='leftOuter'`` keeps zero-click purchases: the
    null-padded row for an unmatched purchase emits only once the
    watermark proves no matching click can still arrive (purchase_ts +
    interval + watermark delay has passed) — the streaming-correct
    semantics; purchases too close to the head of the stream stay
    withheld rather than emitting a premature null.
    """
    c = (
        clicks.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("value").alias("c_value"),
        )
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    return p.join(
        c,
        F.expr(
            f"c_user = p_user AND c_ts >= p_ts - INTERVAL {window_sec} SECONDS "
            "AND c_ts < p_ts"
        ),
        join_type,
    ).select("purchase_id", F.col("p_user").alias("user_id"), "p_ts", "c_ts", "c_value")


def windowed_flow_metrics(
    flows: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time windowed per-edge metrics (ST2 as true streaming
    windows): tumbling by default, sliding when ``slide`` is given;
    the watermark bounds state and drops too-late rows. Works
    identically on a batch DataFrame (watermark is a no-op there) —
    that equivalence is what ``q_stream_window`` certifies."""
    return (
        flows.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide), "src", "dst", "protocol")
        .agg(
            F.count("*").alias("calls"),
            # Unrounded decimal-exact mean: the decimal sum → double cast
            # and the division are the same IEEE ops in any engine, so
            # the result is bit-comparable; a final round() is NOT —
            # engines disagree on half-way shortest-repr doubles.
            (dec_sum("value") / F.count("value")).alias("avg_duration_ms"),
            F.count_if(F.col("value") >= ERROR_THRESHOLD).alias("error_count"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "src",
            "dst",
            "protocol",
            "calls",
            "avg_duration_ms",
            "error_count",
        )
    )


def _edge_agg(flows: DataFrame) -> DataFrame:
    """Per-batch (src, dst, protocol) metrics — the reference's flagship
    aggregate recomputed per run (neptune_etl_deepflow.py:633-646)."""
    return flows.groupBy("src", "dst", "protocol").agg(
        F.count("*").alias("calls"),
        dec_avg("value").alias("avg_duration_ms"),
        F.count_if(F.col("value") >= ERROR_THRESHOLD).alias("error_count"),
        F.max("ts").alias("last_seen"),
    )


def deepflow_batch(store: GraphStore) -> Callable[[DataFrame, int], None]:
    """The ``foreachBatch`` body: MERGE edges (ST3/ST5) and publish
    them, then MERGE nodes, TTL-GC stale ones (ST4), join-update their
    degree metrics and publish them — one store version per batch id.

    Publish order is edges then nodes, and the degrees are computed
    from the just-published edges snapshot (the reference's order too:
    it queries the upserted graph for degrees, neptune_etl_deepflow.py
    :536-617), so the nodes write does not re-run the edge merge. A
    replay after a crash between the two publishes re-merges the batch
    into its own published edges, which last-write-wins makes a no-op.

    The batch is never probed before the writes: the TTL horizon (the
    batch's latest ``ts``) is observed during the edges write, as the
    latest ``last_seen`` the merge took from the batch. A batch without
    a horizon (only null ``ts``, or no rows at all) GCs nothing. A batch
    whose rows the projection all filtered out is applied like any
    other: both tables keep their rows unchanged and are published at
    its batch id, so every batch id still has one version.
    """

    def apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # ``_seen`` copies each incoming edge's last_seen through the
        # merge, where only incoming rows carry it: its max over the
        # write is the batch's horizon. The observation sits on the
        # write's root, because on an empty batch AQE drops the merge's
        # incoming side, and an observation there with it.
        edges_inc = (
            _edge_agg(batch)
            .withColumn("active", F.lit(True))
            .withColumn("_seen", F.col("last_seen"))
        )
        empty_edges = spark.createDataFrame([], edges_inc.schema)
        edges_cur = store.read(spark, "edges") or empty_edges
        edges_merged = merge_keyed(
            edges_cur,
            edges_inc,
            keys=["src", "dst", "protocol"],
            update_cols=[
                "calls",
                "avg_duration_ms",
                "error_count",
                "last_seen",
                "active",
                "_seen",
            ],
        )
        # ST5: edges in this batch carry active=true via the merge;
        # absent edges keep their previous active + last_seen stamp
        # (implicit decay — the reference has no edge GC, downstream
        # consumers filter on last_seen).
        seen = Observation()
        store.write(
            edges_merged.observe(seen, F.max("_seen").alias("horizon")).drop("_seen"),
            "edges",
            batch_id,
        )
        horizon = seen.get["horizon"]

        nodes_inc = (
            batch.select(F.col("src").cast("string").alias("name"), "ts")
            .unionByName(batch.select(F.col("dst").cast("string").alias("name"), "ts"))
            .groupBy("name")
            .agg(F.max("ts").alias("last_seen"))
            .withColumn("label", F.lit("Microservice"))
            .withColumn("created_at", F.col("last_seen"))
        )

        empty_nodes = spark.createDataFrame([], nodes_inc.schema)
        nodes_cur = store.read(spark, "nodes") or empty_nodes
        # ST6 multi-writer convergence: pass through columns owned by
        # the other pipelines (aws enrichment, health, …) untouched;
        # degree columns are recomputed below, so they are NOT preserved.
        own = {"label", "name", "last_seen", "created_at"}
        degree_cols = {"out_degree", "in_degree", "out_weight", "is_entry_point"}
        preserve = [
            c for c in nodes_cur.columns if c not in own and c not in degree_cols
        ]
        nodes_merged = merge_keyed(
            nodes_cur,
            nodes_inc,
            keys=["label", "name"],
            update_cols=["last_seen"],
            create_only_cols=["created_at"],
            preserve_cols=preserve,
        )
        # ST4: retention — OWN label only (per-writer GC, like the
        # reference's per-label anti-joins): Microservice nodes unseen
        # past the TTL are dropped; other writers' labels pass through.
        nodes_final = nodes_merged
        if horizon is not None:
            nodes_final = nodes_merged.filter(
                (F.col("label") != "Microservice")
                | (F.col("last_seen") >= F.lit(horizon) - F.expr(f"INTERVAL {NODE_TTL}"))
            )

        # §3.1 step 8: per-service degree metrics join-updated onto the
        # nodes (the reference's batch_fetch_dependency_and_update,
        # neptune_etl_deepflow.py:536-617) — computed from the published
        # MERGED edge state so decayed-but-alive edges still count.
        edges_pub = store.read_version(spark, "edges", batch_id)
        degrees = degree_metrics(edges_pub, weight="calls").select(
            F.col("node").cast("string").alias("name"),
            "out_degree",
            "in_degree",
            "out_weight",
            "is_entry_point",
        )
        ms = (
            nodes_final.filter(F.col("label") == "Microservice")
            .join(degrees, "name", "left")
            .na.fill({"out_degree": 0, "in_degree": 0, "out_weight": 0})
            .withColumn(
                "is_entry_point",
                F.coalesce(F.col("is_entry_point"), F.lit(True)),
            )
        )
        nodes_deg = ms.unionByName(
            nodes_final.filter(F.col("label") != "Microservice"),
            allowMissingColumns=True,
        )
        store.write(nodes_deg, "nodes", batch_id)

    return apply


def apply_health_alarms(
    spark: SparkSession, store: GraphStore, alarms: DataFrame, version: int
) -> DataFrame:
    """ST7 reset-then-degrade (``operators.merge.reset_then_degrade``)
    over the latest nodes snapshot, published as ``version`` — the
    aws run's Step 16 as one batch apply."""
    nodes = store.read(spark, "nodes")
    if nodes is None:
        raise ValueError("no nodes snapshot to apply alarms to")
    flagged = reset_then_degrade(nodes, alarms)
    store.write(flagged, "nodes", version)
    return flagged


def await_stream(q, name: str, timeout_s: float = 600) -> None:
    """Wait for a query that drains and stops (``availableNow``). If it
    is still running after ``timeout_s`` seconds, or the wait itself
    fails, stop it and raise: no caller goes on to read a sink that the
    stream is still writing."""
    try:
        done = timeout_s > 0 and q.awaitTermination(timeout_s)
    except BaseException:
        q.stop()
        raise
    if not done:
        q.stop()
        raise RuntimeError(f"{name}: stream did not terminate within {timeout_s} s")


def drain(writer, checkpoint: str, name: str, timeout_s: float = 600):
    """Run ``writer`` (a ``DataStreamWriter``) once with ``availableNow``
    from the checkpoint at ``checkpoint``: start it, wait through
    ``await_stream`` and return the query, which has stopped. Every
    ``availableNow`` run in the package goes through here, except the
    first query of q_stream_restart, which is meant to crash."""
    q = writer.option("checkpointLocation", checkpoint).trigger(availableNow=True).start()
    await_stream(q, name, timeout_s)
    return q


def run_deepflow_stream(
    spark: SparkSession,
    events_dir: str,
    store: GraphStore,
    processing_time: str | None = None,
    max_files_per_trigger: int | None = None,
    timeout_s: int = 120,
):
    """Wire source → projection → foreachBatch and run.

    ``processing_time=None`` ⇒ ``availableNow`` (drain what exists,
    then stop — deterministic, used by tests and backfills);
    otherwise a continuous micro-batch cadence like '5 minutes' (ST1).
    The checkpoint under the store root gives replay-safe batch ids:
    re-running after the same files yields no new batches (idempotent
    by upsert AND by source bookkeeping)."""
    flows = flow_projection(flow_stream(spark, events_dir, max_files_per_trigger))
    writer = flows.writeStream.foreachBatch(deepflow_batch(store)).outputMode("update")
    checkpoint = f"{store.root}/_checkpoint"
    if processing_time is None:
        return drain(writer, checkpoint, "run_deepflow_stream", timeout_s)
    return (
        writer.option("checkpointLocation", checkpoint)
        .trigger(processingTime=processing_time)
        .start()
    )
