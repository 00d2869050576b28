"""Streaming-layer tests — ST1–ST7 (SURVEY §2.8).

Strategy: feed the driver's sf0.001 events table through the file
stream in controlled micro-batches (availableNow + maxFilesPerTrigger)
and assert the store state equals the batch-engine computation of the
same data — plus the idempotency / last-write-wins / GC / two-phase
properties the reference relies on.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_neptune_spark.sources import load_table
from etl_neptune_spark.streaming import (
    GraphStore,
    apply_health_alarms,
    flow_projection,
    run_deepflow_stream,
    windowed_flow_metrics,
)


@pytest.fixture()
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def _add_flat_batch(df, src: str, name: str) -> None:
    """Land one parquet FILE in the watched dir (the file stream lists
    files, not subdirectories) — simulates one source-poll arrival."""
    import shutil

    tmp = f"{src}__{name}"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    shutil.copy(os.path.join(tmp, part), os.path.join(src, f"{name}.parquet"))
    shutil.rmtree(tmp)


def _write_batches(events, out_dir: str, n_batches: int) -> None:
    """Split events into deterministic halves written as separate files
    (file-arrival order == event_id bucket order)."""
    os.makedirs(out_dir, exist_ok=True)
    for i in range(n_batches):
        (
            events.filter(F.col("event_id") % n_batches == i)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch_{i}")
        )


def _edge_state(spark, store):
    df = store.read(spark, "edges")
    assert df is not None
    return {
        (r.src, r.dst, r.protocol): r
        for r in df.collect()
    }


def test_availablenow_single_batch_matches_batch_engine(spark, events, tmp_path):
    """ST1+ST3: drain-all run equals the batch aggregation."""
    src = str(tmp_path / "in")
    _write_batches(events, src, 1)
    store = GraphStore(str(tmp_path / "store"))
    run_deepflow_stream(spark, src + "/batch_0", store)

    expected = (
        flow_projection(events)
        .groupBy("src", "dst", "protocol")
        .agg(F.count("*").alias("calls"))
        .collect()
    )
    got = _edge_state(spark, store)
    assert len(got) == len(expected)
    for r in expected:
        assert got[(r.src, r.dst, r.protocol)].calls == r.calls
    # every edge seen in this (only) batch is active
    assert all(r.active for r in got.values())

    nodes = store.read(spark, "nodes")
    exp_nodes = (
        flow_projection(events)
        .select(F.col("src").alias("name"))
        .union(flow_projection(events).select(F.col("dst").alias("name")))
        .distinct()
        .count()
    )
    assert nodes.count() == exp_nodes
    assert nodes.filter(F.col("created_at").isNull()).count() == 0

    # §3.1 step 8: degree metrics are join-updated onto the nodes
    n_edges = store.read(spark, "edges").count()
    deg = nodes.agg(
        F.sum("out_degree").alias("o"), F.sum("in_degree").alias("i")
    ).first()
    assert deg.o == n_edges and deg.i == n_edges
    entry = {r.name for r in nodes.filter("is_entry_point").collect()}
    with_in = {r.dst for r in store.read(spark, "edges").collect()}
    assert entry.isdisjoint(with_in)


def test_stream_timeout_stops_the_query_and_raises(spark, events, tmp_path):
    """A drain that has not finished within ``timeout_s`` is stopped and
    reported, so no caller goes on to read a store the stream is still
    writing."""
    src = str(tmp_path / "in")
    _write_batches(events, src, 1)
    store = GraphStore(str(tmp_path / "store"))
    with pytest.raises(RuntimeError, match="did not terminate"):
        run_deepflow_stream(spark, src + "/batch_0", store, timeout_s=0)
    assert spark.streams.active == []


def test_drain_reraises_a_failed_batch_and_leaves_no_stream(spark, tmp_path):
    """``drain`` surfaces a ``foreachBatch`` failure as its own raise
    and leaves no query running behind it."""
    from etl_neptune_spark.streaming.pipeline import drain

    src = str(tmp_path / "in")
    spark.range(10).write.parquet(src)

    def fail(batch, batch_id):
        raise ValueError("batch body failed")

    writer = spark.readStream.schema("id long").parquet(src).writeStream.foreachBatch(fail)
    with pytest.raises(Exception, match="batch body failed"):
        drain(writer, str(tmp_path / "ckpt"), "fail")
    assert spark.streams.active == []


def test_rerun_is_idempotent(spark, events, tmp_path):
    """ST1: the checkpoint makes a second drain a no-op; store state
    (version pointer included) is unchanged — the streaming analogue of
    the reference's idempotent mergeV."""
    src = str(tmp_path / "in")
    _write_batches(events, src, 1)
    store = GraphStore(str(tmp_path / "store"))
    run_deepflow_stream(spark, src + "/batch_0", store)
    v1 = store.latest_version("edges")
    n1 = _edge_state(spark, store)

    run_deepflow_stream(spark, src + "/batch_0", store)
    assert store.latest_version("edges") == v1
    assert _edge_state(spark, store).keys() == n1.keys()


def test_crash_replay_rewrites_same_version_safely(spark, events, tmp_path):
    """At-least-once replay: after a crash between the _LATEST flip and
    the checkpoint commit, foreachBatch re-delivers batch N while the
    store already points at N — the merge then READS v=N in the same
    apply that republishes v=N. Safe only because writes stage and
    rename (store.py); state must converge to the same bytes."""
    from etl_neptune_spark.streaming.pipeline import deepflow_batch, flow_projection

    store = GraphStore(str(tmp_path / "store"))
    batch = flow_projection(events)
    apply = deepflow_batch(store)
    apply(batch, 0)
    assert store.latest_version("edges") == 0
    state1 = _edge_state(spark, store)

    apply(batch, 0)  # replay of the SAME batch id: read v=0, rewrite v=0
    assert store.latest_version("edges") == 0
    state2 = _edge_state(spark, store)
    assert state1.keys() == state2.keys()
    for k, r in state1.items():
        assert state2[k] == r


def test_incremental_batches_lww(spark, events, tmp_path):
    """ST2+ST3+ST5: two file-batches processed in order; keyed metrics
    are last-write-wins per key, create-only created_at survives, and
    nodes accumulate across batches (no spurious GC within TTL)."""
    src = str(tmp_path / "in")
    os.makedirs(src)
    half0 = events.filter(F.col("event_id") % 2 == 0)
    half1 = events.filter(F.col("event_id") % 2 == 1)
    _add_flat_batch(half0, src, "b0")
    store = GraphStore(str(tmp_path / "store"))
    run_deepflow_stream(spark, src, store, max_files_per_trigger=4)
    state0 = _edge_state(spark, store)
    nodes0 = {r.name: r for r in store.read(spark, "nodes").collect()}

    _add_flat_batch(half1, src, "b1")
    run_deepflow_stream(spark, src, store, max_files_per_trigger=4)
    state1 = _edge_state(spark, store)
    nodes1 = {r.name: r for r in store.read(spark, "nodes").collect()}

    # keys only in batch 0 keep their batch-0 metrics (absent ⇒ untouched)
    b1_keys = {
        (r.src, r.dst, r.protocol)
        for r in _edge_agg_keys(half1)
    }
    for k, row in state0.items():
        if k not in b1_keys:
            assert state1[k].calls == row.calls
            assert state1[k].last_seen == row.last_seen
    # keys in batch 1 carry batch-1 metrics (last write wins)
    exp1 = {
        (r.src, r.dst, r.protocol): r
        for r in flow_projection(half1)
        .groupBy("src", "dst", "protocol")
        .agg(F.count("*").alias("calls"))
        .collect()
    }
    for k, r in exp1.items():
        assert state1[k].calls == r.calls
    # created_at is create-only: batch-0 nodes keep their stamp
    for name, row in nodes0.items():
        assert nodes1[name].created_at == row.created_at


def _rows(spark, store, table, version):
    return sorted(map(tuple, store.read_version(spark, table, version).collect()))


def test_null_ts_batch_keeps_nodes(spark, events, tmp_path):
    """ST4: a batch whose rows all have a null ``ts`` has no TTL
    horizon, so it GCs nothing — the nodes already in the store stay."""
    from etl_neptune_spark.streaming.pipeline import deepflow_batch

    store = GraphStore(str(tmp_path / "store"))
    apply = deepflow_batch(store)
    apply(flow_projection(events), 0)
    before = {r.name for r in store.read(spark, "nodes").collect()}
    assert before

    apply(flow_projection(events.withColumn("ts", F.lit(None).cast("timestamp"))), 1)
    nodes = store.read(spark, "nodes")
    assert store.latest_version("nodes") == 1
    assert {r.name for r in nodes.collect()} == before
    assert nodes.filter(F.col("last_seen").isNull()).count() == 0


def test_all_filtered_batch_publishes_unchanged_tables(spark, events, tmp_path):
    """A batch whose rows the projection all filters out is still one
    store version: edges and nodes are both published at its batch id,
    each with the rows of the version before it."""
    from etl_neptune_spark.streaming.pipeline import deepflow_batch

    store = GraphStore(str(tmp_path / "store"))
    apply = deepflow_batch(store)
    apply(flow_projection(events), 0)
    apply(flow_projection(events.withColumn("value", -F.col("value"))), 1)
    for table in ("edges", "nodes"):
        assert store.latest_version(table) == 1
        assert _rows(spark, store, table, 1) == _rows(spark, store, table, 0)


def _edge_agg_keys(events_half):
    return (
        flow_projection(events_half)
        .select("src", "dst", "protocol")
        .distinct()
        .collect()
    )


def test_stream_dedup_across_batches_matches_batch(spark, events, tmp_path):
    """Streaming exact dedup: the same rows delivered in TWO separate
    micro-batches (at-least-once re-delivery) come out once — state
    carries across batches; result equals batch dropDuplicates."""
    from etl_neptune_spark.streaming.pipeline import dedup_stream, flow_stream

    sample = events.filter(F.col("event_id") % 20 == 0)
    src = str(tmp_path / "in")
    os.makedirs(src, exist_ok=True)
    _add_flat_batch(sample, src, "first")
    _add_flat_batch(sample, src, "second")  # full duplicate delivery

    out = str(tmp_path / "out")
    stream = dedup_stream(flow_stream(spark, src, max_files_per_trigger=1))
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    n = sample.count()
    assert got.count() == n
    assert got.select("event_id").distinct().count() == n


def test_health_reset_then_degrade(spark, events, tmp_path):
    """ST7: every batch resets to healthy, then alarms degrade — and a
    later alarm-free application resets previously degraded nodes."""
    src = str(tmp_path / "in")
    _write_batches(events, src, 1)
    store = GraphStore(str(tmp_path / "store"))
    run_deepflow_stream(spark, src + "/batch_0", store)

    some = [r.name for r in store.read(spark, "nodes").limit(3).collect()]
    alarms = spark.createDataFrame(
        [("Microservice", n) for n in some], "label string, name string"
    )
    out = apply_health_alarms(spark, store, alarms, version=1000)
    got = {r.name: r.health_status for r in out.collect()}
    for n in some:
        assert got[n] == "degraded"
    assert sum(1 for v in got.values() if v == "degraded") == len(some)

    # next application with no alarms resets everything (two-phase)
    empty = spark.createDataFrame([], "label string, name string")
    out2 = apply_health_alarms(spark, store, empty, version=1001)
    assert out2.filter(F.col("health_status") != "healthy").count() == 0


def test_windowed_metrics_batch_equivalence(spark, events):
    """ST2: the event-time window aggregation, run in batch mode, slices
    per-edge metrics by tumbling window with exact boundaries."""
    flows = flow_projection(events)
    win = windowed_flow_metrics(flows, window="7 days")
    rows = win.collect()
    assert rows
    # window boundaries are aligned and exactly 7 days wide
    for r in rows:
        assert (r.window_end - r.window_start).days == 7
    # total calls across windows == total flow rows
    assert sum(r.calls for r in rows) == flows.count()


def test_stateful_running_totals_across_restarts(spark, events, tmp_path):
    """applyInPandasWithState: keyed running totals accumulate across
    micro-batches AND query restarts (state lives in the checkpoint) —
    semantics no per-batch recompute can produce."""
    from etl_neptune_spark.streaming.pipeline import EVENTS_SCHEMA, flow_projection
    from etl_neptune_spark.streaming.stateful import running_edge_totals

    src = str(tmp_path / "in")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    half0 = events.filter(F.col("event_id") % 2 == 0)
    half1 = events.filter(F.col("event_id") % 2 == 1)

    def drain(qname):
        # foreachBatch sink: supports checkpoint recovery (memory sink
        # does not), collecting each batch's updated rows.
        results = {}

        def sink(batch_df, _bid):
            for r in batch_df.collect():
                results[(r.src, r.dst, r.protocol)] = r

        stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
        q = (
            running_edge_totals(flow_projection(stream))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return results

    _add_flat_batch(half0, src, "b0")
    run1 = drain("stateful_run1")
    exp1 = {
        (r.src, r.dst, r.protocol): r.calls
        for r in flow_projection(half0)
        .groupBy("src", "dst", "protocol")
        .agg(F.count("*").alias("calls"))
        .collect()
    }
    assert {k: v.calls for k, v in run1.items()} == exp1

    # restart with new data: totals continue from checkpointed state
    _add_flat_batch(half1, src, "b1")
    run2 = drain("stateful_run2")
    exp_total = {
        (r.src, r.dst, r.protocol): r.calls
        for r in flow_projection(events)
        .groupBy("src", "dst", "protocol")
        .agg(F.count("*").alias("calls"))
        .collect()
    }
    for k, row in run2.items():
        assert row.calls == exp_total[k], k
        assert row.first_seen_us <= row.last_seen_us


def test_store_label_partitioning_prunes(spark, events, tmp_path):
    """A label-partitioned store snapshot gives per-label readers
    partition pruning (the scan reads one label's directory only)."""
    store = GraphStore(str(tmp_path / "store"))
    nodes = spark.createDataFrame(
        [("Microservice", "a", 1), ("Microservice", "b", 2), ("EC2Instance", "c", 3)],
        "label string, name string, v int",
    )
    store.write(nodes, "nodes", 0, partition_by=("label",))
    back = store.read(spark, "nodes")
    assert sorted((r.label, r.name) for r in back.collect()) == [
        ("EC2Instance", "c"), ("Microservice", "a"), ("Microservice", "b"),
    ]
    one = back.filter(F.col("label") == "Microservice")
    plan = one._jdf.queryExecution().executedPlan().toString()
    partition_filters = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "label" in partition_filters  # pruned at the partition level
    assert one.count() == 2


def test_stream_stream_attribution_join_matches_batch(spark, events, tmp_path):
    """Stream-stream interval join (watermarked both sides) must produce
    exactly the batch interval-join result on the same data — including
    pairs whose click and purchase arrive in DIFFERENT micro-batches."""
    from etl_neptune_spark.streaming.pipeline import attribution_stream

    typed = events.select("event_id", "user_id", "ts", "value", "event_type")
    clicks_b = typed.filter(F.col("event_type") == "click")
    purch_b = typed.filter(F.col("event_type") == "purchase")

    # Batch reference: the same operator on batch frames.
    expected = sorted(
        (r.purchase_id, r.c_ts, r.c_value)
        for r in attribution_stream(clicks_b, purch_b).collect()
    )
    assert len(expected) > 0

    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purch")
    os.makedirs(cdir), os.makedirs(pdir)
    # Interleave arrivals so many joins span micro-batch boundaries.
    _add_flat_batch(clicks_b.filter(F.col("event_id") % 2 == 0), cdir, "c0")
    _add_flat_batch(purch_b.filter(F.col("event_id") % 2 == 1), pdir, "p0")
    _add_flat_batch(clicks_b.filter(F.col("event_id") % 2 == 1), cdir, "c1")
    _add_flat_batch(purch_b.filter(F.col("event_id") % 2 == 0), pdir, "p1")

    schema = "event_id long, user_id long, ts timestamp, value double, event_type string"
    cs = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(cdir)
    ps = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(pdir)
    out = attribution_stream(cs, ps)
    q = (
        out.writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.purchase_id, r.c_ts, r.c_value)
        for r in spark.sql("SELECT * FROM attrib").collect()
    )
    assert got == expected


def test_stream_stream_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    """leftOuter stream-stream join: a zero-click purchase emits its
    null-padded row once the watermark proves no click can still match;
    a purchase at the head of the stream (watermark not yet past its
    horizon) stays withheld. Matched rows behave as inner."""
    from etl_neptune_spark.streaming.pipeline import attribution_stream

    schema = "event_id long, user_id long, ts timestamp, value double, event_type string"
    # user 1: purchase at t=10h with a click 30m earlier (matched).
    # user 2: purchase at t=10h, no clicks (unmatched, old → must emit).
    # user 3: purchase at t=23h50m, no clicks (too new: watermark from
    #         max ts 24h is 22h < purchase+interval → withheld).
    rows = [
        (1, 1, "2024-01-01 09:30:00", 1.0, "click"),
        (2, 1, "2024-01-01 10:00:00", 0.0, "purchase"),
        (3, 2, "2024-01-01 10:00:00", 0.0, "purchase"),
        (4, 3, "2024-01-01 23:50:00", 0.0, "purchase"),
        (5, 9, "2024-01-02 00:00:00", 2.0, "click"),  # watermark driver
    ]
    df = spark.createDataFrame(
        [(e, u, t, v, k) for e, u, t, v, k in rows],
        "event_id long, user_id long, ts string, value double, event_type string",
    ).select("event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"),
             "value", "event_type")
    cdir, pdir = str(tmp_path / "c"), str(tmp_path / "p")
    os.makedirs(cdir), os.makedirs(pdir)
    _add_flat_batch(df.filter(F.col("event_type") == "click"), cdir, "c0")
    _add_flat_batch(df.filter(F.col("event_type") == "purchase"), pdir, "p0")

    cs = spark.readStream.schema(schema).parquet(cdir)
    ps = spark.readStream.schema(schema).parquet(pdir)
    out = attribution_stream(cs, ps, watermark="1 hour", join_type="leftOuter")
    q = (
        out.writeStream.format("memory")
        .queryName("attrib_outer")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.purchase_id, r.c_ts is not None)
           for r in spark.sql("SELECT * FROM attrib_outer").collect()}
    assert (2, True) in got        # matched purchase
    assert (3, False) in got       # old unmatched → null row emitted
    assert all(pid != 4 for pid, _ in got)  # too-new unmatched withheld


def test_neardup_stream_flags_cross_batch_collisions(spark, tmp_path):
    """Streaming near-dup: a doc arriving in batch 2 that minhash-collides
    with a batch-1 doc is flagged; novel docs are not, and only novel
    docs join the band index (canonical store)."""
    from etl_neptune_spark.streaming.dedup import (
        BANDS_TABLE,
        run_neardup_stream,
    )

    base = "the quick brown fox jumps over the lazy dog and keeps running"
    b1 = spark.createDataFrame(
        [(1, base + " first document body with plenty of words inside"),
         (2, "completely different content about databases and storage engines")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(3, base + " first document body with plenty of words INSIDE"),  # ~dup of 1
         (4, "fresh topic entirely unrelated to anything stored before now")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "docs")
    os.makedirs(src, exist_ok=True)
    _add_flat_batch(b1, src, "b1")
    store = GraphStore(str(tmp_path / "store"))
    run_neardup_stream(spark, src, store)

    _add_flat_batch(b2, src, "b2")
    run_neardup_stream(spark, src, store)

    v1 = {r.doc_id: r.is_neardup for r in store.read(spark, "verdicts_0").collect()}
    assert v1 == {1: False, 2: False}
    # find the second batch's verdict table (batch id from the new run)
    import os as _os

    vtables = [d for d in _os.listdir(store.root) if d.startswith("verdicts_")]
    latest = max(int(t.split("_")[1]) for t in vtables)
    v2 = {r.doc_id: r.is_neardup
          for r in store.read(spark, f"verdicts_{latest}").collect()}
    assert v2 == {3: True, 4: False}

    indexed = {r.doc_id for r in store.read(spark, BANDS_TABLE).collect()}
    assert indexed == {1, 2, 4}  # near-dup 3 not admitted

    # Incremental merge (VERDICT r2 #5): each batch appends ONLY its own
    # novel keys as a delta — O(batch) rows, never a rewrite of the
    # store. Batch 2 admitted one novel doc (4) → its delta holds that
    # doc's band keys only, while the full index holds three docs'.
    deltas = store.delta_versions(BANDS_TABLE)
    assert len(deltas) == 2
    last_delta = spark.read.parquet(
        f"{store.root}/{BANDS_TABLE}/delta={deltas[-1]}"
    )
    assert {r.doc_id for r in last_delta.collect()} == {4}
    assert last_delta.count() < store.read(spark, BANDS_TABLE).count()


def test_neardup_replay_is_idempotent(spark, tmp_path):
    """Crash-replay of a micro-batch converges: re-applying the same
    batch id with the same input leaves identical verdicts and an
    identical band index (stale own-delta invisible via delta_before)."""
    from etl_neptune_spark.streaming.dedup import BANDS_TABLE, flag_neardups_batch

    store = GraphStore(str(tmp_path / "store"))
    apply = flag_neardups_batch(store)
    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
         (2, "one two three four five six seven eight nine ten eleven")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(3, "alpha beta gamma delta epsilon zeta eta theta iota KAPPA"),
         (4, "unrelated fresh content nothing shared with any stored doc")],
        "doc_id long, text string",
    )
    apply(b1, 0)
    apply(b2, 1)
    v_first = sorted(store.read(spark, "verdicts_1").collect())
    idx_first = sorted(store.read(spark, BANDS_TABLE).collect())
    apply(b2, 1)  # replay after simulated crash
    assert sorted(store.read(spark, "verdicts_1").collect()) == v_first
    assert sorted(store.read(spark, BANDS_TABLE).collect()) == idx_first


def test_band_index_compaction_folds_deltas(spark, tmp_path):
    """compact_every folds the delta log into one snapshot; state is
    unchanged and the delta dirs are swept."""
    from etl_neptune_spark.streaming.dedup import BANDS_TABLE, flag_neardups_batch

    store = GraphStore(str(tmp_path / "store"))
    apply = flag_neardups_batch(store, compact_every=2)
    texts = [
        (1, "first unique body of text with many distinct tokens inside it"),
        (2, "second entirely different document about graphs and storage"),
        (3, "third novel piece concerning streams windows and watermarks"),
        (4, "fourth standalone text mentioning joins shuffles and skew"),
    ]
    for i in range(0, 4, 2):
        batch = spark.createDataFrame(texts[i : i + 2], "doc_id long, text string")
        apply(batch, i // 2)
    # two batches, compact_every=2 → compacted at batch 1; no deltas left
    assert store.delta_versions(BANDS_TABLE) == []
    assert store.latest_version(BANDS_TABLE) == 1
    assert {r.doc_id for r in store.read(spark, BANDS_TABLE).collect()} == {1, 2, 3, 4}


def test_store_time_travel_reads_retained_versions(spark, events, tmp_path):
    """VERSION AS OF surface: retained snapshots stay readable, pruned
    ones return None, versions() lists the retention window."""
    from etl_neptune_spark.streaming.pipeline import deepflow_batch

    store = GraphStore(str(tmp_path / "store"), keep_versions=2)
    apply = deepflow_batch(store)
    half0 = flow_projection(events.filter(F.col("event_id") % 2 == 0))
    half1 = flow_projection(events.filter(F.col("event_id") % 2 == 1))
    apply(half0, 0)
    apply(half1, 1)
    apply(half0, 2)

    assert store.versions("edges") == [1, 2]  # v=0 pruned (keep 2)
    assert store.read_version(spark, "edges", 0) is None
    v1 = store.read_version(spark, "edges", 1)
    v2 = store.read_version(spark, "edges", 2)
    assert v1 is not None and v2 is not None
    assert store.read(spark, "edges").count() == v2.count()


def test_foreachbatch_incremental_state_matches_batch(spark, events, tmp_path):
    """Standing aggregate state maintained by operators.incremental
    inside foreachBatch across 3 file-arrival micro-batches must equal
    the single-pass batch recompute — the streaming form of the
    q_incremental_agg certification."""
    from etl_neptune_spark.operators.incremental import merge_states, partial_state

    src = str(tmp_path / "in")
    os.makedirs(src, exist_ok=True)
    flat = events.select("event_id", "user_id", "value")
    for i in range(3):
        _add_flat_batch(
            flat.filter(F.col("event_id") % 3 == i), src, f"b{i}"
        )

    state_dir = str(tmp_path / "state")
    keys = ["k"]

    def reduce_batch(batch, _bid):
        if batch.isEmpty():
            return
        inc = partial_state(
            batch.select(
                (F.col("user_id") % 7).alias("k"),
                F.col("value").cast("decimal(28,2)").alias("v"),
            ),
            keys,
            counts={"n": None},
            sums={"s": F.col("v")},
            maxs={"mx": F.col("v")},
        )
        s = batch.sparkSession
        if os.path.exists(state_dir):
            prev = s.read.parquet(state_dir)
            inc = merge_states([prev, inc], keys, ["n", "s"], ["mx"])
        staged = state_dir + "__stage"
        inc.write.mode("overwrite").parquet(staged)
        s.read.parquet(staged).write.mode("overwrite").parquet(state_dir)

    stream = (
        spark.readStream.schema("event_id long, user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(reduce_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r.k: (r.n, r.s, r.mx)
        for r in spark.read.parquet(state_dir).collect()
    }
    want = {
        r.k: (r.n, r.s, r.mx)
        for r in events.select(
            (F.col("user_id") % 7).alias("k"),
            F.col("value").cast("decimal(28,2)").alias("v"),
        )
        .groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"), F.max("v").alias("mx"))
        .collect()
    }
    assert got == want


def test_streaming_changelog_apply_matches_composed_diff(spark, tmp_path):
    """CDC consumer as a stream: three changelog micro-batches applied
    to a versioned snapshot via operators.cdc.apply_changelog
    (stage-then-rename per batch) must land on the same final state as
    applying the SINGLE composed diff snapshot_diff(v0, v3) — change
    feeds compose, so replaying the feed or squashing it is the
    consumer's choice."""
    from etl_neptune_spark.operators.cdc import apply_changelog, snapshot_diff

    schema = "k long, v long"
    v0 = spark.createDataFrame([(k, k) for k in range(10)], schema)
    v1 = spark.createDataFrame(
        [(k, k + 100 if k < 3 else k) for k in range(10)], schema
    )  # update 0-2
    v2 = v1.filter(~F.col("k").isin(3, 4))  # delete 3-4
    v3 = v2.unionByName(
        spark.createDataFrame([(k, k * 2) for k in (10, 11, 12)], schema)
    )  # insert 10-12

    src = str(tmp_path / "cdc_in")
    os.makedirs(src, exist_ok=True)
    versions = [v0, v1, v2, v3]
    for i in range(3):
        _add_flat_batch(
            snapshot_diff(versions[i], versions[i + 1], keys=["k"]),
            src,
            f"b{i}",
        )

    snap_dir = str(tmp_path / "snap")
    v0.write.mode("overwrite").parquet(snap_dir)

    def apply_batch(batch, _bid):
        if batch.isEmpty():
            return
        s = batch.sparkSession
        cur = s.read.parquet(snap_dir)
        nxt = apply_changelog(cur, batch, keys=["k"])
        staged = snap_dir + "__stage"
        nxt.write.mode("overwrite").parquet(staged)
        s.read.parquet(staged).write.mode("overwrite").parquet(snap_dir)

    q = (
        spark.readStream.schema(
            "k long, change string, old_v long, new_v long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "cdc_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r.k: r.v for r in spark.read.parquet(snap_dir).collect()}
    want = {r.k: r.v for r in v3.collect()}
    assert got == want
    squashed = apply_changelog(
        v0, snapshot_diff(v0, v3, keys=["k"]), keys=["k"]
    )
    assert {r.k: r.v for r in squashed.collect()} == want


def test_corpus_ingest_stream_gates_and_manifest(spark, tmp_path):
    """Composed streaming ingest: quality/lang gate → near-dup flag →
    manifest append. The admitted set must equal exactly what the
    BATCH operators decide (same expressions), and the manifest must
    carry the packer's (id, n_tokens) contract."""
    from etl_neptune_spark.operators.text import lang_id, quality_score
    from etl_neptune_spark.streaming.dedup import (
        BANDS_TABLE,
        MIN_QUALITY,
        run_corpus_ingest_stream,
    )

    good = ("the quick brown fox jumps over the lazy dog and keeps running "
            "through the field with the wind and the sun in the morning")
    b1 = spark.createDataFrame(
        [(1, good + " first document body with plenty of words inside"),
         (2, "zzz qqq 123 987 xxy")],          # fails the lang/quality gate
        "doc_id long, text string",
    )
    engine_doc = ("the storage engine keeps the pages in the cache and the log "
                  "holds the writes while the reader scans the index and the "
                  "planner picks the join order for the query under the hood")
    b2 = spark.createDataFrame(
        [(3, good + " first document body with plenty of words INSIDE"),  # ~dup of 1
         (4, engine_doc),
         (5, engine_doc + " today")],  # CO-ARRIVING near-dup of 4: keep-first drops it
        "doc_id long, text string",
    )
    # the gate the stream applies, evaluated via the batch operators
    gate = (quality_score(F.col("text")) >= MIN_QUALITY) & (
        lang_id(F.col("text")) == "en"
    )
    assert {r.doc_id for r in b1.filter(gate).collect()} == {1}
    assert {r.doc_id for r in b2.filter(gate).collect()} == {3, 4, 5}

    src = str(tmp_path / "docs")
    os.makedirs(src, exist_ok=True)
    _add_flat_batch(b1, src, "b1")
    store = GraphStore(str(tmp_path / "store"))
    run_corpus_ingest_stream(spark, src, store)
    _add_flat_batch(b2, src, "b2")
    run_corpus_ingest_stream(spark, src, store)

    manifest = store.read(spark, "corpus_manifest")
    rows = {r.doc_id: r.n_tokens for r in manifest.collect()}
    # 2 rejected by the gate, 3 rejected as a near-dup of stored 1,
    # 5 rejected keep-first as a CO-ARRIVING near-dup of 4
    assert set(rows) == {1, 4}
    expect_tokens = {
        r.doc_id: r.n
        for r in b1.unionByName(b2)
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .collect()
    }
    assert rows == {k: expect_tokens[k] for k in rows}
    indexed = {r.doc_id for r in store.read(spark, BANDS_TABLE).collect()}
    assert indexed == {1, 4}


def test_corpus_ingest_replay_is_idempotent(spark, tmp_path):
    """Crash-replay of an ingest micro-batch (same batch id, same
    input) converges: verdicts, band index, and the corpus manifest
    are all byte-identical to the first run — every read excludes the
    batch's own deltas and every write is keyed by batch id."""
    from etl_neptune_spark.streaming.dedup import (
        BANDS_TABLE,
        ingest_corpus_batch,
    )

    good = ("the quick brown fox jumps over the lazy dog and keeps running "
            "through the field with the wind and the sun in the morning")
    batch = spark.createDataFrame(
        [(1, good + " first document body with plenty of words inside"),
         (2, good + " first document body with plenty of words INSIDE")],
        "doc_id long, text string",
    )
    store = GraphStore(str(tmp_path / "store"))
    apply = ingest_corpus_batch(store)
    apply(batch, 0)
    m1 = sorted((r.doc_id, r.n_tokens, r.ingest_batch)
                for r in store.read(spark, "corpus_manifest").collect())
    i1 = sorted((r.doc_id, r.band, r.band_hash)
                for r in store.read(spark, BANDS_TABLE).collect())

    apply(batch, 0)  # crash-replay of the SAME batch id
    m2 = sorted((r.doc_id, r.n_tokens, r.ingest_batch)
                for r in store.read(spark, "corpus_manifest").collect())
    i2 = sorted((r.doc_id, r.band, r.band_hash)
                for r in store.read(spark, BANDS_TABLE).collect())
    assert m1 == m2 and i1 == i2
    # keep-first within the batch: only doc 1 was admitted
    assert {d for d, _, _ in m1} == {1}


def test_paginated_stream_source_equals_batch(spark, tmp_path):
    """The streaming page-tail reader (Spark 4 Python
    DataSourceStreamReader) must deliver exactly the batch relation
    when drained with availableNow, across multiple micro-batches
    (pages_per_poll throttle)."""
    from etl_neptune_spark.sources.paginated import register_paginated_source

    register_paginated_source(spark)
    opts = {"total_rows": "730", "page_size": "50", "pages_per_poll": "4"}
    batch = spark.read.format("paginated_scan").options(**opts).load()

    stream = spark.readStream.format("paginated_scan").options(**opts).load()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    # availableNow falls back to single-batch for Python stream sources
    # (no offset-bound support) — drain via processAllAvailable, which
    # keeps polling latestOffset until the page tail stops advancing,
    # exercising multiple throttled micro-batches.
    q.processAllAvailable()
    q.stop()
    got = spark.read.parquet(out)
    assert got.count() == 730
    a = sorted(tuple(r) for r in batch.collect())
    b = sorted(tuple(r) for r in got.collect())
    assert a == b


def test_stream_e2e_runs_multiple_microbatches(spark, sf_dir):
    """q_stream_e2e executes a REAL availableNow writeStream: several
    micro-batches commit store versions, and the final state equals the
    one-shot batch recomputation (batch-split invariance — every
    (window, key) group lives in exactly one day-whole file)."""
    import os

    from etl_neptune_spark.plans.streaming import (
        ERROR_THRESHOLD,
        STREAM_E2E_WINDOW_MIN,
        q_stream_e2e,
    )
    from etl_neptune_spark.sources import load_table
    from etl_neptune_spark.streaming.pipeline import flow_projection

    out = q_stream_e2e(spark, sf_dir)
    tag = os.path.basename(sf_dir.rstrip("/"))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    edges_dir = os.path.join(
        repo, "spark-warehouse", f"stream_e2e_{tag}", "store", "edges"
    )
    versions = [d for d in os.listdir(edges_dir) if d.startswith("v=")]
    latest = int(open(os.path.join(edges_dir, "_LATEST")).read().strip())
    # 8 staged files / maxFilesPerTrigger=3 -> 3 micro-batches (ids 0-2);
    # the store prunes to keep_versions=2, so the LATEST pointer is the
    # witness that multiple batches committed.
    assert latest >= 1, f"expected multiple micro-batches, got v={latest}"
    assert versions, "no committed store versions"

    batch = (
        flow_projection(load_table(spark, sf_dir, "events"))
        .groupBy(
            F.window("ts", f"{STREAM_E2E_WINDOW_MIN} minutes").alias("w"),
            "src",
            "dst",
            "protocol",
        )
        .agg(
            F.count("*").alias("calls"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "value_cents"
            ),
            F.count_if(F.col("value") >= ERROR_THRESHOLD).alias("errors"),
        )
        .select(
            F.unix_seconds(F.col("w.start")).alias("win_start"),
            "src",
            "dst",
            "protocol",
            "calls",
            "value_cents",
            "errors",
        )
    )
    got = out.select("win_start", "src", "dst", "protocol", "calls",
                     "value_cents", "errors")
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_cert_record_counts_batches_and_phases(spark, sf_dir):
    """The certificate harness records, next to the fixed/data split,
    the micro-batch count and per-phase ``durationMs`` sums over every
    query the certificate starts: q_stream_e2e's record holds one batch
    per offset its checkpoint committed."""
    from etl_neptune_spark.plans import streaming as st

    st.CERT_TIMINGS.pop("q_stream_e2e", None)
    st.q_stream_e2e(spark, sf_dir)
    rec = st.CERT_TIMINGS["q_stream_e2e"]
    tag = os.path.basename(sf_dir.rstrip("/"))
    offsets = [
        o
        for o in os.listdir(
            os.path.join(st.WAREHOUSE, f"stream_e2e_{tag}", "_checkpoint", "offsets")
        )
        if not o.startswith(".")
    ]
    assert rec["batches"] >= 2 and rec["batches"] == len(offsets), (rec, offsets)
    assert rec["durationMs"]["addBatch"] > 0, rec
    assert rec["durationMs"]["triggerExecution"] > 0, rec
    assert {"setup_sec", "stream_sec", "stream_rows", "rows_per_sec"} <= rec.keys()


def test_cert_drain_timeout_raises_and_restores_the_session(spark, sf_dir, monkeypatch):
    """A certificate whose drain outlives the harness's wait raises,
    leaves no stream running and gives the session back its shuffle
    width."""
    from etl_neptune_spark.plans import streaming as st

    key = "spark.sql.shuffle.partitions"
    width = spark.conf.get(key)
    monkeypatch.setattr(st, "_WAIT_S", 0)
    with pytest.raises(RuntimeError, match="did not terminate"):
        st.q_stream_dedup(spark, sf_dir)
    assert spark.streams.active == []
    assert spark.conf.get(key) == width


def test_stream_dedup_exactly_once_across_batches(spark, sf_dir):
    """q_stream_dedup: input delivered twice across multiple
    micro-batches; the state store must admit each event_id exactly
    once, so the sink holds exactly the distinct ids and the run
    commits several batches."""
    import os

    from etl_neptune_spark.plans.streaming import q_stream_dedup
    from etl_neptune_spark.sources import load_table

    out = q_stream_dedup(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    total = sum(r["n_events"] for r in out)
    assert total == ev.select("event_id").distinct().count()

    tag = os.path.basename(sf_dir.rstrip("/"))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = os.path.join(repo, "spark-warehouse", f"stream_dedup_{tag}")
    offsets = os.listdir(os.path.join(root, "_checkpoint", "offsets"))
    assert len([o for o in offsets if not o.startswith(".")]) >= 2, (
        "expected multiple micro-batches"
    )
    # the dedup operator kept keyed state under the checkpoint
    assert os.path.isdir(os.path.join(root, "_checkpoint", "state"))


def test_stream_window_e2e_emits_all_windows(spark, sf_dir):
    """q_stream_window_e2e: the sentinel-advance pattern must flush
    EVERY real window through append-mode emission — the final sink
    equals the batch window aggregate, and the run took multiple
    checkpointed batches across three availableNow executions."""
    import os

    from etl_neptune_spark.plans.streaming import q_stream_window_e2e
    from etl_neptune_spark.sources import load_table

    out = q_stream_window_e2e(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    batch = ev.groupBy(
        F.window("ts", "1 day").alias("w"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
    ).select(
        F.unix_seconds(F.col("w.start")).alias("win_start"),
        "event_type",
        "n_events",
        "cents",
    )
    assert out.exceptAll(batch).count() == 0
    assert batch.exceptAll(out).count() == 0

    tag = os.path.basename(sf_dir.rstrip("/"))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = os.path.join(repo, "spark-warehouse", f"stream_win_{tag}")
    offsets = [
        o
        for o in os.listdir(os.path.join(root, "_checkpoint", "offsets"))
        if not o.startswith(".")
    ]
    assert len(offsets) >= 4  # real batches + two sentinel rounds


def test_stream_stateful_state_spans_batches(spark, sf_dir):
    """q_stream_stateful: the keyed state genuinely accumulates across
    micro-batches — some key must have been emitted in more than one
    batch with growing totals (a per-batch recompute could never show
    a key twice with different counts in the raw emission log)."""
    import os

    from etl_neptune_spark.plans.streaming import q_stream_stateful

    q_stream_stateful(spark, sf_dir).count()
    tag = os.path.basename(sf_dir.rstrip("/"))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = os.path.join(repo, "spark-warehouse", f"stream_state_{tag}")
    log = spark.read.parquet(os.path.join(root, "sink"))
    multi = (
        log.groupBy("src", "dst", "protocol")
        .agg(
            F.count("*").alias("n_emissions"),
            (F.max("calls") > F.min("calls")).alias("grew"),
        )
        .filter("n_emissions > 1 AND grew")
    )
    assert multi.count() > 0, "no key accumulated across batches"
    offsets = [
        o
        for o in os.listdir(os.path.join(root, "_checkpoint", "offsets"))
        if not o.startswith(".")
    ]
    assert len(offsets) >= 2


def test_compaction_bounds_merged_read_files(spark, tmp_path):
    """Sustained-ingest read cost (VERDICT r5 task 6): the merged read
    scans O(compacted segments) files, not O(batches ever ingested).
    15 single-batch deltas grow the scanned-file count linearly; one
    compaction folds them into a bounded snapshot, and post-compaction
    reads scan snapshot files + only the deltas newer than it."""
    from etl_neptune_spark.streaming.store import GraphStore

    store = GraphStore(str(tmp_path / "store"))
    base = spark.range(100).selectExpr("id AS k", "id * 2 AS v").coalesce(1)
    store.write(base, "t", 0)
    for i in range(1, 16):
        delta = spark.range(100 * i + 100, 100 * i + 200).selectExpr(
            "id AS k", "id * 2 AS v"
        ).coalesce(1)
        store.append_delta(delta, "t", i)
    peak = store.read(spark, "t")
    n_peak = len(peak.inputFiles())
    assert n_peak >= 16  # base + 15 deltas: linear in ingested batches
    assert peak.count() == 100 + 15 * 100

    store.compact(spark, "t", 15, target_files=2)
    compacted = store.read(spark, "t")
    n_compacted = len(compacted.inputFiles())
    assert n_compacted < n_peak
    assert n_compacted <= 4  # bounded by snapshot layout, not history
    assert compacted.count() == 100 + 15 * 100
    assert store.delta_versions("t") == []  # all folded

    # post-compaction growth restarts from the bounded snapshot
    store.append_delta(
        spark.range(9000, 9100).selectExpr("id AS k", "id * 2 AS v").coalesce(1),
        "t",
        16,
    )
    after = store.read(spark, "t")
    assert len(after.inputFiles()) <= n_compacted + 1
    assert after.count() == 100 + 16 * 100


def test_stream_multi_writer_interleaving_invariance(spark, sf_dir):
    """ST6 executed (VERDICT r6 task 6): two concurrent availableNow
    writers with disjoint column ownership must converge to the SAME
    store state under swapped cadences (different maxFilesPerTrigger
    per writer = different batch interleavings), and both writers must
    genuinely run multiple micro-batches."""
    from etl_neptune_spark.plans import streaming as st

    def run(mft_a, mft_b):
        out = sorted(
            tuple(r)
            for r in st.q_stream_multi_writer(
                spark, sf_dir, mft_a=mft_a, mft_b=mft_b
            ).collect()
        )
        return out, dict(st.q_stream_multi_writer.last_run_info)

    r1, info1 = run("1", "3")
    r2, info2 = run("3", "1")
    assert r1 == r2
    assert len(r1) > 0
    # both writers executed real multi-batch runs in both orders
    assert info1["batches_a"] >= 3 and info1["batches_b"] >= 2, info1
    assert info2["batches_a"] >= 2 and info2["batches_b"] >= 3, info2
    # the store accumulated one version per merge, serialized
    assert info1["version"] + 1 == info1["batches_a"] + info1["batches_b"]


def test_staged_events_cache_hit_and_invalidation(spark, sf_dir, tmp_path, monkeypatch):
    """The stage-once cache must (a) build once and reuse on hit,
    (b) rebuild when the fixture fingerprint changes, (c) hand every
    cert hardlinks with strictly increasing mtimes in name order."""
    import os

    from etl_neptune_spark.plans import streaming as st

    builds = {"n": 0}

    def build(tmp):
        builds["n"] += 1
        (
            st.load_table(spark, sf_dir, "events")
            .repartition(3)
            .write.mode("overwrite")
            .parquet(tmp)
        )

    # unique layout per invocation: tmp_path basenames repeat across
    # pytest sessions, and the cache dir outlives the test session
    import uuid

    layout = f"test_{uuid.uuid4().hex[:12]}"
    c1 = st._staged_events(spark, sf_dir, layout, build)
    c2 = st._staged_events(spark, sf_dir, layout, build)
    assert c1 == c2 and builds["n"] == 1  # second call is a cache hit

    # corrupt the fingerprint -> rebuild
    import json

    with open(os.path.join(c1, "_STAGED"), "w") as fh:
        json.dump({"fp": -1}, fh)
    st._staged_events(spark, sf_dir, layout, build)
    assert builds["n"] == 2

    # links carry strictly increasing mtimes in name order
    staging = str(tmp_path / "staging")
    names = st._link_staged(c1, staging)
    assert names == sorted(names) and len(names) >= 3
    mtimes = [os.path.getmtime(os.path.join(staging, f)) for f in names]
    assert all(b > a for a, b in zip(mtimes, mtimes[1:]))
    import shutil

    shutil.rmtree(c1, ignore_errors=True)  # only this test's layout dir


def test_staged_layout_rebuilds_when_its_table_changes(spark, sf_dir, tmp_path):
    """The stage-once cache keys on the fixture's files, not on one
    table's row count: a layout staged from ``embeddings`` must be
    rebuilt once ``embeddings.parquet`` is rewritten at the same path,
    or a certificate would stream stale vectors."""
    import shutil
    import uuid

    import pyarrow.parquet as pq

    from etl_neptune_spark.plans import streaming as st

    fixture = str(tmp_path / os.path.basename(sf_dir.rstrip("/")))
    shutil.copytree(sf_dir, fixture)
    os.chmod(fixture, 0o755)  # the copy keeps a read-only fixture's modes
    builds = {"n": 0}

    def build(tmp):
        builds["n"] += 1
        st.load_table(spark, fixture, "embeddings").repartition(2).write.parquet(tmp)

    layout = f"test_{uuid.uuid4().hex[:12]}"
    cache = st._staged_events(spark, fixture, layout, build)
    try:
        assert st._staged_events(spark, fixture, layout, build) == cache
        assert builds["n"] == 1
        emb = os.path.join(fixture, "embeddings.parquet")
        table = pq.read_table(emb)
        os.chmod(emb, 0o644)
        pq.write_table(table.slice(0, table.num_rows // 2), emb)
        st._staged_events(spark, fixture, layout, build)
        assert builds["n"] == 2
        assert st._staged_rows(cache) == table.num_rows // 2
    finally:
        shutil.rmtree(cache, ignore_errors=True)


def test_stream_ann_ingest_multi_batch_and_compaction(spark, sf_dir):
    """Streaming ANN ingest certificate: the stream must genuinely run
    multiple micro-batches (one ivf_append delta each), and the query's
    own raises certify streamed==one-shot append, compaction-invariant
    answers, and a frozen quantizer. Here we additionally pin the
    multi-batch shape and that the compacted store retains no deltas."""
    import os

    from etl_neptune_spark.plans import streaming as st
    from etl_neptune_spark.streaming.store import GraphStore

    out = st.q_stream_ann_ingest(spark, sf_dir)
    assert out.columns == ["query_id", "neighbor_id", "cos", "rank"]
    assert out.count() > 0
    info = st.q_stream_ann_ingest.last_run_info
    assert info["batches"] >= 3, info  # 4 staged files, mft=1

    tag = os.path.basename(sf_dir.rstrip("/"))
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(st.__file__)))
    repo_root = os.path.dirname(repo_root)
    store = GraphStore(
        os.path.join(repo_root, "spark-warehouse", f"stream_ann_{tag}", "store_stream")
    )
    assert store.delta_versions("codes") == []  # compaction folded all
    # Compact version derives from DELTA IDS (replay-safe), not the
    # foreachBatch invocation counter: replays re-increment 'batches'
    # but rewrite the same delta dir, so ids are the ground truth.
    assert store.latest_version("codes") == info["n_deltas"] + 1
    assert info["n_deltas"] >= 3  # one delta per staged file, mft=1
    # Compaction must PRESERVE the ivf_build layout: the codes snapshot
    # stays hive-partitioned by cell so probe reads remain prunable.
    assert store.partition_layout("codes") == ("cell",)
    vdir = os.path.join(
        store._table_dir("codes"), f"v={store.latest_version('codes')}"
    )
    assert any(d.startswith("cell=") for d in os.listdir(vdir)), vdir


def test_store_kill_between_retire_and_publish_never_torn(spark, tmp_path):
    """VERDICT r8 task 4: a kill between retiring the live ``v=N`` dir
    and renaming the staged rewrite over it must never leave a reader
    with a torn/missing version — the committed bytes sit at
    ``v=N.old`` and the reader falls back to them; re-running the same
    publish converges and sweeps the debris."""
    import os
    import shutil

    from etl_neptune_spark.streaming.store import GraphStore

    store = GraphStore(str(tmp_path / "store"))
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, val string")
    store.write(df1, "nodes", 1)
    committed = {(r.k, r.val) for r in store.read(spark, "nodes").collect()}

    # Reconstruct the exact post-kill state of a crashed REPLAY of
    # version 1: staged rewrite complete, live dir already retired,
    # rename-over never ran. (The publish order guarantees rmtree of
    # the retired copy happens only after the staged dir lands.)
    tdir = os.path.join(str(tmp_path / "store"), "nodes")
    final = os.path.join(tdir, "v=1")
    shutil.copytree(final, os.path.join(tdir, ".staging-v=1"))
    os.rename(final, final + ".old")
    assert not os.path.isdir(final)

    # Reader during the crash window: sees the committed state, not None.
    seen = store.read(spark, "nodes")
    assert seen is not None
    assert {(r.k, r.val) for r in seen.collect()} == committed
    assert store.latest_version("nodes") == 1

    # Recovery: the replayed batch re-publishes the same version.
    store.write(df1, "nodes", 1)
    assert {(r.k, r.val) for r in store.read(spark, "nodes").collect()} == committed
    leftovers = [
        d for d in os.listdir(tdir) if d.startswith(".staging") or d.endswith(".old")
    ]
    assert leftovers == []


def test_store_kill_mid_staging_invisible_and_recoverable(spark, tmp_path):
    """A kill while the staged parquet write is in flight leaves only a
    partial ``.staging-*`` dir: readers are untouched (the live dir and
    pointer never moved) and the replayed publish overwrites the
    debris."""
    import os

    from etl_neptune_spark.streaming.store import GraphStore

    store = GraphStore(str(tmp_path / "store"))
    df1 = spark.createDataFrame([(1, "a")], "k long, val string")
    store.write(df1, "nodes", 1)
    tdir = os.path.join(str(tmp_path / "store"), "nodes")
    broken = os.path.join(tdir, ".staging-v=2")
    os.makedirs(broken)
    with open(os.path.join(broken, "part-00000.parquet"), "wb") as f:
        f.write(b"\x00partial-not-parquet")

    assert store.latest_version("nodes") == 1
    assert store.read(spark, "nodes").count() == 1

    df2 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, val string")
    store.write(df2, "nodes", 2)
    assert store.read(spark, "nodes").count() == 2
    assert not os.path.isdir(broken)


def test_compact_crash_before_delta_removal_rereads_and_reruns(spark, tmp_path):
    """A kill after compaction publishes the folded snapshot but before
    the folded deltas are removed must be invisible (``read`` ignores
    deltas ≤ the snapshot version) and the re-run compaction must be
    idempotent, sweeping the leftovers."""
    from etl_neptune_spark.streaming.store import GraphStore

    store = GraphStore(str(tmp_path / "store"))
    base = spark.createDataFrame([(1, "a")], "k long, val string")
    store.write(base, "codes", 0)
    store.append_delta(
        spark.createDataFrame([(2, "b")], "k long, val string"), "codes", 1
    )
    store.append_delta(
        spark.createDataFrame([(3, "c")], "k long, val string"), "codes", 2
    )
    merged = {(r.k, r.val) for r in store.read(spark, "codes").collect()}
    assert merged == {(1, "a"), (2, "b"), (3, "c")}

    # Simulate the kill: run only compaction's PUBLISH half (the folded
    # snapshot lands, the pointer flips) and skip the delta removal.
    store.write(store.read(spark, "codes").coalesce(1), "codes", 3)
    assert store.delta_versions("codes") == [1, 2]  # debris
    assert {(r.k, r.val) for r in store.read(spark, "codes").collect()} == merged

    # Re-run compaction at the same version: idempotent, sweeps deltas.
    store.compact(spark, "codes", version=3)
    assert store.delta_versions("codes") == []
    assert {(r.k, r.val) for r in store.read(spark, "codes").collect()} == merged


def _next_job(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _schema_frame(spark, rows):
    import datetime as dt

    ts = dt.datetime(2024, 1, 1, 12, 0)
    return spark.createDataFrame(
        [(k, lab, k * 1.5, ts, [float(k)], k % 2 == 0) for k, lab in rows],
        "k long, label string, w double, seen timestamp, vec array<double>, even boolean",
    )


def _assert_recorded_read(spark, store, table, path, read=None):
    """The store's read of ``path`` carries a recorded schema, launches
    no job, and equals Spark's own inferred read of the directory in
    names, types, column order and rows."""
    assert os.path.isfile(os.path.join(path, "_schema.json")), path
    start = _next_job(spark)
    got = read() if read is not None else store.read(spark, table)
    assert _next_job(spark) == start
    inferred = spark.read.parquet(path)
    assert got.schema == inferred.schema
    assert sorted(map(str, got.collect())) == sorted(map(str, inferred.collect()))


@pytest.mark.parametrize("partition_by", [(), ("label",)])
def test_store_write_reads_with_recorded_schema(spark, tmp_path, partition_by):
    store = GraphStore(str(tmp_path / "store"))
    df = _schema_frame(spark, [(1, "A"), (2, "B"), (3, "A")])
    store.write(df, "nodes", 0, partition_by=partition_by)
    vdir = os.path.join(store.root, "nodes", "v=0")
    _assert_recorded_read(spark, store, "nodes", vdir)
    _assert_recorded_read(
        spark, store, "nodes", vdir, lambda: store.read_version(spark, "nodes", 0)
    )


def test_store_deltas_and_compaction_read_with_recorded_schema(spark, tmp_path):
    """append_delta + read (base and deltas, each with its recorded
    schema) and compact (layout-preserving rewrite) launch no inference
    job and read back what inference would."""
    store = GraphStore(str(tmp_path / "store"))
    store.write(_schema_frame(spark, [(1, "A")]), "t", 0, partition_by=("label",))
    store.append_delta(_schema_frame(spark, [(2, "B")]), "t", 1)
    store.append_delta(_schema_frame(spark, [(3, "A")]), "t", 2)
    tdir = os.path.join(store.root, "t")

    start = _next_job(spark)
    got = store.read(spark, "t")
    assert _next_job(spark) == start
    inferred = spark.read.parquet(os.path.join(tdir, "v=0")).unionByName(
        spark.read.parquet(*[os.path.join(tdir, f"delta={d}") for d in (1, 2)])
    )
    assert got.schema == inferred.schema
    assert sorted(map(str, got.collect())) == sorted(map(str, inferred.collect()))

    store.compact(spark, "t", 2)
    assert store.delta_versions("t") == []
    _assert_recorded_read(spark, store, "t", os.path.join(tdir, "v=2"))


def test_store_write_arrow_records_schema_only_when_exact(spark, tmp_path):
    """write_arrow records the Arrow→Spark schema for plain types (the
    IVF state tables' int32 / list<float32> / string) and leaves
    anything else, such as a timestamp, to inference."""
    import datetime as dt

    import pyarrow as pa

    store = GraphStore(str(tmp_path / "store"))
    tbl = pa.table(
        {
            "cell": pa.array([0, 1], pa.int32()),
            "centroid": pa.array([[0.5, 1.0], [2.0, 3.0]], pa.list_(pa.float32())),
            "tag": pa.array(["a", None], pa.string()),
            "n": pa.array([1, 2], pa.int64()),
        }
    )
    store.write_arrow(tbl, "centroids", 0)
    _assert_recorded_read(
        spark, store, "centroids", os.path.join(store.root, "centroids", "v=0")
    )

    stamped = pa.table({"ts": pa.array([dt.datetime(2024, 1, 1)], pa.timestamp("us"))})
    store.write_arrow(stamped, "stamped", 0)
    vdir = os.path.join(store.root, "stamped", "v=0")
    assert not os.path.exists(os.path.join(vdir, "_schema.json"))
    assert store.read(spark, "stamped").schema == spark.read.parquet(vdir).schema


def test_store_reads_versions_without_recorded_schema(spark, tmp_path):
    """Directories published before schemas were recorded (no
    ``_schema.json``) still read, by inference — a store on disk
    outlives the code that wrote it. Mixed deltas fall back too."""
    store = GraphStore(str(tmp_path / "store"))
    store.write(_schema_frame(spark, [(1, "A"), (2, "B")]), "t", 0, partition_by=("label",))
    store.append_delta(_schema_frame(spark, [(3, "A")]), "t", 1)
    store.append_delta(_schema_frame(spark, [(4, "B")]), "t", 2)
    tdir = os.path.join(store.root, "t")
    for d in ("v=0", "delta=1"):
        os.remove(os.path.join(tdir, d, "_schema.json"))

    base = store.read_version(spark, "t", 0)
    assert base.schema == spark.read.parquet(os.path.join(tdir, "v=0")).schema
    assert sorted(r.k for r in base.collect()) == [1, 2]
    assert sorted(r.k for r in store.read(spark, "t").collect()) == [1, 2, 3, 4]
