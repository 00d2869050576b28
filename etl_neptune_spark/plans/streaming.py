"""Certified query for the streaming layer's event-time window
aggregation (ST2). ``windowed_flow_metrics`` is the same logical plan
in batch and streaming mode (watermark is a no-op in batch); running it
in batch mode against the DuckDB oracle certifies the window slicing +
aggregate semantics the streaming tests then exercise with triggers,
checkpoints and file-arrival batches (tests/test_streaming.py).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import cut
from ..sources import load_table
from ..streaming.pipeline import (
    EVENTS_SCHEMA,
    drain,
    flow_projection,
    flow_stream,
    windowed_flow_metrics,
)
from .flow import DST_MOD, ERROR_THRESHOLD, SRC_MOD
from .registry import WAREHOUSE, register, scratch_dir

WINDOW_DAYS = 7

# State-shuffle width for the executed-streaming certificates (see
# _stream_shuffle).
STREAM_SHUFFLE_N = 8

# How long a certificate waits for one drain before it stops the query
# and raises (streaming.pipeline.await_stream).
_WAIT_S = 600


@contextmanager
def _stream_shuffle(spark: SparkSession):
    """Size the streaming state shuffle to the stream's actual volume.

    Stateful operators keep ONE state-store instance per shuffle
    partition, and every micro-batch commits a delta file per instance
    — so an oversized `spark.sql.shuffle.partitions` multiplies
    per-batch fixed cost (files, task scheduling) without adding
    parallelism the data can use. These certificates stream ≤1M rows
    through ≤5 micro-batches; 8 partitions is plenty. On a real
    cluster this is the `spark.sql.streaming.*` sizing decision made
    per stream volume, not inherited from the batch-wide default. The
    conf is restored afterwards so batch queries keep the session
    default; the streaming checkpoint pins the value for the query's
    lifetime, and every certificate starts from a fresh checkpoint."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(STREAM_SHUFFLE_N))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


# Per-certificate fixed-vs-data cost split (VERDICT r7 task 4): wall
# time alone can't tell host-load noise from regression — 30% of the
# driver bench is streaming machinery whose cost is FIXED per cert
# (checkpoint init, availableNow lifecycle), not data-dependent. Each
# executed cert records its phases here; bench.py attaches the split
# to streaming_block so regressions gate on the DATA component
# (stream-phase rows/sec), not total wall.
CERT_TIMINGS: dict[str, dict] = {}


class _Cert:
    """The scaffolding every executed-streaming certificate shares, so
    each one writes only its stream definition, its batch body and its
    result read: the run directory ``spark-warehouse/stream_<kind>_<tag>/``
    (emptied at the start), the staged input and its row tally
    (``stage``), the stream phases at the stream-sized shuffle width
    (``stream``), every drain (``drain``), and the ``CERT_TIMINGS``
    record.

    The record: everything before the first ``stream()`` phase is
    ``setup_sec`` (fixture staging + store init, fixed cost); that
    phase is ``stream_sec`` (the writeStream lifecycle: machinery +
    per-row data cost), reported with the staged rows it reads as
    ``rows_per_sec``. Later phases (the sentinel flushes) run
    unclocked: they are fixed cost the data rate must not absorb.
    ``batches`` and ``durationMs`` (per-phase sums: addBatch,
    walCommit, triggerExecution, …) cover the ``recentProgress`` of
    every query the certificate starts; ``state_rows`` is the largest
    state-store size (sum of numRowsTotal over a query's last
    progress) — the observable behind the O(keys × horizon)
    state-retention contract; the volume probe
    (tools/stream_volume_probe.py) pops the entry per run and asserts
    it stays flat as stream volume multiplies.

    Keeps the record with the BEST stream_sec across bench's repeated
    runs so the published split and the best-of-N wall in ``queries``
    describe the same (fastest) run — previously the LAST run won, and
    a host-load spike on run 2 could make the gate metric and the
    reported wall disagree (ADVICE r8). A larger state observation from
    a losing run is dropped with its record (ADVICE r9)."""

    def __init__(self, spark: SparkSession, sf_dir: str, name: str, kind: str):
        self.spark, self.sf_dir, self.name = spark, sf_dir, name
        self.root = scratch_dir(f"stream_{kind}", sf_dir)
        self.rows = 0  # input rows the clocked phase reads
        self.queries: list = []
        self.rec: dict = {}
        self.t0 = time.perf_counter()

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def stage(
        self, layout: str, build, sub: str = "input", prefixes: tuple[str, ...] = ("",)
    ) -> str:
        """Link the staged ``layout`` (see _staged_events) into
        ``<root>/<sub>``, each file once per prefix, and return that
        directory."""
        cache = _staged_events(self.spark, self.sf_dir, layout, build)
        staging = self.path(sub)
        _link_staged(cache, staging, prefixes)
        self.rows += len(prefixes) * _staged_rows(cache)
        return staging

    @contextmanager
    def stream(self):
        """A phase at the stream-sized shuffle width (_stream_shuffle);
        the first one is clocked. The record is published when a phase
        ends."""
        t0 = time.perf_counter()
        self.rec.setdefault("setup_sec", round(t0 - self.t0, 3))
        with _stream_shuffle(self.spark):
            yield
        if "stream_sec" not in self.rec:
            sec = round(time.perf_counter() - t0, 3)
            self.rec.update(stream_sec=sec, stream_rows=self.rows)
            if sec > 0:
                self.rec["rows_per_sec"] = round(self.rows / sec, 1)
        self._publish()

    def drain(self, writer, checkpoint: str = "_checkpoint"):
        """``streaming.pipeline.drain`` with the checkpoint under the
        run directory; the query joins the record."""
        q = drain(writer, self.path(checkpoint), self.name, _WAIT_S)
        self.queries.append(q)
        return q

    def _progress(self) -> dict:
        progress = [p for q in self.queries for p in q.recentProgress]
        phases: dict[str, int] = {}
        for p in progress:
            for k, ms in (p.get("durationMs") or {}).items():
                phases[k] = phases.get(k, 0) + int(ms)
        out = {"batches": len(progress), "durationMs": phases}
        state = max(
            (
                sum(
                    int(op.get("numRowsTotal", 0))
                    for op in (q.lastProgress or {}).get("stateOperators") or []
                )
                for q in self.queries
            ),
            default=0,
        )
        if state:
            out["state_rows"] = state
        return out

    def _publish(self) -> None:
        try:
            self.rec.update(self._progress())
        except Exception:  # noqa: BLE001 — telemetry must never fail a cert
            pass
        prev = CERT_TIMINGS.get(self.name)
        if prev is None or prev.get("stream_sec", float("inf")) >= self.rec["stream_sec"]:
            CERT_TIMINGS[self.name] = self.rec


def _staged_rows(cache: str) -> int:
    """Row count of a staged fixture layout, from its marker (written
    at staging time — no extra scan per cert run)."""
    try:
        with open(os.path.join(cache, "_STAGED")) as fh:
            return int(json.load(fh).get("rows", 0))
    except (FileNotFoundError, ValueError):
        return 0


def _fixture_fingerprint(sf_dir: str) -> list:
    """[path, size, mtime] of every parquet file in the fixture, from a
    driver-side ``os.stat`` (no Spark job): the invalidation key of the
    staged-file cache below. A layout staged from any table (events,
    embeddings) is rebuilt once that table's files are rewritten."""
    fp = []
    for dirpath, dirs, files in os.walk(sf_dir, followlinks=True):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".parquet"):
                path = os.path.join(dirpath, f)
                st = os.stat(path)
                fp.append([os.path.relpath(path, sf_dir), st.st_size, st.st_mtime_ns])
    return fp


def _staged_events(spark: SparkSession, sf_dir: str, layout: str, build) -> str:
    """Stage-once cache for the executed-streaming certificates
    (VERDICT r6 task 4): every certificate re-shapes the SAME immutable
    fixture into its staging layout on every invocation — a full Spark
    write job each, ~1–3 s × 8 certificates of pure fixed cost that
    drowns the regression signal in the bench. The shaped files are a
    deterministic function of (fixture, layout), so they are built once
    into ``spark-warehouse/stream_staged_<tag>/<layout>/`` and
    HARDLINKED into each certificate's private staging dir afterwards.
    Invalidation: the marker records the fixture's file fingerprint
    (_fixture_fingerprint); a mismatch rebuilds. ``build(tmp_dir)``
    performs the cert's original shaping write."""
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    cache = os.path.join(WAREHOUSE, f"stream_staged_{tag}", layout)
    marker = os.path.join(cache, "_STAGED")
    fp = _fixture_fingerprint(sf_dir)
    try:
        with open(marker) as fh:
            if json.load(fh).get("fp") == fp:
                return cache
    except (FileNotFoundError, ValueError):
        pass
    shutil.rmtree(cache, ignore_errors=True)
    tmp = cache + "__tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.makedirs(cache, exist_ok=True)
    for f in sorted(os.listdir(tmp)):
        if f.endswith(".parquet"):
            os.replace(os.path.join(tmp, f), os.path.join(cache, f))
    shutil.rmtree(tmp, ignore_errors=True)
    # One metadata-only count at staging time: certs report their
    # stream-phase rows/sec from this without a per-run scan.
    n_rows = spark.read.parquet(cache).count()
    with open(marker, "w") as fh:
        json.dump({"fp": fp, "rows": n_rows}, fh)
    return cache


def _link_staged(cache: str, staging: str, prefixes: tuple[str, ...] = ("",)):
    """Hardlink the cached staged files into a certificate's private
    staging dir (falling back to copy across filesystems). Returns the
    created file names in sorted order.

    Spark's file stream source orders files by MODIFICATION TIME, and
    hardlinks share the cached inode's single mtime — leaving the
    file→micro-batch assignment to an undefined tie-break (which broke
    q_stream_restart's 'redeliver an already-processed file' invariant:
    the redelivered copy could land in the same batch as its
    unprocessed original and double those groups). Stamping strictly
    increasing mtimes in name order makes the batch slicing
    deterministic: sorted name order IS arrival order."""
    os.makedirs(staging, exist_ok=True)
    names = []
    for f in sorted(os.listdir(cache)):
        if not f.endswith(".parquet"):
            continue
        for p in prefixes:
            dst = os.path.join(staging, p + f)
            try:
                os.link(os.path.join(cache, f), dst)
            except OSError:
                shutil.copy(os.path.join(cache, f), dst)
            names.append(p + f)
    names = sorted(names)
    base = time.time() - 3600
    for i, f in enumerate(names):
        os.utime(os.path.join(staging, f), (base + i, base + i))
    return names


def _day8_build(ev):
    """Day-hashed 8-file layout (the q_stream_e2e invariant): every
    file holds whole days, so every 5-min window group lives in exactly
    one file and one micro-batch. Explicit partition count — AQE would
    coalesce the small hash shuffle into ONE file, collapsing the run
    to a single micro-batch."""

    def build(tmp):
        (
            ev.withColumn("_day", F.to_date("ts"))
            .repartition(8, "_day")
            .drop("_day")
            .write.mode("overwrite")
            .parquet(tmp)
        )

    return build


def _rr_build(df, n: int):
    """Round-robin n-file layout for certificates whose result is
    batch-split-invariant by their own mechanism (dedup state, lifetime
    counters, span-sized watermarks)."""

    def build(tmp):
        df.repartition(n).write.mode("overwrite").parquet(tmp)

    return build


def _flush_sentinels(c: _Cert, staging: str, mx_us: int, drain_one) -> None:
    """The two-sentinel flush that makes an append-mode watermarked
    aggregate emit everything it holds. Two far-future events (+90d,
    +180d past ``mx_us``, the last real event time; negative event and
    user ids) are staged at once, and ``drain_one`` — the certificate's
    stream with ``maxFilesPerTrigger=1`` — reads them as two single-file
    batches: the second runs with the first sentinel's advanced
    watermark and flushes every real window or session. One extra
    streaming run instead of two, order-insensitive (either sentinel
    first, the later batch's watermark clears all real state).

    The sentinel files are written DIRECTLY with pyarrow — the flushes
    previously cost a coalesce(1) Spark write job plus a file copy each
    (VERDICT r6 task 4's 'trim sentinel file copies'). UTC-adjusted
    micros match Spark's own parquet timestamp encoding, so the
    streaming reader's explicit schema reads them exactly as
    Spark-written rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for i, days in enumerate((90, 180)):
        sentinel = pa.table(
            {
                "event_id": pa.array([-(i + 1)], pa.int64()),
                "user_id": pa.array([-(i + 1)], pa.int64()),
                "event_type": pa.array(["zz_sentinel"], pa.string()),
                "value": pa.array([0.0], pa.float64()),
                "ts": pa.array(
                    [mx_us + days * 86_400_000_000], pa.timestamp("us", tz="UTC")
                ),
                "props": pa.array([None], pa.string()),
            }
        )
        pq.write_table(sentinel, os.path.join(staging, f"zz_sentinel_{i}.parquet"))
    with c.stream():
        drain_one()


def q_stream_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 7-day event-time windows over the flow projection —
    exact window boundaries (epoch-aligned) + per-window edge metrics."""
    events = load_table(spark, sf_dir, "events")
    return windowed_flow_metrics(flow_projection(events), window=f"{WINDOW_DAYS} days")


register(
    "q_stream_window",
    q_stream_window,
    f"""
    WITH flows AS (
        SELECT CAST(user_id % {SRC_MOD} AS BIGINT) AS src,
               TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
                   % {DST_MOD} AS dst,
               event_type AS protocol,
               value, ts
        FROM events
        WHERE value > 0
    ),
    valid AS (SELECT * FROM flows WHERE src != dst)
    SELECT time_bucket(INTERVAL '{WINDOW_DAYS} days', ts, TIMESTAMP '1970-01-01')
               AS window_start,
           time_bucket(INTERVAL '{WINDOW_DAYS} days', ts, TIMESTAMP '1970-01-01')
               + INTERVAL '{WINDOW_DAYS} days' AS window_end,
           src, dst, protocol,
           count(*) AS calls,
           CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) / count(value)
               AS avg_duration_ms,
           count(*) FILTER (WHERE value >= {ERROR_THRESHOLD}) AS error_count
    FROM valid
    GROUP BY 1, 2, src, dst, protocol
    """,
)


def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (14-day size, 7-day slide): every row
    lands in size/slide = 2 overlapping windows. Spark aligns window
    starts to the epoch by the SLIDE interval; the oracle reproduces
    that as time_bucket(slide) - k*slide for k in 0..1."""
    events = load_table(spark, sf_dir, "events")
    return windowed_flow_metrics(
        flow_projection(events), window=f"{2 * WINDOW_DAYS} days", slide=f"{WINDOW_DAYS} days"
    )


register(
    "q_sliding_window",
    q_sliding_window,
    f"""
    WITH flows AS (
        SELECT CAST(user_id % {SRC_MOD} AS BIGINT) AS src,
               TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
                   % {DST_MOD} AS dst,
               event_type AS protocol,
               value, ts
        FROM events
        WHERE value > 0
    ),
    valid AS (SELECT * FROM flows WHERE src != dst),
    slid AS (
        SELECT v.*,
               time_bucket(INTERVAL '{WINDOW_DAYS} days', ts, TIMESTAMP '1970-01-01')
                   - t.range * INTERVAL '{WINDOW_DAYS} days' AS window_start
        FROM valid v, range(0, 2) t
    )
    SELECT window_start,
           window_start + INTERVAL '{2 * WINDOW_DAYS} days' AS window_end,
           src, dst, protocol,
           count(*) AS calls,
           CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) / count(value)
               AS avg_duration_ms,
           count(*) FILTER (WHERE value >= {ERROR_THRESHOLD}) AS error_count
    FROM slid
    GROUP BY 1, 2, src, dst, protocol
    """,
)


STREAM_E2E_WINDOW_MIN = 5
PROTOCOL_PRIORITY = [
    ("purchase", 3),
    ("error", 4),
    ("click", 2),
    ("view", 1),
    ("signup", 2),
]


def _merge_windows(batch: DataFrame, batch_id: int, store, dim=None) -> bool:
    """The deepflow-shaped ``foreachBatch`` body of q_stream_e2e and
    q_stream_restart: 5-min tumbling window agg (→ broadcast ``dim``
    join, when given) → keyed last-write-wins MERGE into the store's
    ``edges``, published as version ``batch_id``. An empty batch does
    nothing and returns False."""
    from ..operators.merge import merge_keyed

    if batch.isEmpty():
        return False
    agg = (
        flow_projection(batch)
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
    update_cols = ["calls", "value_cents", "errors"]
    if dim is not None:
        agg = agg.join(dim, "protocol", "left").select(*agg.columns, "priority")
        update_cols.append("priority")
    sp = batch.sparkSession
    existing = store.read(sp, "edges")
    if existing is None:
        existing = sp.createDataFrame([], agg.schema)
    merged = merge_keyed(
        existing,
        agg,
        keys=["win_start", "src", "dst", "protocol"],
        update_cols=update_cols,
    )
    store.write(merged, "edges", batch_id)
    return True


def q_stream_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL ``availableNow`` Structured Streaming execution inside
    the driver gate (ST1 executed, not just test-covered): the
    deepflow-shaped pipeline — file-arrival source → foreachBatch
    (5-min tumbling window agg → broadcast dim join → keyed
    last-write-wins MERGE into the versioned GraphStore) — whose FINAL
    store state is SQL-recomputable.

    Why the final state is batch-split-invariant (and therefore a
    valid oracle target): the staged input is hash-partitioned by DAY,
    so every file holds only whole days; 5-min tumbling windows are
    epoch-aligned and never straddle a day boundary, hence every
    (window, src, dst, protocol) group lives in exactly ONE file and
    ONE micro-batch — the LWW merge writes its complete aggregate once
    no matter how ``maxFilesPerTrigger`` slices the file list. The run
    genuinely executes ``writeStream`` with a checkpoint and several
    micro-batches (files / maxFilesPerTrigger).

    Reference: the 5-min EventBridge cadence IS the product's
    execution mode (lib/neptune-etl-stack.ts:148-153;
    neptune_etl_deepflow.py:621-830)."""
    from ..sources.formats import broadcast_dim
    from ..streaming.store import GraphStore

    ev = load_table(spark, sf_dir, "events")
    c = _Cert(spark, sf_dir, "q_stream_e2e", "e2e")
    # 8 day-hashed files / maxFilesPerTrigger=3 gives 3 real batches;
    # staged once per fixture and hardlinked (see _staged_events).
    staging = c.stage("day8", _day8_build(ev))
    store = GraphStore(c.path("store"))
    dim = broadcast_dim(spark, PROTOCOL_PRIORITY, "protocol string, priority int")

    def apply(batch: DataFrame, batch_id: int) -> None:
        _merge_windows(batch, batch_id, store, dim)

    with c.stream():
        c.drain(
            flow_stream(spark, staging, 3)
            .writeStream.foreachBatch(apply)
            .outputMode("update")
        )
    out = store.read(spark, "edges")
    if out is None:
        return spark.createDataFrame(
            [],
            "win_start bigint, src bigint, dst bigint, protocol string, "
            "calls bigint, value_cents bigint, errors bigint, priority int",
        )
    return out


register(
    "q_stream_e2e",
    q_stream_e2e,
    f"""
    WITH flows AS (
        SELECT CAST(user_id % {SRC_MOD} AS BIGINT) AS src,
               TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
                   % {DST_MOD} AS dst,
               event_type AS protocol,
               value, ts
        FROM events
        WHERE value > 0
    ),
    valid AS (SELECT * FROM flows WHERE src != dst),
    agg AS (
        SELECT (epoch_ms(ts) // {STREAM_E2E_WINDOW_MIN * 60 * 1000})
                   * {STREAM_E2E_WINDOW_MIN * 60} AS win_start,
               src, dst, protocol,
               count(*) AS calls,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS value_cents,
               count(*) FILTER (WHERE value >= {ERROR_THRESHOLD}) AS errors
        FROM valid
        GROUP BY 1, src, dst, protocol
    )
    SELECT CAST(win_start AS BIGINT) AS win_start, src, dst, protocol,
           calls, value_cents, errors,
           CAST(CASE protocol
                WHEN 'purchase' THEN 3 WHEN 'error' THEN 4
                WHEN 'click' THEN 2 WHEN 'view' THEN 1
                WHEN 'signup' THEN 2 END AS INTEGER) AS priority
    FROM agg
    """,
)


def _redelivered_dedup(
    spark: SparkSession, sf_dir: str, name: str, kind: str, dedup
) -> DataFrame:
    """The run q_stream_dedup and q_stream_dedup_wm share: every staged
    file is delivered TWICE under distinct paths (a_/b_ links), the
    stream (maxFilesPerTrigger=3) goes through ``dedup`` into a parquet
    sink, and the sink is rolled up per event type — exact count,
    integer cents, distinct users — which equals the plain batch
    aggregate over the ORIGINAL events when ``dedup`` admits each
    event_id exactly once."""
    ev = load_table(spark, sf_dir, "events")
    c = _Cert(spark, sf_dir, name, kind)
    staging = c.stage("rr4", _rr_build(ev, 4), prefixes=("a_", "b_"))
    sink = c.path("sink")
    with c.stream():
        c.drain(
            dedup(flow_stream(spark, staging, 3))
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
        )
    out = spark.read.schema(EVENTS_SCHEMA).parquet(sink)
    return out.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
        F.countDistinct("user_id").alias("n_users"),
    )


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stateful Structured Streaming inside the driver gate —
    the built-in state-store operator, complementing q_stream_e2e's
    foreachBatch path: the staged input is delivered TWICE (two file
    copies — the at-least-once re-delivery every file/Kinesis source
    exhibits), and ``dropDuplicates(event_id)`` must emit each event
    exactly once even when the two copies land in DIFFERENT
    micro-batches, i.e. the dedup state genuinely persists across
    batches through the checkpoint. The sink rollup (per event type:
    exact count and integer cents) therefore equals the plain batch
    aggregate over the ORIGINAL events — the oracle. No watermark in
    this run: state is unbounded by choice so the result is
    deterministic under any batch split (the TTL'd form is
    streaming/pipeline.dedup_stream, test-certified; reference posture
    ST3/ST4, neptune_etl_aws.py's idempotent upserts)."""
    return _redelivered_dedup(
        spark,
        sf_dir,
        "q_stream_dedup",
        "dedup",
        lambda events: events.dropDuplicates(["event_id"]),
    )


register(
    "q_stream_dedup",
    q_stream_dedup,
    """
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY event_type
    """,
)


def q_stream_window_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL watermarked streaming WINDOW AGGREGATION inside the driver
    gate — the third executed-streaming certificate (q_stream_e2e:
    foreachBatch MERGE; q_stream_dedup: dropDuplicates state;
    here: the built-in stateful window agg with a watermark in APPEND
    mode, ST2 executed rather than batch-shaped).

    Append mode only emits a window after the watermark passes its
    end, and Spark advances the watermark at END of batch — so a
    drained ``availableNow`` run leaves the tail windows un-emitted,
    and the emitted set depends on the batch split (measured: 80 of
    140 windows at sf0.001). Determinism is restored with the
    SENTINEL-ADVANCE pattern: after draining the real data, two
    follow-up availableNow runs each deliver one far-future sentinel
    event (+90d, +180d); run 2's batch emits everything up to
    watermark(run 1) and advances the watermark past every real
    window, run 3's batch flushes the remainder. The watermark DELAY
    (45 days) is sized past the fixture's ~30-day span because the
    day-hashed staging files arrive out of event-time order — with a
    short delay the watermark racing ahead DROPPED late days (measured
    115/150 windows, wrong counts); a span-sized delay makes no real
    row late while the sentinels still force full emission. The final
    sink then holds EXACTLY the batch window aggregate over the real
    events — the oracle — independent of file order and batch
    boundaries (sentinel rows are excluded by event_type).
    Exactly-once across the three runs rides the shared checkpoint."""
    ev = load_table(spark, sf_dir, "events")
    c = _Cert(spark, sf_dir, "q_stream_window_e2e", "win")
    staging = c.stage("day8", _day8_build(ev))
    sink = c.path("sink")

    def run_once(max_files: int) -> None:
        c.drain(
            flow_stream(spark, staging, max_files)
            .withWatermark("ts", "45 days")
            .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                    "cents"
                ),
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
        )

    with c.stream():
        run_once(3)  # drains the real data
    mx_us = ev.agg(F.unix_micros(F.max("ts"))).first()[0]
    if mx_us is None:  # empty input: nothing staged, nothing to flush
        return spark.createDataFrame(
            [],
            "win_start bigint, event_type string, n_events bigint, "
            "cents bigint",
        )
    _flush_sentinels(c, staging, mx_us, lambda: run_once(1))

    out = spark.read.parquet(sink)
    return out.filter(F.col("event_type") != "zz_sentinel").select(
        F.unix_seconds(F.col("w.start")).alias("win_start"),
        "event_type",
        "n_events",
        "cents",
    )


register(
    "q_stream_window_e2e",
    q_stream_window_e2e,
    """
    SELECT (epoch_ms(ts) // 86400000) * 86400 AS win_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    GROUP BY 1, 2
    """,
)


def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL custom stateful streaming operator inside the driver gate —
    the fourth executed-streaming certificate: ``applyInPandasWithState``
    (streaming/stateful.py) maintaining per-edge lifetime counters in
    the checkpointed state store across micro-batches. Each batch
    emits every touched key's RUNNING totals; all four state fields
    are monotone (calls/errors only grow, first/last seen only
    tighten), so the per-key reduction over the appended emissions —
    max(calls), max(errors), min(first), max(last) — equals the grand
    total per edge regardless of how files split into batches. The
    oracle recomputes the lifetime totals from the events table
    directly. Reference: the lifetime edge counters no per-batch
    recompute can produce (the deepflow topology's accumulated state,
    neptune_etl_deepflow.py:536-617's readout side)."""
    from ..streaming.stateful import running_edge_totals

    ev = load_table(spark, sf_dir, "events")
    c = _Cert(spark, sf_dir, "q_stream_stateful", "state")
    staging = c.stage("rr6", _rr_build(ev, 6))
    sink_dir = c.path("sink")

    def sink(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("append").parquet(sink_dir)

    totals = running_edge_totals(flow_projection(flow_stream(spark, staging, 2)))
    with c.stream():
        c.drain(totals.writeStream.foreachBatch(sink).outputMode("update"))
    out = spark.read.parquet(sink_dir)
    return out.groupBy("src", "dst", "protocol").agg(
        F.max("calls").alias("calls"),
        F.max("errors").alias("errors"),
        F.min("first_seen_us").alias("first_seen_us"),
        F.max("last_seen_us").alias("last_seen_us"),
    )


register(
    "q_stream_stateful",
    q_stream_stateful,
    f"""
    WITH flows AS (
        SELECT CAST(user_id % {SRC_MOD} AS BIGINT) AS src,
               TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
                   % {DST_MOD} AS dst,
               event_type AS protocol,
               value, ts
        FROM events
        WHERE value > 0
    ),
    valid AS (SELECT * FROM flows WHERE src != dst)
    SELECT src, dst, protocol,
           count(*) AS calls,
           count(*) FILTER (WHERE value >= {ERROR_THRESHOLD}) AS errors,
           CAST(min(epoch_us(ts)) AS BIGINT) AS first_seen_us,
           CAST(max(epoch_us(ts)) AS BIGINT) AS last_seen_us
    FROM valid
    GROUP BY src, dst, protocol
    """,
)


def q_stream_join_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL STREAM-STREAM INTERVAL JOIN inside the driver gate — the
    fifth executed-streaming certificate: purchase→view attribution as
    a watermarked symmetric hash join between two independent file
    streams, run with ``availableNow`` through a checkpoint and real
    micro-batches on BOTH sides.

    Semantics: every purchase joins the same user's views in the 1-day
    window before it (the deepflow "which view led to this purchase"
    attribution, executed as a stream instead of the batch as-of
    family). Why the result is batch-split-invariant: an inner
    stream-stream join emits a pair exactly once — when the later of
    its two rows arrives and probes the other side's state — and the
    45-day watermark delay exceeds the fixture's ~30-day span, so no
    state is evicted before its match arrives, no matter how
    ``maxFilesPerTrigger`` interleaves the two sources. The sink then
    holds EXACTLY the batch interval join, which is the oracle.

    Scale posture: state per side is O(arrival rate × join horizon)
    once the watermark delay is sized to the real lateness bound (the
    45 days here is the fixture's span; production sizes it to the
    attribution horizon + lateness SLO), NOT O(stream length) — the
    state-retention contract SCALE.md asserts for ST2, executed here.
    """
    ev = load_table(spark, sf_dir, "events")
    empty = spark.createDataFrame(
        [], "user_id bigint, n_pairs bigint, lag_s_sum bigint"
    )
    if ev.isEmpty():
        return empty
    c = _Cert(spark, sf_dir, "q_stream_join_e2e", "join")

    def side(name: str, event_type: str, p: str) -> DataFrame:
        staging = c.stage(
            f"{name}_rr4",
            _rr_build(ev.filter(F.col("event_type") == event_type), 4),
            sub=name,
        )
        return (
            flow_stream(spark, staging, 2)
            .select(F.col("user_id").alias(f"{p}_user"), F.col("ts").alias(f"{p}_ts"))
            .withWatermark(f"{p}_ts", "45 days")
        )

    views = side("views", "view", "v")
    purchases = side("purchases", "purchase", "p")
    joined = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 DAY"))
        & (F.col("v_ts") <= F.col("p_ts")),
    ).select(
        F.col("p_user").alias("user_id"),
        (
            (F.unix_micros("p_ts") - F.unix_micros("v_ts"))
            / F.lit(1000000)
        )
        .cast("bigint")
        .alias("lag_s"),
    )

    sink = c.path("sink")
    with c.stream():
        c.drain(
            joined.writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
        )
    if not os.path.isdir(sink):
        return empty
    out = spark.read.schema("user_id long, lag_s long").parquet(sink)
    return out.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.sum("lag_s").alias("lag_s_sum"),
    )


register(
    "q_stream_join_e2e",
    q_stream_join_e2e,
    """
    WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    v AS (SELECT user_id, ts FROM events WHERE event_type = 'view')
    SELECT p.user_id,
           count(*) AS n_pairs,
           CAST(sum((epoch_us(p.ts) - epoch_us(v.ts)) // 1000000)
                AS BIGINT) AS lag_s_sum
    FROM p JOIN v
      ON p.user_id = v.user_id
     AND v.ts >= p.ts - INTERVAL 1 DAY
     AND v.ts <= p.ts
    GROUP BY p.user_id
    """,
)


def q_stream_session_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming SESSION WINDOWS inside the driver gate — the
    sixth executed-streaming certificate: Spark's stateful
    ``session_window`` aggregation (30-min gap, the q_session_window
    semantics) run as an actual ``availableNow`` writeStream with a
    checkpoint, certified against the batch gap-sessionization oracle.

    Sessions are the hard case for streaming state: windows MERGE as
    late events bridge gaps, so unlike tumbling windows a session's
    extent is only known once the watermark passes its end. The same
    sentinel-advance pattern as q_stream_window_e2e restores
    determinism: a 45-day watermark delay (≥ the fixture's span) makes
    no real row late while files arrive out of event-time order, and
    two far-future sentinel users (+90d/+180d) delivered as single-file
    follow-up batches force the watermark past every real session —
    the sink then holds EXACTLY the batch sessionization, independent
    of file order and batch boundaries. Sentinel sessions are excluded
    by their negative user ids.

    Scale posture: state is one open session per active (user) key —
    O(active keys), evicted at watermark + gap; the 45-day delay here
    is fixture-span sizing, production sizes it to the lateness SLO."""
    gap_min = 30
    ev = load_table(spark, sf_dir, "events")
    mx_us = ev.agg(F.unix_micros(F.max("ts"))).first()[0]
    if mx_us is None:
        return spark.createDataFrame(
            [],
            "user_id bigint, session_start_us bigint, n_events bigint, "
            "cents bigint",
        )
    c = _Cert(spark, sf_dir, "q_stream_session_e2e", "sess")
    staging = c.stage("rr6", _rr_build(ev, 6))
    sink = c.path("sink")

    def run_once(max_files: int) -> None:
        c.drain(
            flow_stream(spark, staging, max_files)
            .withWatermark("ts", "45 days")
            .groupBy(
                "user_id",
                F.session_window("ts", f"{gap_min} minutes").alias("sw"),
            )
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                    "cents"
                ),
            )
            .select(
                "user_id",
                F.unix_micros(F.col("sw.start")).alias("session_start_us"),
                "n_events",
                "cents",
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
        )

    with c.stream():
        run_once(2)  # drains the real data; tail sessions still in state
    _flush_sentinels(c, staging, mx_us, lambda: run_once(1))
    out = spark.read.schema(
        "user_id long, session_start_us long, n_events long, cents long"
    ).parquet(sink)
    return out.filter(F.col("user_id") >= 0)


register(
    "q_stream_session_e2e",
    q_stream_session_e2e,
    """
    WITH flagged AS (
        SELECT user_id, ts, value, event_id,
               -- full-microsecond gap test — Spark's session_window
               -- compares whole timestamps, so an epoch_ms-truncated
               -- oracle would diverge on a gap within 1 ms of exactly
               -- 30 min (ADVICE r5)
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > 1800000000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts, value,
               CAST(sum(new_s) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS session_id
        FROM flagged
    )
    SELECT user_id,
           CAST(epoch_us(min(ts)) AS BIGINT) AS session_start_us,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM sess GROUP BY user_id, session_id
    """,
)



def q_stream_dedup_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` executed inside the driver
    gate — the BOUNDED-STATE sibling of q_stream_dedup: dedup keys are
    evicted once the watermark passes their event time + delay, so
    state is O(arrival rate × dedup horizon) instead of O(stream).
    This is the only dedup you can actually run forever.

    Determinism under at-least-once redelivery: every event is staged
    TWICE (a_/b_ copies, like q_stream_dedup) and the 45-day delay
    exceeds the fixture span, so no key is evicted before its
    duplicate arrives — the emitted set is then exactly one row per
    event_id and the oracle is the plain batch aggregate. (With a
    short delay the API contract only bounds duplicates WITHIN the
    horizon; span-sizing turns the contract into exact dedup, which is
    what makes it oracle-certifiable.)"""
    return _redelivered_dedup(
        spark,
        sf_dir,
        "q_stream_dedup_wm",
        "dwm",
        lambda events: events.withWatermark("ts", "45 days")
        .dropDuplicatesWithinWatermark(["event_id"]),
    )


register(
    "q_stream_dedup_wm",
    q_stream_dedup_wm,
    """
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY event_type
    """,
)


def q_stream_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRASH-RECOVERY streaming certificate (VERDICT r5 task 2): a real
    stream is KILLED mid-run — after its second micro-batch has already
    written to the store but BEFORE the checkpoint committed that batch
    — then a second ``writeStream`` call restarts from the SAME
    checkpoint, replays the uncommitted batch, and finishes. On top of
    the replay, one already-processed input file is REDELIVERED under a
    new name before the restart, so at-least-once delivery is exercised
    both ways a production source produces it: engine-level batch
    replay after a crash, and source-level duplicate delivery.

    The final store state must still equal the batch oracle — which
    holds only because the sink is the reference's consistency model:
    idempotent keyed MERGE (mergeV / coalesce(inE…, addE…),
    neptune_etl_deepflow.py:482-501 batch→per-row retry fallback,
    OPTIMIZATION-CHANGELOG.md) — the replayed batch and the redelivered
    file rewrite their complete (window, src, dst, protocol) groups
    with identical values (day-whole files ⇒ complete groups per file,
    the q_stream_e2e invariant), so every retry converges.

    ``q_stream_restart.last_run_info`` records the injected failure and
    the replayed batch id for the unit test to pin (two starts, one
    crash, batch replay observed)."""
    import pyarrow.parquet as pq

    from ..streaming.store import GraphStore

    ev = load_table(spark, sf_dir, "events")
    c = _Cert(spark, sf_dir, "q_stream_restart", "restart")
    # Day-hashed staging (the q_stream_e2e invariant): replays and
    # redeliveries rewrite COMPLETE aggregates.
    staging = c.stage("day8", _day8_build(ev))
    store = GraphStore(c.path("store"))
    info = {"crashes": 0, "batches": [], "starts": 0}

    def apply(batch: DataFrame, batch_id: int) -> None:
        if not _merge_windows(batch, batch_id, store):
            return
        info["batches"].append(batch_id)
        # Injected crash: batch 1's store write has LANDED but the
        # checkpoint has NOT committed batch 1 — the worst-case
        # at-least-once window. The restarted query must replay batch 1
        # against a store that already contains its effects.
        if batch_id == 1 and info["crashes"] == 0:
            info["crashes"] += 1
            raise RuntimeError("injected crash after store write")

    def writer():
        info["starts"] += 1
        return (
            flow_stream(spark, staging, 3)
            .writeStream.foreachBatch(apply)
            .outputMode("update")
        )

    with c.stream():
        q1 = (
            writer()
            .option("checkpointLocation", c.path("_checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        c.queries.append(q1)
        # The sentinel lives OUTSIDE the try so a run where the crash
        # never fires (or awaitTermination times out with q1 still
        # running) fails loudly instead of being swallowed by the
        # except that matches the injected-crash message (ADVICE r6).
        crashed = False
        terminated = False
        try:
            terminated = q1.awaitTermination(_WAIT_S)
        except Exception as exc:  # StreamingQueryException expected
            if "injected crash" not in str(exc):
                raise
            crashed = True
        if not crashed:
            if not terminated:
                q1.stop()
                raise RuntimeError(
                    "q_stream_restart: q1 still running after timeout; "
                    "crash-replay path not exercised"
                )
            raise RuntimeError(
                "q_stream_restart: first stream terminated cleanly; "
                "the injected crash never fired"
            )
        # Source-level redelivery: one already-processed file comes back
        # under a new name; the restarted stream treats it as new input.
        first = min(os.listdir(staging))
        redelivered = os.path.join(staging, "redelivered-" + first)
        shutil.copy(os.path.join(staging, first), redelivered)
        # The stream really does process that extra file, so the rows
        # it reads (off its parquet footer) join the denominator
        # (ADVICE r8).
        c.rows += pq.ParquetFile(redelivered).metadata.num_rows
        c.drain(writer())

    q_stream_restart.last_run_info = dict(info)
    out = store.read(spark, "edges")
    if out is None:
        return spark.createDataFrame(
            [],
            "win_start bigint, src bigint, dst bigint, protocol string, "
            "calls bigint, value_cents bigint, errors bigint",
        )
    return out


register(
    "q_stream_restart",
    q_stream_restart,
    f"""
    WITH flows AS (
        SELECT CAST(user_id % {SRC_MOD} AS BIGINT) AS src,
               TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
                   % {DST_MOD} AS dst,
               event_type AS protocol,
               value, ts
        FROM events
        WHERE value > 0
    ),
    valid AS (SELECT * FROM flows WHERE src != dst)
    SELECT CAST((epoch_ms(ts) // {STREAM_E2E_WINDOW_MIN * 60 * 1000})
                   * {STREAM_E2E_WINDOW_MIN * 60} AS BIGINT) AS win_start,
           src, dst, protocol,
           count(*) AS calls,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents,
           count(*) FILTER (WHERE value >= {ERROR_THRESHOLD}) AS errors
    FROM valid
    GROUP BY 1, src, dst, protocol
    """,
)


def q_stream_multi_writer(
    spark: SparkSession,
    sf_dir: str,
    mft_a: str = "3",
    mft_b: str = "3",
) -> DataFrame:
    """EXECUTED multi-writer convergence (ST6 executed — VERDICT r6
    task 6): TWO independent ``availableNow`` streams, each with its own
    checkpoint and cadence (``maxFilesPerTrigger`` differs per writer),
    MERGE concurrently into ONE versioned GraphStore with per-source
    COLUMN OWNERSHIP — the reference's actual shape: three pipelines on
    different EventBridge schedules converging on one Neptune store,
    each upserting disjoint property sets onto shared keys
    (lib/neptune-etl-stack.ts:148-238; neptune_etl_aws.py:1227-1241 vs
    neptune_etl_deepflow.py:451-501).

    Writer A owns (n_views, view_cents), writer B owns (n_purchases,
    purchase_cents); both key on (day_start, node_key). Convergence
    argument, executed rather than asserted: (a) ``merge_keyed``'s
    ``preserve_cols`` keeps the other writer's columns untouched on
    every merge — disjoint ownership makes writer interleavings
    commute; (b) the staged input is day-hashed (whole days per file),
    so each writer's (day, key) group is COMPLETE within one
    micro-batch and is written exactly once with its final value;
    (c) store mutations serialize through a single-writer critical
    section (the lakehouse optimistic-transaction seam — Neptune gave
    the reference this via conditional upserts). The final store state
    therefore equals the batch composition — the full-outer join of
    the two batch aggregates — independent of interleaving order
    (pinned by tests/test_streaming.py's invariance test with swapped
    cadences)."""
    import threading

    from ..operators.merge import merge_keyed
    from ..parallel import run_concurrent
    from ..streaming.store import GraphStore

    ev = load_table(spark, sf_dir, "events")
    c = _Cert(spark, sf_dir, "q_stream_multi_writer", "mw")
    staging = c.stage("day8", _day8_build(ev))
    c.rows *= 2  # both writers scan the full staged input
    store = GraphStore(c.path("store"))
    lock = threading.Lock()
    state = {"version": -1, "batches_a": 0, "batches_b": 0}
    keys = ["day_start", "node_key"]
    a_cols = ["n_views", "view_cents"]
    b_cols = ["n_purchases", "purchase_cents"]
    full_schema = (
        "day_start bigint, node_key bigint, n_views bigint, "
        "view_cents bigint, n_purchases bigint, purchase_cents bigint"
    )

    def make_apply(event_type: str, own: list, other: list, counter: str):
        def apply(batch: DataFrame, batch_id: int) -> None:
            agg = (
                batch.filter(F.col("event_type") == event_type)
                .groupBy(
                    (
                        F.floor(F.unix_seconds("ts") / 86400) * 86400
                    ).cast("bigint").alias("day_start"),
                    (F.col("user_id") % 25).cast("bigint").alias("node_key"),
                )
                .agg(
                    F.count("*").alias(own[0]),
                    F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                        own[1]
                    ),
                )
            )
            for col in other:
                agg = agg.withColumn(col, F.lit(None).cast("bigint"))
            agg = agg.select("day_start", "node_key", *a_cols, *b_cols)
            sp = batch.sparkSession
            # Single-writer critical section on the shared store: read
            # latest, merge own columns, publish next version.
            with lock:
                state[counter] += 1
                existing = store.read(sp, "nodes")
                if existing is None:
                    existing = sp.createDataFrame([], full_schema)
                merged = merge_keyed(
                    existing,
                    agg,
                    keys=keys,
                    update_cols=own,
                    preserve_cols=other,
                )
                state["version"] += 1
                store.write(merged, "nodes", state["version"])

        return apply

    def writer(mft: str, apply):
        return (
            flow_stream(spark, staging, mft)
            .writeStream.foreachBatch(apply)
            .outputMode("update")
        )

    wa = writer(mft_a, make_apply("view", a_cols, b_cols, "batches_a"))
    wb = writer(mft_b, make_apply("purchase", b_cols, a_cols, "batches_b"))
    with c.stream():
        run_concurrent(
            lambda: c.drain(wa, "_ckpt_a"), lambda: c.drain(wb, "_ckpt_b")
        )

    q_stream_multi_writer.last_run_info = dict(state)
    out = store.read(spark, "nodes")
    if out is None:
        return spark.createDataFrame([], full_schema)
    return out.select(
        "day_start",
        "node_key",
        F.coalesce("n_views", F.lit(0)).alias("n_views"),
        F.coalesce("view_cents", F.lit(0)).alias("view_cents"),
        F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        F.coalesce("purchase_cents", F.lit(0)).alias("purchase_cents"),
    )


def q_stream_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED streaming ANN-index ingest: new vectors arrive through
    an ``availableNow`` file stream and every micro-batch joins a
    PERSISTED IVF index via the frozen quantizer (``ivf_append`` in
    ``foreachBatch`` — the FAISS ``index.add`` posture on a stream),
    with three raises making the driver's rows-only gate a real
    certificate:

    (a) **micro-batch partitioning is immaterial** — the streamed store
        (4 micro-batches, one O(batch) delta each) answers top-k
        identically to a store whose arrivals were appended in ONE
        batch call;
    (b) **no retraining anywhere past the initial build** — the
        ``KMEANS_CALLS`` counter is pinned across the stream and all
        queries (an ingest path that silently retrains would shift
        cells under 100 TB of already-encoded codes);
    (c) **delta compaction is invisible to readers** — folding the 4
        deltas into one snapshot (``GraphStore.compact``) leaves the
        answer bit-identical and the delta list empty.

    This is the reference's incremental-upsert cadence (EventBridge
    micro-batches into one long-lived Neptune store,
    lib/neptune-etl-stack.ts:148-238) applied to the ANN index: a
    100 TB corpus cannot rebuild its index per arrival batch, so the
    ingest path must be O(batch) and the quantizer frozen.

    Scale posture: each delta write touches only its batch (codes are
    assigned distributed, Arrow-batched); the per-batch driver reads
    are the tiny index-state tables (centroids ≈ √N rows); compaction
    is amortized and crash-safe (store.py). Base/arrival split is
    deterministic (vec_id % 5), so the certificate itself is
    reproducible."""
    from ..operators.equality import multiset_diff_count
    from ..operators.similarity import (
        KMEANS_CALLS,
        _load_ivf_state,
        ivf_append,
        ivf_build,
        ivf_query_persisted,
    )
    from ..parallel import run_concurrent
    from ..streaming.store import GraphStore

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    arrivals = emb.filter(F.col("vec_id") % 5 == 0)

    c = _Cert(spark, sf_dir, "q_stream_ann_ingest", "ann")
    staging = c.stage("annvec4", _rr_build(arrivals, 4))

    store_s = GraphStore(c.path("store_stream"))
    ivf_build(base, store_s, n_clusters=8, version=0)
    # One state load serves every query below: meta/centroids/splits are
    # frozen at build time by the certificate's own contract (store_b is
    # a byte copy of this build; compaction folds only the codes table),
    # so re-reading the three tiny state tables per query is pure fixed
    # cost (r10). The codes themselves are still read per store/version.
    ivf_state = _load_ivf_state(spark, store_s)
    # The one-shot twin starts from THE SAME base snapshot — a file
    # copy, not a second (deterministic, hence identical) build: the
    # certificate compares APPEND paths, so paying a second k-means +
    # assign + snapshot write would add fixed cost without evidence.
    shutil.copytree(c.path("store_stream"), c.path("store_batch"))
    store_b = GraphStore(c.path("store_batch"))

    trained = KMEANS_CALLS["n"]
    state = {"batches": 0}

    def apply(batch: DataFrame, batch_id: int) -> None:
        # Delta versions must sort after the base snapshot (v=0);
        # replaying a batch rewrites its own delta dir — idempotent.
        # state=ivf_state (r11): the quantizer is frozen by the
        # certificate's own contract, so the three tiny state reads run
        # once for the whole batch sequence instead of three driver
        # actions per micro-batch.
        state["batches"] += 1
        ivf_append(batch, store_s, version=batch_id + 1, state=ivf_state)

    writer = (
        spark.readStream.schema("vec_id bigint, embedding array<float>, label int")
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
        .writeStream.foreachBatch(apply)
    )

    # The one-shot twin's append touches ONLY store_b — run it on a
    # parallel driver thread while the stream drains into store_s
    # (guide §2.6: independent jobs back-fill micro-batch gaps).
    # Same delta bytes land either way; the stores never alias.
    def _append_batch() -> None:
        # A failed append stops the stream too, so the draining thread
        # returns instead of sitting out its timeout.
        try:
            ivf_append(arrivals, store_b, version=1, state=ivf_state)
        except BaseException:
            for q in spark.streams.active:
                q.stop()
            raise

    with c.stream():
        run_concurrent(lambda: c.drain(writer, "_ckpt"), _append_batch)

    # The whole lifecycle runs at the stream-sized shuffle width: the
    # cogroup/agg working set here is a few thousand vectors, and 32
    # state/shuffle partitions would be pure per-task fixed cost
    # (same sizing argument as _stream_shuffle's docstring).
    with _stream_shuffle(spark):
        # streamed-vs-batched answers: two independent reads of two
        # frozen stores — parallel threads (§2.6), identical frames.
        # ``streamed`` must be frozen before compact() below retires
        # the deltas it reads: the split diff is the action that fills
        # its cut.
        streamed, batched = run_concurrent(
            lambda: cut(ivf_query_persisted(emb, store_s, k=5, state=ivf_state)),
            lambda: cut(ivf_query_persisted(emb, store_b, k=5, state=ivf_state)),
        )
        split_diff = multiset_diff_count(streamed, batched)
        if split_diff:
            raise RuntimeError(
                "q_stream_ann_ingest: streamed != one-shot append "
                f"({split_diff} rows)"
            )

        # Compact to one past the HIGHEST delta id, not an invocation
        # count — under foreachBatch replay a batch rewrites its own
        # delta (idempotent), so delta ids are the ground truth for
        # "what exists to fold", while counters double-count replays.
        # Empty-deltas fallback anchors on the store's latest snapshot
        # version, NOT a constant: compact(v=1) against a base at N>1
        # would flip _LATEST backwards and re-expose stale deltas in
        # (1, N] (ADVICE r9 — latent, unreachable in this single-
        # compact flow, fixed at the source).
        deltas = store_s.delta_versions("codes")
        state["n_deltas"] = len(deltas)
        fallback = store_s.latest_version("codes") or 0
        store_s.compact(spark, "codes", version=max(deltas, default=fallback) + 1)
        if store_s.delta_versions("codes"):
            raise RuntimeError(
                "q_stream_ann_ingest: compaction left deltas behind"
            )
        # The compaction diff reads it and the caller reads it again.
        compacted = cut(ivf_query_persisted(emb, store_s, k=5, state=ivf_state))
    compact_diff = multiset_diff_count(streamed, compacted)
    if compact_diff:
        raise RuntimeError(
            f"q_stream_ann_ingest: compaction changed answers ({compact_diff} rows)"
        )
    if KMEANS_CALLS["n"] != trained:
        raise RuntimeError(
            "q_stream_ann_ingest: ingest/query path retrained the quantizer"
        )
    q_stream_ann_ingest.last_run_info = dict(state)
    return compacted


# rows-only (k-means state is not SQL-expressible) + three in-query
# equality raises: streamed==batched append, compaction-invariant,
# zero retraining.
register("q_stream_ann_ingest", q_stream_ann_ingest)


register(
    "q_stream_multi_writer",
    q_stream_multi_writer,
    """
    WITH v AS (
        SELECT (epoch_ms(ts) // 86400000) * 86400 AS day_start,
               user_id % 25 AS node_key,
               count(*) AS n_views,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS view_cents
        FROM events WHERE event_type = 'view' GROUP BY 1, 2
    ),
    p AS (
        SELECT (epoch_ms(ts) // 86400000) * 86400 AS day_start,
               user_id % 25 AS node_key,
               count(*) AS n_purchases,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS purchase_cents
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT CAST(coalesce(v.day_start, p.day_start) AS BIGINT) AS day_start,
           CAST(coalesce(v.node_key, p.node_key) AS BIGINT) AS node_key,
           coalesce(n_views, 0) AS n_views,
           coalesce(view_cents, 0) AS view_cents,
           coalesce(n_purchases, 0) AS n_purchases,
           coalesce(purchase_cents, 0) AS purchase_cents
    FROM v
    FULL OUTER JOIN p
      ON v.day_start = p.day_start AND v.node_key = p.node_key
    """,
)
