"""Time-series operators: as-of join, bucketed range join, gap
sessionization.

No reference counterpart (the reference's only temporal logic is the
sliding-lookback filter, SURVEY §2.8 ST2) — these are the standard
event-analytics operators a flow/telemetry store at this scale needs,
implemented with Spark-native plans that stay linear at 100 TB:

- **asof_join** — Spark has no ASOF JOIN; the naive encoding is a
  theta join (``r.ts <= l.ts`` → BroadcastNestedLoop or a per-key
  explosion). This implementation uses the classic union-merge
  layout: tag both sides, union, one window sorted by
  ``(key, ts, side)``, carry the last non-null right payload forward,
  keep left rows. ONE shuffle on the join key, linear scan per
  partition, no row multiplication — the same shape survives a
  1000-executor sort-merge at 100 TB (skewed keys fall out of AQE or
  ``operators.skew`` salting).
- **bucketed_range_join** — a bounded-interval theta join
  (``l.ts - W <= r.ts < l.ts``) re-expressed as an equi join: bucket
  timestamps by the window width, replicate the right side to the
  (at most 2) buckets it can serve, equi-join on ``(key, bucket)``,
  then re-apply the exact predicate. Replication factor is
  ``ceil(span/bucket)+1`` = 2, independent of data size — vs the
  unbounded blowup of a raw inequality join.
- **sessionize** — gap-based session assignment per key: lag + running
  sum over one window, so again one shuffle and a linear scan. Session
  ids are per-key dense integers ordered by time, deterministic under
  ties via the id column. Boundary convention matches Spark's
  ``session_window``: a gap of AT MOST ``gap`` keeps the session alive
  (Spark merges a window whose start touches the previous window's
  end, so only a gap STRICTLY GREATER than ``gap`` splits).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..boundary import map_batches


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    payload: list[str],
    right_order: str | None = None,
    direction: str = "backward",
    tolerance_sec: int | None = None,
) -> DataFrame:
    """For each left row, attach one right payload row on the same key
    (left outer: unmatched left rows keep null payload) — pandas
    ``merge_asof`` semantics, distributed:

    - ``direction='backward'``: latest right with ``r.ts <= l.ts``.
    - ``direction='forward'``: earliest right with ``r.ts >= l.ts``.
    - ``direction='nearest'``: whichever of the two is closer in time
      (ties break backward, like pandas).
    - ``tolerance_sec``: matches farther than this from the left
      timestamp are nulled out.

    ``right_order`` breaks ties among right rows sharing (key, ts) —
    the greatest value wins; without it, pre-dedupe the right side.
    All left columns are preserved; payload columns are appended.

    The payload is carried as ONE struct, not per-column: the matched
    right row is taken atomically, so a NULL field in the matched row
    stays NULL instead of back-filling from an older row (which would
    fabricate a row that never existed).

    Plan shape: tag both sides, union, ONE window sorted by
    ``(key, ts, side)`` carrying the last (and for forward/nearest the
    next) non-null payload struct; keep left rows. One shuffle on the
    join key, linear scan per partition, no row multiplication — the
    same shape survives a 1000-executor sort-merge at 100 TB.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown direction {direction!r}")
    l_cols = left.columns
    order_col = right_order or payload[0]
    r = right.select(
        F.col(on).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.col(order_col).alias("__ord"),
        F.lit(0).alias("__side"),
        F.struct(
            F.col(right_ts).alias("__mts"),
            *[F.col(c).alias(c) for c in payload],
        ).alias("__p"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in l_cols],
    )
    l = left.select(
        F.col(on).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(None).cast(right.schema[order_col].dataType).alias("__ord"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r.schema["__p"].dataType).alias("__p"),
        *l_cols,
    )
    both = r.unionByName(l)
    # Backward scan (ascending ts): right rows sort before left rows at
    # equal ts (<= semantics); among equal-ts right rows the greatest
    # __ord is seen last, i.e. wins. Forward scan (descending ts): right
    # rows again before left at equal ts (>= includes equality; __side
    # ascending), so last-seen = the smallest right ts at or after the
    # left row, greatest __ord winning among equal-ts rights.
    w_back = (
        Window.partitionBy("__k")
        .orderBy("__ts", "__side", "__ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("__k")
        .orderBy(F.col("__ts").desc(), F.col("__side").asc(), F.col("__ord"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    need_back = direction in ("backward", "nearest")
    need_fwd = direction in ("forward", "nearest")
    if need_back:
        both = both.withColumn("__fb", F.last("__p", ignorenulls=True).over(w_back))
    if need_fwd:
        both = both.withColumn("__ff", F.last("__p", ignorenulls=True).over(w_fwd))

    out = both.filter(F.col("__side") == 1)
    lts = F.col("__ts").cast("timestamp")

    def within(match):
        if tolerance_sec is None:
            return match
        gap = F.abs(
            F.unix_millis(lts) - F.unix_millis(match["__mts"].cast("timestamp"))
        )
        return F.when(gap <= tolerance_sec * 1000, match)

    if direction == "backward":
        chosen = within(F.col("__fb"))
    elif direction == "forward":
        chosen = within(F.col("__ff"))
    else:
        b, f = within(F.col("__fb")), within(F.col("__ff"))
        gap_b = F.unix_millis(lts) - F.unix_millis(b["__mts"].cast("timestamp"))
        gap_f = F.unix_millis(f["__mts"].cast("timestamp")) - F.unix_millis(lts)
        chosen = (
            F.when(b.isNull(), f)
            .when(f.isNull(), b)
            .when(gap_f < gap_b, f)  # ties (gap_f == gap_b) go backward
            .otherwise(b)
        )
    out = out.withColumn("__f", chosen)
    return out.select(
        *l_cols, *[F.col("__f")[c].alias(f"r_{c}") for c in payload]
    )


def bucketed_range_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    window_sec: int,
) -> DataFrame:
    """Pairs ``(left, right)`` with the same key and
    ``left.ts - window <= right.ts < left.ts`` (right strictly before
    left, within the window), as an equi join on ``(key, time-bucket)``.

    Right rows replicate to 2 buckets (their own and the next); the
    exact interval predicate filters after the hash join, so Catalyst
    plans a plain shuffled/broadcast hash join instead of a
    nested-loop. Column name collisions are avoided by prefixing right
    columns with ``r_``.
    """
    bucket = F.lit(window_sec).cast("long")
    r_cols = right.columns
    r = (
        right.select(
            F.col(on).alias("__k"),
            F.col(right_ts).alias("__rts"),
            *[F.col(c).alias(f"r_{c}") for c in r_cols],
        )
        .withColumn("__b0", (F.unix_timestamp(F.col("__rts")) / bucket).cast("long"))
        .withColumn("__off", F.explode(F.array(F.lit(0), F.lit(1))))
        .withColumn("__b", F.col("__b0") + F.col("__off"))
        .drop("__b0", "__off")
    )
    l = left.withColumn(
        "__b", (F.unix_timestamp(F.col(left_ts)) / bucket).cast("long")
    ).withColumn("__k", F.col(on))
    pairs = l.join(r, ["__k", "__b"], "inner").filter(
        (F.col("__rts") >= F.col(left_ts) - F.expr(f"INTERVAL {window_sec} SECONDS"))
        & (F.col("__rts") < F.col(left_ts))
    )
    return pairs.drop("__k", "__b", "__rts")


def scd2_compact(
    df: DataFrame,
    key: str,
    attr: str,
    ts_col: str,
    order_col: str | None = None,
) -> DataFrame:
    """Collapse a keyed event stream into SCD-2 validity intervals:
    consecutive events with an unchanged ``attr`` merge into one row
    ``(key, attr, valid_from, valid_to, n_events, is_current)``, where
    ``valid_to`` is the next interval's start (NULL on the current
    interval) — the standard slowly-changing-dimension compaction of a
    change-data stream.

    Plan: one shuffle on the key, then linear window scans (lag to mark
    change points, running sum to number segments, lead for the
    interval chain) — the same single-shuffle shape as sessionize, so
    it holds at 100 TB with AQE handling key skew. NULL attr values
    compare via null-safe equality (a NULL run is one interval).
    """
    order = [ts_col] + ([order_col] if order_col else [])
    w = Window.partitionBy(key).orderBy(*order)
    run = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev = F.lag(attr).over(w)
    first = F.row_number().over(w) == 1
    changed = F.when(first | ~prev.eqNullSafe(F.col(attr)), F.lit(1)).otherwise(
        F.lit(0)
    )
    seg = df.withColumn("__seg", F.sum(changed).over(run))
    intervals = seg.groupBy(key, "__seg", attr).agg(
        F.min(ts_col).alias("valid_from"),
        F.count("*").alias("n_events"),
    )
    chain = Window.partitionBy(key).orderBy("valid_from")
    return (
        intervals.withColumn("valid_to", F.lead("valid_from").over(chain))
        .withColumn("is_current", F.col("valid_to").isNull())
        .select(key, attr, "valid_from", "valid_to", "n_events", "is_current")
    )


def sessionize(
    events: DataFrame,
    on: str,
    ts_col: str,
    gap_sec: int,
    order_col: str | None = None,
) -> DataFrame:
    """Assign a per-key dense ``session_id`` (1-based, time-ordered):
    a new session starts when the gap since the previous event is
    strictly ``> gap_sec`` (Spark ``session_window`` boundary
    convention — touching windows merge)."""
    order = [ts_col] + ([order_col] if order_col else [])
    w = Window.partitionBy(on).orderBy(*order)
    run = (
        Window.partitionBy(on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # .cast("timestamp") is a no-op on TimestampType and an exact
    # reinterpretation of TIMESTAMP_NTZ under the UTC-pinned session —
    # unix_micros rejects NTZ input outright (belt-and-braces alongside
    # the load_table normalization). Gap compares FULL microsecond
    # precision — Spark's session_window convention; an ms-truncated
    # compare would classify a gap within 1 ms of the threshold
    # differently from session_window (ADVICE r5).
    ts = F.col(ts_col).cast("timestamp")
    gap_us = F.unix_micros(ts) - F.unix_micros(F.lag(F.col(ts_col)).over(w).cast("timestamp"))
    new_session = F.when(
        gap_us.isNull() | (gap_us > gap_sec * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    return events.withColumn(
        "session_id", F.sum(new_session).over(run).cast("long")
    )


def _keyed_scan(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    id_col: str,
    state_cols: tuple[str, ...],
    seed,
    step,
) -> DataFrame:
    """The keyed sequential-recurrence scan ``ewma`` and ``holt`` share:
    ONE keyed repartition + in-partition (key, ts, id) sort, then a
    streaming ``mapInArrow`` pass that carries (key, state) across
    Arrow batch boundaries. ``seed(x)`` starts a key's state tuple at
    its first value, ``step(state, x)`` folds in each later one; every
    row emits its state. A null value folds in as NaN and every NaN
    leaves as null."""

    def kernel(batches):
        # Rows arrive (key, ts, id)-sorted within the partition and a
        # key never spans partitions, so the carry resets exactly at key
        # boundaries. Keys compare as Python values (None == None), so a
        # null-key run is one group, matching the grouped form this
        # kernel replaced, instead of restarting every row.
        started, ck, state = False, None, ()
        for batch in batches:
            keys, ids, vals = (
                batch.column(c).to_pylist() for c in (key_col, id_col, val_col)
            )
            xs, cols = [], [[] for _ in state_cols]
            for k, v in zip(keys, vals):
                x = math.nan if v is None else float(v)
                if started and k == ck:
                    state = step(state, x)
                else:
                    started, ck, state = True, k, seed(x)
                xs.append(x)
                for col, sv in zip(cols, state):
                    col.append(sv)
            yield [keys, ids, xs, *cols]

    ordered = (
        df.select(key_col, ts_col, id_col, val_col)
        .repartition(key_col)
        # nulls LAST to match the pandas sort (na_position='last') of
        # the grouped kernel this replaced — a null-ts row folds in
        # after the real series, never as the seed
        .sortWithinPartitions(
            F.col(key_col).asc_nulls_last(),
            F.col(ts_col).asc_nulls_last(),
            F.col(id_col).asc_nulls_last(),
        )
    )
    return map_batches(
        ordered,
        kernel,
        f"{key_col} bigint, {id_col} bigint, {val_col} double, "
        + ", ".join(f"{c} double" for c in state_cols),
    )


def ewma(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    id_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Per-key exponentially weighted moving average —
    ``y_t = alpha·x_t + (1−alpha)·y_{t−1}``, seeded ``y_1 = x_1``.

    A sequential recurrence has no shuffle-free SQL form (each row
    depends on ALL its predecessors), so this is the documented
    Python-boundary case (SCALE.md §Python boundary policy): the keyed
    streaming ``mapInArrow`` scan of ``_keyed_scan``. Versus a per-group
    ``applyInArrow`` form this removes the per-key kernel-invocation
    overhead (one Python call per Arrow batch, not per key — the
    difference is 10² – 10⁴× fewer calls on real key cardinalities)
    and never materializes a whole group: state is ONE scalar per
    in-flight key, so memory is bounded by the batch size even if the
    hottest key holds a billion rows — strictly better than
    group-at-a-time at 100 TB. The recurrence is evaluated with the
    explicit op order ``alpha·x + (1−alpha)·y`` so an oracle computing
    the identical IEEE doubles sequence (e.g. a recursive CTE) matches
    bit-for-bit — pandas' own ``ewm`` is NOT used because its kernel
    associates the update differently (``y + alpha·(x−y)``), which
    rounds differently.
    """
    a = float(alpha)
    b = 1.0 - a
    return _keyed_scan(
        df,
        key_col,
        ts_col,
        val_col,
        id_col,
        ("ewma",),
        lambda x: (x,),
        lambda s, x: (a * x + b * s[0],),
    )


def holt(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    id_col: str,
    alpha: float = 0.5,
    beta: float = 0.3,
) -> DataFrame:
    """Per-key Holt double-exponential smoothing (level + additive
    trend) — the forecasting-grade successor of ``ewma``:

        level_1 = x_1,  trend_1 = 0
        level_t = α·x_t + (1−α)·(level_{t−1} + trend_{t−1})
        trend_t = β·(level_t − level_{t−1}) + (1−β)·trend_{t−1}

    Same Python-boundary posture as ``ewma`` (a two-state sequential
    recurrence has no shuffle-free SQL form): the keyed streaming
    ``mapInArrow`` scan of ``_keyed_scan``, carrying (key, level,
    trend) across Arrow batch boundaries — one Python call per batch,
    state one pair of scalars per in-flight key. The update is
    evaluated in the EXACT op order written above so a recursive-CTE
    oracle computing the identical IEEE double sequence matches
    bit-for-bit (the q_ewma certification recipe)."""
    a, b = float(alpha), 1.0 - float(alpha)
    g, d = float(beta), 1.0 - float(beta)

    def step(s, x):
        level = a * x + b * (s[0] + s[1])
        return level, g * (level - s[0]) + d * s[1]

    return _keyed_scan(
        df,
        key_col,
        ts_col,
        val_col,
        id_col,
        ("level", "trend"),
        lambda x: (x, 0.0),
        step,
    )
