"""Distributed ordered prefix aggregation — exact global ranks,
row numbers, ntiles, and cumulative sums WITHOUT a single-partition
window.

The reference computes rank-style readouts (degree/health tables,
neptune_etl_deepflow.py:536-617) per batch where the ranked dimension
is small; at 100 TB the ranked frame (users, eval scores, distinct
values) grows with the data, and ``Window.orderBy(...)`` with no
partition key serializes the whole frame through ONE task. This module
is the scale-safe replacement, generalizing the two-phase block-offset
recipe proven in ``operators/packing.py``:

1. ``repartitionByRange`` on the order key — Spark's range exchange
   puts every row of partition *p* before every row of partition *p+1*
   under the order, and spreads the frame across the cluster.
2. A partition-local cumulative window (``partitionBy(_pid)``) — each
   task sorts only its own range slice.
3. A one-row-per-partition offset table (metadata-scale: one row per
   shuffle partition, NOT per data row) carries the exclusive prefix
   totals; it is broadcast back and added to the local cumsums.

Exactness: all shipped callers cumsum BIGINT counts, so the result is
the same exact integer a global window would produce, independent of
where the range boundaries land, PROVIDED the order is total (callers
append a unique tiebreaker column). Float sums would lose this
guarantee (addition order changes) — don't pass them.

Determinism of the pid join: the offset table and the data path both
derive from the same range exchange, which Catalyst deduplicates via
ReuseExchange; independently, Spark's RangePartitioner samples split
points with a per-partition-index deterministic seed, so even a
recomputed exchange assigns identical pids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import cut

# Test hook (ADVICE r5): the cut below truncates consumers'
# visible plans at an ExistingRDD scan, hiding the range exchange from
# plan-shape tests. When a test sets this to a list, every prefix_sums
# call appends its PRE-checkpoint physical plan so the test can assert
# the range exchange is really there. None (the default) skips the
# capture entirely — zero cost in production.
PRECHECKPOINT_PLANS: list[str] | None = None


def prefix_sums(
    df: DataFrame,
    order_by: list[Column],
    sums: dict[str, Column] | None = None,
    *,
    row_number: str | None = None,
    totals: dict[str, str] | None = None,
    npartitions: int | None = None,
) -> DataFrame:
    """Attach exact inclusive cumulative sums (and optionally a global
    row number and grand totals) under a total order, distributed.

    Args:
        order_by: sort expressions defining the (total) order — include
            a unique tiebreaker for deterministic results.
        sums: ``{out_col: expr}`` — inclusive running sum of ``expr``
            in order. Exact for integral types only.
        row_number: name for a 1-based global row number column
            (the running count — equivalent to ``row_number()`` over
            the total order).
        totals: ``{out_col: sum_out_col}`` — also attach the grand
            total of a ``sums``/``row_number`` column to every row
            (free: it falls out of the offset table, no extra pass).
        npartitions: range partitions (default: shuffle partitions).
    """
    sums = dict(sums or {})
    if row_number is not None:
        sums[row_number] = F.lit(1).cast("bigint")
    if not sums:
        raise ValueError("prefix_sums needs at least one sum or row_number")
    totals = dict(totals or {})
    for tot_out, src in totals.items():
        if src not in sums:
            raise ValueError(f"totals[{tot_out!r}] references unknown sum {src!r}")

    spark = df.sparkSession
    if npartitions is None:
        npartitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    # NOTE on a rejected fast path: deriving the local rank from
    # monotonically_increasing_id after the range sort (skipping the
    # pid window) measured SLOWER — the nondeterministic id blocks
    # exchange-subtree canonicalization, so the offset branch re-runs
    # the range shuffle instead of reusing it. The window form keeps
    # ONE range exchange shared by both branches.
    rp = df.repartitionByRange(npartitions, *order_by)
    tmp_of = {name: f"_ps{i}" for i, name in enumerate(sums)}
    for name, expr in sums.items():
        rp = rp.withColumn(tmp_of[name], expr)
    rp = rp.withColumn("_pid", F.spark_partition_id())
    # Cut the pid-stamped frame before it fans out to the two
    # consumers (local-rank window + per-partition offset table).
    # spark_partition_id() is nondeterministic: when exchange reuse
    # fails (AQE re-planning — first observed at the sf1 fixture, where
    # it silently shifted 97% of ranks), each branch re-executes the
    # range shuffle and assigns DIFFERENT pids, misaligning offsets
    # against local ranks. The cut is a freeze correctness needs: it
    # pins one assignment for both branches. The frame is the collapsed
    # rank input (per-key scale), not the corpus, so the
    # materialization is bounded.
    if PRECHECKPOINT_PLANS is not None:
        PRECHECKPOINT_PLANS.append(
            rp._jdf.queryExecution().executedPlan().toString()
        )
    rp = cut(rp)

    w_local = (
        Window.partitionBy("_pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = rp
    for name in sums:
        out = out.withColumn(f"_loc_{tmp_of[name]}", F.sum(tmp_of[name]).over(w_local))

    # One row per shuffle partition — the ONLY globally-ordered frame,
    # bounded by npartitions (metadata scale), then broadcast back.
    per_pid = rp.groupBy("_pid").agg(
        *[F.sum(tmp_of[name]).alias(f"_tot_{tmp_of[name]}") for name in sums]
    )
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    off_cols = [F.col("_pid")]
    for name in sums:
        t = tmp_of[name]
        off_cols.append(
            F.coalesce(F.sum(f"_tot_{t}").over(w_off), F.lit(0)).alias(f"_off_{t}")
        )
        off_cols.append(F.sum(f"_tot_{t}").over(w_all).alias(f"_all_{t}"))
    offs = per_pid.select(*off_cols)

    joined = out.join(F.broadcast(offs), "_pid")
    keep = [c for c in df.columns]
    sel = [F.col(c) for c in keep]
    for name in sums:
        t = tmp_of[name]
        sel.append((F.col(f"_loc_{t}") + F.col(f"_off_{t}")).alias(name))
    for tot_out, src in totals.items():
        sel.append(F.col(f"_all_{tmp_of[src]}").alias(tot_out))
    return joined.select(*sel)


def ntile_from_rank(i: Column, n: Column, k: int) -> Column:
    """SQL ``NTILE(k)`` bucket from an exact 1-based row number ``i``
    and the frame size ``n`` — the first ``n % k`` buckets take
    ``n div k + 1`` rows, the rest ``n div k`` (the ANSI definition
    DuckDB and Spark share). Pure integer arithmetic on columns, so a
    distributed row number (``prefix_sums``) replaces the
    single-partition ``ntile`` window with identical output."""
    kk = F.lit(k).cast("bigint")
    q = (n - n % kk) / kk  # n div k, exact (operands integral)
    q = q.cast("bigint")
    r = n - q * kk
    big = q + F.lit(1)
    cutoff = r * big
    # guard q=0 (n < k): cutoff = r = n, so the otherwise-branch is
    # never selected, but Spark still evaluates it — avoid div-by-zero
    den = F.greatest(q, F.lit(1).cast("bigint"))
    head = ((i - 1) - (i - 1) % big) / big + 1
    tail = r + ((i - cutoff - 1) - (i - cutoff - 1) % den) / den + 1
    return (
        F.when(i <= cutoff, head).otherwise(tail).cast("bigint")
    )
