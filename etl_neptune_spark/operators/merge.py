"""Keyed MERGE (upsert) — the engine's central mutation primitive.

The reference maintains its whole property graph through idempotent
get-or-create merges: Gremlin ``mergeV`` keyed ``(label, name)`` with
distinct ``onCreate``/``onMatch`` property sets
(lambda/etl_aws/neptune_etl_aws.py:209-253), chained batch variants
(lambda/etl_deepflow/neptune_etl_deepflow.py:451-501), and
``coalesce(inE…, addE…)`` for edges (neptune_etl_aws.py:255-275).
Three semantics matter — and were production bug sources there:

1. **onCreate ≠ onMatch** — create-only columns (e.g. ``name``,
   ``created_at``) must never be rewritten on match
   (neptune_etl_aws.py:225-227).
2. **None-preserving updates** — an incoming NULL must not clobber an
   existing value (optional props dropped before upsert,
   neptune_etl_aws.py:332, 1457-1462).
3. **Single-cardinality (last-write-wins) scalars** — omitting
   ``property(single, …)`` produced list-cardinality corruption the
   reference later had to repair (fix_neptune_data.py:32-68). Here a
   column is structurally scalar; set-valued props are explicit
   ``collect_set`` columns.

Spark-first realization: one full-outer shuffle join on the key with
column-wise ``coalesce`` — no Delta/transaction dependency, pure
DataFrame, idempotent (re-merging the same batch is a no-op).

Scale posture (100 TB): the merge is a single co-partitioned
sort-merge join; with both sides bucketed/pre-partitioned by the key
(``df.repartition(n, *keys)`` upstream, or bucketed tables) it runs
shuffle-free. AQE handles skewed keys. No driver-side state.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_keyed(
    existing: DataFrame,
    incoming: DataFrame,
    keys: Sequence[str],
    update_cols: Sequence[str] = (),
    create_only_cols: Sequence[str] = (),
    preserve_cols: Sequence[str] = (),
    null_safe: bool = True,
    dedupe_order: str | None = None,
) -> DataFrame:
    """Merge ``incoming`` into ``existing`` on ``keys``.

    - ``update_cols``: last-write-wins from incoming, but None-preserving
      (``coalesce(incoming, existing)``) — mergeV ``onMatch`` +
      ``property(single, …)``.
    - ``create_only_cols``: set on insert, never rewritten on match
      (``coalesce(existing, incoming)``) — mergeV ``onCreate``.
    - ``preserve_cols``: owned by OTHER writers — copied through from
      ``existing``, never taken from ``incoming`` (NULL on fresh
      inserts). This is the ST6 multi-writer contract: three pipelines
      at different cadences converge on one keyed store because each
      merge touches only its own column namespace
      (SURVEY §2.8 ST6; reference pipelines etl_aws/etl_df/etl_cfn all
      upsert the same vertices with disjoint property sets).
    - Rows present only in ``existing`` survive untouched (merge never
      deletes; deletion is the GC operator's job).
    - ``null_safe``: by default keys match with ``eqNullSafe``. When the
      key space is non-null by construction (the graph's (label, name)
      always is), pass ``False``: plain equality keys let Spark reuse a
      bucketed table's hash distribution, making the merge SHUFFLE-FREE
      on co-bucketed inputs (``eqNullSafe`` compiles to
      hashpartitioning(coalesce(k), isnull(k)), which no bucket layout
      satisfies). Proven by tests/test_bucketing.py.
    - Column order of the output: keys, update_cols, create_only_cols,
      preserve_cols.
    - **Precondition: keys are unique per side.** Duplicate keys in
      ``incoming`` would fan out through the full-outer join and
      duplicate existing rows, breaking the keyed-store invariant (the
      reference's mergeV converges because Gremlin merges per key).
      Pipeline callers guarantee this by pre-aggregating; ad-hoc callers
      can pass ``dedupe_order`` — a column name whose GREATEST value
      wins per key (last-write-wins) — to have incoming deduped here.
    """
    missing = [c for c in (*update_cols, *create_only_cols) if c not in set(existing.columns) | set(incoming.columns)]
    if missing:
        raise ValueError(f"merge columns not present in either side: {missing}")

    value_cols = [*update_cols, *create_only_cols]

    if dedupe_order is not None:
        # Last-write-wins per key: one row_number window on the same key
        # the join shuffles on — the exchange is reused, so the dedupe
        # adds a sort but no extra shuffle.
        from pyspark.sql import Window

        w = Window.partitionBy(*keys).orderBy(F.col(dedupe_order).desc())
        incoming = (
            incoming.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    # Column-rename isolation instead of DataFrame-object references:
    # re-merging a merge output against one of its own inputs is the
    # normal streaming loop, and object references make Spark reject
    # that as an ambiguous self-join.
    def side(df: DataFrame, prefix: str, extra: Sequence[str] = ()) -> DataFrame:
        picked = []
        for k in keys:
            picked.append(F.col(k).alias(f"{prefix}{k}"))
        for c in (*value_cols, *extra):
            src = F.col(c) if c in df.columns else F.lit(None)
            picked.append(src.alias(f"{prefix}{c}"))
        return df.select(*picked)

    ex = side(existing, "__ex_", preserve_cols)
    inc = side(incoming, "__inc_")

    if null_safe:
        cond = [F.col(f"__ex_{k}").eqNullSafe(F.col(f"__inc_{k}")) for k in keys]
    else:
        cond = [F.col(f"__ex_{k}") == F.col(f"__inc_{k}") for k in keys]
    joined = ex.join(inc, cond, "full_outer")

    out = [F.coalesce(f"__ex_{k}", f"__inc_{k}").alias(k) for k in keys]
    out += [F.coalesce(f"__inc_{c}", f"__ex_{c}").alias(c) for c in update_cols]
    out += [F.coalesce(f"__ex_{c}", f"__inc_{c}").alias(c) for c in create_only_cols]
    out += [F.col(f"__ex_{c}").alias(c) for c in preserve_cols]
    return joined.select(*out)


def reset_then_degrade(nodes: DataFrame, alarms: DataFrame) -> DataFrame:
    """ST7 health join-update (neptune_etl_aws.py:2068-2111): every node
    resets to ``healthy``, then the nodes keyed by an ``(label, name)``
    alarm row flip to ``degraded`` — two sequential join-updates, the
    reference's Step-16 shape. Used by the streaming batch apply
    (``streaming.pipeline.apply_health_alarms``); the aws snapshot run
    computes the same column from the alarm flag of its metrics
    aggregate."""
    flagged = alarms.select("label", "name").distinct().withColumn("_alarm", F.lit(True))
    return (
        nodes.withColumn("health_status", F.lit("healthy"))
        .join(flagged, ["label", "name"], "left")
        .withColumn(
            "health_status",
            F.when(F.col("_alarm"), F.lit("degraded")).otherwise(F.col("health_status")),
        )
        .drop("_alarm")
    )
