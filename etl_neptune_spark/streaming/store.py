"""Versioned parquet keyed store — the streaming sink's state.

The reference's store is a Neptune property graph mutated by
idempotent ``mergeV``/``coalesce(inE…, addE…)`` upserts; re-running a
batch converges to the same state (that is its whole consistency
model — no transactions, at-least-once safe; SURVEY §4 last row).

Spark-first equivalent: each micro-batch writes the FULL merged table
to a fresh ``v=<batch_id>`` directory, then flips a ``_LATEST``
pointer file via atomic rename. Properties:

- **Idempotent**: re-applying batch N rebuilds ``v=N`` in a staging
  dir from the same inputs and republishes identical bytes — a no-op.
- **No read/overwrite conflict**: writes land in a staging dir and
  rename over, so a merge can read ``v=N`` even while replaying batch
  N after a crash (Spark cannot read and overwrite one path in one
  job; staging sidesteps it for every committer/filesystem).
- **Atomic visibility**: readers resolve ``_LATEST`` then read one
  immutable snapshot — exactly the view a Delta/Iceberg commit gives;
  this class is the no-dependency stand-in, and the interface (read /
  write-version / prune) is what a ``MERGE INTO``-backed impl would
  keep.

- **Schema recorded with the snapshot**: every published directory
  (``v=N`` and ``delta=N``) carries a ``_schema.json`` — the Spark
  schema its writer had, written into the staging dir before the
  rename, so it is atomic with the version. Readers pass it to
  ``spark.read.schema(...)`` and launch no parquet schema-inference
  job; Spark's file listing skips ``_``-prefixed files. A directory
  without the file (written before it existed) is read by inference.

At 100 TB the same layout holds with the table partitioned by
``label`` (+ bucketed by key for shuffle-free merges); old versions
are pruned after each flip.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

SCHEMA_FILE = "_schema.json"


def _record_schema(path: str, schema: T.StructType) -> None:
    """Write ``schema`` next to the parquet files in ``path``. Spark
    itself moves partition columns last and makes every field nullable
    on read, so the writer's schema is recorded as is."""
    with open(os.path.join(path, SCHEMA_FILE), "w") as f:
        f.write(schema.json())


def _read_parquet(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Read published directories with their recorded schema when they
    all carry the same one; otherwise let Spark infer it."""
    recorded = set()
    for p in paths:
        try:
            with open(os.path.join(p, SCHEMA_FILE)) as f:
                recorded.add(f.read())
        except FileNotFoundError:
            recorded.add(None)
    reader = spark.read
    if len(recorded) == 1 and None not in recorded:
        reader = reader.schema(T.StructType.fromJson(json.loads(recorded.pop())))
    return reader.parquet(*paths)


def _arrow_to_spark(t) -> T.DataType | None:
    """The Spark type parquet inference gives a pyarrow-written column
    of type ``t``, for the plain types whose mapping is one-to-one;
    None for any other (timestamps, unsigned, dictionaries, …)."""
    import pyarrow as pa

    if pa.types.is_list(t):
        inner = _arrow_to_spark(t.value_type)
        return None if inner is None else T.ArrayType(inner)
    return {
        pa.int8(): T.ByteType(),
        pa.int16(): T.ShortType(),
        pa.int32(): T.IntegerType(),
        pa.int64(): T.LongType(),
        pa.float32(): T.FloatType(),
        pa.float64(): T.DoubleType(),
        pa.bool_(): T.BooleanType(),
        pa.string(): T.StringType(),
        pa.binary(): T.BinaryType(),
    }.get(t)


class GraphStore:
    """Keyed snapshot store under ``root/<table>/v=<version>/``."""

    def __init__(self, root: str, keep_versions: int = 2) -> None:
        self.root = root
        self.keep_versions = keep_versions

    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _pointer(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "_LATEST")

    def _layout_file(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "_PARTITION_BY")

    def partition_layout(self, table: str) -> tuple[str, ...]:
        """The hive-partition columns of the latest snapshot, as
        recorded by ``write`` — so maintenance rewrites (``compact``)
        can preserve the layout the original writer established instead
        of silently flattening it (ADVICE r7: the first compaction of
        an ivf_build store dropped the ``cell`` partitioning that makes
        probe reads partition-prunable)."""
        try:
            with open(self._layout_file(table)) as f:
                raw = f.read().strip()
            return tuple(c for c in raw.split(",") if c)
        except FileNotFoundError:
            return ()

    def latest_version(self, table: str) -> int | None:
        try:
            with open(self._pointer(table)) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def read(
        self, spark: SparkSession, table: str, *, delta_before: int | None = None
    ) -> DataFrame | None:
        """The latest committed state: base snapshot (if any) plus any
        appended deltas newer than it (see ``append_delta``). None
        before the first write.

        ``delta_before``: exclude deltas ≥ this version — a replaying
        batch N passes N so a stale ``delta=N`` from its own crashed
        prior attempt is invisible, keeping the replay bit-identical to
        the first run."""
        v = self.latest_version(table)
        base = None if v is None else self.read_version(spark, table, v)
        deltas = [
            d
            for d in self.delta_versions(table)
            if (v is None or d > v) and (delta_before is None or d < delta_before)
        ]
        if not deltas:
            return base
        ddf = _read_parquet(
            spark, [os.path.join(self._table_dir(table), f"delta={d}") for d in deltas]
        )
        return ddf if base is None else base.unionByName(ddf)

    def read_version(
        self, spark: SparkSession, table: str, version: int
    ) -> DataFrame | None:
        """Time travel: read one retained snapshot version (None if it
        was pruned or never written) — the Delta/Iceberg `VERSION AS OF`
        surface for this store. ``keep_versions`` bounds how far back.

        The version's ``_schema.json`` supplies the schema, so the read
        launches no inference job. A partition column then reads back
        with the type it was written with (a string ``cell`` stays
        string even when every value is numeric); a directory without
        the file falls back to inference, where it would read as int."""
        path = os.path.join(self._table_dir(table), f"v={version}")
        if not os.path.isdir(path):
            # Crash-window fallback (VERDICT r8 task 4): a kill between
            # retiring the live dir and renaming the staged one over it
            # leaves the committed snapshot parked at ``v=N.old``; the
            # reader must see that complete copy, never a torn/missing
            # version. The next (idempotent) publish of v=N restores the
            # primary dir and sweeps the retired copy.
            retired = path + ".old"
            if not os.path.isdir(retired):
                return None
            path = retired
        return _read_parquet(spark, [path])

    def versions(self, table: str) -> list[int]:
        """Retained snapshot versions, oldest first. A crash-window
        retired copy (``v=<n>.old`` whose primary ``v=<n>`` is missing
        — see read_version's fallback) counts as version n: time-travel
        iterators must see the same committed set the reader can
        actually serve (ADVICE r9)."""
        tdir = self._table_dir(table)
        if not os.path.isdir(tdir):
            return []
        live: set[int] = set()
        retired: set[int] = set()
        for d in os.listdir(tdir):
            if not d.startswith("v="):
                continue
            tail = d.split("=", 1)[1]
            if tail.lstrip("-").isdigit():
                live.add(int(tail))
            elif tail.endswith(".old") and tail[:-4].lstrip("-").isdigit():
                retired.add(int(tail[:-4]))
        return sorted(live | retired)

    def write(
        self,
        df: DataFrame,
        table: str,
        version: int,
        partition_by: tuple[str, ...] = (),
    ) -> None:
        """Write one snapshot version and atomically flip the pointer.

        ``partition_by`` (e.g. ``("label",)`` for the node table) lays
        the snapshot out hive-partitioned, so per-label readers — the
        GC anti-joins, label-scoped enrichment — scan only their
        partition (PartitionFilters, proven in tests/test_streaming.py).
        At 100 TB this is the difference between reading one label and
        reading the store."""
        tdir = self._table_dir(table)
        final = os.path.join(tdir, f"v={version}")
        # Stage-then-rename: crash-recovery can replay batch N after
        # _LATEST already points at N, making the merge READ v=N in the
        # same job that rewrites it — the read-while-overwrite Spark
        # cannot do against one path. Writing to a staging dir and
        # renaming over keeps the live dir untouched until the job is
        # done; re-publishing the same version is then a safe no-op
        # (the merge re-converges to identical bytes).
        staging = os.path.join(tdir, f".staging-v={version}")
        shutil.rmtree(staging, ignore_errors=True)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)
        _record_schema(staging, df.schema)
        self._publish_staged(table, version, staging, partition_by)

    def write_arrow(self, tbl, table: str, version: int) -> None:
        """Driver-local snapshot publish for METADATA-SCALE tables.

        Identical layout, pointer flip and crash-safe publish sequence
        as ``write``, but the parquet lands via one in-process pyarrow
        write instead of a Spark job — a snapshot whose content already
        lives on the driver (IVF centroids ≈ √N rows, meta 1 row,
        splits ≈ oversized-cell count) costs a full fixed-size Spark
        job per table otherwise (~0.5 s each, ×3 per index build).
        Callers pass a ``pyarrow.Table`` whose schema matches what the
        Spark reader expects; ``spark.read.parquet`` sees the same
        types it would from a Spark-written snapshot. The schema is
        recorded only when every column has a one-to-one Arrow→Spark
        mapping (``_arrow_to_spark``); otherwise reads infer it."""
        import pyarrow.parquet as pq

        tdir = self._table_dir(table)
        staging = os.path.join(tdir, f".staging-v={version}")
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        pq.write_table(tbl, os.path.join(staging, "part-00000.parquet"))
        types = [_arrow_to_spark(f.type) for f in tbl.schema]
        if None not in types:
            fields = [T.StructField(f.name, t) for f, t in zip(tbl.schema, types)]
            _record_schema(staging, T.StructType(fields))
        self._publish_staged(table, version, staging, ())

    def _publish_staged(
        self,
        table: str,
        version: int,
        staging: str,
        partition_by: tuple[str, ...],
    ) -> None:
        """Crash-safe publish of a fully-written staging dir.

        Publish order is crash-safe at every cut (VERDICT r8 task 4):
        the retired copy of an existing v=<version> survives until the
        staged dir has landed, so a kill between the two renames
        leaves the committed bytes at ``v=N.old`` where read_version's
        fallback finds them — a reader never observes a torn or
        missing version, and re-running the same publish converges."""
        final = os.path.join(self._table_dir(table), f"v={version}")
        retired = final + ".old"
        if os.path.exists(final):
            shutil.rmtree(retired, ignore_errors=True)
            os.rename(final, retired)
        os.rename(staging, final)
        shutil.rmtree(retired, ignore_errors=True)
        # Record the snapshot's partition layout (atomically, like the
        # pointer) BEFORE the pointer flip — the flip is the commit
        # point; everything after it must be pure cleanup.
        ltmp = self._layout_file(table) + ".tmp"
        with open(ltmp, "w") as f:
            f.write(",".join(partition_by))
        os.replace(ltmp, self._layout_file(table))
        tmp = self._pointer(table) + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, self._pointer(table))
        self._prune(table, version)

    def delta_versions(self, table: str) -> list[int]:
        """Appended delta versions not yet compacted, oldest first."""
        tdir = self._table_dir(table)
        if not os.path.isdir(tdir):
            return []
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(tdir)
            if d.startswith("delta=") and d.split("=", 1)[1].lstrip("-").isdigit()
        )

    def append_delta(self, df: DataFrame, table: str, version: int) -> None:
        """Append one batch's NEW rows as an immutable ``delta=<version>``
        directory — an O(batch) write, vs ``write``'s O(table) snapshot
        rewrite. ``read`` unions the base snapshot with newer deltas;
        ``compact`` periodically folds deltas into a snapshot so the
        file count stays bounded. Replaying a batch rewrites the same
        delta dir from the same inputs — idempotent, like ``write``.

        This is the ingest-path posture the reference's idempotent
        mergeV upserts imply (etl_aws/neptune_etl_aws.py:209-253): a
        micro-batch touches only its own keys, never the whole store."""
        tdir = self._table_dir(table)
        final = os.path.join(tdir, f"delta={version}")
        staging = os.path.join(tdir, f".staging-delta={version}")
        shutil.rmtree(staging, ignore_errors=True)
        df.write.mode("overwrite").parquet(staging)
        _record_schema(staging, df.schema)
        # Same crash-safe publish order as ``write``: the retired copy
        # survives until the staged dir lands (a replayed batch rewrites
        # this delta anyway, but the ordering keeps every cut readable).
        retired = final + ".old"
        if os.path.exists(final):
            shutil.rmtree(retired, ignore_errors=True)
            os.rename(final, retired)
        os.rename(staging, final)
        shutil.rmtree(retired, ignore_errors=True)

    def compact(
        self,
        spark: SparkSession,
        table: str,
        version: int,
        target_files: int | None = None,
        partition_by: tuple[str, ...] | None = None,
    ) -> None:
        """Fold the base snapshot + all deltas ≤ ``version`` into one
        snapshot ``v=<version>`` and drop the folded deltas. Amortized:
        call every K batches; crash between publish and delta removal is
        safe (``read`` ignores deltas ≤ the snapshot version, and the
        next compact sweeps them).

        ``partition_by=None`` (the default) PRESERVES the latest
        snapshot's recorded hive layout — compaction is a maintenance
        rewrite, not a schema decision, so an ivf_build store
        partitioned by ``cell`` stays partition-prunable after its
        first compaction (ADVICE r7). Pass an explicit tuple (possibly
        empty) to change the layout deliberately.

        The merged union carries one partition per folded file, so an
        uncoalesced write would republish as many files as it folded —
        compaction that never shrinks the layout (caught by the r6
        read-cost test). ``coalesce`` to ``target_files`` (default: the
        session shuffle width) bounds the snapshot without a shuffle;
        at 100 TB size-aware binning (operators/cdc.py compaction_bins)
        picks the target from the manifest instead."""
        merged = self.read(spark, table)
        if merged is None:
            return
        if target_files is None:
            target_files = int(
                spark.conf.get("spark.sql.shuffle.partitions", "32")
            )
        merged = merged.coalesce(max(1, target_files))
        if partition_by is None:
            partition_by = self.partition_layout(table)
        folded = [d for d in self.delta_versions(table) if d <= version]
        self.write(merged, table, version, partition_by=partition_by)
        for d in folded:
            shutil.rmtree(
                os.path.join(self._table_dir(table), f"delta={d}"),
                ignore_errors=True,
            )

    def _prune(self, table: str, current: int) -> None:
        tdir = self._table_dir(table)
        # Stale staging/retired dirs can survive a crash mid-publish.
        for d in os.listdir(tdir):
            if d.startswith(".staging-") or d.endswith(".old"):
                shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)
        versions = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(tdir)
            if d.startswith("v=") and d.split("=", 1)[1].lstrip("-").isdigit()
        )
        for v in versions[: -self.keep_versions]:
            if v != current:
                shutil.rmtree(os.path.join(tdir, f"v={v}"), ignore_errors=True)
