"""The engine's one materialization helper: every persist and checkpoint
in the package goes through ``cut`` or ``held``.

The rule:

- A frame that the returned plan reads, or that a driver loop re-reads,
  is a ``cut``: a ``localCheckpoint(eager=False)`` at one storage level.
  Under adaptive execution the call runs its input's shuffle and
  broadcast stages at once; only the last stage runs in the first
  action that reads the cut (a driver decision's ``first()``, a loop's
  exit test, or the caller's own action) and fills its blocks. Later
  readers reuse them, and they are freed with the frame that references
  them. No action exists only to fill a cut: concurrent stages of one
  action that read an unfilled block wait for the task computing it.
- A frame that only build-side actions read is ``held`` for a ``with``
  block and released at its exit. This is the form for a frame whose
  real size must drive a broadcast: a filled cache reports the bytes
  it holds, while a cut keeps its origin plan's static size estimate.
  The returned plan must not read a held frame.

Neither leaves a ``CacheManager`` entry behind. A leaked entry would
be substituted into every later query with the same canonical plan,
and that query's wall and shuffle bytes would then depend on session
history.

An action that stays next to a cut names why: a driver decision that
needs its answer anyway (and fills the cut as a side effect), or a
freeze that correctness needs (the cut's inputs are deleted or
re-stamped before the returned plan runs).
"""

from __future__ import annotations

import contextlib
import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame

# MEMORY_AND_DISK is the SERIALIZED level in the Python API
# (MEMORY_AND_DISK_DESER is the DataFrame default): compact bytes
# instead of per-row objects, which the sf100 cap-split probe measured
# as the difference between split math and MemoryStore churn.
_LEVEL = StorageLevel.MEMORY_AND_DISK


# The executed plan each live cut was made from, by its RDD's id. The
# job that fills a cut truncates its lineage, while tasks of the same
# action serialized before then still report the origin plan's SQL
# metrics: were that plan collected, the scheduler would log "Failed to
# update accumulator" and drop them. So the origin lives as long as the
# cut, as a cache's plan does, and a plan walker can follow it.
_ORIGINS: dict[int, object] = {}
_ORIGINS_LOCK = threading.Lock()


def cut(df: DataFrame) -> DataFrame:
    """``df`` behind a lineage cut: the first action that reads it fills
    it, and its blocks are freed with the frame.

    Swapping in ``checkpoint(eager=False)`` (with ``spark.checkpoint.dir``
    set) is the one-line change that makes every cut survive executor
    loss."""
    out = df.localCheckpoint(eager=False, storageLevel=_LEVEL)
    # the key set as Java's "[3, 17, ...]" text, not a round trip per key
    rdds = df.sparkSession.sparkContext._jsc.getPersistentRDDs()
    live = {int(i) for i in rdds.keySet().toString()[1:-1].split(",") if i}
    with _ORIGINS_LOCK:
        for gone in set(_ORIGINS) - live:
            del _ORIGINS[gone]
        rdd = out._jdf.queryExecution().logical().rdd()
        _ORIGINS[rdd.id()] = df._jdf.queryExecution().executedPlan()
    return out


def origin_plan(rdd_id: int):
    """The executed plan (a JVM ``SparkPlan``) that the live cut whose
    RDD has id ``rdd_id`` was made from, or None."""
    return _ORIGINS.get(rdd_id)


@contextlib.contextmanager
def held(df: DataFrame):
    """Cache ``df`` for the ``with`` block and release it at exit."""
    df = df.persist(_LEVEL)
    try:
        yield df
    finally:
        df.unpersist()
