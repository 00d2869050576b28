"""Runtime physical-plan metrics: executed exchange counts and shuffle
volume per query (VERDICT r5 task 3).

Why runtime, not plan-shape: the r5 prefix-rank pid-divergence bug was a
RE-EXECUTED exchange — the plan *shape* was identical, but the range
shuffle ran twice with divergent partition ids. A shape audit cannot see
that; an executed-exchange count / shuffle-byte readout can: the
regression doubles the exchange count (reuse lost) or the bytes (same
exchange materialized twice).

``collect_exec_metrics(spark, df)`` executes ``df`` through the noop
sink and walks the post-execution adaptive plan (following
AdaptiveSparkPlanExec -> executedPlan, QueryStageExec -> plan,
ReusedExchangeExec -> child, a cache's scan -> its cached plan, a cut's
scan -> the plan it was made from (``materialize.origin_plan``), and
subqueries), deduplicating nodes by JVM identity so a reused exchange
is counted ONCE. Returns::

    {"shuffle_exchanges": int,   # distinct ShuffleExchangeExec executed
     "broadcast_exchanges": int, # distinct BroadcastExchangeExec
     "reused_exchanges": int,    # ReusedExchange wrapper nodes seen
     "shuffle_bytes": int,       # sum of shuffleBytesWritten over the
                                 # distinct shuffle exchanges
     "shuffle_records": int}

Caveat (documented, by design): queries that localCheckpoint an
intermediate (operators/rank.py prefix_sums) truncate the visible plan
at the checkpoint scan — their PRE-checkpoint exchanges are pinned
separately by tests/test_plans.py's capture-hook assertion, and the
numbers here cover the post-checkpoint consumers only. Queries that run
side actions during construction (streaming certificates, bounded
driver samples) likewise report only their FINAL read's plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_neptune_spark.materialize import origin_plan


def _walk(node, jvm, seen: set, out: list, follow_cuts: bool) -> None:
    ident = jvm.java.lang.System.identityHashCode(node)
    if ident in seen:
        return
    seen.add(ident)
    cls = node.getClass().getName()
    out.append((cls, node))
    try:
        ch = node.children()
        for i in range(ch.size()):
            _walk(ch.apply(i), jvm, seen, out, follow_cuts)
    except Exception:  # noqa: BLE001 — leaf/py4j edge
        pass
    # wrappers that hide their real subtree from children()
    if "AdaptiveSparkPlanExec" in cls:
        _walk(node.executedPlan(), jvm, seen, out, follow_cuts)
    elif "QueryStageExec" in cls:
        _walk(node.plan(), jvm, seen, out, follow_cuts)
    elif "ReusedExchangeExec" in cls:
        _walk(node.child(), jvm, seen, out, follow_cuts)
    elif "InMemoryTableScanExec" in cls:
        try:
            _walk(node.relation().cachedPlan(), jvm, seen, out, follow_cuts)
        except Exception:  # noqa: BLE001
            pass
    elif "RDDScanExec" in cls and follow_cuts:
        origin = origin_plan(node.rdd().id())
        if origin is not None:
            _walk(origin, jvm, seen, out, follow_cuts)
    try:
        sq = node.subqueries()
        for i in range(sq.size()):
            _walk(sq.apply(i), jvm, seen, out, follow_cuts)
    except Exception:  # noqa: BLE001
        pass


def _metric(node, key: str) -> int:
    try:
        m = node.metrics()
        if m.contains(key):
            return int(m.apply(key).value())
    except Exception:  # noqa: BLE001
        pass
    return 0


def collect_exec_metrics(
    spark: SparkSession, df: DataFrame, follow_cuts: bool = True
) -> dict:
    # Execute THIS DataFrame's own QueryExecution (a noop-sink write
    # would wrap the logical plan in a new command with a fresh qe,
    # leaving df's plan nodes unexecuted and their metrics zero).
    qe = df._jdf.queryExecution()
    qe.executedPlan().execute().count()
    jvm = spark._jvm
    seen: set = set()
    nodes: list = []
    _walk(qe.executedPlan(), jvm, seen, nodes, follow_cuts)

    shuffle_n = broadcast_n = reused_n = 0
    shuffle_bytes = shuffle_records = 0
    for cls, node in nodes:
        short = cls.rsplit(".", 1)[-1]
        if short.startswith("ShuffleExchangeExec"):
            shuffle_n += 1
            shuffle_bytes += _metric(node, "shuffleBytesWritten")
            shuffle_records += _metric(node, "shuffleRecordsWritten")
        elif short.startswith("BroadcastExchangeExec"):
            broadcast_n += 1
        elif short.startswith("ReusedExchangeExec"):
            reused_n += 1
    return {
        "shuffle_exchanges": shuffle_n,
        "broadcast_exchanges": broadcast_n,
        "reused_exchanges": reused_n,
        "shuffle_bytes": shuffle_bytes,
        "shuffle_records": shuffle_records,
    }
