"""One small fixed graph and a call of every ``operators.components``
operator on it: the driver regime (default ``driver_cap``) and, for the
operators that have one, the distributed regime (``driver_cap=0``).
Shared by the cache-leak test and the graph job budgets."""

from __future__ import annotations

from datetime import datetime, timedelta

from etl_neptune_spark.operators import components as C


def graph_edges(spark):
    """(src, dst, ts, w): two interleaved directed rings over 24
    vertices (i → i+1 and i → 5i+2, mod 24) plus a self loop on 7, so
    every operator has work: triangles, a 2-core, multi-hop BFS and
    time-respecting paths."""
    t0 = datetime(2024, 1, 1)
    rows = [
        (i, d, t0 + timedelta(minutes=(7 * i + 3 * j) % 50), (3 * i + j) % 5 + 1)
        for i in range(24)
        for j, d in enumerate(((i + 1) % 24, (5 * i + 2) % 24))
    ] + [(7, 7, t0, 1)]
    return spark.createDataFrame(rows, "src long, dst long, ts timestamp, w long")


CASES = {
    "pagerank": lambda e: C.pagerank(e),
    "triangle_counts": lambda e: C.triangle_counts(e),
    "kcore": lambda e: C.kcore(e, k=2),
    "label_propagation": lambda e: C.label_propagation(e),
    "hits_scores": lambda e: C.hits_scores(e),
    "connected_components": lambda e: C.connected_components(e),
    "connected_components-distributed": lambda e: C.connected_components(e, driver_cap=0),
    "bfs_hops": lambda e: C.bfs_hops(e, 0),
    "bfs_hops-distributed": lambda e: C.bfs_hops(e, 0, driver_cap=0),
    "temporal_reach": lambda e: C.temporal_reach(e, 0),
    "temporal_reach-distributed": lambda e: C.temporal_reach(e, 0, driver_cap=0),
    "sssp_bounded": lambda e: C.sssp_bounded(e, 0),
    "sssp_bounded-distributed": lambda e: C.sssp_bounded(e, 0, driver_cap=0),
    "msbfs_closeness": lambda e: C.msbfs_closeness(e),
    "msbfs_closeness-distributed": lambda e: C.msbfs_closeness(e, driver_cap=0),
}
