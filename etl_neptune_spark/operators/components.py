"""Iterative graph operators: PageRank, triangles, k-core, connected
components (the transitive closure that turns near-dup PAIRS into
duplicate GROUPS), BFS and closeness, time-respecting reachability,
label propagation, hop-bounded shortest paths and HITS.

Each algorithm is a step function plus, where its graph fits, a
driver-side kernel. Three shared pieces carry the rest:

- ``_small_graph(edges, cap)``, the one bounded-driver gate. At most
  ``driver_cap`` distinct edges ship to the driver in one job, and a
  Python kernel replaces O(rounds) whole-cluster job launches; above the
  cap the driver receives one row. ``driver_cap=0`` forces the
  distributed path.
- ``_fixpoint(state, step, rounds, until)``, the one round loop. It owns
  the lineage cut and the optional exit test: the
  ``_Settled`` digest of the label-correcting loops, an empty BFS
  frontier, or none for the fixed-round algorithms.
- ``_bfs_rounds``, one source-keyed frontier BFS for ``bfs_hops`` (one
  source) and ``msbfs_closeness`` (every vertex).

Every round's state and every edge set that the returned plan reads is
a ``materialize.cut``; an edge set that only the rounds read is
``materialize.held`` for the rounds, so a small one broadcasts. The
rule, and why no operator may leave a cache entry behind, is in
``etl_neptune_spark/materialize.py``.
"""

from __future__ import annotations

import bisect
import datetime
import heapq
import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import cut, held


def _small_graph(edges: DataFrame, cap: int) -> list | None:
    """The rows of ``edges`` when there are at most ``cap`` of them, else
    None. One job: the partitions stream through one task that stops
    after cap+1 rows, and the driver receives ONE row that carries the
    rows only when they fit. ``cap=0`` answers None without a job."""
    if not cap:
        return None
    return (
        edges.coalesce(1)
        .limit(cap + 1)
        .agg(
            F.count("*").alias("n"),
            F.collect_list(F.struct(*edges.columns)).alias("rows"),
        )
        .select(F.when(F.col("n") <= cap, F.col("rows")).alias("rows"))
        .first()["rows"]
    )


def _digest(df: DataFrame) -> tuple:
    """Order-insensitive fingerprint of a distinct frame: (rows, XOR of
    xxhash64 over every column, by name — a USING join reorders them).
    XOR never overflows (a sum of longs would trip ANSI mode) and is
    exact on a set; a collision faking a fixpoint needs 2^-64-scale luck
    AND an equal count."""
    cols = sorted(df.columns)
    row = df.agg(F.count("*"), F.bit_xor(F.xxhash64(*cols))).first()
    return row[0], row[1]


class _Settled:
    """Exit test of the label-correcting loops: true once a round leaves
    the state's digest unchanged, or its row count at most ``small``.
    Primed with the input's digest; each call is one single-row action.
    ``n`` is the latest row count."""

    def __init__(self, df: DataFrame, small: int = 0):
        self.small = small
        self.n, self.h = _digest(df)

    def __call__(self, state: DataFrame, _round: int) -> bool:
        prev = (self.n, self.h)
        self.n, self.h = _digest(state)
        return (self.n, self.h) == prev or self.n <= self.small


def _fixpoint(state: DataFrame, step, rounds: int, until=None, every: int = 1):
    """The one round loop: ``state = step(state, round)`` for at most
    ``rounds`` rounds, cut every ``every`` rounds (uncut, the star
    rounds' lineage grows geometrically until the analyzer OOMs).
    ``until(state, round)`` is the optional exit test, one bounded action
    per round; without one no round launches an action. Returns
    (state, stopped): whether ``until`` fired (True without one)."""
    for i in range(rounds):
        state = step(state, i)
        if (i + 1) % every == 0:
            state = cut(state)
        if until is not None and until(state, i):
            return state, True
    return state, until is None


def _endpoints(e: DataFrame, name: str) -> DataFrame:
    """Distinct vertices named by the first two columns of ``e``."""
    a, b = e.columns[:2]
    return (
        e.select(F.col(a).alias(name))
        .unionByName(e.select(F.col(b).alias(name)))
        .distinct()
    )


def _directed(edges: DataFrame, src: str, dst: str, *extra, loops=True) -> DataFrame:
    """(u, v, *extra) with null endpoints (and, unless ``loops``, self
    loops) dropped."""
    keep = F.col("u").isNotNull() & F.col("v").isNotNull()
    if not loops:
        keep &= F.col("u") != F.col("v")
    uv = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"), *extra)
    return uv.filter(keep)


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct canonical (a < b) edges, self loops dropped."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star: for every vertex u, connect each STRICTLY LARGER
    neighbor v to m = min(N(u) ∪ {u}), hanging deep branches directly
    off local minima. The per-vertex minimum is a window aggregate over
    the symmetrized edges — one shuffle on the vertex."""
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    m = F.least(F.min("b").over(Window.partitionBy("a")), F.col("a"))
    return (
        sym.withColumn("m", m)
        .filter(F.col("b") > F.col("a"))
        # m ≤ a < b, so (b, m) is never a self loop.
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: orient every edge (larger → smaller); for every
    vertex u, connect u and all its smaller neighbors to m = min(N(u)),
    contracting the fringe large-star leaves behind. Same one-window
    shuffle."""
    d = (
        e.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    w = Window.partitionBy("a")
    dm = d.withColumn("m", F.min("b").over(w))
    nbr_edges = dm.select(F.col("b").alias("a"), F.col("m").alias("b"))
    self_edges = dm.select("a", F.col("m").alias("b"))
    return (
        nbr_edges.unionByName(self_edges)
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
    reset: float = 0.15,
) -> DataFrame:
    """(vertex, rank) after a FIXED number of power iterations of the
    GraphX-style recurrence (no dangling-mass redistribution):

        rank_0(v) = 1.0
        rank_{t+1}(v) = reset + (1-reset) · Σ_{(u,v)∈E} rank_t(u)/outdeg(u)

    Fixed ``iters`` keeps the result reproducible in any engine
    (q_pagerank's DuckDB recursive CTE certifies 4 dp). Each iteration
    is one equi-join of the O(|V|) rank frame into the materialized
    weighted edges plus one keyed sum; the linear rank lineage is cut
    every 10 iterations only."""
    raw = cut(_directed(edges, src, dst).distinct())
    verts = _endpoints(raw, "x")
    weighted = raw.join(raw.groupBy("u").agg((F.lit(1.0) / F.count("*")).alias("w")), "u")
    # Zero-weight self edges keep every vertex present in each
    # iteration's aggregate (its sum contribution is 0 → rank = reset
    # when it has no real in-edges).
    e2 = cut(weighted.unionByName(
        verts.select(F.col("x").alias("u"), F.col("x").alias("v"), F.lit(0.0).alias("w"))
    ))

    def step(ranks, _):
        return (
            e2.join(ranks, "u")
            .groupBy("v")
            .agg(
                (F.lit(reset) + F.lit(1.0 - reset) * F.sum(F.col("r") * F.col("w"))).alias("r")
            )
            .select(F.col("v").alias("u"), "r")
        )

    ranks = verts.select(F.col("x").alias("u"), F.lit(1.0).alias("r"))
    ranks, _ = _fixpoint(ranks, step, iters, every=10)
    return ranks.select(F.col("u").alias("vertex"), F.round("r", 4).alias("rank"))


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(vertex, triangles): the number of distinct triangles each vertex
    participates in, on the undirected simple graph of ``edges``.

    The classical ordered-wedge plan: canonicalize every edge to
    ``a < b``, build wedges ``a < b < c`` by joining on the middle
    vertex, close each wedge against the edge list with one more
    equi-join — every triangle is found exactly once, and the join work
    is bounded by Σ deg²(v) over the ORDERED graph, which keeps hubs from
    exploding the wedge count. The edge set is materialized once for the
    five branches that read it."""
    e = cut(_undirected(edges, src, dst))
    ab = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    bc = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    wedges = ab.join(bc, "y")  # x < y < z by construction
    tri = wedges.join(
        e.select(F.col("a").alias("x"), F.col("b").alias("z")), ["x", "z"]
    )
    per_vertex = (
        tri.select(F.col("x").alias("vertex"))
        .unionByName(tri.select(F.col("y").alias("vertex")))
        .unionByName(tri.select(F.col("z").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count("*").alias("triangles"))
    )
    # Vertices in no triangle still appear, with 0.
    return _endpoints(e, "vertex").join(per_vertex, "vertex", "left").select(
        "vertex", F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles")
    )


def kcore(
    edges: DataFrame, k: int, src: str = "src", dst: str = "dst", rounds: int = 12
) -> DataFrame:
    """Vertices of the k-core: peel vertices of degree < k for at most
    ``rounds`` rounds (each a degree aggregate + two semi-joins), exiting
    at the peel fixpoint (an edge-set digest). Peeling is monotone, so this
    equals q_kcore's fixed-round unrolled-SQL oracle; ``rounds`` must
    exceed the peel depth."""

    def peel(e, _):
        deg = (
            e.select(F.col("a").alias("v"))
            .unionByName(e.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count("*").alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("v")
        return (
            e.join(keep.select(F.col("v").alias("a")), "a", "left_semi")
            .join(keep.select(F.col("v").alias("b")), "b", "left_semi")
        )

    e = cut(_undirected(edges, src, dst))
    e, _ = _fixpoint(e, peel, rounds, _Settled(e))
    return _endpoints(e, "vertex")


def _union_find(rows) -> list[tuple]:
    """(vertex, min vertex of its component) for every endpoint of the
    (a, b) ``rows`` — driver-side union-find with path compression."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the component label is the min vertex id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(v, find(v)) for v in sorted({x for ab in rows for x in ab})]


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    driver_cap: int = 100_000,
) -> DataFrame:
    """(vertex, component) for every vertex incident to an edge, where
    ``component`` is the minimum vertex id in its connected component.

    - **Above ``driver_cap`` distinct edges**: large-star / small-star
      rounds (Kiveris et al., SoCC'14) until an edge-set digest shows a
      star forest; O(log d) rounds on any shape, including the chains
      that take label propagation O(diameter). Raises if
      ``max_iter`` rounds do not converge. Contraction keeps every
      component, vertex and minimum, so once a round shrinks the edges
      under the cap they finish on the driver.
    - **At or below the cap**: one driver-side union-find pass over ≤ cap
      short rows (a near-dup pair graph is tiny relative to its corpus).
      ``driver_cap=0`` forces the distributed path.

    Both regimes give the same labels. Self loops count toward the cap
    and make a self-loop-only vertex its own component, but leave the
    contraction input. DuckDB's recursive CTE certifies q_dup_clusters.
    """
    spark = edges.sparkSession
    raw = cut(
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("a"),
            F.least(F.col(src), F.col(dst)).alias("b"),
        ).distinct()
    )
    vt = raw.schema[0].dataType.simpleString()
    schema = f"vertex {vt}, component {vt}"
    rows = _small_graph(raw, driver_cap)
    if rows is not None:
        return spark.createDataFrame(_union_find(rows), schema=schema)

    e = raw.filter(F.col("a") != F.col("b"))
    settled = _Settled(e, driver_cap)
    e, stopped = _fixpoint(
        e, lambda e, _: _small_star(_large_star(e)), max_iter, settled
    )
    if not stopped:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    rows = _small_graph(e, driver_cap) if settled.n <= driver_cap else None
    if rows is not None:
        labels = spark.createDataFrame(_union_find(rows), schema=schema)
    else:
        # Star forest: every non-root has exactly one edge (v → root).
        labels = e.select(F.col("a").alias("vertex"), F.col("b").alias("component"))
    # Vertices the contracted edges no longer name (self-loop-only ones,
    # and the roots of a star forest) label themselves.
    return _endpoints(raw, "vertex").join(labels, "vertex", "left").select(
        "vertex", F.coalesce("component", F.col("vertex")).alias("component")
    )


def _adjacency(rows) -> dict:
    adj: dict = {}
    for u, v in rows:
        adj.setdefault(u, []).append(v)
    return adj


def _bfs(adj: dict, source, max_hops: int) -> dict:
    """Driver BFS kernel: {vertex: hops} within ``max_hops`` of ``source``."""
    hops = {source: 0}
    frontier = [source]
    for h in range(1, max_hops + 1):
        frontier = dict.fromkeys(
            v for u in frontier for v in adj.get(u, ()) if v not in hops
        )
        if not frontier:
            break
        hops.update(dict.fromkeys(frontier, h))
    return hops


def _bfs_rounds(
    e: DataFrame, seeds: DataFrame, max_hops: int, until_empty: bool
) -> DataFrame:
    """Distributed source-keyed BFS from the settled table ``seeds``
    (s, v, d=0): each round joins the latest level to the (u, v) edges
    and keeps the minimum d per (s, v), so only newly reached pairs get
    d=round+1. With ``until_empty`` it stops at the first empty level
    (one count per round); otherwise it runs all ``max_hops`` rounds
    without an action."""
    nbr = e.select(F.col("u").alias("v"), F.col("v").alias("w"))

    def grow(st, i):
        level = st.filter(F.col("d") == i).join(nbr, "v").select(
            "s", F.col("w").alias("v"), F.lit(i + 1).alias("d")
        )
        return st.unionByName(level).groupBy("s", "v").agg(F.min("d").alias("d"))

    def frontier_empty(st, i):
        return st.filter(F.col("d") == i + 1).count() == 0

    st, _ = _fixpoint(seeds, grow, max_hops, frontier_empty if until_empty else None)
    return st


def bfs_hops(
    edges: DataFrame,
    source,
    max_hops: int = 8,
    src: str = "src",
    dst: str = "dst",
    driver_cap: int = 100_000,
) -> DataFrame:
    """(vertex, hops): minimum number of directed edges from ``source``
    to every vertex reachable within ``max_hops`` — ``msbfs_closeness``'s
    BFS with one source. Under ``driver_cap`` distinct edges the driver
    kernel runs; above it the distributed frontier loop, which exits at
    the first empty frontier (O(eccentricity) rounds, the Pregel BFS
    schedule)."""
    spark = edges.sparkSession
    with held(_directed(edges, src, dst, loops=False).distinct()) as e:
        vt = e.schema[0].dataType.simpleString()
        rows = _small_graph(e, driver_cap)
        if rows is not None:
            return spark.createDataFrame(
                sorted(_bfs(_adjacency(rows), source, max_hops).items()),
                schema=f"vertex {vt}, hops int",
            )
        seeds = spark.createDataFrame([(source, source, 0)], f"s {vt}, v {vt}, d int")
        return _bfs_rounds(e, seeds, max_hops, until_empty=True).select(
            F.col("v").alias("vertex"), F.col("d").alias("hops")
        )


def temporal_reach(
    edges: DataFrame,
    source,
    src: str = "src",
    dst: str = "dst",
    ts_col: str = "ts",
    max_rounds: int = 12,
    driver_cap: int = 100_000,
) -> DataFrame:
    """(vertex, t): earliest TIME-RESPECTING arrival from ``source`` —
    a path may only continue along edges whose timestamp is ≥ the
    arrival time at their tail ("what could this incident have touched,
    respecting time order").

    Distributed: a label-correcting fixpoint — relax every arrival
    through the edges, fold with a keyed ``min``, until nothing changes;
    raises if ``max_rounds`` does not converge (an unconverged
    reachability set is worse than an error). Under ``driver_cap``
    distinct (u, v, ts) edges: earliest-arrival Dijkstra on the driver
    (Wu et al., VLDB 2014), which needs no round guard, so it returns the
    exact fixpoint even of a chain that would trip ``max_rounds``.
    """
    spark = edges.sparkSession
    # A null timestamp can never satisfy the ets >= t admissibility
    # predicate; dropping it here makes both execution paths agree.
    timed = _directed(edges, src, dst, F.col(ts_col).alias("ets"), loops=False)
    with held(timed.filter(F.col("ets").isNotNull()).distinct()) as e:
        vt = e.schema[0].dataType.simpleString()
        rows = _small_graph(e, driver_cap)
        if rows is not None:
            adj: dict = {}
            for u, v, ts in sorted(rows, key=lambda r: r[2]):
                adj.setdefault(u, []).append((ts, v))
            t0 = datetime.datetime(1970, 1, 1)
            best, heap = {source: t0}, [(t0, source)]
            while heap:
                t, u = heapq.heappop(heap)
                if t > best[u]:
                    continue
                out = adj.get(u, [])
                for ts, v in out[bisect.bisect_left(out, (t,)):]:
                    if v not in best or ts < best[v]:
                        best[v] = ts
                        heapq.heappush(heap, (ts, v))
            return spark.createDataFrame(sorted(best.items()), f"vertex {vt}, t timestamp")

        def relax(arrival, _):
            hop = arrival.join(e.withColumnRenamed("u", "vertex"), "vertex")
            return (
                arrival.unionByName(
                    hop.filter(F.col("ets") >= F.col("t"))
                    .select(F.col("v").alias("vertex"), F.col("ets").alias("t"))
                )
                .groupBy("vertex")
                .agg(F.min("t").alias("t"))
            )

        arrival = spark.createDataFrame(
            [(source, "1970-01-01 00:00:00")], schema=f"vertex {vt}, t string"
        ).select("vertex", F.col("t").cast("timestamp").alias("t"))
        arrival, stopped = _fixpoint(arrival, relax, max_rounds, _Settled(arrival))
    if not stopped:
        raise RuntimeError(f"temporal_reach did not converge in {max_rounds} rounds")
    return arrival


def label_propagation(
    edges: DataFrame, src: str = "src", dst: str = "dst", rounds: int = 3
) -> DataFrame:
    """(vertex, community) after ``rounds`` SYNCHRONOUS label-propagation
    steps over the undirected graph: every vertex starts labeled with
    its own id and each round adopts the most frequent label among its
    neighbors (ties → smallest label). A small fixed round count
    localizes labels to dense neighborhoods — the classic cheap
    community detector (Raghavan et al. 2007), deterministic here
    because the update is synchronous with a total tie order, so it is
    oracle-checkable round for round. Each round joins the ≤|V|-row
    label table onto the materialized symmetric edges, then two keyed
    aggregates (neighbor-label counts, a ``min_by`` argmax).
    """
    def step(labels, _):
        cnt = (
            sym.join(labels.withColumnRenamed("vertex", "b"), "b")
            .groupBy(F.col("a").alias("vertex"), "community")
            .agg(F.count("*").alias("c"))
        )
        return cnt.groupBy("vertex").agg(
            F.min_by(
                "community",
                F.struct((-F.col("c")).alias("nc"), F.col("community").alias("l")),
            ).alias("community")
        )

    with held(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    ) as sym:
        labels = sym.select(F.col("a").alias("vertex")).distinct()
        labels = labels.select("vertex", F.col("vertex").alias("community"))
        return _fixpoint(labels, step, rounds)[0]


def sssp_bounded(
    edges: DataFrame,
    source,
    src: str = "src",
    dst: str = "dst",
    w_col: str = "w",
    max_hops: int = 6,
    driver_cap: int = 100_000,
) -> DataFrame:
    """(vertex, dist): minimum path weight from ``source`` over paths
    of AT MOST ``max_hops`` edges (directed; integer weights) — the
    hop-bounded Bellman-Ford. The hop bound makes the semantics exact
    and total regardless of negative weights or cycles, which is also
    what makes it certifiable against a recursive-CTE oracle. Under
    ``driver_cap`` per-pair min-weight edges Bellman-Ford runs on the
    driver; above, each round joins the ≤|V|-row distance table to the
    edges and re-minimizes, one keyed shuffle per round.
    """
    spark = edges.sparkSession
    uvw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"), F.col(w_col).alias("w"))
    with held(uvw.groupBy("u", "v").agg(F.min("w").alias("w"))) as e:
        vt = e.schema[0].dataType.simpleString()
        schema = f"vertex {vt}, dist bigint"
        rows = _small_graph(e, driver_cap)
        if rows is not None:
            best = {source: 0}
            for _ in range(max_hops):
                nxt = dict(best)
                for u, v, w in rows:
                    if u in best and best[u] + w < nxt.get(v, best[u] + w + 1):
                        nxt[v] = best[u] + w
                if nxt == best:
                    break
                best = nxt
            return spark.createDataFrame(sorted(best.items()), schema=schema)

        def relax(best, _):
            hop = best.join(e.withColumnRenamed("u", "vertex"), "vertex").select(
                F.col("v").alias("vertex"), (F.col("dist") + F.col("w")).alias("dist")
            )
            return best.unionByName(hop).groupBy("vertex").agg(F.min("dist").alias("dist"))

        best = spark.createDataFrame([(source, 0)], schema=schema)
        return _fixpoint(best, relax, max_hops)[0]


def hits_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
) -> DataFrame:
    """(vertex, authority, hub) after a FIXED number of HITS iterations
    (Kleinberg 1999), in EXACT integer arithmetic.

    The authority vector alone satisfies a_{t+1} = (AᵀA) a_t, one fixed
    matrix that a single-self-reference recursive oracle can express:
    materialize the co-citation matrix C = AᵀA once, run ``iters``
    rounds of C·a from all-ones, finish with one hub multiply h = A·a.
    Unnormalized integers induce the identical ranking and stay exact
    BIGINTs; Spark's non-ANSI sum wraps silently, so the run aborts up
    front if maxrow^(iters+1) could cross 2^62. Zero-weight self-entries
    keep isolated-authority vertices present.
    """
    raw = cut(_directed(edges, src, dst).distinct())
    verts = _endpoints(raw, "x")
    cmat = cut(
        raw.select("u", F.col("v").alias("w"))
        .join(raw.select("u", F.col("v").alias("vv")), "u")
        .groupBy("w", "vv")
        .agg(F.count("*").alias("c"))
        .unionByName(
            verts.select(
                F.col("x").alias("w"), F.col("x").alias("vv"), F.lit(0).cast("long").alias("c")
            )
        )
    )
    # a_{t+1}[vv] = Σ_w c[w,vv]·a_t[w], so with a_0 ≡ 1 every
    # |a_t| ≤ maxrow^t; the hub multiply adds one more factor.
    max_row = (
        cmat.groupBy("vv").agg(F.sum("c").alias("s")).agg(F.max("s")).first()[0]
        or 0
    )
    if max_row > 1 and (iters + 1) * math.log2(max_row) >= 62:
        raise ValueError(
            f"hits_scores: unnormalized integer iteration would overflow "
            f"BIGINT (max co-citation row sum {max_row}, iters={iters}; "
            f"bound maxrow^(iters+1) ≥ 2^62). Lower iters or add "
            f"per-round scaling."
        )

    def step(a, _):
        return (
            cmat.join(a, "w")
            .groupBy("vv")
            .agg(F.sum(F.col("c") * F.col("a")).alias("a"))
            .select(F.col("vv").alias("w"), "a")
        )

    a = verts.select(F.col("x").alias("w"), F.lit(1).cast("long").alias("a"))
    a, _ = _fixpoint(a, step, iters)
    hub = (
        raw.join(a.select(F.col("w").alias("v"), F.col("a")), "v")
        .groupBy("u")
        .agg(F.sum("a").alias("hub"))
    )
    return (
        a.select(F.col("w").alias("vertex"), F.col("a").alias("authority"))
        .join(hub.select(F.col("u").alias("vertex"), "hub"), "vertex", "left")
        .select(
            "vertex",
            "authority",
            F.coalesce("hub", F.lit(0)).cast("long").alias("hub"),
        )
    )


def msbfs_closeness(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 3,
    driver_cap: int = 100_000,
) -> DataFrame:
    """(vertex, n_reached, total_dist): k-hop closeness sufficient
    statistics from a MULTI-SOURCE BFS — every vertex is a source,
    distances capped at ``max_hops`` (exact all-pairs closeness is
    O(V·E)). Exact integers: vertices reached in 1..max_hops hops and the
    sum of their min-distances; a vertex that reaches nothing reports
    (0, 0). The shared BFS: the driver kernel per source under
    ``driver_cap``, else the frontier loop keyed by (source, vertex).
    """
    spark = edges.sparkSession
    with held(_directed(edges, src, dst, loops=False).distinct()) as e:
        vt = e.schema[0].dataType.simpleString()
        rows = _small_graph(e, driver_cap)
        if rows is not None:
            adj = _adjacency(rows)
            out = []
            for s in sorted({x for uv in rows for x in uv}):
                reached = [d for d in _bfs(adj, s, max_hops).values() if d > 0]
                out.append((s, len(reached), sum(reached)))
            return spark.createDataFrame(
                out, schema=f"vertex {vt}, n_reached bigint, total_dist bigint"
            )
        seeds = _endpoints(e, "v").select(F.col("v").alias("s"), "v", F.lit(0).alias("d"))
        st = _bfs_rounds(e, seeds, max_hops, until_empty=False)
    return st.groupBy(F.col("s").alias("vertex")).agg(
        F.count(F.when(F.col("d") > 0, 1)).cast("bigint").alias("n_reached"),
        F.sum("d").cast("bigint").alias("total_dist"),
    )
