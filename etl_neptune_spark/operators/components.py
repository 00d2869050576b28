"""Connected components over a pair/edge frame — duplicate-cluster
resolution for dedup pipelines.

Near-duplicate detection (MinHash LSH, n-gram Jaccard, embedding
cosine) emits PAIRS; keeping one survivor per duplicate GROUP requires
the transitive closure of those pairs — i.e. connected components.
This is the canonical follow-on stage of a 100 TB dedup pass (the
pair graph is tiny relative to the corpus: only near-dup docs appear).

Implementation: alternating **large-star / small-star** rounds (the
MapReduce connected-components algorithm of Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) rather than plain
min-label propagation. Propagation needs O(diameter) rounds — fine for
shallow dup clusters, pathological on chain-shaped graphs; star
contraction REWIRES the graph each round (large-star hangs every
larger neighbor off the local minimum, small-star contracts the rest),
which provably converges in O(log d) alternations on any graph. Each
half-round is one keyed aggregate + one equi-join on the vertex — the
same shuffle shape as propagation, just fewer rounds. The driver holds
only the loop counter and a per-round fixpoint digest (one bounded
action per round), no graph data.

No SQL oracle can express the fixpoint directly, but DuckDB's
recursive CTE computes the same closure exactly, which is how
``q_dup_clusters`` is value-certified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star: for every vertex u, connect each STRICTLY LARGER
    neighbor v to m = min(N(u) ∪ {u}). Keeps every component connected
    (each emitted edge stays within the component) while hanging deep
    branches directly off local minima.

    The per-vertex minimum is a window aggregate over the symmetrized
    edges — ONE shuffle on the vertex, no groupBy+join round trip."""
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
    vertex u, connect u and all its (smaller) neighbors to
    m = min(N(u) ∪ {u}) = min(N(u)). Contracts the shallow fringe that
    large-star leaves behind. Same one-window-shuffle shape as
    large-star."""
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
    GraphX-style PageRank recurrence (reset-probability formulation, no
    dangling-mass redistribution):

        rank_0(v) = 1.0
        rank_{t+1}(v) = reset + (1-reset) · Σ_{(u,v)∈E} rank_t(u)/outdeg(u)

    Fixed ``iters`` (not convergence-tested) keeps the result exactly
    reproducible in any engine — the DuckDB recursive-CTE oracle runs
    the same recurrence (q_pagerank certifies values to 4 dp).

    Plan: the weighted edge list (w = 1/outdeg, plus zero-weight self
    edges so rank-source-only vertices persist through the join+agg) is
    checkpointed ONCE; each iteration is one equi-join of the rank
    frame into it plus one keyed sum — the canonical Pregel shuffle
    shape, linear per iteration, skew handled by AQE. Rank frames stay
    O(|V|); nothing collects to the driver.
    """
    raw = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .distinct()
        .localCheckpoint()
    )
    deg = raw.groupBy("u").agg(F.count("*").alias("d"))
    verts = (
        raw.select(F.col("u").alias("x"))
        .unionByName(raw.select(F.col("v").alias("x")))
        .distinct()
    )
    weighted = raw.join(deg, "u").select(
        "u", "v", (F.lit(1.0) / F.col("d")).alias("w")
    )
    # Zero-weight self edges keep every vertex present in each
    # iteration's aggregate (its sum contribution is 0 → rank = reset
    # when it has no real in-edges).
    e2 = weighted.unionByName(
        verts.select(F.col("x").alias("u"), F.col("x").alias("v"), F.lit(0.0).alias("w"))
    ).localCheckpoint()

    ranks = verts.select(F.col("x").alias("u"), F.lit(1.0).alias("r"))
    for i in range(iters):
        ranks = (
            e2.join(ranks, "u")
            .groupBy("v")
            .agg(
                (F.lit(reset) + F.lit(1.0 - reset) * F.sum(F.col("r") * F.col("w"))).alias("r")
            )
            .select(F.col("v").alias("u"), "r")
        )
        # Rank lineage grows one join+agg per iteration (linear, unlike
        # the star-contraction loop's geometric growth) — still truncate
        # periodically so deep iteration counts keep bounded plans.
        if (i + 1) % 10 == 0:
            ranks = ranks.localCheckpoint()
    return ranks.select(F.col("u").alias("vertex"), F.round("r", 4).alias("rank"))


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(vertex, triangles): the number of distinct triangles each vertex
    participates in, on the undirected simple graph of ``edges``.

    The classical ordered-wedge plan: canonicalize every edge to
    ``a < b``, build wedges ``a < b < c`` by joining on the middle
    vertex, close each wedge against the edge list with one more
    equi-join — every triangle is found exactly once (its vertices in
    sorted order), and the join work is bounded by Σ deg²(v) over the
    ORDERED graph, the standard mitigation that keeps hub vertices from
    exploding the wedge count (a hub's wedges split across its larger
    neighbors). All three joins are equi-joins on vertex keys — shuffle
    + hash join, never all-pairs."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    # Materialize before the fan-out: five branches read `e` inside one
    # action, and a lazily-persisted frame is recomputed by each
    # concurrently-launched stage before the cache fills.
    e.count()
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
    verts = (
        e.select(F.col("a").alias("vertex"))
        .unionByName(e.select(F.col("b").alias("vertex")))
        .distinct()
    )
    return verts.join(per_vertex, "vertex", "left").select(
        "vertex", F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles")
    )


def kcore(
    edges: DataFrame, k: int, src: str = "src", dst: str = "dst", rounds: int = 12
) -> DataFrame:
    """Vertices of the k-core: iteratively peel vertices with degree
    < k (within the remaining subgraph) until the fixpoint. Runs a
    FIXED ``rounds`` iterations — peeling is monotone, so once the
    fixpoint is reached further rounds are no-ops, and a fixed count
    makes the result reproducible by an unrolled-SQL oracle
    (q_kcore generates the same rounds as CTE stages). ``rounds`` must
    exceed the peel depth; each round is one degree aggregate + two
    semi-joins on the vertex key, lineage truncated per round."""
    e = (
        edges.select(F.least(F.col(src), F.col(dst)).alias("a"),
                     F.greatest(F.col(src), F.col(dst)).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )

    def digest(df: DataFrame):
        row = df.agg(
            F.count("*").alias("n"), F.expr("bit_xor(xxhash64(a, b))").alias("h")
        ).first()
        return (row["n"], row["h"])

    prev = digest(e)
    for _ in range(rounds):
        deg = (
            e.select(F.col("a").alias("v"))
            .unionByName(e.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count("*").alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("v")
        e = (
            e.join(keep.select(F.col("v").alias("a")), "a", "left_semi")
            .join(keep.select(F.col("v").alias("b")), "b", "left_semi")
            .localCheckpoint(eager=False)
        )
        # Early exit at the peel fixpoint: the remaining rounds are
        # no-ops, so stopping matches the fixed-round oracle exactly
        # while paying only peel-depth rounds of work (one tiny digest
        # action per round, same recipe as connected_components).
        cur = digest(e)
        if cur == prev:
            break
        prev = cur
    return (
        e.select(F.col("a").alias("vertex"))
        .unionByName(e.select(F.col("b").alias("vertex")))
        .distinct()
    )


def _union_find(edge_rows, vert_rows) -> list[tuple]:
    """Driver-side union-find with path compression — the finishing
    move once the (contracted) graph fits the driver cap."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the component label is the min vertex id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(v, find(v)) for v in vert_rows]


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    driver_cap: int = 100_000,
) -> DataFrame:
    """(vertex, component) for every vertex incident to an edge, where
    ``component`` is the minimum vertex id in its connected component.

    Two regimes:

    - **Above ``driver_cap`` edges**: alternating large-star/small-star
      contraction until the edge set is a star forest (fixpoint —
      detected by an order-insensitive edge-set digest, one tiny action
      per round); raises if ``max_iter`` rounds do not converge.
      O(log d) rounds on any graph shape, including the chain graphs
      that defeat plain propagation.
    - **At or below the cap**: one driver-side union-find pass. A
      near-dup pair graph is tiny relative to its corpus, and each
      contraction round shrinks the edge set monotonically, so this is
      a BOUNDED driver action (≤ cap short rows — the same posture as
      the k-means training sample in operators.similarity), not a
      collect-the-data anti-pattern; it replaces several whole-cluster
      job launches with microseconds of driver work. Set
      ``driver_cap=0`` to force the fully distributed path.
    """
    # Persist the canonicalized input: the edge frame's lineage is often
    # expensive (a similarity join) and both regimes read it (the probe
    # below fills the cache for whatever it scans; the distributed
    # digest completes the fill over the same reused shuffle). Self
    # loops are kept in `raw` (a self-loop-only vertex is still incident
    # to an edge) and dropped from the contraction input below.
    spark = edges.sparkSession
    raw = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("a"),
            F.least(F.col(src), F.col(dst)).alias("b"),
        )
        .distinct()
        .persist()
    )
    vt = raw.schema[0].dataType.simpleString()

    # Probe-and-collect in ONE action (r11, guide §1.2 "fewer passes"):
    # limit(cap+1).collect() returns the WHOLE distinct edge set when it
    # fits (a limit above the row count is the identity — content is a
    # set, order irrelevant to union-find) and at most cap+1 short rows
    # when it does not, so the common tiny-pair-graph case pays one
    # driver action instead of the previous digest-then-collect two.
    # The distinct's shuffle runs once either way. Regime choice keys on
    # the distinct row count INCLUDING self loops (previously:
    # excluding) — both regimes compute the exact same components, so
    # the answer is unaffected by where the boundary falls (pinned by
    # test_cc_regime_boundary_answers_match).
    # bounded: at most driver_cap + 1 rows by the limit
    probe_rows = raw.limit(driver_cap + 1).collect() if driver_cap else []
    if driver_cap and len(probe_rows) <= driver_cap:
        raw.unpersist()
        rows = [(r["a"], r["b"]) for r in probe_rows]
        vert_rows = sorted({x for ab in rows for x in ab})
        edge_rows = [ab for ab in rows if ab[0] != ab[1]]
        return spark.createDataFrame(
            _union_find(edge_rows, vert_rows),
            schema=f"vertex {vt}, component {vt}",
        )

    e = raw.filter(F.col("a") != F.col("b"))

    def digest(df: DataFrame):
        # Order-insensitive fixpoint fingerprint: (n, XOR xxhash64(a,b))
        # — xor never overflows (sum of longs would trip ANSI mode) and
        # is exact on a distinct edge set. At the star-forest fixpoint
        # both halves leave the set invariant; a collision faking
        # convergence early would need 2^-64-scale luck AND equal count.
        row = df.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(a, b))").alias("h"),
        ).first()
        return (row["n"], row["h"])

    prev = digest(e)

    verts = (
        raw.select(F.col("a").alias("vertex"))
        .unionByName(raw.select(F.col("b").alias("vertex")))
        .distinct()
    )
    # Each star round references `e` several times (symmetrize + the
    # window), so lineage grows GEOMETRICALLY round over round — without
    # truncation the analyzer itself OOMs after ~10 rounds. Lazy
    # localCheckpoint cuts the plan at every round boundary and is
    # materialized BY the digest action, one job per round (the standard
    # iterative-graph recipe; a production cluster would use a reliable
    # checkpoint dir to also survive executor loss).
    converged = False
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        cur = digest(e)  # this action materializes the checkpoint
        if cur == prev:
            converged = True
            break
        prev = cur
        if cur[0] <= driver_cap:
            # Contraction shrank the graph under the cap: finish on the
            # driver (verts must come from the ORIGINAL graph — the
            # contracted edge set no longer names every vertex).
            edge_rows = [(r["a"], r["b"]) for r in e.collect()]  # bounded: <= driver_cap (cur[0] guard)
            vert_rows = [r["vertex"] for r in verts.collect()]  # bounded: vertex set of the <=cap graph
            return spark.createDataFrame(
                _union_find(edge_rows, vert_rows),
                schema=f"vertex {vt}, component {vt}",
            )
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )

    # Star forest: every non-root has exactly one edge (v → root); the
    # root itself has none → component = self.
    return verts.join(
        e.select(F.col("a").alias("vertex"), F.col("b").alias("component")),
        "vertex",
        "left",
    ).select(
        "vertex", F.coalesce("component", F.col("vertex")).alias("component")
    )


def bfs_hops(
    edges: DataFrame,
    source,
    max_hops: int = 8,
    src: str = "src",
    dst: str = "dst",
    driver_cap: int = 100_000,
) -> DataFrame:
    """(vertex, hops): minimum number of directed edges from ``source``
    to every vertex reachable within ``max_hops`` — classic frontier
    BFS as fixed-point iteration.

    Each round is ONE equi-join of the current frontier against the
    (cached, pre-distinct'd) edge set plus an anti-join against the
    settled distance table — the same per-round shuffle shape as
    ``pagerank``, with work proportional to the frontier, not the
    graph. The per-round early-exit action is a bounded ``count`` on
    the frontier (frontier empty → every reachable vertex is settled);
    ``localCheckpoint`` truncates the growing lineage exactly as the
    star-contraction loop does. Rounds are bounded by the graph's
    eccentricity from ``source``, O(diameter) — at 100 TB this is the
    standard Pregel-style BFS schedule."""
    spark = edges.sparkSession
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    vt = e.schema[0].dataType.simpleString()
    # Bounded-driver fast path, same posture (and same cap semantics)
    # as connected_components: the DISTINCT pair set of an
    # id-compressed interaction graph is metadata-scale relative to the
    # event log that produced it, and a Python BFS over ≤ cap edges
    # replaces O(diameter) whole-cluster job launches with microseconds
    # of driver work. ``driver_cap=0`` forces the distributed loop.
    if driver_cap and e.count() <= driver_cap:
        adj: dict = {}
        for r in e.collect():  # bounded: <= driver_cap (count guard above)
            adj.setdefault(r["u"], []).append(r["v"])
        e.unpersist()
        hops = {source: 0}
        frontier_py = [source]
        for h in range(1, max_hops + 1):
            nxt = []
            for u in frontier_py:
                for v in adj.get(u, ()):
                    if v not in hops:
                        hops[v] = h
                        nxt.append(v)
            if not nxt:
                break
            frontier_py = nxt
        return spark.createDataFrame(
            sorted(hops.items()), schema=f"vertex {vt}, hops int"
        )
    dist = spark.createDataFrame([(source, 0)], schema=f"vertex {vt}, hops int")
    frontier = dist.select("vertex")
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["vertex"] == e["u"])
            .select(F.col("v").alias("vertex"))
            .distinct()
            .join(dist.select("vertex"), "vertex", "left_anti")
            .localCheckpoint(eager=False)
        )
        if nxt.count() == 0:
            break
        dist = dist.unionByName(
            nxt.withColumn("hops", F.lit(h))
        ).localCheckpoint(eager=False)
        frontier = nxt
    e.unpersist()
    return dist


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
    arrival time at their tail (the causal-reachability semantic for
    event/telemetry graphs: "what could this incident have touched,
    respecting time order").

    Label-correcting fixpoint: each round relaxes every settled arrival
    through the (cached) edge set and folds with a keyed ``min`` — one
    join + one hash agg per round, the Pregel shape. Convergence is
    detected by an order-insensitive digest (count + XOR of
    (vertex, μs)); rounds are bounded by the longest IMPROVING chain,
    which on temporal graphs is short (each improvement must strictly
    decrease an arrival time along a time-ordered path). Raises if
    ``max_rounds`` does not converge — a silently unconverged
    reachability set is worse than an error."""
    spark = edges.sparkSession
    e = (
        edges.select(
            F.col(src).alias("u"), F.col(dst).alias("v"), F.col(ts_col).alias("ets")
        )
        .filter(
            F.col("u").isNotNull() & F.col("v").isNotNull() & (F.col("u") != F.col("v"))
        )
        # a null timestamp can never satisfy the ets >= t admissibility
        # predicate — drop it here so both execution paths agree
        .filter(F.col("ets").isNotNull())
        .distinct()
        .persist()
    )
    vt = e.schema[0].dataType.simpleString()
    # Bounded-driver fast path (connected_components posture): when the
    # DISTINCT (u, v, ts) edge set fits under the cap, earliest-arrival
    # Dijkstra on the driver is exact — arrival times are monotone
    # along admissible paths (each hop's timestamp ≥ the tail's
    # arrival), so settling vertices in arrival order is the classic
    # time-respecting-path algorithm (Wu et al., VLDB 2014). Replaces
    # O(rounds) whole-cluster job launches; ``driver_cap=0`` forces the
    # distributed fixpoint (the 100 TB path). Contract note:
    # ``max_rounds`` is the DISTRIBUTED strategy's convergence guard
    # (it raises rather than return an unconverged set), not a path
    # bound — Dijkstra needs no such guard, so a deep improving chain
    # that would trip the guard distributed still returns its exact
    # fixpoint here.
    if driver_cap and e.count() <= driver_cap:
        import bisect
        import datetime
        import heapq

        adj: dict = {}
        for r in e.collect():  # bounded: <= driver_cap (count guard above)
            adj.setdefault(r["u"], {}).setdefault(r["v"], []).append(r["ets"])
        e.unpersist()
        for nbrs in adj.values():
            for tss in nbrs.values():
                tss.sort()
        t0 = datetime.datetime(1970, 1, 1)
        best = {source: t0}
        heap = [(t0, source)]
        while heap:
            t, u = heapq.heappop(heap)
            if t > best.get(u, t):
                continue
            for v, tss in adj.get(u, {}).items():
                i = bisect.bisect_left(tss, t)
                if i < len(tss) and (v not in best or tss[i] < best[v]):
                    best[v] = tss[i]
                    heapq.heappush(heap, (tss[i], v))
        return spark.createDataFrame(
            sorted(best.items()), schema=f"vertex {vt}, t timestamp"
        )
    arrival = spark.createDataFrame(
        [(source, "1970-01-01 00:00:00")], schema=f"vertex {vt}, t string"
    ).select("vertex", F.col("t").cast("timestamp").alias("t"))

    def digest(df: DataFrame):
        row = df.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(vertex, unix_micros(t)))").alias("h"),
        ).first()
        return (row["n"], row["h"])

    prev = digest(arrival)
    for _ in range(max_rounds):
        relax = (
            arrival.join(e, (arrival["vertex"] == e["u"]) & (e["ets"] >= arrival["t"]))
            .select(F.col("v").alias("vertex"), F.col("ets").alias("t"))
        )
        arrival = (
            arrival.unionByName(relax)
            .groupBy("vertex")
            .agg(F.min("t").alias("t"))
            .localCheckpoint(eager=False)
        )
        cur = digest(arrival)
        if cur == prev:
            e.unpersist()
            return arrival
        prev = cur
    raise RuntimeError(f"temporal_reach did not converge in {max_rounds} rounds")


def label_propagation(
    edges: DataFrame, src: str = "src", dst: str = "dst", rounds: int = 3
) -> DataFrame:
    """(vertex, community) after ``rounds`` SYNCHRONOUS label-propagation
    steps over the undirected graph: every vertex starts labeled with
    its own id and each round adopts the most frequent label among its
    neighbors (ties → smallest label). Unlike ``connected_components``
    (min-label to convergence), a small fixed round count localizes
    labels to dense neighborhoods — the classic cheap community
    detector (Raghavan et al. 2007), deterministic here because the
    update is synchronous with a total tie order, so it is
    oracle-checkable round for round.

    Scale posture: each round is one join of the label table onto the
    edge list (both keyed on vertex — co-partitioned after round 1)
    and two keyed hash aggregates (neighbor-label counts, then a
    ``min_by`` argmax per vertex); no windows over unbounded
    partitions, no driver-side state. Rounds are constant (not
    data-dependent), so lineage stays shallow without checkpointing.
    """
    # persist: the symmetrized edge set is scanned by every round (and
    # by the vertex derivation); without it each round re-runs the
    # distinct shuffle. Each round's ≤|V|-row label table is lazily
    # checkpointed so the chained lineage materializes once per round
    # inside the one final action.
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    labels = (
        sym.select(F.col("a").alias("vertex")).distinct()
        .select("vertex", F.col("vertex").alias("community"))
    )
    for _ in range(rounds):
        cnt = (
            sym.join(labels, sym["b"] == labels["vertex"])
            .groupBy(F.col("a").alias("vertex"), "community")
            .agg(F.count("*").alias("c"))
        )
        labels = cnt.groupBy("vertex").agg(
            F.min_by(
                "community",
                F.struct((-F.col("c")).alias("nc"), F.col("community").alias("l")),
            ).alias("community")
        ).localCheckpoint(eager=False)
    return labels


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
    and total regardless of negative weights or cycles (no
    convergence/negative-cycle caveat), which is also what makes it
    certifiable round-for-round against a recursive-CTE oracle.

    Scale posture: each round joins the ≤|V|-row frontier (exactly-k
    hop minima) to the edge list on the vertex key and re-minimizes —
    one keyed shuffle per round, rounds constant; the accumulated
    union stays O(rounds·|V|) and collapses in one final min
    aggregate. Lineage is linear in rounds (no geometric growth), so
    no checkpoint is needed.
    """
    # persist: the edge aggregate is referenced by every round; the
    # frontier checkpoints stop each round's ≤|V|-row result from being
    # re-derived by later rounds AND by the accumulated union (without
    # them the one final action replays round k inside rounds k+1..K —
    # O(K²) joins; lazy localCheckpoint materializes each round exactly
    # once inside that action, same recipe as connected_components).
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"), F.col(w_col).alias("w"))
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
        .persist()
    )
    spark = edges.sparkSession
    vt = e.schema[0].dataType.simpleString()
    # Bounded-driver fast path (connected_components posture): the
    # per-pair min-weight edge aggregate is ≤|V|² rows however large
    # the event log; under the cap, hop-bounded Bellman-Ford in Python
    # replaces max_hops whole-cluster rounds. ``driver_cap=0`` forces
    # the distributed loop (the 100 TB path).
    if driver_cap and e.count() <= driver_cap:
        adj: dict = {}
        for r in e.collect():  # bounded: <= driver_cap (count guard above)
            adj.setdefault(r["u"], []).append((r["v"], r["w"]))
        e.unpersist()
        best = {source: 0}
        frontier_py = {source: 0}
        for _ in range(max_hops):
            nxt: dict = {}
            for u, d in frontier_py.items():
                for v, w in adj.get(u, ()):
                    nd = d + w
                    if nd < nxt.get(v, nd + 1):
                        nxt[v] = nd
            frontier_py = nxt
            for v, d in nxt.items():
                if d < best.get(v, d + 1):
                    best[v] = d
            if not frontier_py:
                break
        return spark.createDataFrame(
            sorted(best.items()), schema=f"vertex {vt}, dist bigint"
        )
    frontier = spark.createDataFrame([(source, 0)], schema=f"vertex {vt}, dist bigint")
    acc = frontier
    for _ in range(max_hops):
        frontier = (
            frontier.join(e, frontier["vertex"] == e["u"])
            .select(F.col("v").alias("vertex"), (F.col("dist") + F.col("w")).alias("dist"))
            .groupBy("vertex")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
        acc = acc.unionByName(frontier)
    return acc.groupBy("vertex").agg(F.min("dist").alias("dist"))


def hits_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
) -> DataFrame:
    """(vertex, authority, hub) after a FIXED number of HITS iterations
    (Kleinberg 1999), in EXACT integer arithmetic.

    The textbook recurrence alternates two vectors (a = Aᵀh, h = Aa),
    which a single-self-reference recursive oracle can't express; but
    the authority vector alone satisfies a_{t+1} = (AᵀA) a_t — one
    fixed matrix, the SAME single-join-per-round shape as ``pagerank``.
    So: materialize the co-citation matrix C = AᵀA once (edge self-join
    on the source key — Σ outdeg² wedge pairs, the triangle-counting
    bound), run ``iters`` rounds of C·a starting from all-ones, and
    finish with one hub multiply h = A·a. Normalization is skipped
    ENTIRELY: with a fixed iteration count the unnormalized integers
    induce the identical ranking, every intermediate is an exact
    BIGINT (no float drift, hash-exact across engines), and the
    magnitude stays far under 2^63 for the bounded-vertex-space graphs
    this targets. That bound is now ENFORCED, not just documented: the
    max co-citation row sum is measured once (one scalar aggregate on
    the checkpointed C) and the run aborts with a clear error if
    maxrow^(iters+1) could cross 2^62 — Spark's non-ANSI BIGINT sum
    would otherwise wrap silently and corrupt the ranking.

    Plan: C is checkpointed once; each round is one equi-join + keyed
    sum (Pregel shape); zero-weight self-entries keep isolated-authority
    vertices present. Nothing collects to the driver.
    """
    raw = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .distinct()
        .localCheckpoint()
    )
    verts = (
        raw.select(F.col("u").alias("x"))
        .unionByName(raw.select(F.col("v").alias("x")))
        .distinct()
    )
    e1 = raw.select(F.col("u"), F.col("v").alias("w"))
    e2 = raw.select(F.col("u"), F.col("v").alias("vv"))
    cmat = (
        e1.join(e2, "u")
        .groupBy("w", "vv")
        .agg(F.count("*").alias("c"))
        .unionByName(
            verts.select(
                F.col("x").alias("w"), F.col("x").alias("vv"), F.lit(0).cast("long").alias("c")
            )
        )
        .localCheckpoint()
    )
    # Overflow guard: a_{t+1}[vv] = Σ_w c[w,vv]·a_t[w], so with a_0 ≡ 1
    # every |a_t| ≤ maxrow^t where maxrow = max_vv Σ_w c[w,vv], and the
    # final hub multiply adds one more factor. Spark's non-ANSI BIGINT
    # sum wraps SILENTLY on overflow — fail loudly up front instead of
    # returning corrupted rankings on a denser graph / larger iters.
    import math

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
    a = verts.select(F.col("x").alias("w"), F.lit(1).cast("long").alias("a"))
    for _ in range(iters):
        a = (
            cmat.join(a, "w")
            .groupBy("vv")
            .agg(F.sum(F.col("c") * F.col("a")).alias("a"))
            .select(F.col("vv").alias("w"), "a")
            .localCheckpoint(eager=False)
        )
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
    """(vertex, n_reached, total_dist): hop-bounded closeness
    centrality sufficient statistics from a MULTI-SOURCE BFS — every
    vertex is a source, distances capped at ``max_hops`` (the k-hop
    closeness used on large graphs, since exact all-pairs closeness is
    O(V·E) and unbounded hops are meaningless on a 100 TB event
    graph). Emits exact integers (count of vertices reached in 1..h
    hops and the sum of their min-distances) so certification needs no
    float rendering; harmonic/closeness scores are one division away
    for consumers.

    Plan: the frontier is keyed by (source, vertex) — one equi-join
    against the cached distinct edge set + one keyed min per round,
    the Pregel BFS schedule with a source dimension riding along. Work
    per round is |frontier|·outdeg, and the settled table is bounded
    by |V|² — for id-compressed interaction graphs (the mod-bucketed
    fixture) that saturates, which is exactly why the bound is safe.
    Bounded-driver fast path below the cap, same posture as
    ``bfs_hops``/``connected_components``; ``driver_cap=0`` forces the
    distributed loop.
    """
    spark = edges.sparkSession
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    vt = e.schema[0].dataType.simpleString()
    verts = (
        e.select(F.col("u").alias("x"))
        .unionByName(e.select(F.col("v").alias("x")))
        .distinct()
    )
    if driver_cap and e.count() <= driver_cap:
        adj: dict = {}
        vs = set()
        for r in e.collect():  # bounded: <= driver_cap (count guard above)
            adj.setdefault(r["u"], []).append(r["v"])
            vs.add(r["u"])
            vs.add(r["v"])
        e.unpersist()
        out = []
        for s in sorted(vs):
            hops = {s: 0}
            frontier_py = [s]
            for h in range(1, max_hops + 1):
                nxt = []
                for u in frontier_py:
                    for v in adj.get(u, ()):
                        if v not in hops:
                            hops[v] = h
                            nxt.append(v)
                if not nxt:
                    break
                frontier_py = nxt
            reached = [d for d in hops.values() if d > 0]
            out.append((s, len(reached), sum(reached)))
        return spark.createDataFrame(
            out, schema=f"vertex {vt}, n_reached bigint, total_dist bigint"
        )

    dist = verts.select(
        F.col("x").alias("s"), F.col("x").alias("v"), F.lit(0).alias("d")
    )
    frontier = dist
    for h in range(1, max_hops + 1):
        grown = (
            frontier.join(e, frontier["v"] == e["u"])
            .select(F.col("s"), e["v"].alias("v"), F.lit(h).alias("d"))
            .distinct()
            # drop already-settled (s, v): min-dist semantics + keeps the
            # frontier from re-walking earlier levels
            .join(dist.select("s", "v"), ["s", "v"], "left_anti")
            .localCheckpoint(eager=False)
        )
        dist = dist.unionByName(grown).localCheckpoint(eager=False)
        frontier = grown
    return (
        dist.filter(F.col("d") > 0)
        .groupBy(F.col("s").alias("vertex"))
        .agg(
            F.count("*").cast("bigint").alias("n_reached"),
            F.sum("d").cast("bigint").alias("total_dist"),
        )
    )
