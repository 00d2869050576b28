"""Time-series operators: as-of join, bucketed range join, sessionize.

Semantics pinned with hand-built micro-fixtures (exact expected rows),
plus physical-plan guards: the as-of join must not plan a join operator
at all (union-merge layout) and the range join must not degrade to a
nested-loop.
"""

from __future__ import annotations

import datetime as dt

import pytest
from graph_cases import CASES as GRAPH_CASES
from graph_cases import graph_edges
from pyspark.sql import functions as F

from etl_neptune_spark.operators.timeseries import (
    asof_join,
    bucketed_range_join,
    sessionize,
)


def _ts(minute: int, second: int = 0):
    return dt.datetime(2024, 1, 1, 0, minute, second)


def test_asof_picks_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [(1, _ts(10)), (1, _ts(30)), (2, _ts(10))], "k long, lts timestamp"
    )
    right = spark.createDataFrame(
        [(1, _ts(5), 100), (1, _ts(10), 200), (1, _ts(20), 300), (3, _ts(1), 900)],
        "k long, rts timestamp, payload long",
    )
    out = asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts",
        payload=["payload"], right_order="payload",
    )
    got = {(r.k, r.lts.minute): r.r_payload for r in out.collect()}
    # equal ts matches (<=); latest prior wins; no match → null
    assert got == {(1, 10): 200, (1, 30): 300, (2, 10): None}


def test_asof_tie_on_right_ts_takes_greatest_order(spark):
    left = spark.createDataFrame([(1, _ts(10))], "k long, lts timestamp")
    right = spark.createDataFrame(
        [(1, _ts(5), 1), (1, _ts(5), 2)], "k long, rts timestamp, payload long"
    )
    out = asof_join(left, right, "k", "lts", "rts", ["payload"], "payload")
    assert out.collect()[0].r_payload == 2


def test_asof_fill_is_row_atomic(spark):
    # Multi-column payload where the LATEST matching right row has a
    # NULL field: the match must take that row whole (score=9, name
    # NULL), not stitch the NULL field from an older row — per-column
    # forward fill would fabricate (9, 'old'), a row that never existed.
    left = spark.createDataFrame([(1, _ts(10))], "k long, lts timestamp")
    right = spark.createDataFrame(
        [(1, _ts(1), 5, "old"), (1, _ts(5), 9, None)],
        "k long, rts timestamp, score long, name string",
    )
    out = asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts",
        payload=["score", "name"], right_order="score",
    )
    row = out.collect()[0]
    assert (row.r_score, row.r_name) == (9, None)


def test_asof_plans_no_join_operator(spark):
    left = spark.createDataFrame([(1, _ts(1))], "k long, lts timestamp")
    right = spark.createDataFrame([(1, _ts(0), 1)], "k long, rts timestamp, p long")
    plan = (
        asof_join(left, right, "k", "lts", "rts", ["p"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan


def test_range_join_window_is_half_open(spark):
    left = spark.createDataFrame([(1, 10, _ts(30))], "k long, lid long, lts timestamp")
    right = spark.createDataFrame(
        # window_sec=600 → matches rts in [lts-10min, lts)
        [
            (1, _ts(19, 59), 1),   # just outside (too old)
            (1, _ts(20, 0), 2),    # boundary: included (>=)
            (1, _ts(29, 59), 3),   # inside
            (1, _ts(30, 0), 4),    # boundary: excluded (< lts)
            (2, _ts(25), 5),       # wrong key
        ],
        "k long, rts timestamp, rid long",
    )
    out = bucketed_range_join(left, right, "k", "lts", "rts", window_sec=600)
    assert sorted(r.r_rid for r in out.collect()) == [2, 3]


def test_range_join_no_nested_loop(spark):
    left = spark.createDataFrame([(1, _ts(1))], "k long, lts timestamp")
    right = spark.createDataFrame([(1, _ts(0), 1)], "k long, rts timestamp, rid long")
    plan = (
        bucketed_range_join(left, right, "k", "lts", "rts", 600)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_sessionize_gap_boundary_matches_session_window(spark):
    # gap=600s: a gap of exactly 600s stays (touching windows merge);
    # only a strictly greater gap splits — Spark session_window convention
    events = spark.createDataFrame(
        [
            (1, 1, _ts(0)),
            (2, 1, _ts(10, 0)),   # +600s → same session (touch-merge)
            (3, 1, _ts(20, 1)),   # +601s → new session
            (4, 2, _ts(0)),
        ],
        "event_id long, k long, ts timestamp",
    )
    sess = sessionize(events, on="k", ts_col="ts", gap_sec=600, order_col="event_id")
    got = {r.event_id: r.session_id for r in sess.collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 1}

    native = (
        events.groupBy("k", F.session_window("ts", "600 seconds"))
        .agg(F.count("*").alias("n"))
    )
    # same partitioning into sessions: (k=1: [2,1]), (k=2: [1])
    sizes = sorted((r.k, r.n) for r in native.collect())
    assert sizes == [(1, 1), (1, 2), (2, 1)]


def test_scd2_compact_intervals(spark):
    rows = [
        (1, 1, "a", _ts(0)),
        (2, 1, "a", _ts(5)),
        (3, 1, "b", _ts(10)),
        (4, 1, "a", _ts(20)),   # attr returns: NEW interval, not merged
        (5, 2, None, _ts(0)),
        (6, 2, None, _ts(5)),   # NULL run stays one interval
        (7, 2, "x", _ts(9)),
    ]
    df = spark.createDataFrame(rows, "event_id long, k long, attr string, ts timestamp")
    from etl_neptune_spark.operators.timeseries import scd2_compact

    out = scd2_compact(df, key="k", attr="attr", ts_col="ts", order_col="event_id")
    got = sorted(
        (
            (r.k, r.attr, r.valid_from.minute,
             r.valid_to.minute if r.valid_to else None,
             r.n_events, r.is_current)
            for r in out.collect()
        ),
        key=lambda t: (t[0], t[2]),
    )
    assert got == [
        (1, "a", 0, 10, 2, False),
        (1, "b", 10, 20, 1, False),
        (1, "a", 20, None, 1, True),
        (2, None, 0, 9, 2, False),
        (2, "x", 9, None, 1, True),
    ]


def test_connected_components_clusters_and_convergence(spark):
    # two components: {1,2,3,4} via a chain, {10,11}; 99 isolated (no edge -> absent)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    from etl_neptune_spark.operators.components import connected_components

    got = {r.vertex: r.component for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_asof_join_directions_and_tolerance(spark):
    """pandas merge_asof parity: backward/forward/nearest directions
    plus tolerance nulling, on a hand-checked fixture."""
    from etl_neptune_spark.operators.timeseries import asof_join

    left = spark.createDataFrame(
        [(1, "k", "2024-01-01 10:00:00"), (2, "k", "2024-01-01 12:00:00")],
        "lid long, k string, lts string",
    ).select("lid", "k", F.col("lts").cast("timestamp").alias("lts"))
    right = spark.createDataFrame(
        [(10, "k", "2024-01-01 09:00:00", 1.0),
         (11, "k", "2024-01-01 11:30:00", 2.0),
         (12, "k", "2024-01-01 18:00:00", 3.0)],
        "rid long, k string, rts string, val double",
    ).select("rid", "k", F.col("rts").cast("timestamp").alias("rts"), "val")

    def run(**kw):
        out = asof_join(left, right, on="k", left_ts="lts", right_ts="rts",
                        payload=["rid", "val"], right_order="rid", **kw)
        return {r.lid: r.r_rid for r in out.collect()}

    assert run() == {1: 10, 2: 11}                              # backward
    assert run(direction="forward") == {1: 11, 2: 12}           # forward
    # nearest: lid1 gap back 1h vs fwd 1.5h → 10; lid2 back 0.5h vs fwd 6h → 11
    assert run(direction="nearest") == {1: 10, 2: 11}
    # tolerance 45 min: backward match for lid1 (1h away) nulls out
    assert run(tolerance_sec=2700) == {1: None, 2: 11}
    # forward + tolerance 2h: lid2's next view is 6h away → null
    assert run(direction="forward", tolerance_sec=7200) == {1: 11, 2: None}


def test_asof_join_matches_pandas_merge_asof(spark):
    """Randomized equivalence against pandas.merge_asof — every
    direction × tolerance combination must agree exactly on seeded
    random keyed event data (the right side pre-deduped to one row per
    (key, ts), as the certified queries do)."""
    import numpy as np
    import pandas as pd

    from etl_neptune_spark.operators.timeseries import asof_join

    rng = np.random.default_rng(7)
    n_l, n_r = 60, 80
    left_pd = pd.DataFrame(
        {
            "lid": np.arange(n_l),
            "k": rng.integers(0, 5, n_l),
            "lts": pd.to_datetime(rng.integers(0, 10_000, n_l), unit="s"),
        }
    )
    right_pd = pd.DataFrame(
        {
            "k": rng.integers(0, 5, n_r),
            "rts": pd.to_datetime(rng.integers(0, 10_000, n_r), unit="s"),
            "val": rng.normal(size=n_r).round(3),
        }
    ).drop_duplicates(subset=["k", "rts"], keep="last")

    left_df = spark.createDataFrame(left_pd)
    right_df = spark.createDataFrame(right_pd)

    for direction in ("backward", "forward", "nearest"):
        for tol in (None, 1800):
            expected = pd.merge_asof(
                left_pd.sort_values("lts", kind="stable"),
                right_pd.sort_values("rts", kind="stable"),
                left_on="lts",
                right_on="rts",
                by="k",
                direction=direction,
                tolerance=None if tol is None else pd.Timedelta(seconds=tol),
            )
            exp = {
                int(r.lid): None if pd.isna(r.val) else float(r.val)
                for r in expected.itertuples()
            }
            got = asof_join(
                left_df,
                right_df,
                on="k",
                left_ts="lts",
                right_ts="rts",
                payload=["rts", "val"],
                right_order="val",
                direction=direction,
                tolerance_sec=tol,
            )
            gm = {int(r.lid): r.r_val for r in got.collect()}
            assert gm == exp, (direction, tol)


def test_pagerank_hand_computed(spark):
    """3-vertex cycle with one chord, 2 iterations, hand-computed:
    r0=1; r1(1)=.15+.85*1=1.0, r1(2)=.15+.85*.5=.575,
    r1(3)=.15+.85*1.5=1.425; r2(1)=.15+.85*1.425=1.36125,
    r2(2)=.575, r2(3)=.15+.85*(.5+.575)=1.06375. (1.36125 is
    1.361249999… as a double, so 4-dp rounding gives 1.3612.)"""
    from etl_neptune_spark.operators.components import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3)], "src long, dst long"
    )
    got = {r.vertex: r.rank for r in pagerank(edges, iters=2).collect()}
    assert got == {1: 1.3612, 2: 0.575, 3: 1.0638}


def test_connected_components_regimes_agree_on_random_graphs(spark):
    """Seeded random graphs: the distributed star-contraction path and
    the driver union-find path must produce identical labelings, and
    both must satisfy the fixpoint property (every vertex's component
    equals its neighbors' minimum component)."""
    import numpy as np

    from etl_neptune_spark.operators.components import connected_components

    rng = np.random.default_rng(11)
    for trial in range(3):
        n_edges = 120
        pairs = rng.integers(0, 60, size=(n_edges, 2)).tolist()
        edges = spark.createDataFrame(
            [(int(a), int(b)) for a, b in pairs], "src long, dst long"
        )
        dist = {r.vertex: r.component
                for r in connected_components(edges, driver_cap=0).collect()}
        drv = {r.vertex: r.component
               for r in connected_components(edges).collect()}
        assert dist == drv, f"trial {trial}"
        # fixpoint property: adjacent vertices share a component
        for a, b in pairs:
            assert dist[a] == dist[b], f"trial {trial}: edge ({a},{b}) split"


def test_kcore_hand_checked(spark):
    """2-core of a triangle with a pendant path: the path peels away
    round by round, leaving exactly the triangle; k=3 leaves nothing."""
    from etl_neptune_spark.operators.components import kcore

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)], "src long, dst long"
    )
    core2 = {r.vertex for r in kcore(edges, k=2, rounds=6).collect()}
    assert core2 == {1, 2, 3}
    assert kcore(edges, k=3, rounds=6).count() == 0


def test_triangle_counts_hand_checked(spark):
    """K4: every vertex sits in C(3,2)=3 triangles; a 4-cycle has none;
    duplicate/reversed edges must not double-count."""
    from etl_neptune_spark.operators.components import triangle_counts

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    square = [(10, 11), (11, 12), (12, 13), (13, 10), (11, 10)]  # + dup reversed
    edges = spark.createDataFrame(k4 + square, "src long, dst long")
    got = {r.vertex: r.triangles for r in triangle_counts(edges).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3, 10: 0, 11: 0, 12: 0, 13: 0}


def test_connected_components_chain_converges_in_log_rounds(spark):
    """Large-star/small-star contraction: a 128-vertex chain (diameter
    127, the worst case for plain label propagation) must converge in
    O(log d) alternations — max_iter=10 would fail propagation hard."""
    from etl_neptune_spark.operators.components import connected_components

    n = 128
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    got = {r.vertex: r.component
           for r in connected_components(chain, max_iter=10, driver_cap=0).collect()}
    assert got == {i: 0 for i in range(n)}

    # Reversed ids exercise the greatest/least orientation; two chains
    # must not merge.
    two = spark.createDataFrame(
        [(i + 1, i) for i in range(50)]
        + [(1000 + i, 1001 + i) for i in range(50)],
        "src long, dst long",
    )
    got2 = {r.vertex: r.component
            for r in connected_components(two, max_iter=10, driver_cap=0).collect()}
    assert all(got2[i] == 0 for i in range(51))
    assert all(got2[1000 + i] == 1000 for i in range(51))

    # Driver union-find regime (the default for sub-cap graphs) must
    # produce the identical labeling.
    got3 = {r.vertex: r.component for r in connected_components(two).collect()}
    assert got3 == got2


def test_bfs_hops_hand_checked(spark):
    """Directed diamond + tail + unreachable island: hop counts follow
    edge direction, min-hops wins on multi-path vertices, vertices past
    max_hops and unreachable vertices are absent."""
    from etl_neptune_spark.operators.components import bfs_hops

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4), (4, 5),
         (9, 0),            # inbound edge: must NOT be traversed backward
         (100, 101)],       # unreachable island
        "src long, dst long",
    )
    got = {r.vertex: r.hops for r in bfs_hops(edges, 0, max_hops=10).collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 2, 4: 3, 5: 4}

    # hop cap truncates the frontier expansion
    capped = {r.vertex: r.hops for r in bfs_hops(edges, 0, max_hops=2).collect()}
    assert capped == {0: 0, 1: 1, 2: 1, 3: 2}


def test_temporal_reach_respects_time_order(spark):
    """An edge that fires BEFORE the path reaches its tail must not be
    traversed: 0 -(t10)-> 1 -(t5)-> 2 is not a causal path, but
    0 -(t10)-> 1 -(t20)-> 2 is."""
    from etl_neptune_spark.operators.components import temporal_reach

    rows = [
        (0, 1, "2024-01-01 00:00:10"),
        (1, 2, "2024-01-01 00:00:05"),  # too early: unusable after arriving at t10
        (1, 3, "2024-01-01 00:00:20"),
        (3, 2, "2024-01-01 00:00:30"),  # late path to 2 IS causal
        (9, 0, "2024-01-01 00:00:01"),  # inbound edge: direction respected
    ]
    edges = spark.createDataFrame(rows, "src long, dst long, ts string").select(
        "src", "dst", F.col("ts").cast("timestamp").alias("ts")
    )
    got = {r.vertex: str(r.t) for r in temporal_reach(edges, 0).collect()}
    assert got == {
        0: "1970-01-01 00:00:00",
        1: "2024-01-01 00:00:10",
        3: "2024-01-01 00:00:20",
        2: "2024-01-01 00:00:30",
    }


def test_graph_driver_fast_path_matches_distributed(spark, sf_dir):
    """The cap-guarded bounded-driver paths must be value-identical to
    the distributed fixpoint loops (driver_cap=0) on real fixture
    graphs — the fast path is an execution strategy, not a semantic."""
    from etl_neptune_spark.operators.components import (
        bfs_hops,
        msbfs_closeness,
        sssp_bounded,
        temporal_reach,
    )
    from etl_neptune_spark.plans.graph import _interaction_edges
    from etl_neptune_spark.sources import load_table

    e = _interaction_edges(spark, sf_dir)
    fast = {(r.vertex, r.hops) for r in bfs_hops(e, 0).collect()}
    dist = {(r.vertex, r.hops) for r in bfs_hops(e, 0, driver_cap=0).collect()}
    assert fast == dist and len(fast) > 1

    ew = e.withColumn("w", (F.col("src") + F.col("dst")) % 7 + 1)
    fast_w = {(r.vertex, r.dist) for r in sssp_bounded(ew, 0).collect()}
    dist_w = {(r.vertex, r.dist) for r in sssp_bounded(ew, 0, driver_cap=0).collect()}
    assert fast_w == dist_w and len(fast_w) > 1

    events = load_table(spark, sf_dir, "events")
    et = events.select(
        (F.col("user_id") % 200).cast("bigint").alias("src"),
        (F.regexp_extract("props", r'"k": ([0-9]+)', 1).cast("bigint") % 200)
        .alias("dst"),
        "ts",
    ).filter(F.col("dst").isNotNull())
    fast_t = {(r.vertex, str(r.t)) for r in temporal_reach(et, 0).collect()}
    dist_t = {(r.vertex, str(r.t)) for r in temporal_reach(et, 0, driver_cap=0).collect()}
    assert fast_t == dist_t and len(fast_t) > 1

    fast_c = {tuple(r) for r in msbfs_closeness(e).collect()}
    dist_c = {tuple(r) for r in msbfs_closeness(e, driver_cap=0).collect()}
    assert fast_c == dist_c and len(fast_c) > 1


def test_ewma_hand_computed(spark):
    from datetime import datetime

    from etl_neptune_spark.operators.timeseries import ewma

    rows = [
        # key 1: 10, 20, 30 → 10, 0.5*20+0.5*10=15, 0.5*30+0.5*15=22.5
        (1, datetime(2024, 1, 1, 0, 0), 1, 10.0),
        (1, datetime(2024, 1, 1, 0, 1), 2, 20.0),
        (1, datetime(2024, 1, 1, 0, 2), 3, 30.0),
        # key 2: single point seeds and stays
        (2, datetime(2024, 1, 1, 0, 0), 4, 7.0),
        # key 1 tie on ts → event_id breaks it deterministically
        (3, datetime(2024, 1, 1, 0, 0), 5, 1.0),
        (3, datetime(2024, 1, 1, 0, 0), 6, 3.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, value double")
    got = {
        r["event_id"]: r["ewma"]
        for r in ewma(df, "user_id", "ts", "value", "event_id", alpha=0.5).collect()
    }
    assert got == {1: 10.0, 2: 15.0, 3: 22.5, 4: 7.0, 5: 1.0, 6: 2.0}


def test_ewma_null_ts_folds_last_and_null_keys_chain(spark):
    """Null semantics pinned: a null-ts row folds in AFTER the real
    series (never as the seed), and a null-key run is ONE group (the
    carry chains), matching the grouped kernel this op replaced."""
    from datetime import datetime

    from etl_neptune_spark.operators.timeseries import ewma

    rows = [
        (1, datetime(2024, 1, 1, 0, 0), 1, 10.0),
        (1, datetime(2024, 1, 1, 0, 1), 2, 20.0),
        (1, None, 3, 40.0),          # folds last: 0.5*40+0.5*15 = 27.5
        (None, datetime(2024, 1, 1, 0, 0), 4, 8.0),
        (None, datetime(2024, 1, 1, 0, 1), 5, 4.0),  # chains: 0.5*4+0.5*8=6
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double"
    )
    got = {
        r["event_id"]: r["ewma"]
        for r in ewma(df, "user_id", "ts", "value", "event_id", alpha=0.5).collect()
    }
    assert got == {1: 10.0, 2: 15.0, 3: 27.5, 4: 8.0, 5: 6.0}


def test_ohlc_open_close_are_first_last(spark):
    from datetime import datetime

    import __spark_entry__  # noqa: F401  (registry import side effects)
    from etl_neptune_spark.plans.timeseries import q_ohlc  # noqa: F401

    # Direct shape check on a tiny frame via the same window recipe:
    # open = value at min (ts, event_id), close = at max, in one bar.
    rows = [
        (1, datetime(2024, 1, 1, 5, 10), 1, 4.0),
        (1, datetime(2024, 1, 1, 5, 20), 2, 9.0),
        (1, datetime(2024, 1, 1, 5, 20), 3, 2.0),
        (1, datetime(2024, 1, 1, 6, 0), 4, 5.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, value double")
    df.createOrReplaceTempView("_ohlc_fixture")
    out = spark.sql("""
        WITH r AS (
            SELECT user_id, date_trunc('hour', ts) AS bar, value,
                   row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                      ORDER BY ts, event_id) AS ra,
                   row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rd
            FROM _ohlc_fixture
        )
        SELECT bar, max(CASE WHEN ra=1 THEN value END) AS open,
               max(value) AS high, min(value) AS low,
               max(CASE WHEN rd=1 THEN value END) AS close
        FROM r GROUP BY bar ORDER BY bar
    """).collect()
    assert (out[0]["open"], out[0]["high"], out[0]["low"], out[0]["close"]) == (4.0, 9.0, 2.0, 2.0)
    assert (out[1]["open"], out[1]["close"]) == (5.0, 5.0)


def test_holt_hand_computed(spark):
    """Two-state recurrence against a hand-evaluated sequence."""
    from etl_neptune_spark.operators.timeseries import holt

    rows = [(1, i, float(v), i) for i, v in enumerate([10.0, 12.0, 11.0, 15.0])]
    df = spark.createDataFrame(rows, "k long, ts long, v double, id long")
    got = {
        r.id: (r.level, r.trend)
        for r in holt(df, "k", "ts", "v", "id", alpha=0.5, beta=0.3).collect()
    }
    lv, tr = 10.0, 0.0
    expect = {0: (lv, tr)}
    for i, x in [(1, 12.0), (2, 11.0), (3, 15.0)]:
        prev = lv
        lv = 0.5 * x + 0.5 * (lv + tr)
        tr = 0.3 * (lv - prev) + 0.7 * tr
        expect[i] = (lv, tr)
    assert got == expect, (got, expect)


def test_holt_keys_independent_and_batch_invariant(spark):
    """Key boundaries reset the carry; result invariant to input
    partitioning (the streaming-kernel carry contract)."""
    from etl_neptune_spark.operators.timeseries import holt

    rows = [(k, i, float(k * 10 + i), k * 100 + i) for k in (1, 2, 3) for i in range(40)]
    df1 = spark.createDataFrame(rows, "k long, ts long, v double, id long")
    df8 = df1.repartition(8)
    a = sorted((r.id, r.level, r.trend) for r in holt(df1, "k", "ts", "v", "id").collect())
    b = sorted((r.id, r.level, r.trend) for r in holt(df8, "k", "ts", "v", "id").collect())
    assert a == b


def test_cc_regime_boundary_answers_match(spark):
    """r11 probe-and-collect fold pin: connected_components picks its
    regime with ONE limit(cap+1) action whose threshold now counts the
    distinct canonical edge set INCLUDING self loops. At the exact
    boundary (rows == cap → driver union-find; rows == cap+1 with a
    self loop counted → distributed), both regimes must label every
    vertex identically — including self-loop-only vertices."""
    from etl_neptune_spark.operators.components import connected_components

    # 9 distinct canonical edges + 1 self loop = 10 distinct rows.
    pairs = [(i, i + 1) for i in range(9)] + [(42, 42)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    expect = {i: 0 for i in range(10)}
    expect[42] = 42
    # cap 10: probe returns all 10 rows -> driver union-find.
    drv = {
        r.vertex: r.component
        for r in connected_components(edges, driver_cap=10).collect()
    }
    # cap 9: probe returns 10 > 9 rows -> distributed contraction.
    dist = {
        r.vertex: r.component
        for r in connected_components(edges, driver_cap=9).collect()
    }
    assert drv == expect
    assert dist == expect


def test_cc_contracted_graph_finishes_on_driver(spark, monkeypatch):
    """A graph above ``driver_cap`` that one star round contracts under
    it finishes with union-find over the CONTRACTED edges only; the
    vertices they no longer name (the self-loop-only 99) join back
    lazily and label themselves. Must equal the distributed answer."""
    from etl_neptune_spark.operators import components

    k10 = [(a, b) for a in range(10) for b in range(a + 1, 10)]  # 45 edges
    edges = spark.createDataFrame(
        k10 + [(20, 21), (21, 22), (99, 99)], "src long, dst long"
    )
    gates = []
    gate = components._small_graph

    def spy(e, cap):
        rows = gate(e, cap)
        gates.append(None if rows is None else len(rows))
        return rows

    monkeypatch.setattr(components, "_small_graph", spy)
    got = {
        r.vertex: r.component
        for r in components.connected_components(edges, driver_cap=20).collect()
    }
    # 48 distinct rows > 20: distributed; round 1 leaves the 9-edge star
    # of K10 plus the 2-edge star of the path, and those 11 finish here.
    assert gates == [None, 11]
    expect = {v: 0 for v in range(10)} | {20: 20, 21: 20, 22: 20, 99: 99}
    assert got == expect
    dist = {
        r.vertex: r.component
        for r in components.connected_components(edges, driver_cap=0).collect()
    }
    assert dist == expect


@pytest.mark.parametrize("case", sorted(GRAPH_CASES))
def test_graph_operator_leaves_no_cached_plan(spark, case):
    """Every operators.components operator, in both regimes: once its
    result is collected the session's CacheManager is empty — a leaked
    cached plan would be substituted into any later query with the same
    canonical plan and change its jobs and timings."""
    spark.catalog.clearCache()
    GRAPH_CASES[case](graph_edges(spark)).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
