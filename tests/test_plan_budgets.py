"""Runtime exchange/shuffle budgets (VERDICT r5 task 3).

The r5 prefix-rank pid-divergence bug was a RE-EXECUTED exchange:
identical plan shape, but the range shuffle ran twice with divergent
partition ids — invisible to the shape audit, caught only at sf1. An
executed-exchange count catches that class at sf0.01: losing exchange
reuse (or accidentally adding a shuffle) changes the count.

Each entry pins (shuffle_exchanges, broadcast_exchanges,
reused_exchanges) from the EXECUTED adaptive plan at sf0.01 for a
representative query: the flagship agg, top-k (zero shuffles —
TakeOrderedAndProject), the join classes, the MERGE, the minhash
LSH pipeline, the six two-phase rank rewrites (post-checkpoint
consumers), and the composed LLM pipeline (which must KEEP its 2
reused exchanges). On an intentional plan change, update the budget
here with one doc line saying why.

Budget history:
- r6: initial budgets recorded (tools/plan_metrics.py introduced).
- r6: shuffle-BYTES bands added (0.6x-1.7x of the recorded volume) and
  8 more queries pinned, incl. q_bucketed_merge at ZERO runtime
  exchanges — the bytes band catches the one re-execution mode counts
  cannot: the same exchange node run twice accumulates its metrics.
- q_dedup_minhash (2, 3, 0) -> (2, 2, 1): its shingle and band-entry
  frames became cuts (``etl_neptune_spark.materialize``) instead of
  persisted caches. The walk follows a cut into the plan it was made
  from, as it followed a cache into its cached plan, so the shingle
  kernel's round-robin spread and its volume stay counted (the 91795
  bytes pin holds: 91690 measured on local[4]). The verify join's two
  sides read one cut scan, and its second broadcast is now a
  ReusedExchange of the first; the cached frame was read through two
  separate TableCacheQueryStages, which AQE broadcast twice. Same
  shuffles, one broadcast fewer.
- the six rank rewrites' bytes bands, None -> values: measured on
  local[4], each query in a fresh session and all of them in this
  fixture's order, at the parent and after the change, the bytes agree
  to 0.1% (q_ks_test 34214-34253, the other five exactly), so their
  volume does not depend on session history.
- q_degrees (4, 0, 0, 10358) -> (2, 0, 0, 3885): ``degree_metrics``
  explodes each edge into its two ends and groups them in one
  aggregate, instead of an out- and an in-degree aggregate joined
  full-outer. What is left is the edge aggregate's shuffle and the
  degree aggregate's. Measured on local[4]: 3885 bytes, against 6325 for
  the four exchanges at the parent on the same host.
"""

from __future__ import annotations

import pytest

SF_01 = "/root/testdata/sf0.01"

# (shuffle_exchanges, broadcast_exchanges, reused_exchanges,
#  expected shuffle_bytes at sf0.01 — band-checked, see below)
BUDGETS = {
    "q_flow_edges": (1, 0, 0, 88656),   # one agg shuffle, top-k local
    "q_topk": (0, 0, 0, 0),             # TakeOrderedAndProject — no exchange
    "q_sum": (1, 0, 0, 5191),
    "q_join_equi": (1, 1, 0, 508),      # agg shuffle + broadcast dim
    "q_join_ip": (1, 1, 1, 5825),       # ip map broadcast REUSED src+dst
    "q_degrees": (2, 0, 0, 3885),       # edge agg + one out/in degree agg
    "q_upsert_nodes": (2, 0, 0, 41248), # SMJ full-outer MERGE (both sides)
    "q_gc_anti": (1, 1, 0, 2960),       # broadcast anti-join + final agg
    # banded LSH: shingle spread (in the cut's origin) + candidate
    # distinct; band-entry broadcast, verify-side broadcast reused by
    # the other side
    "q_dedup_minhash": (2, 2, 1, 91795),
    # composed stages SHARE 2 exchanges; 3 broadcasts, not 4, since
    # 6f60344's curate_corpus(carry=) change (the token count rides the
    # curation scan instead of a join-back)
    "q_llm_pipeline": (4, 3, 2, 25812),
    # the shuffle-free co-located MERGE: ZERO runtime exchanges is the
    # whole point of the bucketed layout — pinned at the metric level,
    # not just the plan shape
    "q_bucketed_merge": (0, 0, 0, 0),
    # join/sink shapes
    "q_tpch_q3": (1, 2, 0, 19065),
    "q_tpch_q18": (1, 2, 0, 167737),
    "q_dedup_exact": (1, 0, 0, 26808),
    "q_asof_join": (2, 0, 0, 159889),   # union-window as-of: one keyed
    # bytes band None: rebuilds its partitioned sink, so volume depends
    # on filesystem state from earlier calls in the session
    "q_partition_prune": (2, 0, 0, None),
    "q_ann_lsh": (1, 0, 0, 135451),     # bucket agg; kernel is Arrow-side
    # two-phase rank rewrites — post-cut consumers only (POST_CUT: the
    # pre-cut range exchange is pinned by test_plans.py's capture
    # hook); the offset-table windows are metadata-scale.
    "q_gini": (4, 1, 0, 2895),
    "q_rfm": (3, 1, 0, 5119),
    "q_auc": (4, 1, 0, 7826),
    "q_lorenz": (5, 1, 0, 3451),
    "q_gains": (5, 1, 0, 9199),
    "q_ks_test": (4, 1, 0, 34240),
}

# measured up to their cut's scan, not into the plan it was made from
POST_CUT = {"q_gini", "q_rfm", "q_auc", "q_lorenz", "q_gains", "q_ks_test"}

# Shuffle-bytes band: same plan + same fixture + same partitioning give
# deterministic shuffle volume up to layout/compression jitter. The band
# is deliberately NARROWER than 2x because the failure mode it exists
# for — ONE exchange node executed twice (reuse lost without AQE
# re-planning) — accumulates metrics on the same node: the count stays
# equal and only the bytes double.
BYTES_LO, BYTES_HI = 0.6, 1.7


@pytest.fixture(scope="module")
def measured(spark):
    import __spark_entry__ as e
    from tools.plan_metrics import collect_exec_metrics

    queries = e.queries()
    out = {}
    for name in BUDGETS:
        df = queries[name](spark, SF_01)
        out[name] = collect_exec_metrics(
            spark, df, follow_cuts=name not in POST_CUT
        )
    return out


def test_exchange_counts_match_budget(measured):
    drift = {}
    for name, (sh, bc, re_, _by) in BUDGETS.items():
        m = measured[name]
        got = (
            m["shuffle_exchanges"],
            m["broadcast_exchanges"],
            m["reused_exchanges"],
        )
        if got != (sh, bc, re_):
            drift[name] = {"expected": (sh, bc, re_), "got": got}
    assert not drift, (
        "exchange budget drift (intentional? update BUDGETS with a doc "
        f"line): {drift}"
    )


def test_shuffle_bytes_within_band(measured):
    drift = {}
    for name, (_sh, _bc, _re, by) in BUDGETS.items():
        got = measured[name]["shuffle_bytes"]
        if by is None:  # session-history-dependent volume (see BUDGETS)
            continue
        if by == 0:
            if got != 0:
                drift[name] = {"expected": 0, "got": got}
        elif not (by * BYTES_LO <= got <= by * BYTES_HI):
            drift[name] = {"expected": by, "got": got}
    assert not drift, (
        "shuffle-volume drift (a doubled volume with equal counts means "
        f"an exchange re-executed — the r5 pid-bug class): {drift}"
    )


def test_shuffles_moved_real_bytes(measured):
    # a query with N>0 executed shuffles must report nonzero shuffle
    # bytes — zero bytes would mean the metric wiring regressed and the
    # budget test is no longer observing real executions
    for name, m in measured.items():
        if m["shuffle_exchanges"] > 0:
            assert m["shuffle_bytes"] > 0, name
