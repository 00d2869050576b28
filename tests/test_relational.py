from __future__ import annotations

import pytest

import __spark_entry__ as entrymod


@pytest.fixture(scope="module")
def registry():
    return entrymod.queries(), entrymod.oracle_sql()


def test_every_query_has_oracle_or_is_declared(registry):
    queries, oracles = registry
    assert set(oracles) <= set(queries)


def test_all_queries_run_nonempty(spark, sf_dir, registry):
    queries, _ = registry
    # A query must leave no cache entry behind: a leaked one would be
    # substituted into every later query with the same plan.
    cache = spark._jsparkSession.sharedState().cacheManager()
    for name, fn in queries.items():
        df = fn(spark, sf_dir)
        assert df.count() > 0, f"{name} returned no rows at {sf_dir}"
        assert cache.isEmpty(), f"{name} left a cached plan behind"


def test_argmax_latest_per_key(spark, sf_dir, registry):
    queries, _ = registry
    df = queries["q_argmax"](spark, sf_dir)
    # one row per user, and users are unique
    rows = df.collect()
    users = [r.user_id for r in rows]
    assert len(users) == len(set(users))


def test_filter_valid_rejects_fabricated_bad_names(spark, sf_dir, registry):
    queries, _ = registry
    rows = queries["q_filter_valid"](spark, sf_dir).collect()
    for r in rows:
        assert not r.svc_name.startswith("arn:")
        assert "/" not in r.svc_name


def test_approx_count_distinct_tracks_exact(spark, sf_dir):
    """The HLL++ scale path stays within its advertised error of the
    exact expand-based distinct count (rows-only check — sketch
    internals are engine-specific, so no cross-engine oracle)."""
    from pyspark.sql import functions as F

    from etl_neptune_spark.sources import load_table

    events = load_table(spark, sf_dir, "events")
    rows = (
        events.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("exact"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert abs(r.approx - r.exact) <= max(3, 0.1 * r.exact)
