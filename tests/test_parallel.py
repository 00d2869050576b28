"""``parallel.run_concurrent``: in-order results, fail-fast errors."""

from __future__ import annotations

import time

import pytest

from etl_neptune_spark.parallel import run_concurrent


def test_run_concurrent_fails_fast_and_keeps_order(spark):
    assert run_concurrent(lambda: 1, lambda: 2, lambda: 3) == [1, 2, 3]
    with pytest.raises(ValueError, match="run_concurrent"):
        run_concurrent()

    def boom():
        raise RuntimeError("boom")

    t0 = time.monotonic()
    with pytest.raises(RuntimeError, match="boom"):
        run_concurrent(lambda: time.sleep(30), boom)
    assert time.monotonic() - t0 < 10


def test_run_concurrent_carries_the_callers_job_tags(spark):
    spark.addTag("run-concurrent-caller")
    try:
        seen = run_concurrent(spark.getTags, spark.getTags)
    finally:
        spark.removeTag("run-concurrent-caller")
    assert all("run-concurrent-caller" in tags for tags in seen), seen
