"""Run independent driver actions on parallel threads (guide §2.6).

Spark's scheduler happily runs several jobs at once inside one
application; actions are sequential only because driver code calls them
sequentially. When a certificate computes several INDEPENDENT frames
(two persisted-index query runs, a fresh rebuild, two equality checks),
submitting them from a small thread pool lets the next job's tasks
back-fill executors freed by the current job's straggler tail — the
default FIFO scheduling is exactly that back-fill behaviour.

Results are answer-identical by construction: the thunks must be
independent deterministic computations, and every one of them was
already fully evaluated by the sequential form. A failure surfaces as
soon as it happens: the caller does not wait behind thunks still running.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def run_concurrent(*thunks: Callable[[], Any]) -> list[Any]:
    """Evaluate ``thunks`` on parallel driver threads; return their
    results in order.

    Fails fast: as soon as one thunk raises, the exception of the first
    (by position) thunk that has finished with a failure re-raises. The
    call does not wait for thunks still running; they finish on their
    own threads, so a caller whose thunk blocks on another (a stream
    awaiting termination) must unblock it from the failing side.

    ``inheritable_thread_target`` carries the JVM thread-locals (job
    group/description) into the pool threads under pinned-thread mode —
    the PySpark-documented way to run driver-side job threads. Given the
    active session, it also carries the caller's job tags."""
    if not thunks:
        raise ValueError("run_concurrent: needs at least one thunk")
    if len(thunks) == 1:
        return [thunks[0]()]
    inherit = inheritable_thread_target(SparkSession.active())
    pool = ThreadPoolExecutor(max_workers=len(thunks))
    try:
        futures = [pool.submit(inherit(t)) for t in thunks]
        done, _ = wait(futures, return_when=FIRST_EXCEPTION)
        for f in futures:
            if f in done and f.exception() is not None:
                raise f.exception()
        return [f.result() for f in futures]
    finally:
        pool.shutdown(wait=False)
