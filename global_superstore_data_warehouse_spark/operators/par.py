"""Driver-thread overlap for composite plans (guide §2.6 "Overlap
independent jobs").

Several registered composites build TWO independent sub-pipelines
that each materialize eagerly (localCheckpoint jobs, gate counts,
iterative rounds) before one final join compares them — e.g.
``dedup_bcubed_agreement`` (simhash clustering vs minhash
clustering) and the recall evals (exact ground-truth pairs vs LSH
candidates). Built sequentially, each side is a serial chain of many
small jobs that leaves most executors idle — the measured per-query
cost is dominated by composition latency, not compute (r13 verdict,
"checkpoint-heavy dedup composites"). Spark's scheduler happily runs
jobs from several driver threads at once, so building the sides
concurrently overlaps their latencies: wall ≈ max(side) instead of
sum(side).

This is NOT caching: every call computes everything from the parquet
inputs exactly as before — the same jobs run, only overlapped. Jobs
submitted from a thread back-fill executors freed by the other
side's stragglers (FIFO scheduling is exactly the back-fill behavior
wanted). Results are deterministic: the sides share no mutable state
and the final join consumes both frames only after both threads have
returned.

Each thunk runs with the caller's Spark local properties (job group,
job description, scheduler pool): the jobs it submits belong to the
caller's job group, so ``getJobIdsForGroup`` counts them and
``cancelJobGroup`` reaches them.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Callable, TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

T = TypeVar("T")


def build_concurrently(*thunks: Callable[[], T]) -> list[T]:
    """Run each zero-arg builder in its own driver thread and return
    their results in argument order. The call returns or raises only
    after EVERY thunk has finished (the pool's ``with`` exit waits for
    all of them), so a failure does not cut the other builds short.
    When thunks fail, the exception raised is that of the first-listed
    failing thunk, whichever failed first in time.

    With an active Spark session, each thunk is wrapped in the
    caller's thread so its thread inherits the caller's local
    properties; without one, the thunks run unwrapped.
    """
    if len(thunks) <= 1:
        return [t() for t in thunks]
    session = SparkSession.getActiveSession()
    if session is not None:
        inherit = inheritable_thread_target(session)
        thunks = tuple(inherit(t) for t in thunks)
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]
