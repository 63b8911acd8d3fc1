"""Concurrent submission of INDEPENDENT Spark actions (guide §2.6).

Spark's scheduler happily runs several jobs at once inside one
application; actions are only sequential because driver code calls
them sequentially.  A lifecycle operator that persists three index
tables pays three sequential job latencies (~0.2-0.5 s fixed overhead
each at small scale; straggler tails at cluster scale) unless the
writes are submitted together — later jobs' tasks back-fill executors
freed by the earlier jobs' tails.

Only use for actions with NO data dependency on each other.  Job
groups and descriptions are thread-local Spark properties: each thunk
starts with a copy of the caller's (``inheritable_thread_target``), so
its jobs stay in the caller's group and may relabel themselves without
touching the caller.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def observed_count(obs, key: str = "n") -> int:
    """The observed row count of a finished action, tolerating the
    ZERO-TASK case: a job over an empty 0-partition source (e.g. a
    ``limit(0)`` parquet staging table) runs no tasks, so its
    observation never fires and the JVM-side metrics row is invalid —
    which can only mean no row passed the observed node.  Any real
    failure of the action raised from the action call itself, before
    this accessor runs."""
    try:
        return int(obs.get[key])
    except Exception:  # noqa: BLE001 — invalid row == task-less job
        return 0


def run_jobs(*thunks: Callable[[], object]) -> list[object]:
    """Run the given zero-arg actions concurrently; return their
    results in argument order.  Exceptions propagate (the first one
    raised by result order), after every thunk has finished.  With one
    thunk, runs inline — no pool.  Pool threads inherit the caller's
    job group, description and session tags.
    """
    if len(thunks) == 1:
        return [thunks[0]()]
    # active(), not getActiveSession(): the latter is None on threads
    # the caller started itself.  One wrapper per thunk: each captures
    # its own copy of the properties, so a thread that relabels its
    # jobs does not relabel its siblings'.
    session = SparkSession.active()
    thunks = tuple(inheritable_thread_target(session)(t) for t in thunks)
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]
