"""Driver-side job overlap for independent Spark actions.

Spark's scheduler runs jobs submitted from several driver threads
concurrently (FIFO: later jobs back-fill executors the earlier job's
tail frees). Store maintenance verbs issue several INDEPENDENT actions
back to back — the postings leg and the doclen sidecar leg of one
generation, or the two staged payloads of one paired intent — and
running them sequentially leaves the cluster idle through every job's
scheduling/commit tail. ``run_jobs`` submits them from a small thread
pool instead: same jobs, same results, overlapped wall clock.

Semantics: every thunk runs to completion (no cancellation on sibling
failure — a half-written temp dir is swept by the caller's normal crash
path, and at scale the surviving leg's work is wasted, not wrong); the
FIRST exception re-raises after all threads finish, so error behavior
matches the sequential loop a caller is replacing. Later siblings'
exceptions are attached to the raised one as notes (round-9 ADVICE —
they were silently discarded). Worker threads inherit the submitting
thread's JVM-side local properties (job group / description) via
``pyspark.inheritable_thread_target`` when a SparkContext is live, so
overlapped jobs keep their labels and group-cancellation scope
(round-9 ADVICE).
"""

from __future__ import annotations

import warnings
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor


def _inherit_spark_locals(thunk: Callable[[], object]) -> Callable[[], object]:
    """Wrap ``thunk`` so the worker thread sees the submitter's Spark
    thread-local properties (setJobDescription/setJobGroup are
    thread-local — a plain pool thread would run unlabeled and escape
    group cancellation). The session is the thread's active one or else
    the process default, as ``SparkSession.active()`` resolves it: a
    ``run_jobs`` nested in another's worker thread has no thread-active
    session but must still pass the labels on. No session at all
    (pure-Python callers, unit tests) passes the thunk through
    unchanged. Outside pinned-thread
    mode (a plain py4j gateway) ``inheritable_thread_target(session)``
    hands back the session itself instead of a decorator — calling it
    would raise TypeError — so the thunk runs as is, with a warning that
    worker jobs lose their labels (issued from one location, so the
    default warning filter shows it once per process)."""
    from pyspark import inheritable_thread_target
    from pyspark.errors import PySparkRuntimeError
    from pyspark.sql import SparkSession

    try:
        sess = SparkSession.active()
    except PySparkRuntimeError:  # NO_ACTIVE_OR_DEFAULT_SESSION
        return thunk
    # session form: inherits local properties AND session tags
    # (the bare-callable form warns that tags are dropped)
    wrap = inheritable_thread_target(sess)
    if wrap is sess:
        warnings.warn(
            "run_jobs: the Spark gateway is not in pinned-thread mode, so "
            "worker threads cannot inherit the job group/description; their "
            "jobs run unlabeled",
            RuntimeWarning,
        )
        return thunk
    return wrap(thunk)


def run_jobs(thunks: Sequence[Callable[[], object]]) -> list:
    """Run independent Spark actions concurrently; returns their results
    in input order. Zero or one thunk short-circuits (no pool for the
    degenerate cases — ThreadPoolExecutor(max_workers=0) raises)."""
    if not thunks:
        return []
    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(_inherit_spark_locals(t)) for t in thunks]
        results, first_err = [], None
        for f in futures:
            try:
                results.append(f.result())
            except BaseException as e:  # noqa: BLE001 - re-raised below
                if first_err is None:
                    first_err = e
                else:
                    first_err.add_note(
                        f"run_jobs: a sibling job also failed: {e!r}"
                    )
                results.append(None)
        if first_err is not None:
            raise first_err
        return results
