"""``run_jobs`` worker threads keep the submitter's Spark job labels, and
a gateway that cannot pass them on says so once instead of silently
running the jobs unlabeled."""

from __future__ import annotations

import warnings

from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.concurrency import run_jobs


def test_thunks_see_the_submitters_job_description(spark):
    sc = spark.sparkContext
    sc.setJobDescription("store.upsert: leg writes")
    try:
        seen = run_jobs([
            lambda: sc.getLocalProperty("spark.job.description"),
            lambda: sc.getLocalProperty("spark.job.description"),
        ])
    finally:
        sc.setJobDescription(None)
    assert seen == ["store.upsert: leg writes"] * 2


def test_unpinned_gateway_warns_once_and_still_runs(spark, monkeypatch):
    # outside pinned-thread mode inheritable_thread_target(session) returns
    # the session itself rather than a decorator
    import pyspark

    monkeypatch.setattr(pyspark, "inheritable_thread_target", lambda f: f)
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("default")
        assert run_jobs([lambda: 1, lambda: 2]) == [1, 2]
        assert run_jobs([lambda: 3, lambda: 4]) == [3, 4]
    unpinned = [w for w in seen if "pinned-thread" in str(w.message)]
    assert len(unpinned) == 1 and unpinned[0].category is RuntimeWarning


def test_nested_run_jobs_thunks_see_the_outer_job_description(spark):
    # a run_jobs inside another's worker thread (a store verb's leg writes
    # inside an overlapped lifecycle step) has no thread-active session
    sc = spark.sparkContext
    sc.setJobDescription("store.mutate: nested legs")

    def inner():
        return run_jobs([
            lambda: sc.getLocalProperty("spark.job.description"),
            lambda: sc.getLocalProperty("spark.job.description"),
        ])

    try:
        seen = run_jobs([inner, inner])
    finally:
        sc.setJobDescription(None)
    assert seen == [["store.mutate: nested legs"] * 2] * 2
