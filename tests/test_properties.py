"""Property-based spot checks (SURVEY §5.2.6): upsert idempotence /
convergence and validation monotonicity over generated record batches.

Hypothesis drives the *data*; each property runs a bounded number of
examples with deriving-from-seed determinism (no flaky time-dependence).
Spark session startup is expensive, so examples are kept small and
deadline checking is disabled.
"""

from __future__ import annotations

import pytest

import datetime as dt

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from conftest import fuzz_depth

from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.upsert import (
    dedup_last_write_wins,
    upsert_dataframe,
)

_KEYS = st.one_of(st.none(), st.integers(min_value=0, max_value=5))
_RECORD = st.tuples(
    _KEYS,
    st.integers(min_value=0, max_value=10),  # version (orders the writes)
    st.integers(min_value=-100, max_value=100),  # payload
)
_BATCH = st.lists(_RECORD, min_size=0, max_size=12)

_SETTINGS = settings(
    max_examples=fuzz_depth(15, 6),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

_SCHEMA = "k long, version long, payload long"


def _df(spark, rows):
    return spark.createDataFrame(
        [(k, v, p) for k, v, p in rows], _SCHEMA
    )


def _canon(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((x is None, x) for x in t),
    )


@pytest.mark.slow
@given(batch=_BATCH)
@_SETTINGS
def test_dedup_last_write_wins_idempotent(spark, batch):
    """dedup(dedup(x)) == dedup(x); keyed rows are unique per key; NULL-key
    rows pass through untouched (the reference's insert fallback)."""
    df = _df(spark, batch)
    once = dedup_last_write_wins(df, key="k", order_by=["version"])
    twice = dedup_last_write_wins(once, key="k", order_by=["version"])
    got = _canon(once)
    assert got == _canon(twice)

    keyed = [r for r in got if r[0] is not None]
    assert len({r[0] for r in keyed}) == len(keyed)  # one row per key
    # every key keeps its max version (last write wins)
    best = {}
    for k, v, _p in batch:
        if k is not None:
            best[k] = max(best.get(k, -1), v)
    assert {r[0]: r[1] for r in keyed} == best
    # NULL-key rows: all retained verbatim
    nulls_in = sorted((v, p) for k, v, p in batch if k is None)
    nulls_out = sorted((r[1], r[2]) for r in got if r[0] is None)
    assert nulls_in == nulls_out


@pytest.mark.slow
@given(existing=_BATCH, batch=_BATCH)
@_SETTINGS
def test_upsert_converges(spark, existing, batch):
    """Replaying the same batch converges: upsert(upsert(E,B),B) ==
    upsert(E,B) on keyed rows (idempotence-by-key is the exactly-once
    mechanism, SURVEY §7 hard part e). NULL-key rows append per run by
    design (reference insert fallback) and are excluded."""
    e0 = dedup_last_write_wins(_df(spark, existing), key="k", order_by=["version"])
    b = _df(spark, batch)
    once = upsert_dataframe(e0, b, key="k", order_by=["version"])
    twice = upsert_dataframe(once, b, key="k", order_by=["version"])
    keyed = lambda df: _canon(df.filter(F.col("k").isNotNull()))  # noqa: E731
    assert keyed(once) == keyed(twice)


@pytest.mark.slow
@given(batch=_BATCH)
@_SETTINGS
def test_validation_monotonic(spark, batch):
    """validate(validate(x)) == validate(x) and valid ∪ invalid == x
    (the R7 filter partitions the input; nothing is lost or duplicated)."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.pipeline import invalid_records, validate

    rows = [
        (
            dt.datetime(2024, 1, 1) if (v % 2 == 0) else None,
            {"id": str(k)} if (p % 3 != 0) else None,
        )
        for k, v, p in batch
    ]
    df = spark.createDataFrame(
        rows, "ingestion_timestamp timestamp, raw struct<id string>"
    )
    valid = validate(df)
    assert _canon(validate(valid)) == _canon(valid)
    assert len(_canon(valid)) + len(_canon(invalid_records(df))) == len(rows)


# ---------------------------------------------------------------------------
# exact_quantiles (operators/quantiles.py): random-input properties
# ---------------------------------------------------------------------------

_VALUES = st.lists(
    st.floats(
        min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
    ),
    min_size=1,
    max_size=60,
)


@pytest.mark.slow
@given(xs=_VALUES, probs=st.lists(st.floats(0.0, 1.0), min_size=1, max_size=4))
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_exact_quantiles_matches_sorted_interpolation(spark, xs, probs):
    """Distributed range-bucket quantiles == quantile_cont on the sorted
    list, for arbitrary data (duplicates, negatives, single element) and
    arbitrary probabilities — small buckets force the recursion paths."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.quantiles import exact_quantiles

    df = spark.createDataFrame([(float(v),) for v in xs], "v double")
    got = exact_quantiles(df, "v", probs, buckets=4, collect_limit=3)
    s = sorted(xs)
    n = len(s)
    for g, p in zip(got, probs):
        h = (n - 1) * p
        lo, hi = int(h), min(int(h) + 1, n - 1)
        want = s[lo] + (s[hi] - s[lo]) * (h - lo)
        assert abs(g - want) < 1e-6 * max(1.0, abs(want)), (p, g, want)
