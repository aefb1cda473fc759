"""First-principles HLL operator family (operators/hll.py): rank-ladder
pin and estimate accuracy on the fixture. Cross-engine value equality of
q359 is separately gated by tests/test_oracle.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.hll import (
    HLL_M,
    HLL_W,
    hll_estimate,
    hll_registers,
)
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return load(spark, sf_dir, "orders").select("o_orderpriority", "o_custkey")


def test_rho_ladder_matches_python(spark):
    """The CASE rank ladder == Python bit arithmetic for edge values."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.hll import _rho

    vals = [0, 1, 2, 3, (1 << HLL_W) - 1, 1 << (HLL_W - 1), 5, 1024]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {r.v: r.rho for r in df.select("v", _rho(F.col("v")).alias("rho")).collect()}
    for v in vals:
        expected = HLL_W + 1 if v == 0 else HLL_W - v.bit_length() + 1
        assert got[v] == expected, (v, got[v], expected)


def test_hll_estimate_within_error_bound(spark, orders):
    regs = hll_registers(orders, "o_custkey", ["o_orderpriority"])
    est = {r.o_orderpriority: r.n_est for r in hll_estimate(regs, ["o_orderpriority"]).collect()}
    exact = {
        r.o_orderpriority: r.n
        for r in orders.groupBy("o_orderpriority")
        .agg(F.count_distinct("o_custkey").alias("n"))
        .collect()
    }
    for k, n in exact.items():
        rel = abs(est[k] - n) / n
        # standard error 1.04/sqrt(128) ~ 9%; allow 4 sigma
        assert rel < 0.4, (k, n, est[k])


def test_hll_register_count_bounded(spark, orders):
    """At most m register rows per group, whatever the cardinality."""
    regs = hll_registers(orders, "o_custkey", ["o_orderpriority"])
    counts = regs.groupBy("o_orderpriority").count().collect()
    for r in counts:
        assert r["count"] <= HLL_M
