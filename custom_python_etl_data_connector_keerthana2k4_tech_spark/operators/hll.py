"""HyperLogLog (Flajolet et al. 2007) from first principles as a register
TABLE — the third mergeable sketch family next to Count-Min (sum-merge,
operators/countmin.py) and MinHash signatures (min-merge, operators/
dedup.py): HLL registers merge by elementwise MAX, so per-shard/day/
source register tables accumulate incrementally and distinct counts come
from constant-size state instead of exact distinct shuffles.

This is deliberately NOT Spark's built-in approx_count_distinct (q16/q103
cover that): the registers here are plain rows ``(groups..., bucket,
reg)``, so the registers and the estimate are inspectable DataFrame ops —
and, because the hash is an affine map mod 1e9+7 and the rank is a fixed
CASE ladder on integer bits, the whole construction is reproducible in
DuckDB, making the q359 estimate oracle-paired (the scaled power sum is
an exact integer before the one final division, so both engines see
identical doubles).

m = 128 registers (7 bucket bits), 24-bit rank domain; standard error
1.04/sqrt(128) ~ 9%. The small-range linear-counting correction
(E <= 2.5m with empty registers) is implemented and exercised at
sf0.001, the raw estimator at sf0.01+.

The reference has no aggregation surface at all (complete operator
inventory: /root/reference/etl_connector.py:53-242, SURVEY §2.1-2.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HLL_BUCKET_BITS = 7
HLL_M = 1 << HLL_BUCKET_BITS  # 128 registers
# Rank domain: the hash below is the polynomial rolling fingerprint of the
# key's md5 hex (avalanche from md5, cross-engine from the fingerprint),
# uniform in [0, 1e9+7) ~ 30 bits — 7 bucket bits + 20 rank bits fit with
# margin. An affine hash of sequential keys is NOT usable here: without
# avalanche the leading-zero ranks are wildly biased (measured 50x
# overestimates on consecutive custkeys).
HLL_W = 20  # rank domain bits; reg in [1, W+1], 0 = never-touched bucket
_SHIFT = HLL_W + 1  # scaled power sum: 2^(SHIFT - reg) stays integral
# alpha_m * m^2, computed once so Spark and the SQL oracle share the exact
# double (interpolated into SQL via repr)
HLL_ALPHA_MM = 0.7213 / (1.0 + 1.079 / HLL_M) * HLL_M * HLL_M


def _rho(v: Column) -> Column:
    """Rank of the leading 1-bit of the W-bit word ``v`` (1 = MSB set),
    W+1 if v == 0 — a branchless CASE ladder on integer compares."""
    out = F.lit(HLL_W + 1)
    for k in range(HLL_W, 0, -1):
        out = F.when(v >= (1 << (HLL_W - k)), F.lit(k)).otherwise(out)
    return out


def sql_rho(v_expr: str) -> str:
    branches = "".join(
        f" WHEN ({v_expr}) >= {1 << (HLL_W - k)} THEN {k}"
        for k in range(1, HLL_W + 1)
    )
    return f"CASE{branches} ELSE {HLL_W + 1} END"


def hll_registers(
    df: DataFrame, key_col: str, group_cols: list[str]
) -> DataFrame:
    """Register table ``(groups..., bucket, reg)`` for the distinct count
    of ``key_col`` per group. One map-side-combinable aggregation; at
    most m rows per group regardless of cardinality."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions.text import (
        rolling_fingerprint,
    )

    h = rolling_fingerprint(F.md5(F.col(key_col).cast("string")))
    bucket = h.bitwiseAND(HLL_M - 1)
    v = F.shiftright(h, HLL_BUCKET_BITS).bitwiseAND((1 << HLL_W) - 1)
    return (
        df.select(*group_cols, bucket.alias("bucket"), _rho(v).alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").cast("int").alias("reg"))
    )


def hll_estimate(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Distinct-count estimate per group from the register table.

    The power sum uses the exact scaled integers 2^(SHIFT-reg) (absent
    buckets contribute 2^SHIFT), so the only floating-point is the final
    alpha*m^2 / (S / 2^SHIFT) division — bit-identical cross-engine.
    Applies linear counting when E <= 2.5m and empty registers exist."""
    agg = registers.groupBy(*group_cols).agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_SHIFT} - reg)")).alias(
            "present_sum"
        ),
        F.count(F.lit(1)).alias("n_present"),
    )
    total = agg.select(
        *group_cols,
        (
            F.col("present_sum")
            + (HLL_M - F.col("n_present")) * F.lit(1 << _SHIFT).cast("long")
        ).alias("scaled_sum"),
        (F.lit(HLL_M) - F.col("n_present")).alias("n_zero"),
    )
    raw = F.lit(HLL_ALPHA_MM) / (
        F.col("scaled_sum").cast("double") / F.lit(float(1 << _SHIFT))
    )
    est = F.when(
        (raw <= 2.5 * HLL_M) & (F.col("n_zero") > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / F.col("n_zero").cast("double")),
    ).otherwise(raw)
    return total.select(*group_cols, est.alias("n_est"))
