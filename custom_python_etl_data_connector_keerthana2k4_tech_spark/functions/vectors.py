"""Vector math over ``array<float>`` embedding columns (north-star
similarity ops, SURVEY §2.3).

Determinism across engines: float dot products depend on summation order,
so cross-engine comparison quantizes each component to a 1e-6-grid integer
(``array<long>``) first. Integer sums are exact and order-independent —
Spark and DuckDB produce identical dot products, hence identical cosines
(single double division of identical integers) and identical rankings.
Quantization error ~1e-6 relative, irrelevant for search/dedup semantics.

All pure Column expressions (zip_with/aggregate/transform — JVM-side,
no Python UDFs in the hot path).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

QUANT_SCALE = 1_000_000


def quantize(vec: Column | str) -> Column:
    """array<float> -> array<long> on the 1e-6 grid (both-engine-exact)."""
    c = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(
        c, lambda x: F.round(x.cast("double") * QUANT_SCALE).cast("long")
    )


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def int_norm_sq(a: Column) -> Column:
    return int_dot(a, a)


def cosine_from_int(dot: Column, norm_sq_a: Column, norm_sq_b: Column) -> Column:
    """Cosine from integer dot/norms — deterministic double arithmetic."""
    return dot.cast("double") / (
        F.sqrt(norm_sq_a.cast("double")) * F.sqrt(norm_sq_b.cast("double"))
    )


# --- DuckDB SQL mirrors -----------------------------------------------------


def sql_quantize(vec_expr: str) -> str:
    return (
        f"list_transform({vec_expr}, x -> "
        f"CAST(round(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT))"
    )
