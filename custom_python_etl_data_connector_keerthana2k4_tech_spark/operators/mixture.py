"""Two-component 1-D Gaussian mixture via distributed EM.

The reference has no ML surface at all (its complete operator inventory
is /root/reference/etl_connector.py:53-242, SURVEY §2.1); this is
north-star extension surface: unsupervised separation of a numeric
column into two regimes (organic vs promo order values, human vs bot
session lengths) with SOFT responsibilities — the probabilistic
counterpart of k-means' hard assignment (operators/kmeans.py).

Scale design: the E and M steps fuse into ONE aggregation pass per
iteration. Responsibilities are row-local expressions (closed-form
normal densities from the current parameters — plain Column arithmetic,
whole-stage codegen, no UDF), and the M step needs only six sufficient
statistics (sum of r, r*x, r*x^2 for each component), so each iteration
is one map-side-combinable aggregate of the fact with O(1) driver state
— the same driver-holds-parameters-only contract as k-means and
PageRank. Iterations are deterministic: fixed initialization at the
25th/75th percentiles (exact quantiles via operators/quantiles.py),
fixed iteration count, decimal-accumulated statistics.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dnorm(x: F.Column, mu: float, var: float) -> F.Column:
    return (
        F.lit(1.0 / math.sqrt(2.0 * math.pi * var))
        * F.exp(-(x - F.lit(mu)) * (x - F.lit(mu)) / F.lit(2.0 * var))
    )


def gaussian_mixture_1d(
    df: DataFrame,
    col: str,
    n_iter: int = 15,
    tol: float = 1e-9,
) -> dict:
    """Fit a 2-component 1-D Gaussian mixture to ``df[col]`` by EM.

    Returns {"weight": [w1, w2], "mean": [m1, m2], "var": [v1, v2],
    "n": rows, "loglik": final observed-data log-likelihood}.
    Components are ordered by mean. Deterministic for a given input —
    including the early stop: EM's log-likelihood is non-decreasing and
    the per-iteration value is a single decimal-accumulated double, so
    "improvement < tol" is an exact double comparison, not a race. On
    well-separated data this cuts ~half the fixed-budget iterations
    (n_iter stays the hard cap).
    """
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.quantiles import exact_quantiles

    # every EM iteration re-aggregates this one column; persist so the
    # source is scanned once, not once per iteration + quantile pass.
    # Spread the cached blocks across the parallelism: a single-file
    # source plans ONE partition, which would run every iteration's
    # aggregate on one core — the decimal sufficient statistics are
    # order-independent, so the repartition is value-invisible.
    sc = df.sparkSession.sparkContext
    data = (
        df.select(F.col(col).cast("double").alias("x"))
        .filter(F.col("x").isNotNull())
        .repartition(sc.defaultParallelism)
        .persist()
    )
    q1, q3 = exact_quantiles(data, "x", [0.25, 0.75])
    stats = data.agg(
        F.count("*").alias("n"),
        F.var_pop("x").alias("v"),
    ).collect()[0]
    n, v0 = int(stats["n"]), float(stats["v"] or 1.0)
    if n == 0:
        raise ValueError("empty input")
    v0 = max(v0 / 4.0, 1e-12)
    w = [0.5, 0.5]
    mu = [float(q1), float(q3)]
    var = [v0, v0]
    if mu[0] == mu[1]:
        mu[1] = mu[0] + math.sqrt(v0) + 1e-9

    x = F.col("x")
    loglik = float("nan")
    for _ in range(n_iter):
        d1 = F.lit(w[0]) * _dnorm(x, mu[0], var[0])
        d2 = F.lit(w[1]) * _dnorm(x, mu[1], var[1])
        tot = d1 + d2
        r1 = d1 / tot
        # one fused E+M aggregation: six decimal-exact sufficient stats
        agg = data.agg(
            F.sum(r1.cast("decimal(38,15)")).cast("double").alias("s1"),
            F.sum((r1 * x).cast("decimal(38,15)")).cast("double").alias("sx1"),
            F.sum((r1 * x * x).cast("decimal(38,15)")).cast("double").alias("sxx1"),
            F.sum(((1 - r1) * x).cast("decimal(38,15)")).cast("double").alias("sx2"),
            F.sum(((1 - r1) * x * x).cast("decimal(38,15)")).cast("double").alias("sxx2"),
            F.sum(F.log(tot).cast("decimal(38,15)")).cast("double").alias("ll"),
        ).collect()[0]
        s1 = float(agg["s1"])
        s2 = n - s1
        if s1 <= 1e-9 or s2 <= 1e-9:
            break  # one component collapsed; keep last stable params
        mu = [float(agg["sx1"]) / s1, float(agg["sx2"]) / s2]
        var = [
            max(float(agg["sxx1"]) / s1 - mu[0] * mu[0], 1e-12),
            max(float(agg["sxx2"]) / s2 - mu[1] * mu[1], 1e-12),
        ]
        w = [s1 / n, s2 / n]
        prev_ll = loglik
        loglik = float(agg["ll"])
        if not math.isnan(prev_ll) and abs(loglik - prev_ll) < tol:
            break

    data.unpersist()
    order = sorted(range(2), key=lambda i: mu[i])
    return {
        "weight": [w[i] for i in order],
        "mean": [mu[i] for i in order],
        "var": [var[i] for i in order],
        "n": n,
        "loglik": loglik,
    }
