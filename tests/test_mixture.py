"""operators/mixture.gaussian_mixture_1d: distributed EM pinned against a
NumPy twin (same initialization, same iteration count) and against
planted two-component data.

Reference has no ML surface (/root/reference/etl_connector.py:53-242).
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.mixture import gaussian_mixture_1d


def numpy_em(xs, q1, q3, n_iter=15, tol=1e-9):
    x = np.asarray(xs, dtype=np.float64)
    n = len(x)
    v0 = max(float(np.var(x)) / 4.0, 1e-12)
    w = np.array([0.5, 0.5])
    mu = np.array([q1, q3], dtype=np.float64)
    if mu[0] == mu[1]:
        mu[1] = mu[0] + math.sqrt(v0) + 1e-9
    var = np.array([v0, v0])
    prev_ll = None
    for _ in range(n_iter):
        d = np.stack(
            [
                w[k] / np.sqrt(2 * np.pi * var[k]) * np.exp(-((x - mu[k]) ** 2) / (2 * var[k]))
                for k in range(2)
            ]
        )
        tot = d.sum(axis=0)
        r = d / tot
        s = r.sum(axis=1)
        if s.min() <= 1e-9:
            break
        mu = (r * x).sum(axis=1) / s
        var = np.maximum((r * x * x).sum(axis=1) / s - mu**2, 1e-12)
        w = s / n
        ll = float(np.log(tot).sum())
        if prev_ll is not None and abs(ll - prev_ll) < tol:
            break
        prev_ll = ll
    order = np.argsort(mu)
    return w[order], mu[order], var[order]


def test_em_recovers_planted_mixture(spark):
    rng = np.random.RandomState(11)
    xs = np.concatenate([rng.normal(0.0, 1.0, 3000), rng.normal(10.0, 2.0, 1000)])
    df = spark.createDataFrame([(float(v),) for v in xs], "x double")
    fit = gaussian_mixture_1d(df, "x", n_iter=20)
    assert fit["n"] == 4000
    assert abs(fit["mean"][0] - 0.0) < 0.15
    assert abs(fit["mean"][1] - 10.0) < 0.3
    assert abs(fit["weight"][0] - 0.75) < 0.03
    assert abs(math.sqrt(fit["var"][1]) - 2.0) < 0.3


def test_em_matches_numpy_twin(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/events.parquet").select("value")
    fit = gaussian_mixture_1d(df, "value", n_iter=10)
    xs = [r["value"] for r in df.collect()]
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.quantiles import exact_quantiles

    q1, q3 = exact_quantiles(df, "value", [0.25, 0.75])
    w, mu, var = numpy_em(xs, q1, q3, n_iter=10)
    assert fit["mean"] == pytest.approx(list(mu), rel=1e-6)
    assert fit["weight"] == pytest.approx(list(w), rel=1e-6)
    assert fit["var"] == pytest.approx(list(var), rel=1e-6)


def test_em_early_stop_deterministic(spark):
    """Sharply separated data converges long before the cap; a huge cap
    must return bit-identical parameters to a moderate one (the early
    stop engaged, so extra budget is never spent)."""
    rng = np.random.RandomState(3)
    xs = np.concatenate([rng.normal(-50, 1, 400), rng.normal(50, 1, 400)])
    df = spark.createDataFrame([(float(v),) for v in xs], "x double")
    f1 = gaussian_mixture_1d(df, "x", n_iter=8)
    f2 = gaussian_mixture_1d(df, "x", n_iter=60)
    assert f1["mean"] == f2["mean"]
    assert f1["var"] == f2["var"]
    assert f1["weight"] == f2["weight"]
