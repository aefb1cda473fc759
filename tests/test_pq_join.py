"""The vector query side (operators/pq.encode_queries_join /
adc_join_topk and the salted scoring join): queries stay a DataFrame in
every entry point.

- ``exact_l2_topk`` equals a NumPy brute force over the quantized ints
  at Q = 250 (the ground truth every recall audit trusts);
- plan shape: the scoring join is an equi-join (no cartesian, no nested
  loop);
- a query table whose ids are not corpus ids ranks its own twin vectors
  (no accidental self-exclusion);
- scale smoke: Q = 100,000 queries FROM A TABLE against a synthetic
  corpus, checked by tile identity.

The row-level results of ``pq_topk`` (q372), ``ivfpq_topk`` (q374),
``IVFPQStore.query`` with and without ``where`` (q377, q379) and
``matryoshka_topk`` (q381) are pinned by their DuckDB oracles in
tests/test_oracle.py.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions.vectors import quantize
from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pq import exact_l2_topk, ivfpq_topk
from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pq_store import IVFPQStore
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_exact_l2_topk_matches_numpy_brute_force(spark, sf_dir):
    """Q = 250 queries against the whole corpus: every query's top-k
    (ids, ranks and distances) equals an int64 NumPy brute force over
    the same quantized vectors, self excluded, ties on neighbor id."""
    topk = 5
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 250)
    got = _rows(exact_l2_topk(e, q, "vec_id", "embedding", topk=topk))

    rows = e.select("vec_id", quantize("embedding").alias("qv")).collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    vecs = np.array([r["qv"] for r in rows], dtype=np.int64)
    want = []
    for qi in np.flatnonzero(ids < 250):
        d = ((vecs - vecs[qi]) ** 2).sum(axis=1)
        keep = ids != ids[qi]
        order = np.lexsort((ids[keep], d[keep]))[:topk]
        want += [
            (int(ids[qi]), int(ids[keep][j]), rank, int(d[keep][j]))
            for rank, j in enumerate(order, start=1)
        ]
    assert len(want) == 250 * topk
    assert got == sorted(want)


def test_exact_l2_topk_plans_a_shuffle_hash_equi_join(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    plan = (
        exact_l2_topk(e, q, "vec_id", "embedding", topk=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the salted scoring join is a SHUFFLE-HASH equi-join, so the partial
    # top-k window sorts in place on the join partitioning — only the
    # Q x n_salts x topk survivors shuffle for the final cut
    assert "ShuffledHashJoin" in plan


# -- scale smoke: Q = 100k queries from a table ------------------------------

_DIM = 16
_TILES = 200
_BASE = 500  # base query vectors; Q = _TILES * _BASE = 100,000


def _synth(spark, n, id_offset=0, id_start=0):
    """Deterministic pseudo-embeddings from spark.range (no fixture, no
    driver state): component i of row id is ((id+off)*i*37 mod 1000)/1000."""
    return spark.range(id_start, id_start + n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(1, {_DIM}), "
            f"i -> CAST((id + {id_offset}) * i * 37 % 1000 AS FLOAT) / 1000.0)"
        ).alias("embedding"),
    )


@pytest.mark.slow
def test_serves_100k_query_table(spark):
    """100k queries arrive as a TABLE and are never collected.
    Correctness is pinned by TILE IDENTITY — every tile is a copy of the
    same 500 base vectors under fresh ids, and ranking depends only on
    the vector (ties break on neighbor_id), so each tile's result must
    equal the base tile's result, modulo the id shift."""
    corpus = _synth(spark, 2000)
    base = _synth(spark, _BASE, id_offset=777, id_start=1_000_000)
    tiled = base.select(
        F.explode(F.expr(f"sequence(0, {_TILES - 1})")).alias("t"),
        "vec_id", "embedding",
    ).select(
        (F.col("vec_id") + F.col("t") * 1000).alias("vec_id"), "embedding"
    )
    assert tiled.count() == _TILES * _BASE

    common = dict(n_lists=16, km_iters=2, nprobe=1, m=4, k_centroids=8, topk=3)
    ref = ivfpq_topk(corpus, base, "vec_id", "embedding", **common)
    ref_rows = {}
    for r in ref.collect():
        ref_rows.setdefault(r["query_id"], []).append(
            (r["neighbor_id"], r["rank"], r["adc_dist"], r["exact_dist"])
        )

    got = ivfpq_topk(corpus, tiled, "vec_id", "embedding", **common)
    agg = got.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("query_id").alias("nq"),
    ).collect()[0]
    assert agg["n"] == _TILES * sum(len(v) for v in ref_rows.values())
    assert agg["nq"] == _TILES * len(ref_rows)

    # spot tiles: mapped back to base ids, rows match the base tile
    for t in (0, 57, _TILES - 1):
        lo, hi = 1_000_000 + t * 1000, 1_000_000 + t * 1000 + _BASE
        tile = {}
        for r in got.filter(
            (F.col("query_id") >= lo) & (F.col("query_id") < hi)
        ).collect():
            tile.setdefault(r["query_id"] - t * 1000, []).append(
                (r["neighbor_id"], r["rank"], r["adc_dist"], r["exact_dist"])
            )
        assert {k: sorted(v) for k, v in tile.items()} == {
            k: sorted(v) for k, v in ref_rows.items()
        }


def test_store_join_mode_foreign_query_table(spark, sf_dir, tmp_path):
    """A query TABLE whose ids are not corpus ids (the production shape:
    queries come from somewhere else): every query is ranked, and each
    foreign query's neighbors are its corpus twin's neighbors with the
    twin itself allowed back in — nothing else is excluded."""
    e = load(spark, sf_dir, "embeddings")
    st = IVFPQStore.build(
        spark, e, "vec_id", "embedding", str(tmp_path / "ix"), km_iters=1
    )
    twins = e.filter(F.col("vec_id") < 25)
    foreign = twins.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )

    def ranked(df, shift):
        out = {}
        for r in sorted(df.collect(), key=lambda r: r["rank"]):
            out.setdefault(r["query_id"] - shift, []).append(r["neighbor_id"])
        return out

    own = ranked(st.query(twins, nprobe=2, topk=5), 0)
    alien = ranked(st.query(foreign, nprobe=2, topk=5), 1_000_000)
    assert sorted(alien) == sorted(own) == list(range(25))  # every query served
    for qid, nbrs in alien.items():
        assert len(nbrs) == 5
        others = [n for n in nbrs if n != qid]
        assert len(others) >= 4
        assert others == own[qid][: len(others)]


def test_recall_audit_runs_with_both_legs_distributed(spark, sf_dir):
    """q380's shape at Q scale: the ANN leg audited against the exact
    leg — recall computed entirely from DataFrames, no driver-side query
    state in either leg."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 50)
    truth = exact_l2_topk(e, q, "vec_id", "embedding", topk=5)
    ann = ivfpq_topk(e, q, "vec_id", "embedding", nprobe=2, topk=5)
    hits = truth.join(
        ann.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"],
        "left_semi",
    )
    recall = hits.count() / truth.count()
    assert 0.0 <= recall <= 1.0
    assert truth.count() == 50 * 5
