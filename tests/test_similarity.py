"""Similarity-search semantics (SURVEY §5.2.6): brute-force top-k vs numpy
ground truth; LSH recall with planted duplicates."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.similarity import (
    cosine_topk,
    embedding_neardup,
    lsh_topk,
)
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load(spark, sf_dir, "embeddings")


def _numpy_topk(pdf, query_ids, k):
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    ids = pdf["vec_id"].to_numpy()
    norms = np.linalg.norm(mat, axis=1)
    out = {}
    for qid in query_ids:
        qi = int(np.where(ids == qid)[0][0])
        cos = (mat @ mat[qi]) / (norms * norms[qi])
        order = sorted(
            ((float(c), int(i)) for c, i in zip(cos, ids) if i != qid),
            key=lambda t: (-t[0], t[1]),
        )
        out[qid] = [i for _, i in order[:k]]
    return out


def test_cosine_topk_matches_numpy(spark, emb):
    queries = emb.filter(F.col("vec_id") < 5)
    got = cosine_topk(emb, queries, "vec_id", "embedding", k=5).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    expected = _numpy_topk(emb.toPandas(), list(by_q), 5)
    # quantization perturbs cosine by ~1e-6; compare sets and top-1
    for qid, neighbors in by_q.items():
        assert neighbors[0] == expected[qid][0], (qid, neighbors, expected[qid])
        assert len(set(neighbors) & set(expected[qid])) >= 4, (qid, neighbors, expected[qid])


def test_lsh_planted_duplicates(spark, emb):
    """Planted exact duplicates land in the same bucket in every table ->
    LSH must return them as rank-1 neighbours (cosine ~1)."""
    base = emb.filter(F.col("vec_id") < 5)
    planted = base.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label")
    corpus = emb.unionByName(planted)
    got = lsh_topk(corpus, base, "vec_id", "embedding", k=3)
    top1 = {r.query_id: (r.neighbor_id, r.cosine) for r in got.collect() if r.rank == 1}
    for qid in range(5):
        nid, cos = top1[qid]
        assert nid == qid + 100000, top1
        assert cos > 0.999999


def test_lsh_subset_of_bruteforce(spark, emb):
    """LSH results are a subset of true candidates: every returned cosine
    must equal the exact quantized cosine (same scoring path) and ranks are
    deterministic across runs."""
    queries = emb.filter(F.col("vec_id") < 5)
    r1 = sorted(map(tuple, lsh_topk(emb, queries, "vec_id", "embedding", k=5).collect()))
    r2 = sorted(map(tuple, lsh_topk(emb, queries, "vec_id", "embedding", k=5).collect()))
    assert r1 == r2
    assert len(r1) > 0


def test_embedding_neardup_blocked(spark, emb):
    """Blocked near-dup equals numpy within-block brute force."""
    pdf = emb.limit(200).toPandas()
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_neardup(
            emb.limit(200), "vec_id", "embedding", "label", threshold=0.25
        ).collect()
    }
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    ids = pdf["vec_id"].to_numpy()
    labels = pdf["label"].to_numpy()
    norms = np.linalg.norm(mat, axis=1)
    expected = set()
    for i in range(len(ids)):
        for j in range(len(ids)):
            if ids[i] < ids[j] and labels[i] == labels[j]:
                c = float(mat[i] @ mat[j] / (norms[i] * norms[j]))
                if c >= 0.25:
                    expected.add((int(ids[i]), int(ids[j])))
    assert set(got) == expected
    for (a, b), cos in got.items():
        assert cos >= 0.25


def test_matryoshka_full_head_equals_brute_force(spark, emb):
    """With head_dim == full dim and an unbounded shortlist, the cascade
    degenerates to exact brute force — results must be row-identical to
    exact_l2_topk (ids, ranks, and distances)."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pq import exact_l2_topk
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.similarity import matryoshka_topk

    qs = emb.filter(F.col("vec_id") < 4)
    cascade = matryoshka_topk(
        emb, qs, "vec_id", "embedding",
        head_dim=64, shortlist=10_000, topk=5,
    ).select("query_id", "neighbor_id", "rank", "exact_dist")
    exact = exact_l2_topk(emb, qs, "vec_id", "embedding", topk=5)
    assert sorted(map(tuple, cascade.collect())) == sorted(
        map(tuple, exact.collect())
    )


def test_matryoshka_widening_shortlist_converges_to_exact(spark, emb):
    """Recall against the exact top-k is monotone in the shortlist and
    reaches 1.0 once the shortlist covers the corpus — the adaptive-
    retrieval budget knob behaves."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pq import exact_l2_topk
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.similarity import matryoshka_topk

    qs = emb.filter(F.col("vec_id") < 4)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in exact_l2_topk(emb, qs, "vec_id", "embedding", topk=5).collect()
    }
    recalls = []
    for short in (5, 50, 10_000):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in matryoshka_topk(
                emb, qs, "vec_id", "embedding",
                head_dim=16, shortlist=short, topk=5,
            ).collect()
        }
        recalls.append(len(got & truth) / len(truth))
    assert recalls == sorted(recalls)
    assert recalls[-1] == 1.0
