"""Pre-trained parameters in the PQ/IVF-PQ operators (operators/pq.py):
passing the centroids/codebook a corpus trains is value-invisible.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pq import ivfpq_topk, pq_topk
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load(spark, sf_dir, "embeddings")


def test_pretrained_params_equal_self_trained(emb):
    """Passing pre-trained centroids/codebook (the train-once fixture
    q374/q377 share) is value-invisible: training is deterministic, so
    the pass-through path must be row-identical to self-training."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.kmeans import kmeans
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pq import pq_fit_codebook

    _, cents = kmeans(emb, "embedding", "vec_id", k=8, iters=3)
    cb = pq_fit_codebook(emb, "vec_id", "embedding", 4, 8)
    qs = emb.filter(F.col("vec_id") < 3)
    assert _rows(
        ivfpq_topk(emb, qs, "vec_id", "embedding", topk=5)
    ) == _rows(
        ivfpq_topk(
            emb, qs, "vec_id", "embedding", topk=5,
            centroids=cents, codebook=cb,
        )
    )
    assert _rows(pq_topk(emb, qs, "vec_id", "embedding", topk=5)) == _rows(
        pq_topk(emb, qs, "vec_id", "embedding", topk=5, codebook=cb)
    )
