"""Round-31 additions: the two vector-search capabilities a production
retrieval deployment asks for the moment the index exists —

- q379 FILTERED search: top-k among vectors matching an attribute
  predicate ("label = 3" — per-tenant / per-language / per-freshness
  retrieval), served by the persistent IVF-PQ store carrying metadata
  columns next to the codes;
- q380 RECALL audit: recall@k of the approximate IVF-PQ path against
  the brute-force exact ground truth — the evaluation loop that decides
  nprobe/M/K budgets before anyone trusts the index.

Both are oracle-paired end to end (DuckDB replays training, probing,
coding, ADC sums, the attribute filter, and the exact baseline from the
raw parquet). The reference has no vector surface at all
(/root/reference/etl_connector.py, evidence of absence, SURVEY §0);
north-star extension territory like the rest of the ANN family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.registry import query
from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round29 import (
    _IVF_ITERS,
    _IVF_LISTS,
    _IVF_NPROBE,
    _PQ_DIM,
    _PQ_K,
    _PQ_M,
    _PQ_NQ,
    _PQ_TOPK,
    _coarse_centroids,
    _pq_codebook,
    ivfpq_adc_ctes,
)
from custom_python_etl_data_connector_keerthana2k4_tech_spark.session import scratch_dir
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load

_FILTER_LABEL = 3  # the attribute predicate under test (59/500 rows at sf0.01)


@query(
    "q379_filtered_ann",
    oracle=f"""
    WITH {ivfpq_adc_ctes(
        "JOIN embeddings emb ON emb.vec_id = a.vec_id"
        f" AND emb.label = {_FILTER_LABEL}"
    )}
    SELECT query_id, neighbor_id, CAST(cluster AS INT) AS cluster,
           CAST(rk AS INT) AS rank, adc_dist
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_dist, neighbor_id) AS rk
      FROM adc
    ) WHERE rk <= {_PQ_TOPK}
    """,
)
def q379_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-FILTERED vector search through the persistent IVF-PQ
    store: the index carries ``label`` as a metadata column next to the
    codes (``IVFPQStore.build(attr_cols=...)``), and the query keeps only
    candidates matching ``label = {L}`` BEFORE scoring, so the top-k is
    the best k *matching* vectors in the probed lists (post-filter IVF
    semantics). Plan shape: the `cluster IN probes` predicate stays
    PartitionFilters (directory pruning) while the label predicate lands
    in PushedFilters on the probed lists' row groups — both asserted in
    tests/test_pq_store.py. The oracle replays the whole derivation plus
    the same candidate filter, so filtered results are hash-gated like
    every other approximate set."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pq_store import IVFPQStore

    e = load(spark, sf_dir, "embeddings")
    root = scratch_dir("q379_filtered_") + "/ix"
    store = IVFPQStore.build(
        spark, e, "vec_id", "embedding", root,
        n_lists=_IVF_LISTS, km_iters=_IVF_ITERS, m=_PQ_M, k_centroids=_PQ_K,
        centroids=_coarse_centroids(spark, sf_dir),
        codebook=_pq_codebook(spark, sf_dir),
        attr_cols=["label"],
    )
    return store.query(
        e.filter(F.col("vec_id") < _PQ_NQ),
        nprobe=_IVF_NPROBE,
        topk=_PQ_TOPK,
        where=f"label = {_FILTER_LABEL}",
    )


@query(
    "q380_ann_recall",
    oracle=f"""
    WITH {ivfpq_adc_ctes()},
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc_dist, neighbor_id) AS rk
        FROM adc
      ) WHERE rk <= {_PQ_TOPK}
    ),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT vq.vec_id AS query_id, vn.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY vq.vec_id
                 ORDER BY list_sum(list_transform(range({_PQ_DIM}),
                   i -> (vq.qv[i+1]-vn.qv[i+1])*(vq.qv[i+1]-vn.qv[i+1]))),
                   vn.vec_id) AS rk
        FROM v vq JOIN v vn ON vn.vec_id <> vq.vec_id
        WHERE vq.vec_id < {_PQ_NQ}
      ) WHERE rk <= {_PQ_TOPK}
    )
    SELECT q.query_id,
           CAST(count(m.neighbor_id) AS BIGINT) AS n_hits,
           CAST(count(m.neighbor_id) AS DOUBLE) / {_PQ_TOPK} AS recall
    FROM (SELECT DISTINCT query_id FROM exact) q
    LEFT JOIN (
      SELECT a.query_id, a.neighbor_id
      FROM approx a JOIN exact e USING (query_id, neighbor_id)
    ) m ON m.query_id = q.query_id
    GROUP BY 1
    """,
)
def q380_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the approximate IVF-PQ search against the brute-force
    exact quantized-L2 ground truth (``operators/pq.exact_l2_topk``) —
    the audit every ANN deployment runs before trusting a probe/code
    budget. Both legs are deterministic integer derivations, so even the
    RECALL NUMBER itself is oracle-paired: DuckDB replays the
    approximate leg (training, probes, codes, ADC) AND the exact leg and
    must agree on every per-query hit count. Plan shape: the exact leg
    is one salted scoring join of the query frame against the corpus (at
    100 TB the ground truth is computed for an audit SAMPLE of queries,
    which is exactly this shape); the join of the two k-row-per-query
    frames is metadata-sized."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pq import (
        exact_l2_topk,
        ivfpq_topk,
    )

    e = load(spark, sf_dir, "embeddings")
    qdf = e.filter(F.col("vec_id") < _PQ_NQ)
    approx = ivfpq_topk(
        e, qdf, "vec_id", "embedding",
        n_lists=_IVF_LISTS, km_iters=_IVF_ITERS, nprobe=_IVF_NPROBE,
        m=_PQ_M, k_centroids=_PQ_K, topk=_PQ_TOPK,
        centroids=_coarse_centroids(spark, sf_dir),
        codebook=_pq_codebook(spark, sf_dir),
    ).select("query_id", "neighbor_id")
    exact = exact_l2_topk(
        e, qdf, "vec_id", "embedding", topk=_PQ_TOPK
    ).select("query_id", "neighbor_id")
    hits = approx.join(exact, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.lit(float(_PQ_TOPK))
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# q381: matryoshka cascade search (head shortlist -> exact full rerank)
# ---------------------------------------------------------------------------

_MK_HEAD = 16
_MK_SHORT = 50


@query(
    "q381_matryoshka_search",
    oracle=f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x ->
               CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    short AS (
      SELECT query_id, neighbor_id, head_dist FROM (
        SELECT vq.vec_id AS query_id, vn.vec_id AS neighbor_id,
               CAST(list_sum(list_transform(range({_MK_HEAD}),
                 i -> (vq.qv[i+1]-vn.qv[i+1])*(vq.qv[i+1]-vn.qv[i+1])))
                 AS BIGINT) AS head_dist,
               row_number() OVER (
                 PARTITION BY vq.vec_id
                 ORDER BY list_sum(list_transform(range({_MK_HEAD}),
                   i -> (vq.qv[i+1]-vn.qv[i+1])*(vq.qv[i+1]-vn.qv[i+1]))),
                   vn.vec_id) AS hrank
        FROM v vq JOIN v vn ON vn.vec_id <> vq.vec_id
        WHERE vq.vec_id < {_PQ_NQ}
      ) WHERE hrank <= {_MK_SHORT}
    )
    SELECT query_id, neighbor_id, CAST(rk AS INT) AS rank,
           head_dist, exact_dist
    FROM (
      SELECT s.query_id, s.neighbor_id, s.head_dist,
             CAST(list_sum(list_transform(range({_PQ_DIM}),
               i -> (vq.qv[i+1]-vn.qv[i+1])*(vq.qv[i+1]-vn.qv[i+1])))
               AS BIGINT) AS exact_dist,
             row_number() OVER (
               PARTITION BY s.query_id
               ORDER BY list_sum(list_transform(range({_PQ_DIM}),
                 i -> (vq.qv[i+1]-vn.qv[i+1])*(vq.qv[i+1]-vn.qv[i+1]))),
                 s.neighbor_id) AS rk
      FROM short s
      JOIN v vq ON vq.vec_id = s.query_id
      JOIN v vn ON vn.vec_id = s.neighbor_id
    ) WHERE rk <= {_PQ_TOPK}
    """,
)
def q381_matryoshka_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka cascade search (operators/similarity.matryoshka_topk):
    an exact {_MK_HEAD}-dim HEAD pass shortlists {_MK_SHORT} candidates
    per query, then an exact full-dimension rerank keeps the top-k — the
    adaptive-retrieval recipe that makes matryoshka-trained embeddings
    cheap to serve (q348 measures the head's fidelity; this query SERVES
    with it). Both stages are exact integer L2 over quantized components
    with id tiebreaks, so the DuckDB oracle replays the cascade — which
    candidates survive the head cut AND their final ranks — bit for bit.
    Plan shape: one salted scoring join over head slices only for the
    head pass (exact folds over slice(qv, 1, head), JVM codegen), full
    vectors touched only for the Q x shortlist survivors."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.similarity import matryoshka_topk

    e = load(spark, sf_dir, "embeddings")
    return matryoshka_topk(
        e, e.filter(F.col("vec_id") < _PQ_NQ), "vec_id", "embedding",
        head_dim=_MK_HEAD, shortlist=_MK_SHORT, topk=_PQ_TOPK,
    )
