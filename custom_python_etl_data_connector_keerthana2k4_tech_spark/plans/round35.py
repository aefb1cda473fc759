"""Round-35 additions: the retrieval stores' batch paths complete their
production contracts —

- q399 BATCH time travel: q397 pins a generation for ONE query;
  reproducible batch evals over a mutating index previously had to loop
  single queries. ``ranked_bm25_table(as_of_gen=)`` now serves the whole
  query TABLE from a retained generation (postings + doclen legs pin
  together).
- q400 PER-QUERY RANGE bands in batch filtered ANN: q395's constraints
  are exact-match equality only; real filtered ANN wants per-query
  numeric bands (price ∈ [lo, hi], date ≥ cutoff). A (query_id, lo, hi)
  frame joins into the candidate stream and the band rides the cluster
  equi-join as a residual — candidates outside a query's band drop IN
  the join, before scoring, volume still bounded by the probed lists.

Reference parity: /root/reference/etl_connector.py has no query surface
at all (evidence of absence, SURVEY §0) — north-star extension territory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.registry import query
from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round29 import (
    _IVF_ITERS,
    _IVF_LISTS,
    _IVF_NPROBE,
    _PQ_K,
    _PQ_M,
    _PQ_NQ,
    _PQ_TOPK,
    _coarse_centroids,
    _pq_codebook,
    ivfpq_adc_ctes,
)
from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round33 import (
    _QT_TOPK,
    _qt_bm25_ctes,
    _qt_frame,
)
from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round34 import _MUT_DEL, _MUT_UPS
from custom_python_etl_data_connector_keerthana2k4_tech_spark.session import scratch_dir
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load

# ---------------------------------------------------------------------------
# q399: batch (query-table) BM25 served from a PINNED generation
# ---------------------------------------------------------------------------


@query(
    "q399_batch_time_travel_bm25",
    oracle=f"""
    WITH {_qt_bm25_ctes(_QT_TOPK)}
    SELECT query_id, doc_id, bm25, n_terms_hit, rank FROM qcut
    """,
)
def q399_batch_time_travel_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q397's BATCH sibling: build the postings store, capture the live
    generation, mutate the index (the q396/q397 slices — upsert text
    edits + delete, two CAS generation flips), then rank the whole
    q389 query TABLE ``as_of_gen`` the PRE-mutation generation in ONE
    batch plan (tf/df shared across queries, the per-term df join
    AQE-sized — q389's shape, just pinned). The oracle is q389's exact
    batch-BM25 derivation over the ORIGINAL corpus: a mutation leaking
    into the retained generation, or a doclen/postings leg pinning to
    DIFFERENT generations, is a value mismatch. Batch-vs-single-loop
    equality at the pinned generation is additionally pinned in
    tests/test_store_durability.py."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.postings_store import (
        PostingsStore,
    )

    docs = load(spark, sf_dir, "documents")
    root = scratch_dir("q399_batch_tt_") + "/ix"
    store = PostingsStore.build(spark, docs, "doc_id", "text", root, n_buckets=16)
    g0 = store.current_gen()
    store.upsert(
        docs.filter(F.col("doc_id") % _MUT_UPS == 5).withColumn(
            "text", F.concat(F.lit("fused rank "), F.col("text"))
        )
    )
    store.delete(docs.filter(F.col("doc_id") % _MUT_DEL == 4).select("doc_id"))
    return store.ranked_bm25_table(_qt_frame(spark), topk=_QT_TOPK, as_of_gen=g0)


# ---------------------------------------------------------------------------
# q400: batch filtered ANN with PER-QUERY numeric range bands
# ---------------------------------------------------------------------------

_BAND_MOD = 2  # query's band: label ∈ [query_id % 2, query_id % 2 + 1]


@query(
    "q400_batch_range_filtered_ann",
    oracle=f"""
    WITH {ivfpq_adc_ctes(
        "JOIN embeddings emb ON emb.vec_id = a.vec_id"
        f" AND emb.label >= (qp.query_id % {_BAND_MOD})"
        f" AND emb.label <= (qp.query_id % {_BAND_MOD}) + 1"
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
def q400_batch_range_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch filtered vector search with PER-QUERY RANGE constraints as
    DATA (q395 is the exact-match sibling): each query carries its own
    inclusive numeric band in a (query_id, label_lo, label_hi) frame,
    the bands equi-join into the query side on query_id and ride the
    cluster join as RESIDUAL conditions (operators/pq.adc_join_topk
    3-tuple pair_filters — candidates outside a query's band drop in the
    join, before scoring, never via a crossJoin), and each query's
    top-k is the best k among ITS in-band candidates in ITS probed
    lists (post-filter IVF semantics per query). The query side is the
    round-32 distributed JOIN mode — O(n_lists) driver state at any Q,
    PartitionFilters pruning intact. The oracle replays training,
    probes, codes, ADC sums, AND each query's own band. Row-identical
    to looping ``query(where="label BETWEEN lo AND hi")`` per query
    (pinned in tests/test_store_durability.py)."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pq_store import IVFPQStore

    e = load(spark, sf_dir, "embeddings")
    root = scratch_dir("q400_band_ann_") + "/ix"
    store = IVFPQStore.build(
        spark, e, "vec_id", "embedding", root,
        n_lists=_IVF_LISTS, km_iters=_IVF_ITERS, m=_PQ_M, k_centroids=_PQ_K,
        centroids=_coarse_centroids(spark, sf_dir),
        codebook=_pq_codebook(spark, sf_dir),
        attr_cols=["label"],
    )
    qdf = e.filter(F.col("vec_id") < _PQ_NQ)
    bands = qdf.select(
        F.col("vec_id").alias("query_id"),
        (F.col("vec_id") % _BAND_MOD).cast("int").alias("label_lo"),
        ((F.col("vec_id") % _BAND_MOD) + 1).cast("int").alias("label_hi"),
    )
    return store.query(
        qdf, nprobe=_IVF_NPROBE, topk=_PQ_TOPK,
        attr_ranges=bands,
    )


# ---------------------------------------------------------------------------
# q401: batch RRF served from a PINNED pair (time travel across BOTH stores)
# ---------------------------------------------------------------------------


def _q401_oracle() -> str:
    """The pinned pair serves the PRE-mutation state of BOTH indexes, so
    the oracle is EXACTLY q391's batch-RRF derivation over the original
    corpus — any mutation leaking into either store's retained
    generation (or the two legs pinning to different states) is a value
    mismatch. Shared lazily via registry.oracle_of."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans import registry

    return registry.oracle_of("q391_rrf_query_table")


@query("q401_pinned_pair_rrf", oracle=_q401_oracle)
def q401_pinned_pair_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible evals over a mutating HYBRID deployment: build the
    postings store AND the IVF-PQ store, capture both live generations,
    mutate both through the crash-consistent paired verbs (the q396
    slices — intent-logged upsert + delete, operators/paired.py), then
    serve q391's whole batch RRF pinned to the PRE-mutation pair:
    ``ranked_bm25_table(as_of_gen=)`` (the round-8 batch lexical time
    travel) fuses with ``query(as_of_gen=)`` on the vector side. Both
    legs pin independently — a generation each store retained as
    hardlinks — so the eval is byte-for-byte the index state before the
    verbs ran while live traffic (q396's side) sees the mutations. The
    oracle is q391's full replay over the ORIGINAL corpus, shared
    verbatim: drift in EITHER pinned leg is a value mismatch."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.paired import (
        paired_delete,
        paired_upsert,
    )
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.postings_store import (
        PostingsStore,
    )
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pq_store import IVFPQStore

    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.concurrency import run_jobs

    docs = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    proot = scratch_dir("q401_pinned_p_") + "/ix"
    vroot = scratch_dir("q401_pinned_v_") + "/ix"
    # independent stores, independent roots — build concurrently (guide
    # §2.6; round-9 VERDICT #1a)
    ps, vs = run_jobs([
        lambda: PostingsStore.build(
            spark, docs, "doc_id", "text", proot, n_buckets=16
        ),
        lambda: IVFPQStore.build(
            spark, e, "vec_id", "embedding", vroot,
            n_lists=_IVF_LISTS, km_iters=_IVF_ITERS, m=_PQ_M,
            k_centroids=_PQ_K,
            centroids=_coarse_centroids(spark, sf_dir),
            codebook=_pq_codebook(spark, sf_dir),
        ),
    ])
    g0p, g0v = ps.current_gen(), vs.current_gen()
    paired_upsert(
        ps, vs,
        docs.filter(F.col("doc_id") % _MUT_UPS == 5).withColumn(
            "text", F.concat(F.lit("fused rank "), F.col("text"))
        ),
        e.filter(F.col("vec_id") % _MUT_UPS == 5).withColumn(
            "embedding", F.reverse(F.col("embedding"))
        ),
    )
    paired_delete(
        ps, vs, docs.filter(F.col("doc_id") % _MUT_DEL == 4).select("doc_id")
    )

    from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round33 import (
        _QT_SHORTLIST,
        _rrf_fuse,
    )

    return _rrf_fuse(
        lambda: ps.ranked_bm25_table(
            _qt_frame(spark), topk=_QT_SHORTLIST, as_of_gen=g0p
        ).select(
            "query_id", "doc_id", F.col("rank").cast("long").alias("bm25_rank")
        ),
        lambda: vs.query(
            e.filter(F.col("vec_id") < _PQ_NQ),
            nprobe=_IVF_NPROBE, topk=_QT_SHORTLIST,
            as_of_gen=g0v,
        ).select(
            "query_id",
            F.col("neighbor_id").alias("doc_id"),
            F.col("rank").cast("long").alias("ann_rank"),
        ),
    )


# ---------------------------------------------------------------------------
# q402: the cross-store drift AUDIT itself under the oracle gate
# ---------------------------------------------------------------------------

_AUD_UPS = 13  # doc_id % 13 == 2 -> upserted in the POSTINGS store only
_AUD_STAMP = 5
_AUD_PDEL = 17  # doc_id % 17 == 3 -> deleted from the POSTINGS store only
_AUD_VDEL = 19  # doc_id % 19 == 4 -> deleted from the VECTOR store only


def _drifted_pair(spark: SparkSession, sf_dir: str, tag: str):
    """q402's setup, shared with q404: a consistent postings + IVF-PQ
    pair built over the shared id space (the embeddings ids — a subset
    of the documents ids on every fixture) under temp roots prefixed
    ``tag``, then all three drift classes planted DELIBERATELY with
    single-store verbs — a postings-only stamped upsert (ids unchanged:
    the half-landed paired mutation reconcile exists to catch), a
    postings-only delete, and a vector-only delete. Returns
    ``(ps, vs, base_docs, embeddings)``."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.postings_store import (
        PostingsStore,
    )
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pq_store import IVFPQStore

    docs = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    base_docs = docs.join(
        e.select(F.col("vec_id").alias("doc_id")), "doc_id", "left_semi"
    )
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.concurrency import run_jobs

    proot = scratch_dir(f"{tag}_p_") + "/ix"
    vroot = scratch_dir(f"{tag}_v_") + "/ix"
    # independent stores — build concurrently (guide §2.6)
    ps, vs = run_jobs([
        lambda: PostingsStore.build(
            spark, base_docs, "doc_id", "text", proot, n_buckets=16
        ),
        lambda: IVFPQStore.build(
            spark, e, "vec_id", "embedding", vroot,
            n_lists=_IVF_LISTS, km_iters=_IVF_ITERS, m=_PQ_M,
            k_centroids=_PQ_K,
            centroids=_coarse_centroids(spark, sf_dir),
            codebook=_pq_codebook(spark, sf_dir),
        ),
    ])

    # the planted drift is three SINGLE-STORE verbs; the two postings
    # verbs are order-dependent (same store) but the vector delete
    # touches only vs — overlap it with the postings sequence (§2.6)
    def _plant_postings():
        ps.upsert(
            base_docs.filter(F.col("doc_id") % _AUD_UPS == 2).withColumn(
                "text", F.concat(F.lit("stale edit "), F.col("text"))
            ),
            stamp=_AUD_STAMP,
        )
        ps.delete(
            base_docs.filter(F.col("doc_id") % _AUD_PDEL == 3).select("doc_id")
        )

    run_jobs([
        _plant_postings,
        lambda: vs.delete(
            e.filter(F.col("vec_id") % _AUD_VDEL == 4).select("vec_id")
        ),
    ])
    return ps, vs, base_docs, e


@query(
    "q402_reconcile_drift_audit",
    oracle=f"""
    WITH base AS (SELECT vec_id AS doc_id FROM embeddings),
    p AS (
      SELECT doc_id,
             CASE WHEN doc_id % {_AUD_UPS} = 2 THEN CAST({_AUD_STAMP} AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS p_stamp
      FROM base WHERE doc_id % {_AUD_PDEL} <> 3
    ),
    v AS (
      SELECT doc_id, CAST(0 AS BIGINT) AS v_stamp
      FROM base WHERE doc_id % {_AUD_VDEL} <> 4
    )
    SELECT CAST(COALESCE(p.doc_id, v.doc_id) AS VARCHAR) AS doc_id,
           CASE WHEN v.doc_id IS NULL THEN 'postings_only'
                WHEN p.doc_id IS NULL THEN 'vectors_only'
                WHEN p_stamp <> v_stamp THEN 'stamp_mismatch' END AS side
    FROM p FULL JOIN v ON p.doc_id = v.doc_id
    WHERE v.doc_id IS NULL OR p.doc_id IS NULL OR p_stamp <> v_stamp
    """,
)
def q402_reconcile_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cross-store drift AUDIT under the oracle gate: the pair
    ``_drifted_pair`` builds and deliberately drifts, returned as
    ``reconcile_stores``. The oracle derives the expected audit rows
    from the mutation arithmetic alone (id set algebra + stamp CASE),
    so a reconcile false-negative (drift it fails to surface) or
    false-positive (consistent docs it flags) is a value mismatch.
    Overlaps are exercised by construction: an id deleted from both
    stores yields NO row; an upserted id later deleted from the
    postings side reports vectors_only, not stamp_mismatch. Scale: the
    audit reads the doclen sidecar (id+stamp) and the codes' id+stamp
    columns only — column-pruned, one full-outer join of two narrow
    frames."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.reconcile import reconcile_stores

    ps, vs, _, _ = _drifted_pair(spark, sf_dir, "q402_audit")
    return reconcile_stores(ps, vs)
