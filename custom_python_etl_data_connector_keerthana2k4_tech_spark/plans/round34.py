"""Round-34 additions: the retrieval stores under PRODUCTION lifecycles —

- q395 BATCH attribute-filtered vector search: q379's ``where=`` takes
  ONE shared predicate; real multi-tenant batches give every query its
  OWN constraints as DATA. A (query_id, label) frame joins into the
  candidate stream (equi-join — never a crossJoin), so each query's
  top-k is the best k among ITS matching candidates in ITS probed lists.
- q396 PAIRED-store mutation consistency: hybrid/RRF deployments mutate
  BOTH indexes for the same doc set. Upsert + delete the same ids in the
  postings store AND the IVF-PQ store, then serve q391's batch RRF from
  the mutated pair; the oracle replays the post-mutation corpus through
  BOTH derivations (frozen-parameter re-encode included), so a doc that
  missed one store's rewrite is a value mismatch.
- q397 GENERATION-PINNED reads: maintenance verbs RETAIN superseded
  generations (hardlinked — operators/genstore.py), so a reproducible
  eval can re-serve the exact pre-mutation index (``as_of_gen``) while
  the live index answers post-mutation traffic. Both states sit under
  one oracle.

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
    _QT_HYK,
    _QT_RRF_K,
    _QT_SHORTLIST,
    _qt_bm25_ctes,
    _qt_frame,
)
from custom_python_etl_data_connector_keerthana2k4_tech_spark.session import scratch_dir
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load

# ---------------------------------------------------------------------------
# q395: batch attribute-filtered vector search (per-query constraints as data)
# ---------------------------------------------------------------------------

_AF_MOD = 4  # per-query constraint: label must equal query_id % _AF_MOD


@query(
    "q395_batch_filtered_ann",
    oracle=f"""
    WITH {ivfpq_adc_ctes(
        "JOIN embeddings emb ON emb.vec_id = a.vec_id"
        f" AND emb.label = (qp.query_id % {_AF_MOD})"
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
def q395_batch_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-filtered vector search for a query TABLE with PER-QUERY
    constraints as DATA (q379 serves one shared ``where=`` string): each
    query carries its own exact-match attribute row in a (query_id,
    label) frame, the constraints equi-join into the candidate stream
    inside the cluster join (operators/pq.adc_join_topk pair_filters —
    matching candidates drop IN the join, before scoring, never via a
    crossJoin), and each query's top-k is the best k among ITS matching
    candidates in ITS probed lists (post-filter IVF semantics, q379's
    contract, per query). The query side is a DataFrame — O(n_lists)
    driver state at any Q, PartitionFilters
    pruning intact (plan-asserted in tests/test_pq_store.py). The oracle
    replays training, probes, codes, ADC sums, AND each query's own
    constraint. Row-identical to looping ``query(where=...)`` per query
    (pinned in tests)."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pq_store import IVFPQStore

    e = load(spark, sf_dir, "embeddings")
    root = scratch_dir("q395_batch_filtered_") + "/ix"
    store = IVFPQStore.build(
        spark, e, "vec_id", "embedding", root,
        n_lists=_IVF_LISTS, km_iters=_IVF_ITERS, m=_PQ_M, k_centroids=_PQ_K,
        centroids=_coarse_centroids(spark, sf_dir),
        codebook=_pq_codebook(spark, sf_dir),
        attr_cols=["label"],
    )
    qdf = e.filter(F.col("vec_id") < _PQ_NQ)
    wants = qdf.select(
        F.col("vec_id").alias("query_id"),
        (F.col("vec_id") % _AF_MOD).cast("int").alias("label"),
    )
    return store.query(
        qdf, nprobe=_IVF_NPROBE, topk=_PQ_TOPK,
        attr_filters=wants,
    )


# ---------------------------------------------------------------------------
# q396: paired-index mutation consistency (upsert/delete BOTH stores, then RRF)
# ---------------------------------------------------------------------------

# the mutation slices: disjoint from the query ids (0..2), expressible on
# both id spaces — upserted docs get a text prefix / a reversed embedding,
# deleted docs vanish from both stores
_MUT_UPS = 11  # doc_id % 11 == 5 -> upserted (replaced)
_MUT_DEL = 9   # doc_id % 9 == 4 -> deleted

_MUT_DOCS_REL = f"""(
      SELECT doc_id,
             CASE WHEN doc_id % {_MUT_UPS} = 5
                  THEN 'fused rank ' || text ELSE text END AS text
      FROM documents WHERE doc_id % {_MUT_DEL} <> 4
    )"""

_MUT_EMB_REL = f"""(
      SELECT vec_id,
             CASE WHEN vec_id % {_MUT_UPS} = 5
                  THEN list_reverse(embedding) ELSE embedding END AS embedding
      FROM embeddings WHERE vec_id % {_MUT_DEL} <> 4
    )"""


@query(
    "q396_paired_mutation_rrf",
    oracle=f"""
    WITH {ivfpq_adc_ctes(corpus_rel=_MUT_EMB_REL)},
    {_qt_bm25_ctes(_QT_SHORTLIST, corpus=_MUT_DOCS_REL)},
    ann AS (
      SELECT query_id, neighbor_id AS doc_id, CAST(rk AS BIGINT) AS ann_rank
      FROM (
        SELECT a.query_id, a.neighbor_id,
               row_number() OVER (PARTITION BY a.query_id
                                  ORDER BY a.adc_dist, a.neighbor_id) AS rk
        FROM adc a WHERE a.query_id IN (SELECT DISTINCT query_id FROM qt)
      ) WHERE rk <= {_QT_SHORTLIST}
    ),
    bm AS (
      SELECT query_id, doc_id, CAST(rank AS BIGINT) AS bm25_rank FROM qcut
    ),
    fused AS (
      SELECT coalesce(bm.query_id, ann.query_id) AS query_id,
             coalesce(bm.doc_id, ann.doc_id) AS doc_id,
             bm.bm25_rank, ann.ann_rank,
             coalesce(CAST(1 AS DOUBLE) / ({_QT_RRF_K} + bm.bm25_rank),
                      CAST(0 AS DOUBLE))
               + coalesce(CAST(1 AS DOUBLE) / ({_QT_RRF_K} + ann.ann_rank),
                          CAST(0 AS DOUBLE)) AS rrf
      FROM bm FULL JOIN ann
        ON ann.query_id = bm.query_id AND ann.doc_id = bm.doc_id
    )
    SELECT query_id, doc_id, bm25_rank, ann_rank, rrf FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY rrf DESC, doc_id) AS frk
      FROM fused
    ) WHERE frk <= {_QT_HYK}
    """,
)
def q396_paired_mutation_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PAIRED-index mutation lifecycle: a hybrid deployment keeps a
    postings store AND an IVF-PQ store over the same doc set, and every
    upsert/delete must land in both (q392 mutates the lexical store
    alone). Build both indexes, UPSERT the same slice into each (text
    edit / re-embedded vector — the vector re-encodes and may change
    home list under the FROZEN parameters), DELETE the same slice from
    each (crash-safe CAS generation flips on both, touched-partition-
    only rewrites), then serve q391's batch RRF from the mutated pair.
    The oracle replays BOTH post-mutation derivations end to end — BM25
    over the mutated corpus, IVF-PQ codes/assignments re-derived under
    the frozen training (ivfpq_adc_ctes corpus_rel) — so a doc that
    missed either store's rewrite, or a stale code, is a value mismatch.
    The mutations flow through the CRASH-CONSISTENT paired verbs
    (operators/paired.py, round 8): each stages its payload + an intent
    record atomically before either store publishes, stamps both legs
    with the same mutation sequence number, and clears the intent only
    after both legs land — a crash between legs is repaired by
    resume_paired and visible to reconcile_stores' stamp audit
    (tests/test_paired.py)."""
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
    proot = scratch_dir("q396_paired_p_") + "/ix"
    vroot = scratch_dir("q396_paired_v_") + "/ix"
    # the two stores are INDEPENDENT (separate roots, separate inputs) —
    # build them concurrently (guide §2.6; round-9 VERDICT #1a): each
    # build is driver-coordinated (encode + two leg writes), so the
    # overlap removes one build's scheduling tail from the wall clock
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
    # the SAME doc slices mutate in BOTH stores, crash-consistently:
    # intent staged before either publish, both legs stamped together
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

    from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round33 import _rrf_fuse

    return _rrf_fuse(
        lambda: ps.ranked_bm25_table(
            _qt_frame(spark), topk=_QT_SHORTLIST
        ).select(
            "query_id", "doc_id", F.col("rank").cast("long").alias("bm25_rank")
        ),
        lambda: vs.query(
            e.filter(F.col("vec_id") < _PQ_NQ),
            nprobe=_IVF_NPROBE, topk=_QT_SHORTLIST,
        ).select(
            "query_id",
            F.col("neighbor_id").alias("doc_id"),
            F.col("rank").cast("long").alias("ann_rank"),
        ),
    )


# ---------------------------------------------------------------------------
# q397: generation-pinned (time-travel) retrieval over a mutated store
# ---------------------------------------------------------------------------

_TT_TERMS = ("table", "sort", "hash")
_TT_TOPK = 15


@query(
    "q398_time_travel_ann",
    oracle=f"""
    WITH {ivfpq_adc_ctes()}
    SELECT query_id, neighbor_id, CAST(cluster AS INT) AS cluster,
           CAST(rk AS INT) AS rank, adc_dist
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_dist, neighbor_id) AS rk
      FROM adc
    ) WHERE rk <= {_PQ_TOPK}
    """,
)
def q398_time_travel_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q397's vector-store sibling: build the IVF-PQ store, capture the
    live generation, mutate the index (re-embedded upserts + deletes —
    the q396 slices, two CAS generation flips), then search
    ``as_of_gen`` the PRE-mutation generation. The pinned read must be
    byte-for-byte the index that was live before the verbs ran, so the
    oracle is the PLAIN IVF-PQ replay over the original corpus
    (ivfpq_adc_ctes with no corpus_rel — q374's derivation, q379's
    output shape): an upserted code or a deleted row leaking into the
    retained generation is a value mismatch."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pq_store import IVFPQStore

    e = load(spark, sf_dir, "embeddings")
    root = scratch_dir("q398_time_travel_") + "/ix"
    store = IVFPQStore.build(
        spark, e, "vec_id", "embedding", root,
        n_lists=_IVF_LISTS, km_iters=_IVF_ITERS, m=_PQ_M, k_centroids=_PQ_K,
        centroids=_coarse_centroids(spark, sf_dir),
        codebook=_pq_codebook(spark, sf_dir),
    )
    g0 = store.current_gen()
    store.upsert(
        e.filter(F.col("vec_id") % _MUT_UPS == 5).withColumn(
            "embedding", F.reverse(F.col("embedding"))
        )
    )
    store.delete(e.filter(F.col("vec_id") % _MUT_DEL == 4).select("vec_id"))
    return store.query(
        e.filter(F.col("vec_id") < _PQ_NQ),
        nprobe=_IVF_NPROBE, topk=_PQ_TOPK, as_of_gen=g0,
    )


def _tt_oracle() -> str:
    """The pinned read serves the PRE-mutation index, so the oracle is
    the plain BM25 derivation over the ORIGINAL corpus — if any
    mutation leaked into the retained generation (a hardlink rewrite
    bug, a doclen flip that touched the wrong gen), it shows up as a
    value mismatch here."""
    terms = ", ".join(f"'{t}'" for t in _TT_TERMS)
    return f"""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    dl AS (
      SELECT doc_id AS d_id, CAST(count(*) AS BIGINT) AS dlen
      FROM tok GROUP BY 1
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dlen) AS DOUBLE) / count(*) AS avg_len FROM dl
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok WHERE term IN ({terms}) GROUP BY 1, 2
    ),
    dfreq AS (
      SELECT term AS f_term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ),
    scored AS (
      SELECT tf.doc_id,
             CAST(sum(CAST(
               ln((CAST(stats.n_docs - dfreq.df AS DOUBLE) + 0.5)
                  / (CAST(dfreq.df AS DOUBLE) + 0.5) + 1)
               * ((tf.tf * CAST(2.2 AS DOUBLE))
                  / (tf.tf + CAST(1.2 AS DOUBLE)
                     * (CAST(0.25 AS DOUBLE)
                        + (CAST(0.75 AS DOUBLE) * dl.dlen) / stats.avg_len)))
             AS DECIMAL(30,10))) AS DOUBLE) AS bm25,
             CAST(count(*) AS BIGINT) AS n_terms_hit
      FROM tf
      JOIN dfreq ON tf.term = dfreq.f_term
      JOIN dl ON tf.doc_id = dl.d_id, stats
      GROUP BY 1
    )
    SELECT doc_id, bm25, n_terms_hit FROM (
      SELECT *, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rk
      FROM scored
    ) WHERE rk <= {_TT_TOPK}
    """


@query("q397_time_travel_bm25", oracle=_tt_oracle())
def q397_time_travel_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATION-PINNED retrieval: build the postings store, capture the
    live generation, mutate the index (upsert text edits + delete a
    slice — two CAS generation flips), then serve ranked BM25
    ``as_of_gen`` the PRE-mutation generation. Maintenance RETAINS
    superseded generations as hardlinked directories
    (operators/genstore.py), so the pinned read is the exact index that
    was live before the verbs ran — the reproducible-eval contract the
    versioned table's time travel gives tables, applied to the index
    stores. The oracle scores the ORIGINAL corpus; any mutation leaking
    into the retained generation is a value mismatch. (The live
    generation serves the POST-mutation corpus — q392/q396 gate that
    side.)"""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.postings_store import (
        PostingsStore,
    )

    docs = load(spark, sf_dir, "documents")
    root = scratch_dir("q397_time_travel_") + "/ix"
    store = PostingsStore.build(spark, docs, "doc_id", "text", root, n_buckets=16)
    g0 = store.current_gen()
    store.upsert(
        docs.filter(F.col("doc_id") % 7 == 1).withColumn(
            "text", F.concat(F.lit("table sort "), F.col("text"))
        )
    )
    store.delete(docs.filter(F.col("doc_id") % 9 == 3).select("doc_id"))
    return store.ranked_bm25(list(_TT_TERMS), topk=_TT_TOPK, as_of_gen=g0)
