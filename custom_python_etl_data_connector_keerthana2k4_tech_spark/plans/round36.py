"""Round-36 additions: the paired-index serving story closes its last
two operational gaps under the oracle gate —

- q403 PAIRED STREAMING ingest: round 8's intent log made BATCH paired
  maintenance crash-consistent, but a streaming hybrid deployment still
  committed each micro-batch into the two stores as two independent
  epoch commits — a crash between them half-lands the batch. The
  ``paired_streaming_append`` sink (operators/paired.py) commits each
  epoch through the same intent protocol; the streamed pair must equal
  the one-shot pair, so the oracle is q391's full batch-RRF derivation
  over the complete corpus, shared verbatim.
- q404 DRIFT REPAIR: ``reconcile_stores`` detects drift,
  ``resume_paired`` repairs only intent-logged mutations —
  ``repair_drift`` (operators/paired.py) closes the loop for
  OUT-OF-BAND drift by routing the audited id slice back through the
  paired verbs from a source-of-truth frame. The oracle derives the
  entire repaired (id, stamp, stamp) surface from the planted-drift
  arithmetic alone.

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
    _coarse_centroids,
    _pq_codebook,
)
from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round33 import (
    _QT_SHORTLIST,
    _qt_frame,
)
from custom_python_etl_data_connector_keerthana2k4_tech_spark.session import scratch_dir
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load

# ---------------------------------------------------------------------------
# q403: paired STREAMING ingest — streamed pair == one-shot pair
# ---------------------------------------------------------------------------

_STREAM_MOD = 7  # ids % 7 == 1 (within the embeddings id space) stream in


def _q403_oracle() -> str:
    """The streamed pair must be indistinguishable from the one-shot
    build over the full corpus, so the oracle is EXACTLY q391's batch
    RRF derivation — a micro-batch that half-landed (one store ahead of
    the other), double-committed (replay not deduped), or was dropped
    (lineage mix-up) is a value mismatch. Shared lazily via
    registry.oracle_of (the q401 device)."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans import registry

    return registry.oracle_of("q391_rrf_query_table")


@query("q403_paired_streaming_rrf", oracle=_q403_oracle)
def q403_paired_streaming_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crash-consistent STREAMING ingest across a hybrid pair: build the
    postings store and the IVF-PQ store on the corpus MINUS a held-out
    slice (the vector store under the q391 fixture's frozen training —
    upsert/stream semantics never retrain), then stream the held-out
    docs+vectors into BOTH stores with ``paired_streaming_append``: each
    micro-batch stages ONCE next to an epoch intent, both legs apply
    through the stores' exactly-once epoch commits (genstore watermark +
    lineage guard), and per-leg done markers make a crash between the
    two stores' commits repairable by the stream's own replay or
    ``resume_paired`` — the round-8 streaming gap
    (operators/paired.py:paired_commit_epoch). Then serve q391's whole
    batch RRF from the LIVE pair (base generations + committed epochs on
    both legs). The oracle is q391's full replay over the complete
    corpus, shared verbatim: a half-landed, double-committed, or dropped
    batch in either store is a value mismatch. Scale: the staged payload
    is one parquet round-trip of each micro-batch — never the corpus —
    and the serve is the q391 plan (equi-joins only; BM25 leg
    bucket-pruned, ANN leg the cluster-joined IVF-PQ search)."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.paired import (
        paired_streaming_append,
    )
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.postings_store import (
        PostingsStore,
    )
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pq_store import IVFPQStore

    docs = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    # the held-out slice lives in the INTERSECTION id space (a paired
    # stream carries text AND vector for each id); embeddings ids are a
    # subset of documents ids on every fixture
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.concurrency import run_jobs

    held = (F.col("vec_id") % _STREAM_MOD) == 1
    held_ids = e.filter(held).select(F.col("vec_id").alias("doc_id"))
    init_docs = docs.join(held_ids, "doc_id", "left_anti")
    init_vecs = e.filter(~held)
    proot = scratch_dir("q403_stream_p_") + "/ix"
    vroot = scratch_dir("q403_stream_v_") + "/ix"
    # one stream carries the union of both stores' columns; each leg's
    # encoder selects its own
    payload = docs.join(held_ids, "doc_id", "left_semi").join(
        e.filter(held).select("vec_id", "embedding"),
        F.col("doc_id") == F.col("vec_id"),
    )
    src = scratch_dir("q403_stream_src_")
    # three INDEPENDENT driver-coordinated jobs open this fixture — the
    # two store builds (separate roots, separate inputs) and the stream
    # source's payload write — run them concurrently (guide §2.6;
    # round-9 VERDICT #1a)
    ps, vs, _ = run_jobs([
        lambda: PostingsStore.build(
            spark, init_docs, "doc_id", "text", proot, n_buckets=16
        ),
        lambda: IVFPQStore.build(
            spark, init_vecs, "vec_id", "embedding", vroot,
            n_lists=_IVF_LISTS, km_iters=_IVF_ITERS, m=_PQ_M,
            k_centroids=_PQ_K,
            centroids=_coarse_centroids(spark, sf_dir),
            codebook=_pq_codebook(spark, sf_dir),
        ),
        lambda: payload.write.mode("overwrite").parquet(src),
    ])
    ckpt = scratch_dir("q403_stream_ckpt_") + "/ckpt"
    stream = spark.readStream.schema(payload.schema).parquet(src)
    paired_streaming_append(ps, vs, stream, ckpt).awaitTermination()

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
# q404: drift REPAIR under the oracle gate
# ---------------------------------------------------------------------------

# q402's planted drift, reused verbatim so the repair faces all three
# drift classes (operators-level constants live in plans/round35.py)
from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round35 import (  # noqa: E402
    _AUD_PDEL,
    _AUD_UPS,
    _AUD_VDEL,
    _drifted_pair,
)

_REPAIR_STAMP = 1  # first paired verb on a fresh pair: sequence -> 1


@query(
    "q404_drift_repair",
    oracle=f"""
    WITH base AS (SELECT vec_id AS doc_id FROM embeddings),
    kept AS (
      -- an id deleted from BOTH stores is consistent absence, not
      -- drift: the audit never sees it and repair leaves it out
      SELECT doc_id FROM base
      WHERE NOT (doc_id % {_AUD_PDEL} = 3 AND doc_id % {_AUD_VDEL} = 4)
    )
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           CASE WHEN doc_id % {_AUD_UPS} = 2 OR doc_id % {_AUD_PDEL} = 3
                     OR doc_id % {_AUD_VDEL} = 4
                THEN CAST({_REPAIR_STAMP} AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS p_stamp,
           CASE WHEN doc_id % {_AUD_UPS} = 2 OR doc_id % {_AUD_PDEL} = 3
                     OR doc_id % {_AUD_VDEL} = 4
                THEN CAST({_REPAIR_STAMP} AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS v_stamp
    FROM kept
    """,
)
def q404_drift_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detection→repair, end to end under the oracle gate: plant q402's
    three drift classes with single-store verbs (a postings-only stamped
    upsert — the half-landed paired mutation; a postings-only delete; a
    vector-only delete), run ``reconcile_stores``, then hand the audit
    to ``repair_drift`` with the ORIGINAL corpus as the source of truth:
    every drifted id still in the truth re-upserts through ONE
    crash-consistent ``paired_upsert`` (fresh stamp {_REPAIR_STAMP} on
    both legs — which also restores the postings upsert's planted stale
    text to the source text), and drifted ids absent from the truth
    would paired-delete (none here). The returned frame is the ENTIRE
    repaired stamp surface — ``store_stamps``' (doc_id, p_stamp,
    v_stamp) — and the oracle derives it from the mutation arithmetic
    alone: a doc the repair missed (stamp still 0 or 5 on one side), a
    doc it failed to restore (row missing), or a doc it resurrected
    that was consistently absent (the both-deleted ids) is a value
    mismatch; implicitly the post-repair ``reconcile_stores`` is empty
    because both stamp columns agree on every row. Scale: the audit is
    one full-outer join of two pre-aggregated id/stamp frames, and the
    repair batch is audit-sized (drifted ids semi-join the truth — never
    a corpus rewrite)."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.paired import repair_drift
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.reconcile import (
        reconcile_stores,
        store_stamps,
    )

    ps, vs, base_docs, e = _drifted_pair(spark, sf_dir, "q404_repair")
    repair_drift(ps, vs, reconcile_stores(ps, vs), base_docs, e)
    return store_stamps(ps, vs).select("doc_id", "p_stamp", "v_stamp")
