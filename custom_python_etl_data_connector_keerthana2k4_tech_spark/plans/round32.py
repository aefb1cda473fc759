"""Round-32 additions: perceptual-hash media near-dup (q383), the
postings store's ranked BM25 (q384), hybrid and RRF retrieval over the
stores (q385, q388), versioned MERGE (q387) and the IVF-PQ nprobe
operating curve (q386).

Reference parity: /root/reference/etl_connector.py has no vector surface
(evidence of absence, SURVEY §0) — north-star extension territory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.registry import query
from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round29 import (
    _IVF_NPROBE,
    _PQ_DIM,
    _PQ_M,
    _PQ_NQ,
    _PQ_TOPK,
    _coarse_centroids,
    _pq_codebook,
    ivfpq_adc_ctes,
)
from custom_python_etl_data_connector_keerthana2k4_tech_spark.session import scratch_dir
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load


# ---------------------------------------------------------------------------
# q383: perceptual-hash (aHash) multimodal near-dup
# ---------------------------------------------------------------------------

#: 7 bands over the 63-bit fingerprint -> 9-bit bands (1/512 per-band
#: collision — the >= 8-bit regime SCALE.md prescribes). The round-5
#: registration ran max_hamming=16 (4-bit bands), which was BOTH the
#: selectivity cliff and inside the band-shift-wrap correctness hole the
#: round-5 verdict found; hamming_band_pairs now refuses that region.
_PH_MAX_HAMMING = 6
#: planted-twin id offset — divisible by 3 so a planted copy of an image
#: doc stays in the image modality class (doc_id % 3 preserved)
_PH_TWIN_OFFSET = 999_999_999


@query(
    "q383_phash_neardup",
    oracle=f"""
    WITH img AS (
      SELECT doc_id, text, length(text) AS L FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id + {_PH_TWIN_OFFSET} AS doc_id,
             'Z' || substring(text, 2) AS text,
             length('Z' || substring(text, 2)) AS L
      FROM documents WHERE doc_id % 30 = 0
      UNION ALL
      SELECT doc_id + {2 * _PH_TWIN_OFFSET} AS doc_id,
             replace(text, 's', 'S') AS text,
             length(text) AS L
      FROM documents WHERE doc_id % 30 = 6
    ),
    cells AS (
      SELECT doc_id,
             unnest(list_transform(range(L), i -> struct_pack(
               cell := CAST(i * 63 // L AS INT),
               b := ord(substring(text, CAST(i + 1 AS INT), 1))))) AS cb
      FROM img
    ),
    g AS (
      SELECT doc_id, cb.cell AS cell, sum(cb.b) // count(*) AS g
      FROM cells GROUP BY 1, 2
    ),
    tot AS (SELECT doc_id, sum(g) AS sg FROM g GROUP BY 1),
    h AS (
      SELECT g.doc_id,
             CAST(sum(CASE WHEN 63 * g.g > tot.sg
                           THEN 1::BIGINT << g.cell ELSE 0 END) AS BIGINT)
               AS ahash
      FROM g JOIN tot USING (doc_id) GROUP BY 1
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.ahash, b.ahash)) <= {_PH_MAX_HAMMING}
    """,
)
def q383_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate IMAGE pairs — the media half of
    corpus dedup (text has exact/MinHash/SimHash/SemDeDup; this covers
    the ``media`` BinaryType columns themselves). Pipeline: the
    multimodal asset table's image payloads hash to 63-bit aHash
    fingerprints in one Arrow-batched mapInPandas stage
    (multimodal/ops.ahash_assets — the deterministic SGMM decode, so the
    fingerprint is itself SQL-replayable, the q50 device), then pairs
    within Hamming {_PH_MAX_HAMMING} mine via the same pigeonhole-
    lossless banded join as SimHash (operators/dedup.hamming_band_pairs,
    balanced 9-bit bands) — so the banded Spark result must equal
    DuckDB's brute-force all-pairs replay exactly. The corpus carries
    two PLANTED twin families (id-offset into the same modality class):
    a subtle one (first character perturbed — lands at hamming 0-1) and
    a case-fold one (every 's' uppercased — measured to STRADDLE the
    threshold, some twins inside 0..{_PH_MAX_HAMMING} and some beyond),
    so the oracle is nonempty at the production threshold AND the
    boundary cut itself is value-gated in both directions. At 100 TB: payloads are touched once
    (fingerprints are 8 bytes/image), and all pairwise work happens on
    banded fingerprints at 1/512 per-band collision. The reference has
    no media surface at all (/root/reference/etl_connector.py, SURVEY
    §0)."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.multimodal import assets_from_documents
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.multimodal.ops import phash_neardup_pairs

    d = load(spark, sf_dir, "documents")
    subtle = d.filter(F.col("doc_id") % 30 == 0).select(
        (F.col("doc_id") + _PH_TWIN_OFFSET).alias("doc_id"),
        F.concat(F.lit("Z"), F.expr("substring(text, 2)")).alias("text"),
        F.length(F.concat(F.lit("Z"), F.expr("substring(text, 2)"))).cast(
            "long"
        ).alias("n_chars"),
    )
    casefold = d.filter(F.col("doc_id") % 30 == 6).select(
        (F.col("doc_id") + 2 * _PH_TWIN_OFFSET).alias("doc_id"),
        F.expr("replace(text, 's', 'S')").alias("text"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    corpus = (
        d.select("doc_id", "text", F.col("n_chars").cast("long").alias("n_chars"))
        .unionByName(subtle)
        .unionByName(casefold)
    )
    return phash_neardup_pairs(
        assets_from_documents(corpus), max_hamming=_PH_MAX_HAMMING
    )


# ---------------------------------------------------------------------------
# q384: BM25 ranked retrieval over the persistent postings store
# q385: hybrid retrieval (BM25 recall -> exact quantized cosine rerank)
# ---------------------------------------------------------------------------

_BM25_TERMS = ("table", "sort", "hash")
_BM25_TOPK = 15
_HY_SHORTLIST = 50
_HY_K = 10


def _bm25_scored_ctes() -> str:
    """DuckDB replay of the store-backed BM25 derivation: store
    tokenization (single-space split, empties kept), doclen sidecar
    semantics (token-slot count per doc), query-term tf/df, and q171's
    operand-identical scoring tree — ending at a ``scored`` CTE."""
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
    tok AS MATERIALIZED (
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
      -- order-independent DECIMAL accumulation (the dsum/DSUM device):
      -- keeps the oracle bit-identical to Spark no matter what order
      -- partial aggregation delivers the per-term contributions in
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
    )"""


@query(
    "q384_bm25_store_ranked",
    oracle=f"""
    WITH {_bm25_scored_ctes()}
    SELECT doc_id, bm25, n_terms_hit FROM (
      SELECT *, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rk
      FROM scored
    ) WHERE rk <= {_BM25_TOPK}
    """,
)
def q384_bm25_store_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 RANKED retrieval through the persistent postings store — the
    query a retrieval deployment actually serves (q375/q376 are the
    exact-match siblings; q171 scores the full corpus from scratch).
    The store prunes to the query terms' bucket directories
    (PartitionFilters, <= |terms| dirs — plan-asserted in
    tests/test_postings_store.py), tf/df derive from the pruned
    postings, corpus length stats come from the doclen sidecar the store
    maintains under ingest, and the top-k is an orderBy+limit
    (TakeOrderedAndProject — distributed partial top-k). The oracle
    replays tokenization, sidecar semantics, scoring, and the cut from
    the raw documents, so index staleness or a pruning fault surfaces
    as a value mismatch. The store is the shared build-once index
    (plans/stores.py) — the amortized build-once/serve-many shape."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.stores import shared_postings_store

    store = shared_postings_store(spark, sf_dir)
    return store.ranked_bm25(list(_BM25_TERMS), topk=_BM25_TOPK)


def _hybrid_oracle() -> str:
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions.vectors import sql_quantize

    return f"""
    WITH {_bm25_scored_ctes()},
    shortlist AS (
      SELECT doc_id, bm25 FROM (
        SELECT *, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rk
        FROM scored
      ) WHERE rk <= {_HY_SHORTLIST}
    ),
    q AS (
      SELECT unnest({sql_quantize('embedding')}) AS qx,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings WHERE vec_id = 0
    ),
    c AS (
      SELECT e.vec_id, unnest({sql_quantize('e.embedding')}) AS cx,
             generate_subscripts(e.embedding, 1) AS i
      FROM embeddings e JOIN shortlist s ON e.vec_id = s.doc_id
      WHERE e.vec_id <> 0
    ),
    dots AS (
      SELECT c.vec_id AS doc_id,
             sum(q.qx * c.cx) AS dot,
             sum(q.qx * q.qx) AS q_nsq,
             sum(c.cx * c.cx) AS c_nsq
      FROM q JOIN c USING (i)
      GROUP BY 1
    ),
    reranked AS (
      SELECT doc_id,
             CAST(dot AS DOUBLE)
               / (sqrt(CAST(q_nsq AS DOUBLE)) * sqrt(CAST(c_nsq AS DOUBLE)))
               AS cosine
      FROM dots
    )
    SELECT r.doc_id, s.bm25, r.cosine, CAST(r.rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (ORDER BY cosine DESC, doc_id) AS rank
      FROM reranked
    ) r JOIN shortlist s ON s.doc_id = r.doc_id
    WHERE r.rank <= {_HY_K}
    """


@query("q385_hybrid_retrieval", oracle=_hybrid_oracle())
def q385_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — the standard serving stack: BM25 lexical
    RECALL from the persistent postings store (q384's ranked query,
    shortlist {_HY_SHORTLIST}) followed by an exact quantized-integer
    cosine RERANK of the shortlist's embeddings against the query
    vector (q378's rerank leg, operators/similarity.cosine_topk).
    Plan: bucket-pruned postings read + 1-row stats broadcast for the
    recall leg; the rerank touches embeddings only for the shortlist
    (semi-join gate) with one broadcast query vector; the composition
    adds no extra shuffle. Oracle replays BOTH stages — BM25 scores,
    the shortlist cut, cosines, and final ranks all sit under the
    value gate."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.similarity import cosine_topk
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.extensions import materialize_once
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.stores import shared_postings_store

    e = load(spark, sf_dir, "embeddings")
    store = shared_postings_store(spark, sf_dir)
    # the shortlist is read three ways (semi-join gate, bm25 carry, rerank
    # base) — materialize the 50-row frame instead of re-running the
    # bucket-pruned scoring per branch
    hits = materialize_once(
        store.ranked_bm25(list(_BM25_TERMS), topk=_HY_SHORTLIST)
    )
    cand = e.join(
        hits.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    )
    ranked = cosine_topk(
        cand, e.filter(F.col("vec_id") == 0), "vec_id", "embedding", k=_HY_K
    )
    return (
        ranked.select(F.col("neighbor_id").alias("doc_id"), "cosine", "rank")
        .join(hits.select("doc_id", "bm25"), "doc_id")
        .select("doc_id", "bm25", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# q388: RRF hybrid search over the two persistent indexes
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_TOPK = 10


def _rrf_store_oracle() -> str:
    return f"""
    WITH {ivfpq_adc_ctes()},
    {_bm25_scored_ctes()},
    bm AS (
      SELECT doc_id, bm25_rank FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS bm25_rank
        FROM scored
      ) WHERE bm25_rank <= {_HY_SHORTLIST}
    ),
    ann AS (
      SELECT neighbor_id AS doc_id, CAST(rk AS BIGINT) AS ann_rank FROM (
        SELECT a.neighbor_id,
               row_number() OVER (PARTITION BY a.query_id
                                  ORDER BY a.adc_dist, a.neighbor_id) AS rk
        FROM adc a WHERE a.query_id = 0
      ) WHERE rk <= {_HY_SHORTLIST}
    ),
    fused AS (
      SELECT coalesce(bm.doc_id, ann.doc_id) AS doc_id,
             bm.bm25_rank, ann.ann_rank,
             coalesce(CAST(1 AS DOUBLE) / ({_RRF_K} + bm.bm25_rank),
                      CAST(0 AS DOUBLE))
               + coalesce(CAST(1 AS DOUBLE) / ({_RRF_K} + ann.ann_rank),
                          CAST(0 AS DOUBLE)) AS rrf
      FROM bm FULL JOIN ann ON ann.doc_id = bm.doc_id
    )
    SELECT doc_id, bm25_rank, ann_rank, rrf FROM (
      SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS frk
      FROM fused
    ) WHERE frk <= {_RRF_TOPK}
    """


@query("q388_rrf_store_hybrid", oracle=_rrf_store_oracle())
def q388_rrf_store_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion over the two PERSISTENT indexes — the
    production hybrid-search deployment shape: a BM25 run from the
    bucket-pruned postings store (q384's ranked query) fused with an
    ANN run from the directory-pruned IVF-PQ store (q377's query) via
    RRF (k={_RRF_K}) — zero score calibration between the lexical and
    vector legs, integer ranks only. q159 demonstrates RRF on aggregate
    facets and q385 hybridizes by score; this is the index-to-index
    composition users actually ship. Plan: both legs are index reads
    (<= |terms| token buckets; nprobe cluster dirs); BM25 shortlist
    ranks derive via the distributed global-rank device (no one-task
    sort), ANN ranks are per-query windows; fusion is one full-outer
    join of two k-row frames and the final cut is orderBy+limit. The
    oracle replays BOTH index derivations AND the fusion arithmetic, so
    every fused rank is hash-gated."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.ranks import with_global_rank
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.stores import (
        shared_ivfpq_store,
        shared_postings_store,
    )

    e = load(spark, sf_dir, "embeddings")

    pstore = shared_postings_store(spark, sf_dir)
    bm = with_global_rank(
        pstore.ranked_bm25(list(_BM25_TERMS), topk=_HY_SHORTLIST),
        [F.col("bm25").desc(), F.col("doc_id").asc()],
        out="bm25_rank",
    ).select("doc_id", "bm25_rank")

    vstore = shared_ivfpq_store(spark, sf_dir)
    ann = vstore.query(
        e.filter(F.col("vec_id") == 0), nprobe=_IVF_NPROBE,
        topk=_HY_SHORTLIST,
    ).select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").cast("long").alias("ann_rank"),
    )

    fused = bm.join(ann, "doc_id", "full_outer").select(
        "doc_id",
        "bm25_rank",
        "ann_rank",
        (
            F.coalesce(
                F.lit(1).cast("double") / (F.lit(_RRF_K) + F.col("bm25_rank")),
                F.lit(0.0),
            )
            + F.coalesce(
                F.lit(1).cast("double") / (F.lit(_RRF_K) + F.col("ann_rank")),
                F.lit(0.0),
            )
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), "doc_id").limit(_RRF_TOPK)


# ---------------------------------------------------------------------------
# q387: conditional-clause MERGE lifecycle on the versioned table
# ---------------------------------------------------------------------------


@query(
    "q387_versioned_merge",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_orderpriority AS pr,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    tgt AS (SELECT * FROM base WHERE k % 5 <> 0),
    src AS (
      SELECT k, pr,
             CASE WHEN k % 3 = 0 THEN cents + 50000
                  ELSE cents - 50000 END AS cents
      FROM base WHERE k % 7 = 0
    ),
    t_rows AS (
      SELECT t.k,
             CASE WHEN s.k IS NULL THEN 'keep'
                  WHEN t.cents < 500000 THEN 'delete'
                  WHEN s.cents > t.cents THEN 'update'
                  ELSE 'keep' END AS act,
             t.pr AS t_pr, t.cents AS t_cents,
             s.pr AS s_pr, s.cents AS s_cents
      FROM tgt t LEFT JOIN src s ON s.k = t.k
    ),
    kept AS (
      SELECT k,
             CASE WHEN act = 'update' THEN s_pr ELSE t_pr END AS pr,
             CASE WHEN act = 'update' THEN s_cents ELSE t_cents END AS cents
      FROM t_rows WHERE act <> 'delete'
    ),
    ins AS (
      SELECT s.k, s.pr, s.cents
      FROM src s LEFT JOIN tgt t ON t.k = s.k
      WHERE t.k IS NULL AND s.cents >= 200000
    ),
    final AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
    SELECT pr AS o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM final GROUP BY 1
    """,
)
def q387_versioned_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-parity conditional MERGE through the real versioned-table
    machinery (operators/versioned.versioned_merge): v1 publishes 80% of
    orders partitioned by priority; v2 merges a source batch (keys
    divisible by 7, price shifted +-500.00) with the full clause ladder —
    WHEN MATCHED AND t.cents < 500000 THEN DELETE, WHEN MATCHED AND
    s.cents > t.cents THEN UPDATE (first true clause wins), WHEN NOT
    MATCHED AND s.cents >= 200000 THEN INSERT. The aggregate reads v2
    through the manifest; the oracle replays the ladder relationally
    from raw orders, so clause precedence, the keep-by-default rule, the
    insert gate, AND the partition-referencing rewrite all sit under the
    value gate. 100 TB shape: the merge rewrites only partitions holding
    source rows or matched keys (one key semi-join locates them) and
    references the rest — tests/test_versioned_merge.py pins the
    manifest reuse on sliver-sized batches."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.versioned import (
        read_versioned,
        versioned_merge,
        versioned_upsert,
    )

    base = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pr"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    root = scratch_dir("q387_merge_") + "/t"
    versioned_upsert(
        spark, base.filter(F.col("k") % 5 != 0), root, "k",
        order_by=["cents"], partition_by="pr",
    )
    src = base.filter(F.col("k") % 7 == 0).select(
        "k", "pr",
        F.when(F.col("k") % 3 == 0, F.col("cents") + 50000)
        .otherwise(F.col("cents") - 50000)
        .alias("cents"),
    )
    versioned_merge(
        spark, src, root, "k",
        matched_clauses=[
            ("t.cents < 500000", "delete"),
            ("s.cents > t.cents", "update"),
        ],
        not_matched="insert",
        not_matched_cond="s.cents >= 200000",
    )
    return (
        read_versioned(spark, root)
        .groupBy(F.col("pr").alias("o_orderpriority"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
    )


# ---------------------------------------------------------------------------
# q386: nprobe/recall operating curve (recall@k + candidate cost per budget)
# ---------------------------------------------------------------------------

_NPROBES = (1, 2, 4, 8)


def _curve_oracle() -> str:
    exact_dist = (
        f"list_sum(list_transform(range({_PQ_DIM}), "
        "i -> (vq.qv[i+1]-vn.qv[i+1])*(vq.qv[i+1]-vn.qv[i+1])))"
    )
    return f"""
    WITH {ivfpq_adc_ctes(nprobe=max(_NPROBES), keep_probe_rank=True)},
    ns AS (SELECT unnest([{", ".join(str(n) for n in _NPROBES)}]) AS nprobe),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT vq.vec_id AS query_id, vn.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY vq.vec_id
                                  ORDER BY {exact_dist}, vn.vec_id) AS rk
        FROM v vq JOIN v vn ON vn.vec_id <> vq.vec_id
        WHERE vq.vec_id < {_PQ_NQ}
      ) WHERE rk <= {_PQ_TOPK}
    ),
    approx AS (
      SELECT nprobe, query_id, neighbor_id FROM (
        SELECT ns.nprobe, a.query_id, a.neighbor_id,
               row_number() OVER (PARTITION BY ns.nprobe, a.query_id
                                  ORDER BY a.adc_dist, a.neighbor_id) AS rk
        FROM adc a JOIN ns ON a.probe_rn <= ns.nprobe
      ) WHERE rk <= {_PQ_TOPK}
    ),
    hits AS (
      SELECT a.nprobe, a.query_id, CAST(count(*) AS BIGINT) AS n_hits
      FROM approx a JOIN exact e USING (query_id, neighbor_id)
      GROUP BY 1, 2
    ),
    cands AS (
      SELECT ns.nprobe, qp.query_id,
             CAST(count(*) - 1 AS BIGINT) AS n_candidates
      FROM qprobe qp
      JOIN ns ON qp.probe_rn <= ns.nprobe
      JOIN afinal a ON a.cluster = qp.cluster
      GROUP BY 1, 2
    ),
    reach AS (
      SELECT ns.nprobe, e.query_id, CAST(count(*) AS BIGINT) AS n_reachable
      FROM exact e
      JOIN afinal a ON a.vec_id = e.neighbor_id
      JOIN qprobe qp ON qp.query_id = e.query_id AND qp.cluster = a.cluster
      JOIN ns ON qp.probe_rn <= ns.nprobe
      GROUP BY 1, 2
    )
    SELECT CAST(c.nprobe AS INT) AS nprobe, c.query_id,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(r.n_reachable, 0) AS BIGINT) AS n_reachable,
           c.n_candidates,
           CAST(coalesce(h.n_hits, 0) AS DOUBLE) / {_PQ_TOPK} AS recall
    FROM cands c
    LEFT JOIN hits h ON h.nprobe = c.nprobe AND h.query_id = c.query_id
    LEFT JOIN reach r ON r.nprobe = c.nprobe AND r.query_id = c.query_id
    """


@query("q386_nprobe_recall_curve", oracle=_curve_oracle())
def q386_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nprobe OPERATING CURVE a vector-search deployment reads before
    picking a probe budget: recall@k AND candidate cost (rows scored) at
    nprobe in {_NPROBES}, in one pass. q380 audits one budget; this
    sweeps the tradeoff. Plan economics: the coded corpus frame builds
    ONCE (materialize_once) and the queries encode ONCE at the largest
    budget, each probe keeping its place in the query's probe order
    (``probe_pos``); every budget's ranking re-cuts the same probe rows
    with ``probe_pos < n`` (the probe sets are nested prefixes, so
    nothing re-scores); the exact ground-truth leg computes ONCE and
    joins against each budget's top-k; candidate counts come from the
    same probe rows against the bounded list-size aggregate, never a
    rescan. The oracle replays the whole family from the raw parquet —
    one adc frame carrying each candidate's probe rank, re-cut per
    budget — so every point on the curve (hit counts AND costs) is
    hash-gated."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions.vectors import quantize
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.kmeans import assign
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pq import (
        adc_join_topk,
        encode_queries_join,
        exact_l2_topk,
        with_code_cols,
    )
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.extensions import materialize_once

    e = load(spark, sf_dir, "embeddings")
    qdf = e.filter(F.col("vec_id") < _PQ_NQ)
    centroids = _coarse_centroids(spark, sf_dir)
    codebook = _pq_codebook(spark, sf_dir)
    sub = len(codebook[0][0])

    assigned = assign(e, "embedding", centroids)
    coded = materialize_once(
        with_code_cols(
            assigned.select(
                F.col("vec_id").alias("neighbor_id"),
                quantize("embedding").alias("qv"),
                "cluster",
            ),
            codebook, _PQ_M, sub,
        ).select("neighbor_id", *[f"c{s}" for s in range(_PQ_M)], "cluster")
    )
    qenc = encode_queries_join(
        qdf, "vec_id", "embedding", codebook, _PQ_M, sub, centroids,
        max(_NPROBES), probe_pos="probe_pos",
    )
    exact = materialize_once(
        exact_l2_topk(e, qdf, "vec_id", "embedding", topk=_PQ_TOPK).select(
            "query_id", "neighbor_id"
        )
    )

    sizes = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("sz"))
    pf = qenc.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.explode(F.array(*[F.lit(int(n)) for n in _NPROBES])).alias("nprobe"),
        "cluster",
        "probe_pos",
    ).filter(F.col("probe_pos") < F.col("nprobe")).drop("probe_pos")
    ncand = pf.join(sizes, "cluster").groupBy("query_id", "nprobe").agg(
        (F.sum("sz") - 1).cast("long").alias("n_candidates")
    )

    allhits = None
    for n in _NPROBES:
        ranked = adc_join_topk(
            coded, qenc.filter(F.col("probe_pos") < n).drop("probe_pos"),
            _PQ_M, _PQ_TOPK,
        ).select("query_id", "neighbor_id")
        hits = ranked.join(exact, ["query_id", "neighbor_id"]).groupBy(
            "query_id"
        ).agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
        leg = hits.select(
            F.lit(int(n)).cast("int").alias("nprobe"), "query_id", "n_hits"
        )
        allhits = leg if allhits is None else allhits.unionByName(leg)

    # the probe-gating CEILING: ground-truth neighbors whose home list is
    # probed at each budget — separates coarse-quantizer loss (raise
    # nprobe) from ADC ranking loss (raise M/K); the decomposition a
    # deployment actually reads off this curve
    reach = (
        exact.join(
            assigned.select(
                F.col("vec_id").alias("neighbor_id"), "cluster"
            ),
            "neighbor_id",
        )
        .join(pf, ["query_id", "cluster"])
        .groupBy("query_id", "nprobe")
        .agg(F.count(F.lit(1)).cast("long").alias("n_reachable"))
    )

    return (
        ncand.join(allhits, ["nprobe", "query_id"], "left")
        .join(reach, ["nprobe", "query_id"], "left")
        .select(
            "nprobe",
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.coalesce(F.col("n_reachable"), F.lit(0)).cast("long").alias(
                "n_reachable"
            ),
            "n_candidates",
            (
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.lit(float(_PQ_TOPK))
            ).alias("recall"),
        )
    )
