"""North-star LLM-data-pipeline query surface (SURVEY §2.3 last rows):
dedup family, similarity search, text analysis.

SQL-expressible ops carry DuckDB oracles built from the exact SQL mirrors in
functions/text.py / functions/vectors.py. The approximate ops (MinHash q44,
SimHash q45, sign-LSH q48) are oracle-paired too: their hashes are
hex_hash60-derived (functions/text.py), so DuckDB re-derives the identical
signatures/buckets and the probabilistic candidate generation itself is
under the value gate; recall vs the exact methods is additionally verified
in tests/test_dedup.py and tests/test_similarity.py.

Note the asymmetry between engine and oracle for the pairwise ops: the
oracle does the naive all-pairs O(n^2) (fine for DuckDB at sf0.01); the
engine runs the scalable plan (prefix filtering / blocking / LSH) — results
must be identical, which is exactly what the gate checks.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions import text as TXT
from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions.vectors import sql_quantize
from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.registry import query
from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.relational import DSUM, dsum
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load

# ---------------------------------------------------------------------------
# Sequence packing (concat-and-chunk context windows)
# ---------------------------------------------------------------------------

_PACK_BUDGET = 4096


@query(
    "q39_sequence_packing",
    oracle=f"""
    SELECT source, doc_id, n_chars, start_off,
           CAST(start_off // {_PACK_BUDGET} AS BIGINT) AS chunk_first,
           CAST((start_off + n_chars - 1) // {_PACK_BUDGET} AS BIGINT)
             AS chunk_last,
           CAST((start_off + n_chars - 1) // {_PACK_BUDGET}
                - start_off // {_PACK_BUDGET} + 1 AS BIGINT) AS n_chunks
    FROM (
      SELECT source, doc_id, n_chars,
             CAST(COALESCE(sum(n_chars) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start_off
      FROM documents
    )
    """,
)
def q39_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining sequence packing, concat-and-chunk style: within each
    source shard, documents are concatenated in stable doc_id order and cut
    into fixed-budget context windows; each document learns the window range
    it lands in (windows may straddle document boundaries — exactly how
    concatenation-based LLM pretraining fills its context length). The
    whole assignment is one running sum per shard (a single shuffle on
    `source`) plus integer division — no stateful scan, no driver loop.
    At 100 TB the shard key IS the packing unit: shards pack independently,
    so parallelism is #shards and no global offset is ever needed."""
    d = load(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    b = _PACK_BUDGET
    return (
        d.withColumn("start_off", F.coalesce(F.sum("n_chars").over(w), F.lit(0)))
        .withColumn("chunk_first", F.expr(f"start_off DIV {b}"))
        .withColumn("chunk_last", F.expr(f"(start_off + n_chars - 1) DIV {b}"))
        .withColumn("n_chunks", F.col("chunk_last") - F.col("chunk_first") + F.lit(1))
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "q40_doc_profile",
    oracle=f"""
    SELECT doc_id,
           CAST({TXT.sql_word_count('text')} AS INT)    AS n_words,
           CAST({TXT.sql_token_count('text')} AS INT)   AS n_tokens,
           {TXT.sql_avg_word_len('text')}               AS avg_word_len,
           {TXT.sql_stopword_ratio('text')}             AS stop_ratio,
           {TXT.sql_punct_ratio('text')}                AS punct_ratio,
           {TXT.sql_quality_score('text')}              AS quality,
           {TXT.sql_lang_id('text')}                    AS lang_guess,
           {TXT.sql_fingerprint('text')}                AS fp
    FROM documents
    """,
)
def q40_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text profile: token counts, quality metrics, heuristic
    language ID, content fingerprint. Pure Column expressions — one narrow
    pass over the scan, fully codegen'd (no UDFs)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TXT.word_count("text").alias("n_words"),
        TXT.token_count("text").alias("n_tokens"),
        TXT.avg_word_len("text").alias("avg_word_len"),
        TXT.stopword_ratio("text").alias("stop_ratio"),
        TXT.punct_ratio("text").alias("punct_ratio"),
        TXT.quality_score("text").alias("quality"),
        TXT.lang_id("text").alias("lang_guess"),
        TXT.fingerprint("text").alias("fp"),
    )


@query(
    "q41_lang_quality_agg",
    oracle=f"""
    SELECT {TXT.sql_lang_id('text')} AS lang_guess,
           source,
           count(*) AS n_docs,
           {DSUM(TXT.sql_quality_score('text'))} AS total_quality,
           CAST(sum(CAST({TXT.sql_token_count('text')} AS BIGINT)) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY 1, 2
    """,
)
def q41_lang_quality_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rollup of the text metrics (the 100 TB shape: metric
    derivation stays in the scan stage, one partial-agg shuffle)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(
            TXT.lang_id("text").alias("lang_guess"),
            "source",
            TXT.quality_score("text").alias("q"),
            TXT.token_count("text").cast("long").alias("t"),
        )
        .groupBy("lang_guess", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            dsum("q").alias("total_quality"),
            F.sum("t").alias("total_tokens"),
        )
    )


@query(
    "q42_fingerprint_stats",
    oracle=f"""
    SELECT source,
           count(*) AS n_docs,
           CAST(count(DISTINCT {TXT.sql_fingerprint('text')}) AS BIGINT) AS n_distinct,
           min({TXT.sql_fingerprint('text')}) AS min_fp
    FROM documents
    GROUP BY source
    """,
)
def q42_fingerprint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup accounting by content fingerprint (hash-groupBy — the
    canonical exact dedup at scale; reference R8's dedup generalized from
    key-equality to content-equality)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select("source", TXT.fingerprint("text").alias("fp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_distinct"),
            F.min("fp").alias("min_fp"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup: exact Jaccard (prefix-filtered) vs naive oracle; approx variants
# ---------------------------------------------------------------------------

_JACCARD_T = 0.8


@query(
    "q43_jaccard_neardup",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, list_distinct({TXT.sql_words('text')}) AS sh FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.sh, b.sh)) AS n_common,
             len(a.sh) AS n_a, len(b.sh) AS n_b
      FROM s a JOIN s b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(n_common AS INT) AS n_common,
           CAST(n_a AS INT) AS n_a, CAST(n_b AS INT) AS n_b,
           CAST(n_common AS DOUBLE) / CAST(n_a + n_b - n_common AS DOUBLE) AS jaccard
    FROM pairs
    WHERE CAST(n_common AS DOUBLE) / CAST(n_a + n_b - n_common AS DOUBLE) >= {_JACCARD_T}
    """,
)
def q43_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-set Jaccard near-dup pairs (J >= 0.8). Engine runs the
    prefix-filtered plan (operators/dedup.py — no all-pairs join); the
    oracle brute-forces all pairs. Identical results = the filter is lossless.

    (Word 1-grams, not 3-gram shingles: the synthetic corpus has a 31-word
    vocabulary, so 3-gram overlap is ~0 — shingle_sets(n=3) is the same code
    path and is covered by unit tests.)
    """
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.dedup import jaccard_pairs

    d = load(spark, sf_dir, "documents")
    return jaccard_pairs(d, "doc_id", "text", threshold=_JACCARD_T, n=1)


_MH_TABLES = 8
_MH_ROWS = 2
_MH_SIGS = ",\n             ".join(
    "list_min(list_transform(sh, w -> "
    + TXT.sql_hex_hash60(f"'mh|{g}|' || w")
    + f")) AS mh{g}"
    for g in range(_MH_TABLES * _MH_ROWS)
)


def _mh_band_case(row: int) -> str:
    branches = "".join(
        f" WHEN {bd} THEN mh{bd * _MH_ROWS + row}" for bd in range(_MH_TABLES)
    )
    return f"CASE bd{branches} END"


@query(
    "q44_minhash_neardup",
    oracle=f"""
    WITH sets AS (
      SELECT doc_id AS id, list_sort(list_distinct({TXT.sql_words('text')})) AS sh
      FROM documents
      WHERE len(list_distinct({TXT.sql_words('text')})) > 0
    ),
    keyed AS (
      SELECT id, sh, len(sh) AS sz, array_to_string(sh, chr(0)) AS skey FROM sets
    ),
    reps AS (
      SELECT skey, any_value(sh) AS sh, any_value(sz) AS sz
      FROM keyed GROUP BY skey
    ),
    sigs AS (
      SELECT skey, {_MH_SIGS}
      FROM reps
    ),
    bands AS (
      SELECT skey, bd, {_mh_band_case(0)} AS k1, {_mh_band_case(1)} AS k2
      FROM sigs, range({_MH_TABLES}) t(bd)
    ),
    cand AS (
      SELECT a.skey AS ska, b.skey AS skb
      FROM bands a JOIN bands b
        ON a.bd = b.bd AND a.k1 = b.k1 AND a.k2 = b.k2
      WHERE a.skey < b.skey
      GROUP BY 1, 2
    ),
    verified AS (
      SELECT ska, skb,
             len(list_intersect(ra.sh, rb.sh)) AS n_common,
             ra.sz AS sz_a, rb.sz AS sz_b
      FROM cand
      JOIN reps ra ON ra.skey = cand.ska
      JOIN reps rb ON rb.skey = cand.skb
    ),
    vfil AS (
      SELECT *, CAST(n_common AS DOUBLE)
                  / CAST(sz_a + sz_b - n_common AS DOUBLE) AS jaccard
      FROM verified
      WHERE CAST(n_common AS DOUBLE)
              / CAST(sz_a + sz_b - n_common AS DOUBLE) >= {_JACCARD_T}
    ),
    cross_pairs AS (
      SELECT least(ma.id, mb.id) AS id_a, greatest(ma.id, mb.id) AS id_b,
             CAST(n_common AS INT) AS n_common,
             CAST(CASE WHEN ma.id < mb.id THEN sz_a ELSE sz_b END AS INT) AS n_a,
             CAST(CASE WHEN ma.id < mb.id THEN sz_b ELSE sz_a END AS INT) AS n_b,
             jaccard
      FROM vfil
      JOIN keyed ma ON ma.skey = vfil.ska
      JOIN keyed mb ON mb.skey = vfil.skb
    ),
    intra AS (
      SELECT m1.id AS id_a, m2.id AS id_b, CAST(m1.sz AS INT) AS n_common,
             CAST(m1.sz AS INT) AS n_a, CAST(m2.sz AS INT) AS n_b,
             CAST(1.0 AS DOUBLE) AS jaccard
      FROM keyed m1 JOIN keyed m2 ON m1.skey = m2.skey AND m1.id < m2.id
    )
    SELECT * FROM cross_pairs UNION ALL SELECT * FROM intra
    """,
)
def q44_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH near-dup pairs (native banding, exact-verified
    candidates) — the sub-quadratic approximate path for q43. The
    cross-engine hex_hash60 minhashes make the ENTIRE pipeline —
    canonical-set reduction, 16 minhash signatures, 8x2 banding, exact
    verification, member expansion — reproducible in DuckDB, so even the
    probabilistic recall of the banding is under the oracle gate (both
    engines must miss/find exactly the same candidate pairs). Recall vs
    the exact q43 pairs plus the xxhash64 fast path are asserted in
    tests/test_dedup.py."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.dedup import minhash_pairs

    d = load(spark, sf_dir, "documents")
    return minhash_pairs(d, "doc_id", "text", threshold=_JACCARD_T, hasher="crossengine")


_SIM_BITS = 60  # SIMHASH_BITS["crossengine"]
_SIM_MAXH = 8
_SIM_SIGNS = ",\n             ".join(
    f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
    for j in range(_SIM_BITS)
)
_SIM_FP = "\n           + ".join(
    f"CASE WHEN s{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    for j in range(_SIM_BITS)
)


@query(
    "q45_simhash_pairs",
    oracle=f"""
    WITH w AS (
      SELECT doc_id AS id, unnest(list_distinct({TXT.sql_words('text')})) AS w
      FROM documents
    ), h AS (
      SELECT id, {TXT.sql_hex_hash60('w')} AS h FROM w
    ), s AS (
      SELECT id, {_SIM_SIGNS}
      FROM h GROUP BY id
    ), fp AS (
      SELECT id, CAST({_SIM_FP} AS BIGINT) AS simhash FROM s
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.id < b.id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIM_MAXH}
    """,
)
def q45_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banding near-dup pairs (Hamming <= 8 of 60 bits, cross-engine
    hex_hash60 word hashes). Pigeonhole banding is EXACT for the Hamming
    predicate, so the engine's sub-quadratic banded plan must equal the
    oracle's brute-force all-pairs scan — the oracle checks both the
    fingerprint construction and the losslessness of the banding. The
    xxhash64 fast path (same code, cheaper hash) is covered in
    tests/test_dedup.py."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.dedup import simhash_pairs

    d = load(spark, sf_dir, "documents")
    return simhash_pairs(d, "doc_id", "text", max_hamming=_SIM_MAXH, hasher="crossengine")


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

_TOPK = 5
_N_QUERIES = 10
_NEARDUP_COS = 0.3


@query(
    "q46_cosine_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, unnest({sql_quantize('embedding')}) AS qx,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings WHERE vec_id < {_N_QUERIES}
    ),
    c AS (
      SELECT vec_id, unnest({sql_quantize('embedding')}) AS cx,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    ),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             sum(q.qx * c.cx) AS dot,
             sum(q.qx * q.qx) AS q_nsq,
             sum(c.cx * c.cx) AS c_nsq
      FROM q JOIN c USING (i)
      WHERE q.vec_id <> c.vec_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             CAST(dot AS DOUBLE)
               / (sqrt(CAST(q_nsq AS DOUBLE)) * sqrt(CAST(c_nsq AS DOUBLE))) AS cosine
      FROM dots
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored) t
    WHERE rank <= {_TOPK}
    """,
)
def q46_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k for a broadcast query set. The
    determinism trick: 1e-6-quantized integer dot products are exact and
    order-independent, so Spark and DuckDB rank identically."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.similarity import cosine_topk

    e = load(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < _N_QUERIES)
    return cosine_topk(e, queries, "vec_id", "embedding", k=_TOPK)


@query(
    "q47_embedding_neardup",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, unnest({sql_quantize('embedding')}) AS x,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    ),
    dots AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS block,
             sum(a.x * b.x) AS dot,
             sum(a.x * a.x) AS nsq_a,
             sum(b.x * b.x) AS nsq_b
      FROM v a JOIN v b ON a.label = b.label AND a.i = b.i
      WHERE a.vec_id < b.vec_id
      GROUP BY 1, 2, 3
    )
    SELECT id_a, id_b, block,
           CAST(dot AS DOUBLE)
             / (sqrt(CAST(nsq_a AS DOUBLE)) * sqrt(CAST(nsq_b AS DOUBLE))) AS cosine
    FROM dots
    WHERE CAST(dot AS DOUBLE)
             / (sqrt(CAST(nsq_a AS DOUBLE)) * sqrt(CAST(nsq_b AS DOUBLE))) >= {_NEARDUP_COS}
    """,
)
def q47_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs above cosine 0.3, blocked by label
    (IVF-style: quadratic in the block, not the table). Threshold is
    data-calibrated: the synthetic embeddings are near-orthogonal (max
    pairwise cosine ~0.44), so 0.3 selects the genuine tail."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.similarity import (
        embedding_neardup,
    )

    e = load(spark, sf_dir, "embeddings")
    return embedding_neardup(e, "vec_id", "embedding", "label", threshold=_NEARDUP_COS)


_LSH_SEED = 42
_LSH_TABLES = 4
_LSH_PLANES = 12
_LSH_DIM = 64
_LSH_PLANE_SQL = (
    "("
    + TXT.sql_hex_hash60(f"'lsh|' || {_LSH_SEED} || '|' || t || '|' || p || '|' || d")
    + " % 2001) - 1000"
)


@query(
    "q48_lsh_topk",
    oracle=f"""
    WITH planes AS (
      SELECT t, p, d, {_LSH_PLANE_SQL} AS w
      FROM range({_LSH_TABLES}) tt(t), range({_LSH_PLANES}) pp(p),
           range({_LSH_DIM}) dd(d)
    ),
    vecs AS (
      SELECT vec_id, {sql_quantize('embedding')} AS qv FROM embeddings
    ),
    comp AS (
      SELECT vec_id, generate_subscripts(qv, 1) - 1 AS d, unnest(qv) AS x
      FROM vecs
    ),
    dots AS (
      SELECT c.vec_id, pl.t, pl.p, sum(c.x * pl.w) AS dot
      FROM comp c JOIN planes pl ON pl.d = c.d
      GROUP BY 1, 2, 3
    ),
    buckets AS (
      SELECT vec_id, t,
             CAST(sum(CASE WHEN dot > 0
                           THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT)
               AS bucket
      FROM dots GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM buckets q JOIN buckets c ON q.t = c.t AND q.bucket = c.bucket
      WHERE q.vec_id < {_N_QUERIES} AND q.vec_id <> c.vec_id
    ),
    rer AS (
      SELECT cand.query_id, cand.neighbor_id,
             sum(cq.x * cc.x) AS dot,
             sum(cq.x * cq.x) AS q_nsq,
             sum(cc.x * cc.x) AS c_nsq
      FROM cand
      JOIN comp cq ON cq.vec_id = cand.query_id
      JOIN comp cc ON cc.vec_id = cand.neighbor_id AND cc.d = cq.d
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             CAST(dot AS DOUBLE)
               / (sqrt(CAST(q_nsq AS DOUBLE)) * sqrt(CAST(c_nsq AS DOUBLE)))
               AS cosine
      FROM rer
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored) t
    WHERE rank <= {_TOPK}
    """,
)
def q48_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (4 tables x 12 sign bits, seed=42),
    exact quantized-cosine re-rank within buckets. Buckets are integer
    dot-product signs of hash-derived integer hyperplanes
    (operators/similarity.hyperplanes) against the 1e-6-quantized vectors,
    so the oracle re-derives the IDENTICAL candidate sets from the same
    formula — bucketing recall and re-rank scores are both under the gate.
    Planted-duplicate recall is additionally verified in
    tests/test_similarity.py."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.similarity import lsh_topk

    e = load(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < _N_QUERIES)
    return lsh_topk(
        e, queries, "vec_id", "embedding",
        k=_TOPK, dim=_LSH_DIM, n_planes=_LSH_PLANES, n_tables=_LSH_TABLES,
        seed=_LSH_SEED,
    )


# ---------------------------------------------------------------------------
# Multimodal columns
# ---------------------------------------------------------------------------


@query(
    "q49_multimodal_meta",
    oracle="""
    SELECT doc_id AS asset_id,
           ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS modality,
           CAST(length('SGMM' || printf('%05d|%05d|', doc_id % 64 + 1, doc_id % 48 + 1)
                 || text) AS INT) AS payload_bytes,
           md5('SGMM' || printf('%05d|%05d|', doc_id % 64 + 1, doc_id % 48 + 1)
                 || text) AS payload_md5,
           CAST(doc_id % 64 + 1 AS INT) AS width,
           CAST(doc_id % 48 + 1 AS INT) AS height
    FROM documents
    """,
)
def q49_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal ingest shape: opaque binary payload + typed metadata
    (multimodal/ops.py). The oracle reproduces payload bytes + md5 in SQL,
    proving the binary plumbing is byte-exact cross-engine."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.multimodal import assets_from_documents

    d = load(spark, sf_dir, "documents")
    a = assets_from_documents(d)
    return a.select(
        "asset_id",
        "modality",
        F.length("payload").alias("payload_bytes"),
        F.md5("payload").alias("payload_md5"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


@query(
    "q50_multimodal_decode",
    oracle="""
    WITH per AS (
      SELECT ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS modality,
             doc_id % 64 + 1 AS w,
             list_sum(list_transform(string_split(text, ''),
                                     c -> CAST(ord(c) AS BIGINT)))
               // greatest(length(text), 1) AS mean
      FROM documents
    )
    SELECT modality,
           count(*) AS n_assets,
           CAST(0 AS BIGINT) AS n_errors,
           CAST(sum(mean) AS BIGINT) AS total_mean_value,
           CAST(sum(w) AS BIGINT) AS total_width
    FROM per GROUP BY modality
    """,
)
def q50_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode + feature-extraction rollup per modality,
    exercising the mapInPandas pipeline end-to-end (decode -> features).
    The synthetic SGMM decode is deterministic (width from the header,
    mean = floor-average payload byte), so the oracle recomputes it in
    SQL from doc_id and the ASCII text bytes — the Python decode kernel's
    outputs (including its zero error count) sit under the value gate.
    Per-record semantics are additionally verified in
    tests/test_multimodal.py."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.multimodal import (
        assets_from_documents,
        decode_assets,
    )

    d = load(spark, sf_dir, "documents")
    decoded = decode_assets(assets_from_documents(d))
    return decoded.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.count("decode_error").alias("n_errors"),
        F.sum("mean_value").alias("total_mean_value"),
        F.sum("decoded_width").alias("total_width"),
    )


# ---------------------------------------------------------------------------
# UDF surface (SURVEY §2.3 UDF row): Arrow-vectorized Python stages with
# DuckDB oracles — the UDF path itself is under the differential gate.
# ---------------------------------------------------------------------------


@query(
    "q37_pandas_udf_tokens",
    oracle=f"""
    SELECT source,
           CAST(sum(CAST({TXT.sql_token_count('text')} AS BIGINT)) AS BIGINT)
             AS total_tokens,
           count(*) AS n_docs
    FROM documents
    GROUP BY source
    """,
)
def q37_pandas_udf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas_udf (Arrow-batched) + grouped-agg pandas_udf in one
    plan: per-document BPE-ish token counts computed in vectorized Python,
    rolled up per source with a Python aggregator. Matches the pure-Column
    q40/q41 path bit-for-bit (same TOKEN_PATTERN regex semantics in Java,
    Python, and DuckDB) — proving the Arrow UDF lane against the oracle,
    not just the JVM lane."""
    from pyspark.sql.functions import pandas_udf

    pattern = TXT.TOKEN_PATTERN

    @pandas_udf("long")
    def token_count_py(s: pd.Series) -> pd.Series:
        return s.str.count(pattern).astype("int64")

    @pandas_udf("long")
    def sum_agg(v: pd.Series) -> int:  # grouped-agg pandas UDF
        return int(v.sum())

    @pandas_udf("long")
    def count_agg(v: pd.Series) -> int:  # (can't mix pandas + JVM aggs)
        return int(len(v))

    d = load(spark, sf_dir, "documents")
    return (
        d.select("source", token_count_py("text").alias("t"))
        .groupBy("source")
        .agg(
            sum_agg("t").alias("total_tokens"),
            count_agg("t").alias("n_docs"),
        )
    )


@query(
    "q38_apply_in_pandas_median",
    oracle="""
    SELECT source,
           median(length(text)) AS median_len,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY source
    """,
)
def q38_apply_in_pandas_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().applyInPandas: per-group arbitrary Python (here an exact
    median over document lengths — numpy and DuckDB agree on linear
    interpolation for even counts, so the result is oracle-checkable).
    The grouped-map lane is the escape hatch for per-group logic Spark
    aggregates can't express; one shuffle on the group key, Arrow both ways."""
    import numpy as np

    d = load(spark, sf_dir, "documents").select("source", F.length("text").alias("len"))

    def group_median(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "source": [pdf["source"].iloc[0]],
                "median_len": [float(np.median(pdf["len"].to_numpy()))],
                "n_docs": [len(pdf)],
            }
        )

    return d.groupBy("source").applyInPandas(
        group_median, "source string, median_len double, n_docs long"
    )


@query(
    "q51_rolling_fingerprint",
    oracle=f"""
    SELECT source,
           CAST(count(DISTINCT {TXT.sql_rolling_fingerprint('text')}) AS BIGINT)
             AS n_distinct,
           min({TXT.sql_rolling_fingerprint('text')}) AS min_fp,
           max({TXT.sql_rolling_fingerprint('text')}) AS max_fp
    FROM documents
    GROUP BY source
    """,
)
def q51_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp rolling-hash fingerprint accounting per source (the
    incrementally-maintainable twin of q42's md5 fingerprint — identical
    mod-arithmetic folds in Spark and DuckDB, bit-exact)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select("source", TXT.rolling_fingerprint("text").alias("fp"))
        .groupBy("source")
        .agg(
            F.countDistinct("fp").alias("n_distinct"),
            F.min("fp").alias("min_fp"),
            F.max("fp").alias("max_fp"),
        )
    )


#: q52's HTTP stub is a process-lifetime singleton: started on first use,
#: kept alive (daemon thread + strong ref here) until the Python driver
#: exits. That makes the returned frame safely LAZY — executors re-fetch
#: the pinned pages on every (re)execution instead of the query doing a
#: driver-side collect to outrun a per-call server teardown.
_Q52_STUB: dict = {}


def _q52_stub_base() -> str:
    if "base" in _Q52_STUB:
        return _Q52_STUB["base"]
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import parse_qs, urlparse

    from custom_python_etl_data_connector_keerthana2k4_tech_spark.otx_fixture import paged_payloads

    pages = {i + 1: p for i, p in enumerate(paged_payloads(3))}

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):
            pass

        def do_GET(self):
            page = int(parse_qs(urlparse(self.path).query).get("page", ["1"])[0])
            body = json.dumps(pages.get(page, {"results": []})).encode()
            self.send_response(200)
            self.end_headers()
            self.wfile.write(body)

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    _Q52_STUB["server"] = server
    _Q52_STUB["base"] = f"http://127.0.0.1:{server.server_address[1]}"
    return _Q52_STUB["base"]


@query("q52_rest_pipeline", oracle=None)  # network source — rows-only check
def q52_rest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference pipeline over the wire (R1->R7 composed): a
    self-contained local HTTP stub serves the OTX-shaped fixture pages;
    the paginated REST scan reads them (auth header, pagination,
    short-page stop), and the transform/validate chain produces the
    §1.2 document shape. Deterministic rows (pinned run timestamp), no
    external network, and — because the stub outlives the frame — a fully
    LAZY result: no collect, no driver materialization."""
    import datetime as dt

    from custom_python_etl_data_connector_keerthana2k4_tech_spark.config import PipelineConfig
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.otx_fixture import RAW_PULSE_SCHEMA
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.pipeline import transform_pulses, validate
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.sources import pulses_df

    base = _q52_stub_base()

    # cfg.base_url is the *reported* source tag (a metadata column in the
    # output) — pin it to a logical name so the ephemeral stub port doesn't
    # make the result nondeterministic across runs; the reader gets the
    # real URL separately.
    cfg = PipelineConfig(
        api_key="k", base_url="http://rest-stub.local", connector_name="rest_demo", city=""
    )
    raw = pulses_df(
        spark, base, RAW_PULSE_SCHEMA, api_key="k", per_page="3", max_pages="10",
        backoff_initial_s="0.01",
    )
    return validate(
        transform_pulses(raw, cfg, run_ts=dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc))
    ).drop("raw")  # struct column dropped for a stable flat schema


_CC_PAIRS = f"""
    s AS (
      SELECT doc_id, list_distinct({TXT.sql_words('text')}) AS sh FROM {{base}}
    ),
    p AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            >= 0.9
    ),
    e AS (SELECT ia AS u, ib AS v FROM p UNION ALL SELECT ib, ia FROM p),
    reach(node, lab) AS (
      SELECT doc_id, doc_id FROM {{base}}
      UNION
      SELECT e.v, r.lab FROM reach r JOIN e ON e.u = r.node
    ),
    comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node),
    surv AS (
      SELECT d.source, d.doc_id FROM {{base}} d JOIN comp c ON d.doc_id = c.node
      WHERE d.doc_id = c.component
    )"""


@query(
    "q53_near_dedup_corpus",
    oracle=f"""
    WITH RECURSIVE {_CC_PAIRS.format(base='documents')}
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_surviving,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id
    FROM surv GROUP BY source
    """,
)
def q53_near_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup of the corpus: exact Jaccard similarity graph
    (J >= 0.9) -> connected components (iterative min-label propagation
    with lineage checkpointing) -> keep the lowest-id doc per cluster.
    The operator a training pipeline actually runs; clusters are ALSO
    verified against a driver-side union-find in tests/test_dedup.py.

    Oracle-paired (round 3): DuckDB reproduces the similarity graph with
    q43's all-pairs SQL and the component labels with a recursive-CTE
    min-label fixpoint (reach = every (node, label-of-ancestor) pair;
    min per node == the cluster's lowest id, because labels ARE ids).
    The engine clusters at the canonical-SET level and expands members
    afterwards — identical-text docs share a fingerprint AND have
    Jaccard 1.0, so both formulations pick the same survivors; the
    empty-word-set corner (the one place they could diverge) is absent
    from the corpus by construction and guarded in tests/test_dedup.py."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.dedup import near_dedup

    d = load(spark, sf_dir, "documents")
    out = near_dedup(d, "doc_id", "text", threshold=0.9)
    return out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_surviving"),
        F.min("doc_id").alias("min_doc_id"),
    )


@query(
    "q54_curate_corpus",
    oracle=f"""
    WITH RECURSIVE g AS (
      SELECT doc_id, source, text FROM documents
      WHERE ({TXT.sql_quality_score('text')}) >= 0.5
    ),
    x AS (
      SELECT doc_id, source, text FROM (
        SELECT g.*,
               min(doc_id) OVER (PARTITION BY {TXT.sql_fingerprint('text')}) AS mn
        FROM g
      ) WHERE doc_id = mn
    ),
    {_CC_PAIRS.format(base='x')}
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id
    FROM surv GROUP BY source
    """,
)
def q54_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pipeline (quality gate -> exact dedup ->
    near-dup dedup) rolled up per source. Stage semantics are individually
    oracle-checked (q40/q42/q43); the composition and its accounting are
    pinned by tests/test_curate.py.

    Oracle-paired (round 3): the DuckDB mirror composes the SAME three
    stages relationally — sql_quality_score gate, min-id-per-fingerprint
    window for exact dedup, then q53's recursive-CTE component fixpoint
    over the survivors' similarity graph."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.curate import curate

    d = load(spark, sf_dir, "documents")
    out = curate(d, "doc_id", "text", min_quality=0.5, near_dup_threshold=0.9)
    return out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
    )


# ---------------------------------------------------------------------------
# Vocabulary extraction (tokenizer-training prep)
# ---------------------------------------------------------------------------


@query(
    "q82_vocabulary",
    oracle=f"""
    SELECT w AS token,
           CAST(count(*) AS BIGINT) AS freq,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM (SELECT doc_id, unnest({TXT.sql_words('text')}) AS w
          FROM documents)
    GROUP BY 1
    HAVING count(*) >= 100
    """,
)
def q82_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary with document frequencies — the first pass of
    tokenizer training (BPE/unigram both start from exactly this table).
    explode -> groupBy(token) partial-aggregates map-side, so the shuffle
    carries one row per distinct (partition, token), not one per token
    occurrence; document frequency rides along as count(DISTINCT doc_id)
    in the same pass. The min-frequency HAVING prunes the long tail
    before it is ever collected. At 100 TB the reduce side is bounded by
    vocabulary size (millions), not corpus size (trillions of tokens)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(TXT.words("text")).alias("token"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("freq") >= 100)
    )


# ---------------------------------------------------------------------------
# Pattern audit (PII-scan shape over semi-structured payloads)
# ---------------------------------------------------------------------------


@query(
    "q83_pattern_audit",
    oracle="""
    SELECT event_type,
           CAST(sum(len(regexp_extract_all(props, '[0-9]+'))) AS BIGINT)
             AS n_matches,
           CAST(count(*) FILTER (len(regexp_extract_all(props, '[0-9]+')) > 0)
             AS BIGINT) AS n_events_with_match
    FROM events
    GROUP BY event_type
    """,
)
def q83_pattern_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex pattern audit over raw payloads — the PII/safety-scan shape
    (swap '[0-9]+' for SSN/email/phone patterns; the plan is identical).
    regexp_extract_all runs inside whole-stage codegen on the scan, match
    counts partial-aggregate, and the result is one row per event type —
    no UDF, no second pass. The pattern sticks to the RE2-safe subset so
    Spark (Java regex) and DuckDB (RE2) agree."""
    e = load(spark, sf_dir, "events")
    n_matches = F.size(F.regexp_extract_all("props", F.lit("[0-9]+"), F.lit(0)))
    return e.groupBy("event_type").agg(
        F.sum(n_matches).alias("n_matches"),
        F.count(F.when(n_matches > 0, 1)).alias("n_events_with_match"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap vs a held-out set)
# ---------------------------------------------------------------------------


@query(
    "q84_decontamination",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {TXT.sql_words('text')} AS ws FROM documents
    ),
    grams AS (
      SELECT doc_id, source,
             unnest(list_transform(generate_series(1, len(ws) - 7),
                    i -> array_to_string(list_slice(ws, i, i + 7), ' '))) AS g
      FROM toks
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 100 = 0),
    cand AS (
      SELECT DISTINCT doc_id FROM grams
      WHERE doc_id % 100 <> 0 AND g IN (SELECT g FROM bench)
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(c.doc_id) AS BIGINT) AS n_contaminated
    FROM documents d LEFT JOIN cand c ON d.doc_id = c.doc_id
    WHERE d.doc_id % 100 <> 0
    GROUP BY d.source
    """,
)
def q84_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: flag training documents sharing any word
    8-gram with a held-out benchmark slice (here doc_id % 100 = 0 stands
    in for the eval set). The benchmark's distinct-gram set is tiny
    relative to the corpus, so it BROADCASTS and the contamination check
    is a map-side left-semi join on the exploded grams — the corpus
    shuffles once (doc_id distinct), never on the gram column. This is
    the standard n-gram decontamination of LLM training pipelines (GPT-3
    appendix C / PaLM-style) expressed as two scans + one broadcast."""
    d = load(spark, sf_dir, "documents")
    n = 8
    w = TXT.words("text")
    grams_col = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.array_join(F.slice(w, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = d.select("doc_id", "source", F.explode(grams_col).alias("g"))
    bench = grams.filter(F.col("doc_id") % 100 == 0).select("g").distinct()
    train = d.filter(F.col("doc_id") % 100 != 0)
    contaminated = (
        grams.filter(F.col("doc_id") % 100 != 0)
        .join(F.broadcast(bench), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        train.join(contaminated.withColumn("hit", F.lit(1)), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("hit").alias("n_contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# Lexicon-join scoring (broadcast dictionary, sentiment-analysis shape)
# ---------------------------------------------------------------------------

_LEXICON = [
    ("fast", 2), ("big", 1), ("small", -1), ("slow", -2),
    ("scan", 1), ("error", -2), ("null", -1), ("merge", 1),
]


@query(
    "q90_lexicon_score",
    oracle=f"""
    WITH lex(word, weight) AS (VALUES {", ".join(f"('{w}', {s})" for w, s in _LEXICON)}),
    toks AS (
      SELECT doc_id, lang, unnest({TXT.sql_words('text')}) AS w FROM documents
    )
    SELECT t.lang,
           CAST(sum(COALESCE(l.weight, 0)) AS BIGINT) AS total_score,
           CAST(count(l.word) AS BIGINT) AS n_scored_tokens,
           CAST(count(*) AS BIGINT) AS n_tokens
    FROM toks t LEFT JOIN lex l ON t.w = l.word
    GROUP BY t.lang
    """,
)
def q90_lexicon_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-join scoring — the lexicon sentiment pattern ("Large
    Scale Sentiment Analysis on Twitter with Spark", EDBT 2016): a tiny
    weighted word list broadcast-joins the exploded token stream, weights
    sum per group. The lexicon side is bytes, so the join is map-side
    everywhere; at 100 TB the plan is one scan + one partial-aggregated
    shuffle, the same shape as q82's vocabulary. Swap the toy lexicon for
    VADER/AFINN and the plan is unchanged."""
    d = load(spark, sf_dir, "documents")
    lex = spark.createDataFrame(_LEXICON, ["word", "weight"])
    toks = d.select("doc_id", "lang", F.explode(TXT.words("text")).alias("w"))
    joined = toks.join(F.broadcast(lex), toks.w == lex.word, "left")
    return joined.groupBy("lang").agg(
        F.sum(F.coalesce("weight", F.lit(0))).alias("total_score"),
        F.count("word").alias("n_scored_tokens"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# Balanced source mixing (training-data mix rebalancing)
# ---------------------------------------------------------------------------


@query(
    "q100_balanced_mix",
    oracle="""
    WITH counts AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY source
    ),
    thr AS (
      SELECT source,
             (SELECT min(n) FROM counts) * 4294967296 // n AS threshold
      FROM counts
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN thr t ON d.source = t.source
    WHERE (d.doc_id * 2654435761) % 4294967296 < t.threshold
    """,
)
def q100_balanced_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data mix rebalancing: downsample every source to the
    smallest source's size, so the curated corpus has a uniform mix.
    Per-source keep-rates derive from one tiny count aggregate
    (integer-division thresholds — exact on both engines), broadcast
    back, and rows are kept by the q58 multiplicative-hash rule — so
    the SAME documents are selected on any engine, any partitioning,
    any cluster size. At 100 TB this is one scan + one broadcast; the
    sampling itself never shuffles. Generalizes to arbitrary target
    mixes by replacing min(n) with per-source target weights."""
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    thr = counts.withColumn(
        "min_n", F.min("n").over(Window.partitionBy())
    ).select(
        "source",
        F.expr("div(min_n * 4294967296, n)").alias("threshold"),
    )
    mixed = d.join(F.broadcast(thr), "source")
    keep = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296) < F.col(
        "threshold"
    )
    return mixed.filter(keep).select("doc_id", "source")


# ---------------------------------------------------------------------------
# Vocabulary encoding (text -> token-id sequences)
# ---------------------------------------------------------------------------


@query(
    "q106_tokenize_encode",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(words) AS w, generate_subscripts(words, 1) AS pos
      FROM (SELECT doc_id, {TXT.sql_words('text')} AS words FROM documents)
    ),
    vocab AS (
      SELECT w AS token,
             row_number() OVER (ORDER BY count(*) DESC, w) AS tok_id
      FROM toks GROUP BY w HAVING count(*) >= 100
    )
    SELECT t.doc_id,
           array_to_string(array_agg(COALESCE(v.tok_id, 0) ORDER BY t.pos),
                           '-') AS ids,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (WHERE v.tok_id IS NULL) AS BIGINT) AS n_oov
    FROM toks t LEFT JOIN vocab v ON t.w = v.token
    GROUP BY t.doc_id
    """,
)
def q106_tokenize_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The text->ids step of an LLM data pipeline: train a frequency-ranked
    vocabulary over the corpus (q82's table, rank = densest id first, OOV
    floor -> id 0), then encode every document to its token-id sequence.
    The frequency-rank runs as operators/ranks.with_global_rank (range
    repartition + parallel local sorts + broadcast offsets) — bit-identical
    to row_number() OVER (ORDER BY freq DESC, w), but no one-task global
    sort even when the vocabulary outgrows aggregate size (open-vocab
    corpora). The id table then broadcasts to the encode join — per-token
    work is a broadcast-hash probe, order restored by sorting the
    (pos, id) structs inside each doc's aggregate, never a global sort.
    Ids serialize as a '-'-joined string for engine-neutral comparison."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.ranks import with_global_rank

    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(TXT.words("text")).alias("pos", "w")
    )
    vocab = with_global_rank(
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= 100),
        [F.col("freq").desc(), F.col("w").asc()],
        out="tok_id",
    ).select("w", "tok_id")
    enc = (
        toks.join(F.broadcast(vocab), "w", "left")
        .withColumn("tid", F.coalesce("tok_id", F.lit(0)))
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "tid"))).alias("seq"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_if(F.col("tok_id").isNull()).alias("n_oov"),
        )
    )
    ids = F.concat_ws(
        "-", F.transform(F.col("seq"), lambda x: x["tid"].cast("string"))
    )
    return enc.select("doc_id", ids.alias("ids"), "n_tokens", "n_oov")


# ---------------------------------------------------------------------------
# Per-key EWMA (ordered stateful feature, Pandas-UDF path)
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.1


@query(
    "q108_ewma",
    oracle=f"""
    WITH RECURSIVE ordered AS (
      SELECT event_id, user_id, ts, CAST(value AS DOUBLE) AS value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
               AS i
      FROM events
    ),
    r AS (
      SELECT event_id, user_id, ts, value, i, value AS ewma
      FROM ordered WHERE i = 0
      UNION ALL
      SELECT o.event_id, o.user_id, o.ts, o.value, o.i,
             {1 - _EWMA_ALPHA} * r.ewma + {_EWMA_ALPHA} * o.value
      FROM r JOIN ordered o ON o.user_id = r.user_id AND o.i = r.i + 1
    )
    SELECT event_id, user_id, ts, value, ewma FROM r
    """,
)
def q108_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event value — the
    classic ordered, stateful feature no plain window aggregate expresses
    (each output depends on ALL priors with geometric decay). Runs as
    repartition(user_id) + local sort + mapInPandas with a cross-batch
    carry: pandas' C-loop recursion per group, but one Python round-trip
    per Arrow batch instead of per user. The ORACLE is a recursive CTE
    running the IDENTICAL recurrence y_t = (1-a) y_{{t-1}} + a x_t in the
    identical IEEE op order, so engine and oracle are bit-equal, not
    merely close (pandas' adjust=False kernel is bit-identical to the
    naive recursion — pinned by test_q108_pandas_kernel_is_naive_recursion;
    an earlier closed-form-expansion oracle differed by 1 ulp on rows
    whose exact decimal value terminates at the round-half boundary,
    which flips the 6-decimal canonical rounding).

    At 100 TB per-key history length is bounded by retention, and the
    recursion is O(1) state (the same recurrence
    streaming/ops.stateful_running_totals runs incrementally)."""
    e = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", F.col("value").cast("double").alias("value")
    )

    # Partition-batched recursion: one shuffle on user_id, a local sort,
    # then ONE Python call per Arrow batch (not per user — per-group
    # applyInPandas costs a Python round-trip for each of the ~1.5k tiny
    # groups, which measured ~2x the whole query). A user's rows can span
    # Arrow batch boundaries, so each batch holds back its last user's
    # rows and prepends them to the next (classic carry pattern; final
    # flush emits the tail).
    def ewm_batches(it):
        def score(pdf: pd.DataFrame) -> pd.DataFrame:
            out = pdf.copy()
            out["ewma"] = (
                out.groupby("user_id", sort=False)["value"]
                .ewm(alpha=_EWMA_ALPHA, adjust=False)
                .mean()
                .droplevel(0)
            )
            return out

        carry = None
        for pdf in it:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            last_uid = pdf["user_id"].iloc[-1]
            mask = pdf["user_id"].to_numpy() == last_uid
            carry = pdf[mask]
            done = pdf[~mask]
            if len(done):
                yield score(done)
        if carry is not None and len(carry):
            yield score(carry)

    return (
        e.repartition("user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
        .mapInPandas(
            ewm_batches,
            schema="event_id long, user_id long, ts timestamp, value double, ewma double",
        )
    )


# ---------------------------------------------------------------------------
# First-fit-decreasing bin packing (exact-budget packing)
# ---------------------------------------------------------------------------

_FFD_BUDGET = 4096


@query(
    "q109_ffd_packing",
    oracle=f"""
    WITH RECURSIVE ordered AS MATERIALIZED (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    ),
    -- one fold step per item per source: ``bins`` carries remaining
    -- capacities, ``assigned`` the 0-based bin ids in rn order.
    -- list_position returns 0 (not NULL) on no-fit in DuckDB -> nullif.
    st(source, rn, bins, assigned) AS (
      SELECT source, 0, CAST([] AS BIGINT[]), CAST([] AS INT[])
      FROM (SELECT DISTINCT source FROM documents)
      UNION ALL
      SELECT s.source, s.rn + 1,
             CASE WHEN fit IS NULL
                  THEN s.bins || [{_FFD_BUDGET} - o.n_chars]
                  ELSE s.bins[:fit-1] || [s.bins[fit] - o.n_chars]
                       || s.bins[fit+1:]
             END,
             s.assigned || [CAST(coalesce(fit, len(s.bins) + 1) - 1 AS INT)]
      FROM st s
      JOIN ordered o ON o.source = s.source AND o.rn = s.rn + 1
      LEFT JOIN LATERAL (
        SELECT nullif(list_position(
                 list_transform(s.bins, x -> x >= o.n_chars), true), 0) AS fit
      ) ON true
    ),
    final AS (
      SELECT st.source, st.assigned FROM st
      JOIN (SELECT source, max(rn) AS mx FROM st GROUP BY source) m
        ON m.source = st.source AND m.mx = st.rn
    )
    SELECT CAST(o.doc_id AS BIGINT) AS doc_id, o.source,
           CAST(o.n_chars AS BIGINT) AS n_chars,
           f.assigned[CAST(o.rn AS INT)] AS bin_id
    FROM ordered o JOIN final f ON f.source = o.source
    """,
)
def q109_ffd_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-budget sequence packing: first-fit-decreasing within each
    source shard — documents sorted by size descending, each placed in the
    first bin with room, bins never exceed the budget (q39 is the
    concat-and-chunk sibling where windows may straddle documents; FFD is
    what you run when documents must stay whole). Imperative by nature, so
    it runs as applyInPandas per shard — the shard is the parallelism unit
    AND the packing scope, so no cross-shard state exists. Guarantees
    (tests/test_ffd_packing.py): every doc assigned, no bin over budget,
    deterministic bin ids, and FFD's 11/9·OPT+1 bin-count bound vs the
    naive lower bound.

    Oracle-paired (round 3): the per-shard first-fit fold is reproduced
    in DuckDB as a recursive CTE advancing one item per step and
    carrying the remaining-capacity list as a LIST column — per-doc
    bin-id equality proves the imperative Arrow path against a pure-SQL
    formulation of the same algorithm."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["n_chars", "doc_id"], ascending=[False, True])
        bins: list[int] = []  # remaining capacity per bin
        assigned = []
        for sz in pdf["n_chars"]:
            for b, rem in enumerate(bins):
                if rem >= sz:
                    bins[b] = rem - sz
                    assigned.append(b)
                    break
            else:
                bins.append(_FFD_BUDGET - sz)
                assigned.append(len(bins) - 1)
        pdf["bin_id"] = assigned
        return pdf

    return d.groupBy("source").applyInPandas(
        pack, schema="doc_id long, source string, n_chars long, bin_id int"
    )
