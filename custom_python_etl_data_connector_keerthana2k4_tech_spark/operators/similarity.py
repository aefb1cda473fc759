"""Similarity search over embedding columns (north-star ops, SURVEY §2.3):

- ``cosine_topk``      : exact brute-force top-k (the correctness baseline)
- ``lsh_topk``         : sign-random-projection LSH bucketed top-k (scale path)
- ``embedding_neardup``: near-duplicate pairs above a cosine threshold,
                         blocked by a partition column (IVF-style)

Cross-engine determinism: quantized-integer dot products
(functions/vectors.py) — exact, order-independent, identical in DuckDB.

Scale design (100 TB):
- Brute force is O(Q x N): fine for small query sets (Q broadcast, one pass
  over N, per-partition top-k heaps via window rank). For all-pairs use the
  blocked/LSH variants.
- LSH buckets candidates by hyperplane sign bits: multiple tables union'd,
  exact re-rank inside buckets only — sub-linear candidate volume.
- Blocked near-dup joins within blocks only: quadratic in the block, not
  the table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions.vectors import (
    cosine_from_int,
    int_dot,
    int_norm_sq,
    quantize,
)


def _with_quantized(df: DataFrame, vec_col: str) -> DataFrame:
    q = quantize(vec_col)
    return df.withColumn("__q", q).withColumn("__nsq", int_norm_sq(F.col("__q")))


def cosine_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Exact top-k nearest neighbours by cosine for each query vector.

    ``queries`` is a (small) frame with the same ``id_col``/``vec_col``;
    it is broadcast, so the cost is one scan of ``df`` with per-partition
    partial top-k (window rank after a narrow crossJoin).

    Returns: query_id, neighbor_id, cosine, rank (rank 1..k, ties broken
    by neighbor_id — fully deterministic).
    """
    qdf = _with_quantized(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("__q").alias("q_vec"),
        F.col("__nsq").alias("q_nsq"),
    )
    cdf = _with_quantized(df, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("__q").alias("c_vec"),
        F.col("__nsq").alias("c_nsq"),
    )
    scored = (
        cdf.crossJoin(F.broadcast(qdf))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_from_int(
                int_dot(F.col("q_vec"), F.col("c_vec")), F.col("q_nsq"), F.col("c_nsq")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


#: Integer hyperplane entries are uniform in [-HYPERPLANE_RANGE, HYPERPLANE_RANGE].
HYPERPLANE_RANGE = 1000


def hyperplanes(dim: int, n_planes: int, n_tables: int, seed: int = 42) -> list[list[list[int]]]:
    """Deterministic INTEGER hyperplanes [table][plane][dim].

    Entry (t, p, d) is ``hex_hash60("lsh|seed|t|p|d") % 2001 - 1000`` — a
    hash-derived uniform integer instead of a numpy Gaussian. Sign-LSH only
    needs the directions to be iid-uniform, and integer entries make every
    bucket bit an exact integer-dot-product sign that DuckDB re-derives
    from the same formula (no 3k-float literal blob in the oracle SQL).
    """
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions.text import py_hex_hash60

    return [
        [
            [
                py_hex_hash60(f"lsh|{seed}|{t}|{p}|{d}") % (2 * HYPERPLANE_RANGE + 1)
                - HYPERPLANE_RANGE
                for d in range(dim)
            ]
            for p in range(n_planes)
        ]
        for t in range(n_tables)
    ]


def _bucket_udf(tables: list[list[list[int]]]):
    """Vectorized bucket ids: one Arrow batch -> one numpy matmul.

    Returns a pandas_udf mapping a QUANTIZED embedding column
    (``array<long>``, functions/vectors.quantize) to ``array<long>`` of
    ``n_tables`` sign-bit bucket ids. All ``n_tables * n_planes`` hyperplane
    dot products happen as a single int64 ``(batch, dim) @ (dim, T*P)``
    matmul — exact (|component| <= ~1e7, |weight| <= 1000, dim 64 keeps the
    dot far below 2^63), so the sign bits are bit-reproducible from the
    same integers in DuckDB. The higher-order-function formulation would
    evaluate the lambda per element (interpreted, ~50x slower).
    """
    W = np.asarray(tables, dtype=np.int64)  # (T, P, D)
    n_tables_, n_planes_, _dim = W.shape
    Wf = W.reshape(n_tables_ * n_planes_, -1).T  # (D, T*P)
    pow2 = (1 << np.arange(n_planes_)).astype(np.int64)

    @F.pandas_udf("array<long>")
    def buckets(v: pd.Series) -> pd.Series:
        mat = np.stack(v.to_numpy()).astype(np.int64)  # (n, D) quantized
        signs = (mat @ Wf) > 0  # (n, T*P) exact integer sign bits
        b = (signs.reshape(len(mat), n_tables_, n_planes_) * pow2).sum(axis=2)
        return pd.Series(list(b))

    return buckets


def lsh_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    dim: int = 64,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: sign-random-projection LSH candidate generation,
    exact quantized-cosine re-rank within the union of bucket matches.

    Candidates = vectors sharing a bucket with the query in >= 1 of
    ``n_tables`` tables (each table = ``n_planes`` sign bits). Sub-linear:
    each query touches ~N * n_tables / 2^n_planes candidates in expectation.
    Approximate, but fully deterministic cross-engine: buckets are integer
    dot-product signs of hash-derived integer hyperplanes against the
    quantized vectors, so DuckDB re-derives the identical candidate sets
    and the q48 oracle gates recall, not just scoring. Planted-duplicate
    recall is additionally pytest-verified (tests/test_similarity.py).
    """
    tables = hyperplanes(dim, n_planes, n_tables, seed)
    bucket_fn = _bucket_udf(tables)

    def with_buckets(frame: DataFrame, idal: str) -> DataFrame:
        # ONE scan: every table's bucket in a single vectorized pass over
        # the quantized vector, then posexplode to (id, table, bucket).
        # Unioning per-table scans would re-read the corpus n_tables
        # times — wrong shape at 100 TB.
        return _with_quantized(frame, vec_col).select(
            F.col(id_col).alias(idal),
            F.posexplode(bucket_fn(F.col("__q"))).alias("table", "bucket"),
        )

    # The query side is small by contract -> broadcast both the bucket probe
    # and the re-rank join; the corpus is scanned once, shuffled only on the
    # slim (query_id, neighbor_id) candidate pairs for the dedup.
    qb = with_buckets(queries, "query_id")
    cb = with_buckets(df, "neighbor_id")
    cand_ids = (
        cb.join(F.broadcast(qb), ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )

    qv = _with_quantized(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("__q").alias("q_vec"),
        F.col("__nsq").alias("q_nsq"),
    )
    cv = _with_quantized(df, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("__q").alias("c_vec"),
        F.col("__nsq").alias("c_nsq"),
    )
    scored = (
        cand_ids.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_from_int(
                int_dot(F.col("q_vec"), F.col("c_vec")),
                F.col("q_nsq"),
                F.col("c_nsq"),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def embedding_neardup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float,
) -> DataFrame:
    """Near-duplicate embedding pairs (cosine >= threshold) within blocks
    (IVF-style: quadratic in the block, not the table).

    Returns: id_a, id_b, block, cosine (id_a < id_b).
    """
    from pyspark.sql.types import DoubleType, StructField, StructType

    q = _with_quantized(df, vec_col).select(
        F.col(block_col).alias("block"),
        F.col(id_col).alias("id"),
        F.col("__q").alias("vec"),
    )
    out_schema = StructType(
        [
            StructField("id_a", df.schema[id_col].dataType),
            StructField("id_b", df.schema[id_col].dataType),
            StructField("block", df.schema[block_col].dataType),
            StructField("cosine", DoubleType()),
        ]
    )

    def _block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(columns=["id_a", "id_b", "block", "cosine"])
        ids = pdf["id"].to_numpy()
        m = np.stack(pdf["vec"].to_numpy()).astype(np.int64)
        gram = m @ m.T
        norm = np.sqrt(np.diag(gram).astype(np.float64))
        ia, ib = np.triu_indices(n, k=1)
        cos = gram[ia, ib].astype(np.float64) / (norm[ia] * norm[ib])
        keep = cos >= threshold
        ia, ib, cos = ia[keep], ib[keep], cos[keep]
        lo = np.minimum(ids[ia], ids[ib])
        hi = np.maximum(ids[ia], ids[ib])
        return pd.DataFrame(
            {"id_a": lo, "id_b": hi, "block": pdf["block"].iloc[0], "cosine": cos}
        )

    # One shuffle on the block key, then an Arrow-batched numpy Gram matrix
    # per block: the same exact int64 dots the Column-expression form
    # computes, ~100x faster than interpreting the fold per pair. Block
    # size is the IVF cell size, so the n^2 term stays bounded per task.
    return q.groupBy("block").applyInPandas(_block_pairs, schema=out_schema)


def matryoshka_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    head_dim: int = 16,
    shortlist: int = 50,
    topk: int = 10,
    n_salts: int | None = None,
) -> DataFrame:
    """Matryoshka cascade search: rank the corpus by exact quantized L2
    over the first ``head_dim`` components only (the cheap pass — a
    matryoshka-trained embedding front-loads information into its head,
    q348 measures how faithfully), keep each query's ``shortlist``
    nearest heads, then rerank ONLY the shortlist by exact full-dimension
    L2 and keep ``topk``. The adaptive-retrieval recipe (Kusupati et al.
    2022): at 100 TB the head pass reads head_dim/dim of the arithmetic
    per candidate and the full vectors are touched for Q x shortlist rows
    only. Ties break on neighbor id at both stages; all arithmetic is
    exact BIGINT over quantized components, so the cascade's result is
    bit-reproducible in DuckDB. Returns: query_id, neighbor_id, rank,
    head_dist, exact_dist.

    The queries stay a DataFrame end to end: the head pass is the salted
    scoring join (pq._salted_query_pairs) over HEAD SLICES ONLY (both
    sides carry head_dim longs, never the full vector), the per-query
    shortlist is the two-stage top-k reusing the join partitioning, and
    the full-dimension rerank joins the Q x shortlist survivors back to
    the raw vectors — O(1) driver state at any Q."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pq import (
        _default_n_salts,
        _salted_query_pairs,
        _sql_l2_fold,
        _two_stage_topk,
    )

    if n_salts is None:
        n_salts = _default_n_salts(df, id_col)
    base = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.slice(quantize(vec_col), 1, head_dim).alias("hv"),
    )
    qframe = queries.select(
        F.col(id_col).alias("query_id"),
        F.slice(quantize(vec_col), 1, head_dim).alias("__qh"),
    )
    pairs = _salted_query_pairs(base, qframe, n_salts).selectExpr(
        "query_id",
        "neighbor_id",
        "__salt",
        f"{_sql_l2_fold('hv', '__qh')} AS head_dist",
    )
    short = _two_stage_topk(
        pairs, "head_dist", shortlist, rank_name="__hrank"
    ).select("query_id", "neighbor_id", "head_dist")
    nvec = df.select(
        F.col(id_col).alias("neighbor_id"), quantize(vec_col).alias("__nqv")
    )
    qvec = queries.select(
        F.col(id_col).alias("query_id"), quantize(vec_col).alias("__qqv")
    )
    audited = (
        short.join(nvec, "neighbor_id")
        .join(qvec, "query_id")
        .selectExpr(
            "query_id",
            "neighbor_id",
            "head_dist",
            f"{_sql_l2_fold('__nqv', '__qqv')} AS exact_dist",
        )
    )
    w_full = Window.partitionBy("query_id").orderBy("exact_dist", "neighbor_id")
    return (
        audited.withColumn("rank", F.row_number().over(w_full).cast("int"))
        .filter(F.col("rank") <= topk)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.col("neighbor_id").cast("long").alias("neighbor_id"),
            "rank",
            F.col("head_dist").cast("long").alias("head_dist"),
            "exact_dist",
        )
    )
