"""Round-25 additions: four named algorithm families the surface still
lacked, each a standard building block of large-scale data curation:

- q354 SemDeDup-style semantic dedup (cluster -> prune by pairwise cosine,
  keeping centroid outliers first) over the embeddings table;
- q355 sorted-neighborhood near-dup candidates (the classic SNM blocking
  family: sort by a canonical key, compare only a sliding window);
- q356 Count-Min sketch frequency estimation (mergeable sub-linear
  counter with the one-sided-overestimate guarantee);
- q357 Bloom-filter join pruning (pre-filter the fact side with a bitset
  built from the filtered dim side; no false negatives by construction);
- q358 per-source MinHash signatures (mergeable sketches estimating the
  pairwise source-overlap matrix without any token-grain join);
- q359 first-principles HyperLogLog (register table, max-merge, linear-
  counting correction) with the exact distinct count as audit;
- q360 equi-width histogram quantile sketch (mergeable bins, ECDF
  interpolation) with exact percentiles as audit.

The reference computes none of this (complete operator surface:
/root/reference/etl_connector.py:53-242; SURVEY §2.1-2.2). All seven are
oracle-paired (DuckDB) and auto-gated by tests/test_oracle.py; semantic
properties (overestimate, no-false-negative, planted-dup recall) are
pytest-covered in tests/test_round25.py.

Cross-engine determinism: every similarity/hash quantity is integer
arithmetic (1e-6-grid quantized embeddings, polynomial rolling hashes,
affine bucket hashes) so Spark and DuckDB derive bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions import text as TXT
from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions.vectors import (
    quantize,
    sql_quantize,
)
from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.registry import query
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load

# ---------------------------------------------------------------------------
# q354: SemDeDup-style semantic dedup
# ---------------------------------------------------------------------------

_SEM_MIN_BITS = 3  # floor: 8 clusters even on a tiny corpus
_SEM_MAX_BITS = 16  # cap: embedding has 64 components; 2^16 clusters is plenty
_SEM_TARGET = 64  # target expected cluster size (rows per cluster)
_SEM_TAU = 0.3  # data-calibrated like q47: synthetic corpus max cosine ~0.44


def _sem_bits(n: int) -> int:
    """Sign bits so the expected cluster size stays ~_SEM_TARGET:
    the smallest b in [MIN, MAX] with n <= _SEM_TARGET * 2^b — an integer
    ladder, not ceil(log2(...)), so Spark/DuckDB/Python agree exactly."""
    for b in range(_SEM_MIN_BITS, _SEM_MAX_BITS):
        if n <= _SEM_TARGET << b:
            return b
    return _SEM_MAX_BITS


def _sql_sem_bits() -> str:
    branches = "".join(
        f" WHEN n <= {_SEM_TARGET << b} THEN {b}"
        for b in range(_SEM_MIN_BITS, _SEM_MAX_BITS)
    )
    return f"(SELECT CASE{branches} ELSE {_SEM_MAX_BITS} END AS bits FROM (SELECT count(*) AS n FROM embeddings))"


def _sql_sem_cluster() -> str:
    terms = " + ".join(
        f"(CASE WHEN {j} < p.bits AND qv[{j + 1}] >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(_SEM_MAX_BITS)
    )
    return f"({terms})"


@query(
    "q354_semantic_dedup",
    oracle=f"""
    WITH p AS (
      {_sql_sem_bits()}
    ), q AS (
      SELECT vec_id, {sql_quantize('embedding')} AS qv FROM embeddings
    ), c AS (
      SELECT vec_id, qv, {_sql_sem_cluster()} AS cluster FROM q CROSS JOIN p
    ), u AS (
      SELECT vec_id, cluster, unnest(qv) AS x,
             generate_subscripts(qv, 1) AS i
      FROM c
    ), s AS (
      SELECT cluster, i, sum(x) AS sx FROM u GROUP BY 1, 2
    ), snorm AS (
      SELECT cluster, sum(sx * sx) AS snsq FROM s GROUP BY 1
    ), cc AS (
      SELECT u.vec_id, u.cluster,
             sum(u.x * s.sx) AS dot_s, sum(u.x * u.x) AS nsq
      FROM u JOIN s ON u.cluster = s.cluster AND u.i = s.i
      GROUP BY 1, 2
    ), rk AS (
      SELECT cc.vec_id, cc.cluster, cc.nsq,
             row_number() OVER (
               PARTITION BY cc.cluster
               ORDER BY CAST(dot_s AS DOUBLE)
                        / (sqrt(CAST(nsq AS DOUBLE))
                           * sqrt(CAST(snsq AS DOUBLE))) ASC,
                        cc.vec_id ASC) AS rnk
      FROM cc JOIN snorm ON cc.cluster = snorm.cluster
    ), dots AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cluster,
             sum(a.x * b.x) AS dot
      FROM u a JOIN u b ON a.cluster = b.cluster AND a.i = b.i
      WHERE a.vec_id <> b.vec_id
      GROUP BY 1, 2, 3
    ), dropped AS (
      SELECT DISTINCT rb.vec_id, rb.cluster
      FROM dots
      JOIN rk ra ON ra.vec_id = dots.id_a
      JOIN rk rb ON rb.vec_id = dots.id_b
      WHERE ra.rnk < rb.rnk
        AND CAST(dot AS DOUBLE)
            / (sqrt(CAST(ra.nsq AS DOUBLE)) * sqrt(CAST(rb.nsq AS DOUBLE)))
            >= {_SEM_TAU}
    )
    SELECT c.cluster,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(count(d.vec_id) AS BIGINT) AS n_dropped,
           CAST(count(*) - count(d.vec_id) AS BIGINT) AS n_kept
    FROM c LEFT JOIN dropped d ON c.vec_id = d.vec_id
    GROUP BY 1
    """,
)
def q354_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): partition the
    embedding space into clusters, and inside each cluster drop every
    point whose cosine to an earlier-ranked point reaches tau,
    where priority = ascending cosine-to-centroid (outliers survive,
    the redundant core gets pruned). Clusters here are deterministic
    sign-bit buckets of the first {bits} quantized components — the
    cross-engine-reproducible stand-in for the paper's k-means; the
    per-cluster prune is identical. Scale: cluster count grows as
    2^bits with the corpus, capping cluster size, so the pairwise step
    is quadratic only inside a bounded cluster (exactly q47's IVF
    argument); the Spark side is one groupBy(cluster).applyInPandas
    with a chunked lower-triangular matmul — memory O(chunk x cluster),
    never O(cluster^2) resident, and no pair-grain shuffle exists.
    All dots/norms are exact int64 on the 1e-6 grid (|x.s| < 4.2e17
    < 2^63), so both engines rank and threshold identical doubles.
    The drop rule is "any earlier-ranked neighbor >= tau" (non-
    recursive), the set-cover relaxation SemDeDup itself uses.
    Reference has no vector surface (SURVEY §2.2)."""
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", quantize("embedding").alias("qv")
    )
    # cluster count grows with the corpus (2^bits ~ n / _SEM_TARGET) so the
    # within-cluster quadratic stays capped at any scale; the count is a
    # driver-scalar pull (one cheap aggregate) feeding a plan parameter,
    # same pattern as dedup's strategy="auto"
    bits = _sem_bits(e.count())
    cluster = None
    for j in range(bits):
        bit = F.when(F.element_at("qv", j + 1) >= 0, F.lit(1 << j)).otherwise(
            F.lit(0)
        )
        cluster = bit if cluster is None else cluster + bit
    e = e.withColumn("cluster", cluster.cast("int"))

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        x = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
        n = len(ids)
        clus = int(pdf["cluster"].iloc[0])
        if n == 1:
            return pd.DataFrame(
                {"cluster": [clus], "n_total": [1], "n_dropped": [0], "n_kept": [1]}
            )
        sx = x.sum(axis=0)  # int64; |component| <= 1e6 * n
        nsq = (x * x).sum(axis=1)  # exact int64
        dot_s = x @ sx  # exact int64 (< 2^63 at any bounded cluster)
        snsq = float((sx * sx).sum())
        ccos = dot_s.astype(np.float64) / (np.sqrt(nsq.astype(np.float64)) * np.sqrt(snsq))
        order = np.lexsort((ids, ccos))  # centroid-cos asc, vec_id asc
        xo = x[order].astype(np.float64)  # exact: |dot| <= 64e12 < 2^53
        no = np.sqrt(nsq[order].astype(np.float64))
        dropped = np.zeros(n, dtype=bool)
        chunk = 1024
        for lo in range(1, n, chunk):
            hi = min(lo + chunk, n)
            dots = xo[lo:hi] @ xo[: hi - 1].T  # rows lo..hi vs all strictly earlier
            cos = dots / (no[lo:hi, None] * no[None, : hi - 1])
            earlier = np.arange(hi - 1)[None, :] < np.arange(lo, hi)[:, None]
            dropped[lo:hi] = ((cos >= _SEM_TAU) & earlier).any(axis=1)
        nd = int(dropped.sum())
        return pd.DataFrame(
            {
                "cluster": [clus],
                "n_total": [n],
                "n_dropped": [nd],
                "n_kept": [n - nd],
            }
        )

    return e.groupBy("cluster").applyInPandas(
        prune, schema="cluster int, n_total long, n_dropped long, n_kept long"
    )


# ---------------------------------------------------------------------------
# q355: sorted-neighborhood near-dup candidates
# ---------------------------------------------------------------------------

_SNM_TAU = 0.6


@query(
    "q355_sorted_neighborhood",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang,
             list_sort(list_distinct({TXT.sql_words('text')})) AS ws
      FROM documents
    ), k AS (
      SELECT doc_id, lang, ws, array_to_string(ws, ' ') AS ckey,
             substr(array_to_string(ws, ' '), 1, 1) AS blk
      FROM d WHERE len(ws) >= 1
    ), w AS (
      SELECT doc_id, ws,
             lag(doc_id, 1) OVER win AS p1, lag(ws, 1) OVER win AS w1,
             lag(doc_id, 2) OVER win AS p2, lag(ws, 2) OVER win AS w2
      FROM k
      WINDOW win AS (PARTITION BY lang, blk ORDER BY ckey, doc_id)
    ), pairs AS (
      SELECT least(doc_id, p1) AS id_a, greatest(doc_id, p1) AS id_b,
             CAST(len(list_intersect(ws, w1)) AS DOUBLE)
               / len(list_distinct(ws || w1)) AS jaccard
      FROM w WHERE p1 IS NOT NULL
      UNION ALL
      SELECT least(doc_id, p2), greatest(doc_id, p2),
             CAST(len(list_intersect(ws, w2)) AS DOUBLE)
               / len(list_distinct(ws || w2))
      FROM w WHERE p2 IS NOT NULL
    )
    SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= {_SNM_TAU}
    """,
)
def q355_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup candidates (Hernandez & Stolfo 1995),
    the third blocking family next to q43's prefix-filter and q44's LSH:
    sort documents by a canonical key (space-joined sorted distinct word
    set) and compare each doc only to its w=2 predecessors, scoring
    word-set Jaccard. Near-identical documents share a canonical key and
    land adjacent, so one O(n log n) sort replaces candidate mining.
    Scale: the window partitions by (lang, first key char) — ~130
    bounded blocks instead of one global sort, so no single-task
    WindowExec; the documented SNM trade is that pairs straddling a
    block boundary (or >w apart) are missed, which multi-pass SNM with
    rotated keys recovers. Jaccard = integer set sizes -> identical
    doubles in both engines."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.array_sort(F.array_distinct(TXT.words("text"))).alias("ws"),
    ).filter(F.size("ws") >= 1)
    k = d.withColumn("ckey", F.array_join("ws", " ")).withColumn(
        "blk", F.substring("ckey", 1, 1)
    )
    win = Window.partitionBy("lang", "blk").orderBy("ckey", "doc_id")
    w = k.select(
        "doc_id",
        "ws",
        F.lag("doc_id", 1).over(win).alias("p1"),
        F.lag("ws", 1).over(win).alias("w1"),
        F.lag("doc_id", 2).over(win).alias("p2"),
        F.lag("ws", 2).over(win).alias("w2"),
    )

    def pair(prev_id: str, prev_ws: str) -> DataFrame:
        inter = F.size(F.array_intersect("ws", prev_ws))
        union = F.size(F.array_union("ws", prev_ws))
        return (
            w.filter(F.col(prev_id).isNotNull())
            .select(
                F.least("doc_id", prev_id).alias("id_a"),
                F.greatest("doc_id", prev_id).alias("id_b"),
                (inter.cast("double") / union).alias("jaccard"),
            )
        )

    out = pair("p1", "w1").unionAll(pair("p2", "w2"))
    return out.filter(F.col("jaccard") >= _SNM_TAU)


# ---------------------------------------------------------------------------
# q356: Count-Min sketch frequency estimation
# ---------------------------------------------------------------------------

# one source of truth for the sketch constants: operators/countmin.py
from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.countmin import (  # noqa: E402
    CM_P as _CM_P,
    CM_ROWS as _CM_ROWS,
    CM_W as _CM_W,
)


@query(
    "q356_countmin_sketch",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({TXT.sql_words('text')}) AS token FROM documents
    ), counts AS (
      SELECT token, count(*) AS true_cnt,
             {TXT.sql_rolling_fingerprint('token')} AS rh
      FROM toks GROUP BY token
    ), lf AS (
      SELECT token, true_cnt, r.rid,
             ((r.a * rh + r.b) % {_CM_P}) % {_CM_W} AS bucket
      FROM counts, (VALUES
        {", ".join(f"({i}, CAST({a} AS BIGINT), CAST({b} AS BIGINT))" for i, (a, b) in enumerate(_CM_ROWS))}
      ) AS r(rid, a, b)
    ), cells AS (
      SELECT rid, bucket, sum(true_cnt) AS cell FROM lf GROUP BY 1, 2
    ), est AS (
      SELECT lf.token, lf.true_cnt, min(cells.cell) AS est_cnt
      FROM lf JOIN cells USING (rid, bucket)
      GROUP BY 1, 2
    )
    SELECT token, CAST(true_cnt AS BIGINT) AS true_cnt,
           CAST(est_cnt AS BIGINT) AS est_cnt,
           CAST(est_cnt - true_cnt AS BIGINT) AS overestimate
    FROM est
    """,
)
def q356_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) over the corpus
    token stream: d=3 affine hash rows x w=256 buckets; each token's
    estimate is the min over rows of its bucket's mass. The one-sided
    guarantee (est >= true, overestimate bounded by collisions) is the
    output's fourth column and pytest-asserted. Scale: the sketch is a
    fixed d x w cell table produced by one map-side-combinable groupBy
    — mergeable across partitions, days, and sources by cell-wise sum,
    which is the whole point of CM over exact counting at 100 TB
    (exact per-token counts here exist only to exhibit the guarantee).
    Token hash = the engine's polynomial rolling fingerprint, identical
    in both engines; bucket arithmetic stays < 2^61 in int64. The
    construction lives in operators/countmin.py, which also provides
    cross-shard merge and the replay-safe streaming accumulation sink
    (tests/test_countmin.py)."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.countmin import (
        cm_cells,
        cm_estimate,
    )

    occ = load(spark, sf_dir, "documents").select(
        F.explode(TXT.words("text")).alias("token")
    )
    true_counts = occ.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("true_cnt")
    )
    est = cm_estimate(cm_cells(occ, "token"), true_counts, "token")
    return true_counts.join(est, "token").select(
        "token",
        "true_cnt",
        "est_cnt",
        (F.col("est_cnt") - F.col("true_cnt")).cast("long").alias("overestimate"),
    )


# ---------------------------------------------------------------------------
# q357: Bloom-filter join pruning
# ---------------------------------------------------------------------------

_BLOOM_M = 4096
_BLOOM_HASHES = ((2_654_435_761, 17), (40_503, 101), (65_599, 7_919))
_BLOOM_SEGMENT = "BUILDING"


@query(
    "q357_bloom_prune_join",
    oracle=f"""
    WITH dim AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = '{_BLOOM_SEGMENT}'
    ), dim_bits AS (
      SELECT DISTINCT ((h.a * c_custkey + h.b) % {_CM_P}) % {_BLOOM_M} AS bitpos
      FROM dim, (VALUES
        {", ".join(f"(CAST({a} AS BIGINT), CAST({b} AS BIGINT))" for a, b in _BLOOM_HASHES)}
      ) AS h(a, b)
    ), fact_bits AS (
      SELECT o_orderkey, o_custkey,
             ((h.a * o_custkey + h.b) % {_CM_P}) % {_BLOOM_M} AS bitpos
      FROM orders, (VALUES
        {", ".join(f"(CAST({a} AS BIGINT), CAST({b} AS BIGINT))" for a, b in _BLOOM_HASHES)}
      ) AS h(a, b)
    ), passed AS (
      SELECT o_orderkey FROM fact_bits
      JOIN dim_bits USING (bitpos)
      GROUP BY o_orderkey
      HAVING count(*) = {len(_BLOOM_HASHES)}
    ), truth AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM dim)
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_orders,
           (SELECT CAST(count(*) AS BIGINT) FROM passed) AS n_pass_bloom,
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true_match,
           (SELECT CAST(count(*) AS BIGINT) FROM passed)
             - (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_false_pos,
           CAST((SELECT count(*) FROM passed) - (SELECT count(*) FROM truth)
                AS DOUBLE)
             / greatest((SELECT count(*) FROM orders)
                        - (SELECT count(*) FROM truth), 1) AS fp_rate
    """,
)
def q357_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning: build a {m}-bit Bloom bitset (k=3
    affine hashes) from the filtered dim side (customers in one market
    segment) and pre-filter the fact side (orders) to rows whose 3 bits
    are all set, before any exact join runs. The audit row reports the
    no-false-negative guarantee (every true match passes; pytest holds
    this invariant) and the measured false-positive rate. Scale: this
    is precisely the runtime-bloom semi-join Spark 3.3+ injects
    (spark.sql.optimizer.runtime.bloomFilter.enabled) made explicit and
    auditable — the bitset is at most m distinct positions (a broadcast
    of <= 4096 longs, independent of dim cardinality), the fact scan is
    pruned before the shuffle, and the exact semi-join afterwards only
    sees survivors. The set-bit table is built with a map-side-distinct
    groupBy, the membership test is a broadcast join + count(k) — no
    driver collect."""
    orders = load(spark, sf_dir, "orders")
    dim = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == _BLOOM_SEGMENT)
        .select("c_custkey")
    )

    def bit_positions(key: str):
        return F.array(
            *[
                ((F.lit(a).cast("long") * F.col(key) + F.lit(b)) % _CM_P) % _BLOOM_M
                for a, b in _BLOOM_HASHES
            ]
        )

    dim_bits = (
        dim.select(F.explode(bit_positions("c_custkey")).alias("bitpos")).distinct()
    )
    fact_bits = orders.select(
        "o_orderkey", F.explode(bit_positions("o_custkey")).alias("bitpos")
    )
    passed = (
        fact_bits.join(F.broadcast(dim_bits), "bitpos")
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("nb"))
        .filter(F.col("nb") == len(_BLOOM_HASHES))
        .select("o_orderkey")
    )
    truth = orders.join(F.broadcast(dim), orders.o_custkey == dim.c_custkey, "left_semi")
    n_orders = orders.agg(F.count(F.lit(1)).cast("long").alias("v"))
    n_pass = passed.agg(F.count(F.lit(1)).cast("long").alias("v"))
    n_true = truth.agg(F.count(F.lit(1)).cast("long").alias("v"))
    return (
        n_orders.select(F.col("v").alias("n_orders"))
        .crossJoin(n_pass.select(F.col("v").alias("n_pass_bloom")))
        .crossJoin(n_true.select(F.col("v").alias("n_true_match")))
        .select(
            "n_orders",
            "n_pass_bloom",
            "n_true_match",
            (F.col("n_pass_bloom") - F.col("n_true_match")).alias("n_false_pos"),
            (
                (F.col("n_pass_bloom") - F.col("n_true_match")).cast("double")
                / F.greatest(F.col("n_orders") - F.col("n_true_match"), F.lit(1))
            ).alias("fp_rate"),
        )
    )


# ---------------------------------------------------------------------------
# q358: per-source MinHash signatures -> pairwise overlap WITHOUT a token join
# ---------------------------------------------------------------------------

_MH_PERMS = 64
_MH_A0, _MH_A1 = 1_103_515_245, 99_991
_MH_B0, _MH_B1 = 12_345, 7_919


@query(
    "q358_minhash_source_sketch",
    oracle=f"""
    WITH v AS (
      SELECT DISTINCT source, unnest({TXT.sql_words('text')}) AS w
      FROM documents
    ), hv AS (
      SELECT source, {TXT.sql_rolling_fingerprint('w')} AS rh, w FROM v
    ), lf AS (
      SELECT source,
             (((CAST({_MH_A0} AS BIGINT) + {_MH_A1} * t.p) % {_CM_P}) * rh
              + (CAST({_MH_B0} AS BIGINT) + {_MH_B1} * t.p) % {_CM_P})
               % {_CM_P} AS h,
             t.p
      FROM hv, (SELECT unnest(range({_MH_PERMS})) AS p) t
    ), sig AS (
      SELECT source, p, min(h) AS mh FROM lf GROUP BY 1, 2
    ), est AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) FILTER (a.mh = b.mh) AS DOUBLE)
               / {_MH_PERMS} AS est_jaccard
      FROM sig a JOIN sig b ON a.p = b.p AND a.source < b.source
      GROUP BY 1, 2
    ), sz AS (
      SELECT source, CAST(count(*) AS BIGINT) AS vocab FROM v GROUP BY 1
    ), common AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM v a JOIN v b ON a.w = b.w AND a.source < b.source
      GROUP BY 1, 2
    ), exact AS (
      SELECT source_a, source_b,
             CAST(n_common AS DOUBLE)
               / (sa.vocab + sb.vocab - n_common) AS jaccard
      FROM common
      JOIN sz sa ON sa.source = source_a
      JOIN sz sb ON sb.source = source_b
    )
    SELECT est.source_a, est.source_b, est.est_jaccard,
           coalesce(exact.jaccard, 0.0) AS jaccard,
           abs(est.est_jaccard - coalesce(exact.jaccard, 0.0)) AS abs_err
    FROM est LEFT JOIN exact
      ON est.source_a = exact.source_a AND est.source_b = exact.source_b
    """,
)
def q358_minhash_source_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary overlap from per-source MinHash
    signatures ALONE — the sketch answer to q349's exact token join.
    Each source folds to a {perms}-slot signature (elementwise min of
    permuted word hashes) in ONE corpus pass; signatures are mergeable
    (min is associative, so the signature of a union of shards is the
    elementwise min of shard signatures — pytest-held), and the k x k
    overlap matrix then costs k^2 x perms rows of signature compare,
    never a token-grain join. At 100 TB with hundreds of sources this is
    the only affordable way to plan cross-source dedup; the exact
    jaccard column (computed q349-style) rides along here as the audit
    of the estimator, whose standard error is ~1/sqrt(perms) ~ 0.125.
    Everything before the final divisions is exact int64 (rolling hash
    + affine permutations mod 1e9+7), so both engines agree bitwise."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.dedup import (
        signature_overlap_matrix,
        source_minhash_signatures,
    )

    d = load(spark, sf_dir, "documents")
    v = d.select("source", F.explode(TXT.words("text")).alias("w")).distinct()
    sig = source_minhash_signatures(d, "source", "text", n_perms=_MH_PERMS)
    est = signature_overlap_matrix(sig, n_perms=_MH_PERMS)
    sz = v.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("vocab"))
    va = v.select(F.col("source").alias("source_a"), "w")
    vb = v.select(F.col("source").alias("source_b"), "w")
    common = (
        va.join(vb, "w")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    exact = (
        common.join(sz.withColumnRenamed("source", "source_a").withColumnRenamed("vocab", "vocab_a"), "source_a")
        .join(sz.withColumnRenamed("source", "source_b").withColumnRenamed("vocab", "vocab_b"), "source_b")
        .select(
            "source_a",
            "source_b",
            (
                F.col("n_common").cast("double")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )
    return (
        est.join(exact, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "est_jaccard",
            F.coalesce("jaccard", F.lit(0.0)).alias("jaccard"),
            F.abs(F.col("est_jaccard") - F.coalesce("jaccard", F.lit(0.0))).alias(
                "abs_err"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q359: first-principles HyperLogLog distinct estimate (register table)
# ---------------------------------------------------------------------------

from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.hll import (  # noqa: E402
    HLL_ALPHA_MM,
    HLL_BUCKET_BITS,
    HLL_M,
    HLL_W,
    _SHIFT,
    hll_estimate,
    hll_registers,
    sql_rho,
)


@query(
    "q359_hll_distinct",
    oracle=f"""
    WITH h AS (
      SELECT o_orderpriority, o_custkey,
             {TXT.sql_rolling_fingerprint('md5(CAST(o_custkey AS VARCHAR))')} AS h
      FROM orders
    ), r AS (
      SELECT o_orderpriority, h & {HLL_M - 1} AS bucket,
             {sql_rho(f'(h >> {HLL_BUCKET_BITS}) & {(1 << HLL_W) - 1}')} AS rho
      FROM h
    ), regs AS (
      SELECT o_orderpriority, bucket, max(rho) AS reg FROM r GROUP BY 1, 2
    ), agg AS (
      SELECT o_orderpriority,
             sum(CAST(1 AS BIGINT) << ({_SHIFT} - reg)) AS present_sum,
             count(*) AS n_present
      FROM regs GROUP BY 1
    ), t AS (
      SELECT o_orderpriority,
             present_sum
               + ({HLL_M} - n_present) * (CAST(1 AS BIGINT) << {_SHIFT})
               AS scaled_sum,
             {HLL_M} - n_present AS n_zero
      FROM agg
    ), e AS (
      SELECT o_orderpriority, n_zero,
             {HLL_ALPHA_MM!r}
               / (CAST(scaled_sum AS DOUBLE) / {float(1 << _SHIFT)!r}) AS raw
      FROM t
    ), est AS (
      SELECT o_orderpriority,
             CASE WHEN raw <= {2.5 * HLL_M!r} AND n_zero > 0
                  THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / n_zero)
                  ELSE raw END AS n_est
      FROM e
    ), exact AS (
      SELECT o_orderpriority,
             CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact
      FROM orders GROUP BY 1
    )
    SELECT est.o_orderpriority, n_exact, n_est,
           abs(n_est - n_exact) / n_exact AS rel_err
    FROM est JOIN exact ON est.o_orderpriority = exact.o_orderpriority
    """,
)
def q359_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-principles HyperLogLog per order priority: the register
    TABLE construction from operators/hll.py (affine hash, 7 bucket
    bits, 24-bit rank ladder), with the exact distinct count riding
    along as the estimator audit (standard error 1.04/sqrt(128) ~ 9%).
    Unlike q16/q103 (Spark's built-in approx_count_distinct, rows-only
    by necessity), every step here is reproducible in DuckDB — the
    power sum is an exact scaled integer until one final division — so
    this HLL is oracle-paired bitwise. Registers merge by elementwise
    max across shards/batches, which is what makes the sketch the
    scale answer to distinct counting at 100 TB: constant state per
    group, no distinct shuffle. Linear-counting small-range correction
    exercised at sf0.001; raw estimator above."""
    o = load(spark, sf_dir, "orders").select("o_orderpriority", "o_custkey")
    regs = hll_registers(o, "o_custkey", ["o_orderpriority"])
    est = hll_estimate(regs, ["o_orderpriority"])
    exact = o.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").cast("long").alias("n_exact")
    )
    return est.join(exact, "o_orderpriority").select(
        "o_orderpriority",
        "n_exact",
        "n_est",
        (F.abs(F.col("n_est") - F.col("n_exact")) / F.col("n_exact")).alias(
            "rel_err"
        ),
    )


# ---------------------------------------------------------------------------
# q360: equi-width histogram quantile sketch (mergeable bins, ECDF interp)
# ---------------------------------------------------------------------------

_HG_BINS = 256
_HG_LO_C = 0  # cents
_HG_W_C = 43_000  # cents per bin -> covers [0, 110,080.00] dollars
_HG_QS = (0.5, 0.95, 0.99)


@query(
    "q360_histogram_quantiles",
    oracle=f"""
    WITH x AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS xc,
             CAST(l_extendedprice AS DOUBLE) AS xd
      FROM lineitem
    ), b AS (
      SELECT least({_HG_BINS - 1}, (xc - {_HG_LO_C}) // {_HG_W_C}) AS bin
      FROM x
    ), counts AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1
    ), cum AS (
      SELECT bin, cnt,
             sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
      FROM counts
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM x
    ), qs AS (
      SELECT unnest([{", ".join(repr(q) for q in _HG_QS)}]) AS p
    ), cand AS (
      SELECT qs.p, cum.bin
      FROM qs, cum, tot
      WHERE CAST(cum.cum AS DOUBLE) >= qs.p * tot.n
    ), sel AS (
      SELECT p, min(bin) AS bin FROM cand GROUP BY p
    ), est AS (
      SELECT sel.p,
             ({_HG_LO_C} + sel.bin * {_HG_W_C}
              + {_HG_W_C} * (sel.p * tot.n - (cum.cum - cum.cnt))
                / cum.cnt) / 100.0 AS est
      FROM sel JOIN cum ON sel.bin = cum.bin, tot
    ), exact AS (
      SELECT quantile_cont(xd, {_HG_QS[0]!r}) AS e50,
             quantile_cont(xd, {_HG_QS[1]!r}) AS e95,
             quantile_cont(xd, {_HG_QS[2]!r}) AS e99,
             CAST(count(*) AS BIGINT) AS n
      FROM x
    )
    SELECT est.p, exact.n, est.est,
           CASE est.p WHEN {_HG_QS[0]!r} THEN e50
                      WHEN {_HG_QS[1]!r} THEN e95
                      ELSE e99 END AS exact,
           abs(est.est - CASE est.p WHEN {_HG_QS[0]!r} THEN e50
                                    WHEN {_HG_QS[1]!r} THEN e95
                                    ELSE e99 END)
             / CASE est.p WHEN {_HG_QS[0]!r} THEN e50
                          WHEN {_HG_QS[1]!r} THEN e95
                          ELSE e99 END AS rel_err
    FROM est, exact
    """,
)
def q360_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles from an equi-width histogram sketch: values bin to 256
    fixed-width cells (pure integer arithmetic on cents — no float
    boundary risk), and each quantile interpolates the ECDF inside its
    bin. The bin-count table is the sketch: mergeable across shards/
    days by cell-wise sum exactly like the Count-Min cells (operators/
    countmin.py's __batch store pattern applies verbatim), size 256
    regardless of row count, error bounded by bin width / local density
    — the audit columns (exact interpolated percentile, rel_err) price
    that trade per quantile. This complements q67 (Spark's opaque
    percentile_approx, rows-only by necessity): the histogram sketch is
    the variant whose every step is reproducible in DuckDB, so the
    approximation itself is under the hash-compare gate. The cum window
    runs over <= 256 aggregate rows (bounded single partition by
    design). Reference has no aggregation surface (SURVEY §2.2)."""
    li = load(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("xc"),
        F.col("l_extendedprice").cast("double").alias("xd"),
    )
    binned = li.select(
        F.least(
            F.lit(_HG_BINS - 1), F.expr(f"(xc - {_HG_LO_C}) div {_HG_W_C}")
        ).alias("bin")
    )
    counts = binned.groupBy("bin").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    cum_w = (
        Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = counts.select("bin", "cnt", F.sum("cnt").over(cum_w).alias("cum"))
    # Exact audit via the distributed range-bucket operator (quantile_cont-
    # exact, three narrow parallel scans) instead of Spark's buffering
    # `percentile` UDAF, whose single-thread merge measured 4.2s of this
    # query's 5s at sf0.1 — at 100 TB it is simply not runnable, which is
    # q35's documented point.
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.quantiles import (
        exact_quantiles,
    )

    ex_vals = exact_quantiles(li, "xd", list(_HG_QS))
    n_df = counts.agg(F.sum("cnt").cast("long").alias("n"))
    qs = spark.createDataFrame(
        [(q, float(v)) for q, v in zip(_HG_QS, ex_vals)], "p double, exact double"
    )
    cand = (
        qs.crossJoin(F.broadcast(n_df))
        .join(
            F.broadcast(cum),
            F.col("cum").cast("double") >= F.col("p") * F.col("n"),
        )
        .groupBy("p", "exact", "n")
        .agg(F.min("bin").alias("bin"))
    )
    est = cand.join(F.broadcast(cum), "bin").select(
        "p",
        "n",
        (
            (
                F.lit(_HG_LO_C)
                + F.col("bin") * _HG_W_C
                + _HG_W_C
                * (F.col("p") * F.col("n") - (F.col("cum") - F.col("cnt")))
                / F.col("cnt")
            )
            / 100.0
        ).alias("est"),
        "exact",
    )
    return est.select(
        "p",
        "n",
        "est",
        "exact",
        (F.abs(F.col("est") - F.col("exact")) / F.col("exact")).alias("rel_err"),
    )
