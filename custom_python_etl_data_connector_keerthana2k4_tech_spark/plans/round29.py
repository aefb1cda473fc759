"""Round-29 additions: vector-search and spectral ops under the oracle
gate.

q372 runs the PQ half of the IVF-PQ vector-search recipe
(``operators/pq.py``): hash-sampled per-subspace codebooks, one-byte
codes per subspace, asymmetric-distance (ADC) top-k, exact audit rerank
— with every step in exact BIGINT arithmetic over 1e-6-quantized
components, so the APPROXIMATE search result itself is bit-reproducible
in DuckDB (the q358/q359 determinism pattern). The reference has no
vector surface (/root/reference/etl_connector.py, evidence of absence,
SURVEY §0); this is north-star extension territory.

q373 is the oracle-paired sibling of q243's exact PCA
(``operators/spectral.py``): a 16-dim matryoshka-head spectral axis via
integer-snapped power iteration, unrolled in DuckDB as materialized CTE
rounds (the q136 k-means device) — the engine-internal-vs-first-
principles duality the sketch family established (q16 vs q359).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions.text import sql_hex_hash60
from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions.vectors import sql_quantize
from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.registry import query
from custom_python_etl_data_connector_keerthana2k4_tech_spark.session import app_once, scratch_dir
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load

_PQ_M = 4  # subspaces
_PQ_K = 8  # centroids per subspace
_PQ_SUB = 16  # dims per subspace (64 / 4)
_PQ_DIM = 64
_PQ_TOPK = 10
_PQ_NQ = 3  # query vectors: vec_id < 3

_SQ_SUB = (
    f"CAST(list_sum(list_transform(range({_PQ_SUB}), "
    f"i -> (s[i+1]-c[i+1])*(s[i+1]-c[i+1]))) AS BIGINT)"
)

# The vector-search parameters train once per application: q372/q374/q377
# all derive the SAME deterministic coarse quantizer (decimal-exact Lloyd
# over embeddings) and/or PQ codebook (hash-sampled seeds) from the same
# corpus — per-query retraining ran the identical ~5 s Lloyd loop twice
# per bench pass. Parameters are k x dim driver floats / M x K x sub ints
# (metadata-sized); keyed by (application, sf_dir) so a new session or a
# different corpus retrains. Determinism makes the cache value-invisible:
# every query's oracle replays training from the raw parquet and still
# matches bit for bit.
def _coarse_centroids(spark: SparkSession, sf_dir: str) -> list:
    """The decimal-exact Lloyd coarse quantizer, trained once per
    (Spark application, sf_dir)."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.kmeans import kmeans

    return app_once(
        spark, ("train", sf_dir, "coarse"),
        lambda: kmeans(load(spark, sf_dir, "embeddings"), "embedding", "vec_id",
                       k=_IVF_LISTS, iters=_IVF_ITERS)[1],
    )


def _pq_codebook(spark: SparkSession, sf_dir: str) -> list:
    """The hash-sampled PQ codebook, fit once per (application, sf_dir)."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pq import pq_fit_codebook

    return app_once(
        spark, ("train", sf_dir, "pq"),
        lambda: pq_fit_codebook(
            load(spark, sf_dir, "embeddings"), "vec_id", "embedding", _PQ_M, _PQ_K
        ),
    )


@query(
    "q372_pq_ann",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, {sql_quantize('embedding')} AS qv FROM embeddings
    ),
    hashed AS (
      SELECT vec_id, qv, {sql_hex_hash60("CAST(vec_id AS VARCHAR)")} AS h FROM v
    ),
    seeds AS (
      SELECT vec_id, qv, row_number() OVER (ORDER BY h, vec_id) - 1 AS j
      FROM hashed
      QUALIFY j < {_PQ_K}
    ),
    cb AS (
      SELECT m, j, list_slice(qv, m * {_PQ_SUB} + 1, (m + 1) * {_PQ_SUB}) AS c
      FROM seeds, range({_PQ_M}) mm(m)
    ),
    subv AS (
      SELECT vec_id, m, list_slice(qv, m * {_PQ_SUB} + 1, (m + 1) * {_PQ_SUB}) AS s
      FROM v, range({_PQ_M}) mm(m)
    ),
    dist AS (
      SELECT vec_id, m, j, {_SQ_SUB} AS d
      FROM subv JOIN cb USING (m)
    ),
    codes AS (
      SELECT vec_id, m, j FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS rn
        FROM dist) t
      WHERE rn = 1
    ),
    qd AS (
      SELECT vec_id AS query_id, m, j, d FROM dist WHERE vec_id < {_PQ_NQ}
    ),
    adc AS (
      SELECT qd.query_id, c.vec_id AS neighbor_id,
             CAST(sum(qd.d) AS BIGINT) AS adc_dist
      FROM codes c JOIN qd ON qd.m = c.m AND qd.j = c.j
      WHERE c.vec_id <> qd.query_id
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT query_id, neighbor_id, adc_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, neighbor_id) AS rk
      FROM adc
    )
    SELECT r.query_id, r.neighbor_id, CAST(r.rk AS INT) AS rank, r.adc_dist,
           CAST(list_sum(list_transform(range({_PQ_DIM}),
                i -> (vq.qv[i+1]-vn.qv[i+1])*(vq.qv[i+1]-vn.qv[i+1])))
                AS BIGINT) AS exact_dist
    FROM ranked r
    JOIN v vq ON vq.vec_id = r.query_id
    JOIN v vn ON vn.vec_id = r.neighbor_id
    WHERE r.rk <= {_PQ_TOPK}
    """,
)
def q372_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC approximate top-k with exact audit distances. The Spark
    plan codes the table in one narrow projection, pairs it with the
    query frame's ADC arrays by a salted equi-join and cuts a per-query
    top-k; the DuckDB oracle re-derives the same codebook,
    codes, and ranks from the parquet, so both engines must agree on
    every approximate neighbor, not just the exact rerank."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pq import pq_topk

    e = load(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < _PQ_NQ)
    return pq_topk(
        e, queries, "vec_id", "embedding",
        m=_PQ_M, k_centroids=_PQ_K, topk=_PQ_TOPK,
        codebook=_pq_codebook(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# q373: spectral axis by integer-snapped power iteration (oracle-paired)
# ---------------------------------------------------------------------------

_SP_DIM = 16  # matryoshka head width
_SP_ITERS = 8
_SP_VS = 1_000_000_000  # AXIS_SCALE (operators/spectral.py)
_SP_GCAP = 1_000_000  # GRAM_CAP


def _spectral_oracle() -> str:
    head = f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, label,
             list_transform(embedding[1:{_SP_DIM}],
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
      FROM embeddings
    ), comp AS (
      SELECT vec_id, qv, unnest(range({_SP_DIM})) AS i FROM e
    ), gram AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j,
             CAST(sum(a.qv[a.i+1] * b.qv[b.i+1]) AS HUGEINT) AS g
      FROM comp a JOIN comp b USING (vec_id)
      GROUP BY 1, 2
    ), gs AS (
      SELECT max(abs(g)) // {_SP_GCAP} + 1 AS s FROM gram
    ), gp AS MATERIALIZED (
      SELECT i, j,
             CASE WHEN g < 0 THEN -1 ELSE 1 END
               * (abs(g) // (SELECT s FROM gs)) AS g
      FROM gram
    ), v0 AS (
      SELECT unnest(range({_SP_DIM})) AS j, CAST({_SP_VS} AS HUGEINT) AS vj
    )"""
    rounds = "".join(
        f""",
    w{t} AS MATERIALIZED (
      SELECT gp.i AS j, CAST(sum(gp.g * v.vj) AS HUGEINT) AS w
      FROM gp JOIN v{t - 1} v ON v.j = gp.j GROUP BY 1
    ),
    v{t} AS MATERIALIZED (
      SELECT j, CASE WHEN w < 0 THEN -1 ELSE 1 END *
             ((abs(w) * {_SP_VS}) // (SELECT max(abs(w)) FROM w{t})) AS vj
      FROM w{t}
    )"""
        for t in range(1, _SP_ITERS + 1)
    )
    tail = f"""
    SELECT e.vec_id, e.label,
           CAST(sum(e.qv[v.j+1] * v.vj) AS BIGINT) AS spec_score
    FROM e, v{_SP_ITERS} v
    GROUP BY 1, 2
    """
    return head + rounds + tail


@query("q373_spectral_axis", oracle=_spectral_oracle())
def q373_spectral_axis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project every embedding's 16-dim matryoshka head onto the corpus'
    snapped power-iteration axis (operators/spectral.py). The Spark plan
    is ONE map-side-combined aggregate (the 136 upper-triangle Gram sums,
    a single row to the driver), a dim x dim exact-integer driver
    recurrence, and ONE codegen projection — no shuffle, no UDF, no join;
    the DuckDB oracle replays the identical recurrence as 8 materialized
    CTE rounds, so the axis and every per-row score must agree bitwise.
    q243 stays the exact-PCA surface (LAPACK eigensolve, NumPy-twinned);
    this is its first-principles, oracle-gated sibling."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.spectral import (
        power_iteration_axis,
    )

    e = load(spark, sf_dir, "embeddings")
    _, scored = power_iteration_axis(
        e, "embedding", dim=_SP_DIM, iters=_SP_ITERS
    )
    return scored.select("vec_id", "label", "spec_score")


# ---------------------------------------------------------------------------
# q374: full IVF-PQ vector search (coarse k-means lists + PQ/ADC scoring),
# oracle-paired end to end
# ---------------------------------------------------------------------------

_IVF_LISTS = 8
_IVF_ITERS = 3
_IVF_NPROBE = 2


def ivfpq_adc_ctes(
    cand_extra_join: str = "",
    nprobe: int | None = None,
    keep_probe_rank: bool = False,
    corpus_rel: str | None = None,
) -> str:
    """The shared DuckDB replay of the whole IVF-PQ derivation — Lloyd
    rounds (materialized CTEs), per-query probe ranks, the hash-sampled
    PQ codebook, per-row codes, and per-(query, candidate) ADC sums —
    ending at an ``adc`` CTE. ``cand_extra_join`` splices an extra JOIN
    into the candidate set (the filtered-search oracle, round31);
    ``nprobe`` overrides the probe budget; ``keep_probe_rank`` carries
    each candidate's probe rank (``probe_rn`` on qprobe/cand/adc) so a
    consumer can re-cut the SAME adc frame at several nprobe budgets
    (the operating-curve oracle, round32).

    ``corpus_rel`` (round 34 — the mutated-store oracle) names a SQL
    relation ``(vec_id, embedding)`` giving the SERVED corpus when it
    differs from the training corpus: the store trains/freezes on the
    ORIGINAL ``embeddings`` (Lloyd rounds, codebook seeds — the
    FAISS-style build contract) but codes, list assignments, and
    candidates replay over the post-mutation rows, exactly what a store
    that was built, then upserted/deleted, serves. Query vectors (vec_id
    < NQ) must be present and unmodified in ``corpus_rel``."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round3 import (
        _kmeans_ctes,
        _kmeans_dist_chain,
    )

    np_ = _IVF_NPROBE if nprobe is None else int(nprobe)
    rn_q = ", rn AS probe_rn" if keep_probe_rank else ""
    rn_c = ", qp.probe_rn" if keep_probe_rank else ""
    rn_a = ", cand.probe_rn" if keep_probe_rank else ""
    rn_g = ", 4" if keep_probe_rank else ""
    chain = _kmeans_dist_chain("p.e", "c.c", _PQ_DIM)
    if corpus_rel is None:
        v_ctes = f"""v AS (
      SELECT vec_id, {sql_quantize('embedding')} AS qv FROM embeddings
    ),"""
        seed_src, cand_src = "v", "afinal"
    else:
        # v0: training corpus (codebook seeds — frozen at build);
        # v/mpts/aserve: the served (post-mutation) corpus, re-encoded
        # and re-assigned under the FROZEN centroids — what upsert/delete
        # leave on disk.
        v_ctes = f"""v0 AS (
      SELECT vec_id, {sql_quantize('embedding')} AS qv FROM embeddings
    ),
    v AS (
      SELECT vec_id, {sql_quantize('embedding')} AS qv FROM {corpus_rel}
    ),
    mpts AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM {corpus_rel}
    ),
    aserve AS MATERIALIZED (
      SELECT vec_id, cluster FROM (
        SELECT p.vec_id, c.cluster,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY {chain}, c.cluster) AS rn
        FROM mpts p CROSS JOIN c{_IVF_ITERS} c
      ) WHERE rn = 1
    ),"""
        seed_src, cand_src = "v0", "aserve"
    return f"""{_kmeans_ctes(_IVF_LISTS, _IVF_ITERS, _PQ_DIM)},
    {v_ctes}
    qprobe AS (
      SELECT vec_id AS query_id, cluster{rn_q} FROM (
        SELECT p.vec_id, c.cluster,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY {chain}, c.cluster) AS rn
        FROM pts p CROSS JOIN c{_IVF_ITERS} c
        WHERE p.vec_id < {_PQ_NQ}
      ) WHERE rn <= {np_}
    ),
    hashed AS (
      SELECT vec_id, qv, {sql_hex_hash60("CAST(vec_id AS VARCHAR)")} AS h
      FROM {seed_src}
    ),
    seeds AS (
      SELECT vec_id, qv, row_number() OVER (ORDER BY h, vec_id) - 1 AS j
      FROM hashed
      QUALIFY j < {_PQ_K}
    ),
    cb AS (
      SELECT m, j, list_slice(qv, m * {_PQ_SUB} + 1, (m + 1) * {_PQ_SUB}) AS c
      FROM seeds, range({_PQ_M}) mm(m)
    ),
    subv AS (
      SELECT vec_id, m, list_slice(qv, m * {_PQ_SUB} + 1, (m + 1) * {_PQ_SUB}) AS s
      FROM v, range({_PQ_M}) mm(m)
    ),
    dist AS (
      SELECT vec_id, m, j, {_SQ_SUB} AS d
      FROM subv JOIN cb USING (m)
    ),
    codes AS (
      SELECT vec_id, m, j FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS rn
        FROM dist) t
      WHERE rn = 1
    ),
    qd AS (
      SELECT vec_id AS query_id, m, j, d FROM dist WHERE vec_id < {_PQ_NQ}
    ),
    cand AS (
      SELECT qp.query_id, a.vec_id AS neighbor_id, a.cluster{rn_c}
      FROM {cand_src} a JOIN qprobe qp ON a.cluster = qp.cluster
      {cand_extra_join}
      WHERE a.vec_id <> qp.query_id
    ),
    adc AS (
      SELECT cand.query_id, cand.neighbor_id, cand.cluster{rn_a},
             CAST(sum(qd.d) AS BIGINT) AS adc_dist
      FROM cand
      JOIN codes c ON c.vec_id = cand.neighbor_id
      JOIN qd ON qd.query_id = cand.query_id AND qd.m = c.m AND qd.j = c.j
      GROUP BY 1, 2, 3{rn_g}
    )"""


def _ivfpq_oracle() -> str:
    return f"""
    WITH {ivfpq_adc_ctes()},
    ranked AS (
      SELECT query_id, neighbor_id, cluster, adc_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, neighbor_id) AS rk
      FROM adc
    )
    SELECT r.query_id, r.neighbor_id, CAST(r.cluster AS INT) AS cluster,
           CAST(r.rk AS INT) AS rank, r.adc_dist,
           CAST(list_sum(list_transform(range({_PQ_DIM}),
                i -> (vq.qv[i+1]-vn.qv[i+1])*(vq.qv[i+1]-vn.qv[i+1])))
                AS BIGINT) AS exact_dist
    FROM ranked r
    JOIN v vq ON vq.vec_id = r.query_id
    JOIN v vn ON vn.vec_id = r.neighbor_id
    WHERE r.rk <= {_PQ_TOPK}
    """


@query("q374_ivfpq_ann", oracle=_ivfpq_oracle())
def q374_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVF-PQ vector-search recipe, bit-reproducible in DuckDB:
    the deterministic k-means coarse quantizer (q136's decimal-exact
    Lloyd loop) splits the corpus into inverted lists; each query probes
    its 2 nearest lists (a projection over the query frame, the same
    left-fold double chains as the distributed assignment);
    probed candidates are scored by PQ asymmetric distance (q372's
    codes + ADC tables) with the exact distance attached for audit. The
    oracle replays everything — Lloyd rounds as materialized CTEs, probe
    ranks, codes, ADC sums — so both engines must agree on every
    approximate neighbor AND which list it came from. Plan shape: the
    kmeans scans plus ONE narrow coded projection, equi-joined on
    ``cluster`` to the encoded queries' probe rows, and one per-query
    top-k; at 100 TB the index is written partitionBy(cluster) and the
    probe gate becomes directory pruning (q377)."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pq import ivfpq_topk

    e = load(spark, sf_dir, "embeddings")
    queries_df = e.filter(F.col("vec_id") < _PQ_NQ)
    return ivfpq_topk(
        e, queries_df, "vec_id", "embedding",
        n_lists=_IVF_LISTS, km_iters=_IVF_ITERS, nprobe=_IVF_NPROBE,
        m=_PQ_M, k_centroids=_PQ_K, topk=_PQ_TOPK,
        centroids=_coarse_centroids(spark, sf_dir),
        codebook=_pq_codebook(spark, sf_dir),
    )


def _ivfpq_store_oracle() -> str:
    """q374's oracle minus the exact-audit column: the persistent store
    holds codes only (the PQ memory story), so its query surface is the
    ADC ranking — which must still match DuckDB's full replay."""
    return f"""
    WITH {ivfpq_adc_ctes()}
    SELECT query_id, neighbor_id, CAST(cluster AS INT) AS cluster,
           CAST(rk AS INT) AS rank, adc_dist
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_dist, neighbor_id) AS rk
      FROM adc
    ) WHERE rk <= {_PQ_TOPK}
    """


@query("q377_ivfpq_store_ann", oracle=_ivfpq_store_oracle())
def q377_ivfpq_store_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q374's IVF-PQ search THROUGH the persistent index store
    (operators/pq_store.py): parameters train once and freeze on disk,
    the corpus encodes to codes partitioned by list, and the query reads
    only probed list directories (PartitionFilters — plan-asserted in
    tests/test_pq_store.py). The oracle replays the training AND the
    search from the raw parquet, so the store's frozen-parameter
    encode/prune/rank path must be value-identical to a from-scratch
    derivation — the driver-gate proof that persistence changes nothing."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pq_store import IVFPQStore

    e = load(spark, sf_dir, "embeddings")
    root = scratch_dir("q377_ivfpq_") + "/ix"
    store = IVFPQStore.build(
        spark, e, "vec_id", "embedding", root,
        n_lists=_IVF_LISTS, km_iters=_IVF_ITERS, m=_PQ_M, k_centroids=_PQ_K,
        centroids=_coarse_centroids(spark, sf_dir),
        codebook=_pq_codebook(spark, sf_dir),
    )
    return store.query(
        e.filter(F.col("vec_id") < _PQ_NQ), nprobe=_IVF_NPROBE, topk=_PQ_TOPK
    )
