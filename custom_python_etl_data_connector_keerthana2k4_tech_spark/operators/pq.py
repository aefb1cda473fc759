"""Product-quantization ANN top-k (north-star similarity ops, SURVEY §2.3).

The classic IVF-PQ recipe's PQ half: split each embedding into M
subvectors, learn a tiny per-subspace codebook, store each vector as M
one-byte codes, and answer queries with an asymmetric-distance (ADC)
lookup — the query is compared against centroids, never against raw
vectors. At 100 TB this is THE memory story for vector search: 64 floats
(256 B) become M codes (M bytes), the codebook is O(M x K) and broadcast,
and scoring a partition is a pure in-JVM projection (array lookups), no
join, no shuffle except the final per-query top-k.

Training-free sampled codebook: centroids are the subvectors of the K
seed rows with the smallest deterministic ``hex_hash60(id)`` — a uniform
hash-sample of the corpus. (A Lloyd-refined codebook drops in via
``operators/kmeans.py`` per subspace; the hash-sample keeps the whole
pipeline — seeds, codes, ADC, ranks — bit-reproducible in DuckDB, so the
APPROXIMATE search result itself sits under the oracle gate, the q358/
q359 pattern.)

Cross-engine determinism: all arithmetic is exact BIGINT over
1e-6-quantized components (functions/vectors.py); argmin ties break on
the smallest centroid index; final ranks tie-break on neighbor id.

Reference parity: /root/reference/etl_connector.py has no vector surface
at all (evidence of absence, SURVEY §0) — this is north-star extension
territory.

Scale notes (100 TB):
- Codebook fetch collects K seed rows (K ~ 8-256) — driver state is the
  parameter vector, same contract as kmeans/mixture centroids.
- Encoding is one narrow projection over the table: no explode, no join;
  whole-stage codegen over fixed-width integer folds.
- Queries stay a DataFrame in every entry point: per-query ADC arrays
  and probe lists are JVM projections over the query frame, so plan
  shapes and driver state do not grow with Q. IVF candidates pair with
  their queries by an equi-join on ``cluster`` (``adc_join_topk``); flat
  scans pair by a salted shuffle-hash join (``_salted_query_pairs``) and
  cut a partial top-k per (query, salt) before the final per-query cut.
- The exact audit joins only the surviving Q x topk rows back to the
  raw vectors (``_exact_audit_join``), never the candidate stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions.text import hex_hash60
from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions.vectors import quantize


def _bq(name: str) -> str:
    """Backtick-quote an identifier for selectExpr (reserved words,
    spaces, dots — anything a user-supplied column name may carry)."""
    return "`" + name.replace("`", "``") + "`"


# Literal-heavy expressions (codebook and coarse centroids) are rendered
# as SQL TEXT and parsed JVM-side in one call: the equivalent
# Column-builder path costs one py4j round trip per literal — thousands
# per plan — and dominated wall time as pure driver-side plan
# construction (~4 s per ivfpq_topk build at M=4, K=8, dim=64). The
# parsed plans are identical; only the construction path changes.


def _sql_long_array(vals) -> str:
    return "array(" + ",".join(f"{int(v)}L" for v in vals) + ")"


def _sql_sq_l2(sub_sql: str, centroid) -> str:
    """Exact BIGINT squared L2 between a quantized subvector expression
    and a literal centroid (JVM-side fold, no UDF)."""
    return (
        f"aggregate(zip_with({sub_sql}, {_sql_long_array(centroid)}, "
        f"(x, c) -> (x - c) * (x - c)), 0L, (acc, v) -> acc + v)"
    )


def _sql_l2_fold(a_sql: str, b_sql: str) -> str:
    """Exact BIGINT squared L2 between two quantized array columns."""
    return (
        f"CAST(aggregate(zip_with({a_sql}, {b_sql}, (x, c) -> (x - c) * (x - c)),"
        " 0L, (acc, v) -> acc + v) AS BIGINT)"
    )


def pq_fit_codebook(
    df: DataFrame, id_col: str, vec_col: str, m: int, k: int
) -> list[list[list[int]]]:
    """Sampled PQ codebook: ``codebook[s][j]`` = subspace-``s`` slice of
    the j-th seed (seeds = bottom-``k`` rows by ``hex_hash60(id)``, ties
    by id). Returns driver-side ints (exact, cross-engine)."""
    rows = (
        df.select(
            F.col(id_col).alias("id"),
            quantize(vec_col).alias("qv"),
            hex_hash60(F.col(id_col).cast("string")).alias("h"),
        )
        .orderBy("h", "id")
        .limit(k)
        .collect()
    )
    if not rows:
        raise ValueError("empty input: cannot fit a PQ codebook")
    dim = len(rows[0]["qv"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by {m} subspaces")
    sub = dim // m
    return [
        [[int(x) for x in r["qv"][s * sub : (s + 1) * sub]] for r in rows]
        for s in range(m)
    ]


def _sub_dist_exprs(vec: str, codebook, m: int, sub: int, prefix: str) -> list[str]:
    """Per-subspace distance-array projections over a quantized array
    column ``vec``: ``{prefix}{s}[j]`` is the exact BIGINT squared L2
    between subvector ``s`` and ``codebook[s][j]`` — a row's code inputs
    (``with_code_cols``) or a query's ADC arrays (``encode_queries_*``)."""
    return [
        "array("
        + ",".join(
            _sql_sq_l2(f"slice({vec}, {s * sub + 1}, {sub})", c) for c in codebook[s]
        )
        + f") AS {prefix}{s}"
        for s in range(m)
    ]


def with_code_cols(df: DataFrame, codebook, m: int, sub: int) -> DataFrame:
    """Append ``c0..c{m-1}`` code columns to a frame carrying a quantized
    ``qv`` column: per subspace, argmin of squared L2 over the centroids
    (first occurrence = smallest j). Two selectExprs: distances land in a
    ``__d{s}`` array column, codes derive from it, the temp drops."""
    dist_exprs = _sub_dist_exprs("qv", codebook, m, sub, "__d")
    code_exprs = [
        f"CAST(array_position(__d{s}, array_min(__d{s})) - 1 AS INT) AS c{s}"
        for s in range(m)
    ]
    cols = [_bq(c) for c in df.columns]
    return df.selectExpr("*", *dist_exprs).selectExpr(*cols, *code_exprs)


def pq_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    k_centroids: int = 8,
    topk: int = 10,
    codebook: list | None = None,
    n_salts: int | None = None,
) -> DataFrame:
    """ADC top-k: encode every row as M centroid codes, score each
    (query, row) pair by summing the query's per-subspace distances to
    the row's assigned centroids, keep the ``topk`` smallest per query
    (ties by neighbor id), and attach the exact full-dimension distance
    of each survivor for audit.

    ``codebook`` takes a pre-trained codebook (``pq_fit_codebook``'s
    shape) so callers sharing one corpus train once — the FAISS-style
    train-on-a-sample/search-forever contract; training is deterministic,
    so a passed-in codebook is identical to the one this call would fit.

    The queries stay a DataFrame end to end: per-query ADC arrays compute
    JVM-side (``encode_queries_qd``), the (query, row) pairing is the
    salted scoring join (``_salted_query_pairs`` — flat PQ has no coarse
    quantizer to gate on, so EVERY pair is scored by design; the salt
    spreads that work), and the exact audit joins survivors back to the
    raw vectors. Driver state is the codebook, at any Q.

    Returns: query_id, neighbor_id, rank, adc_dist, exact_dist.
    """
    if codebook is None:
        codebook = pq_fit_codebook(df, id_col, vec_col, m, k_centroids)
    sub = len(codebook[0][0])
    if n_salts is None:
        n_salts = _default_n_salts(df, id_col)
    coded = with_code_cols(
        df.select(F.col(id_col).alias("neighbor_id"), quantize(vec_col).alias("qv")),
        codebook, m, sub,
    ).select("neighbor_id", *[f"c{s}" for s in range(m)])
    qenc = encode_queries_qd(queries, id_col, vec_col, codebook, m, sub)
    adc_sql = "(" + " + ".join(f"element_at(__qd{s}, c{s} + 1)" for s in range(m)) + ")"
    pairs = _salted_query_pairs(coded, qenc, n_salts).selectExpr(
        "query_id",
        "neighbor_id",
        "__salt",
        f"CAST({adc_sql} AS BIGINT) AS adc_dist",
    )
    ranked = _two_stage_topk(pairs, "adc_dist", topk)
    return _exact_audit_join(
        ranked, df, queries, id_col, vec_col, carry_cols=("rank", "adc_dist")
    ).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "rank",
        "adc_dist",
        "exact_dist",
    )


def _cheap_rowcount(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan row estimate — FREE (no Spark job).
    None when the plan carries no row count (typical without CBO
    statistics); callers must treat absence as unknown, not zero."""
    rc = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
    return int(rc.get().longValue()) if rc.isDefined() else None


def _default_n_salts(df: DataFrame, id_col: str) -> int:
    """Derive the salt count for the salted scoring join from the
    execution environment instead of a fixed constant. Sizing rule
    (SCALE.md): each task scores Q x N/n_salts pairs and the query frame
    replicates Q x n_salts rows, so the replication-to-work ratio is
    n_salts^2 / N — take 2x the cluster parallelism (enough salt
    granularity that every core holds pair work even for one query),
    capped at sqrt(N) so replication never rivals the pair count on a
    small corpus. The cap applies only when a CHEAP row estimate exists
    (Catalyst plan statistics — no job): round-7 ADVICE flagged that a
    real count() here made every defaulted query pay a full corpus scan
    per call. Replication is cheap to overshoot (n_salts^2/N stays tiny
    at any corpus size), so parallelism
    alone is the right default; callers that know their shape pass
    ``n_salts`` explicitly."""
    par = df.sparkSession.sparkContext.defaultParallelism
    base = 2 * max(1, int(par))
    n = _cheap_rowcount(df)
    if n is not None:
        return max(1, min(base, max(1, int(n ** 0.5))))
    return max(1, base)


def _salted_query_pairs(
    corpus: DataFrame, qframe: DataFrame, n_salts: int
) -> DataFrame:
    """The distributed brute-force scoring join shared by
    ``exact_l2_topk`` / ``pq_topk`` / ``matryoshka_topk``:
    the corpus takes a uniform SALT (``pmod(xxhash64(id), n_salts)``),
    the query frame replicates once per salt, and a SHUFFLE-HASH
    equi-join on the salt co-locates every (query, corpus-shard) pair —
    each task scores Q x N/n_salts pairs, so the N x Q work spreads
    evenly at any Q with NO driver state and NO cartesian. The join
    output stays hash-partitioned by the salt, so the caller's partial
    top-k window over (query_id, __salt) sorts IN PLACE (zero extra
    exchange of the pair stream); only the Q x n_salts x topk partial
    survivors shuffle for the final per-query cut. The shuffle_hash hint
    pins the plan shape: a broadcast of the replicated queries would
    leave the pair stream partitioned by corpus file, forcing a full
    N x Q exchange into the first window."""
    salted = corpus.withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.col("neighbor_id")), F.lit(n_salts)).cast("int"),
    )
    qrep = qframe.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(int(n_salts) - 1)))
    ).withColumn("__salt", F.col("__salt").cast("int"))
    return (
        salted.join(qrep.hint("shuffle_hash"), "__salt")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )


def _two_stage_topk(
    pairs: DataFrame, dist_col: str, topk: int, rank_name: str = "rank"
) -> DataFrame:
    """Per-query top-k over a salted pair stream: a partial cut per
    (query, salt) that reuses the join partitioning, then the final cut
    over the Q x n_salts x topk survivors."""
    wp = Window.partitionBy("query_id", "__salt").orderBy(
        dist_col, "neighbor_id"
    )
    part = (
        pairs.withColumn("__pr", F.row_number().over(wp))
        .filter(F.col("__pr") <= topk)
        .drop("__pr")
    )
    w = Window.partitionBy("query_id").orderBy(dist_col, "neighbor_id")
    return (
        part.withColumn(rank_name, F.row_number().over(w).cast("int"))
        .filter(F.col(rank_name) <= topk)
    )


def exact_l2_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    topk: int = 10,
    n_salts: int | None = None,
) -> DataFrame:
    """Brute-force exact quantized-L2 top-k — the ANN ground truth every
    recall audit compares against (and the baseline the approximate
    paths must beat on cost). The queries stay a DataFrame: the salted
    scoring join (``_salted_query_pairs``) pairs every query with every
    row, exact BIGINT zip_with folds score each pair, and the per-query
    top-k is a partial cut per (query, salt) reusing the join
    partitioning, then the final cut. Ties break on neighbor id.
    Returns: query_id, neighbor_id, rank, exact_dist."""
    if n_salts is None:
        n_salts = _default_n_salts(df, id_col)
    base = df.select(F.col(id_col).alias("neighbor_id"), quantize(vec_col).alias("qv"))
    qframe = queries.select(
        F.col(id_col).alias("query_id"), quantize(vec_col).alias("__qqv")
    )
    pairs = _salted_query_pairs(base, qframe, n_salts).selectExpr(
        "query_id",
        "neighbor_id",
        "__salt",
        f"{_sql_l2_fold('qv', '__qqv')} AS exact_dist",
    )
    return _two_stage_topk(pairs, "exact_dist", topk).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "rank",
        "exact_dist",
    )


def ivfpq_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int = 8,
    km_iters: int = 3,
    nprobe: int = 2,
    m: int = 4,
    k_centroids: int = 8,
    topk: int = 10,
    centroids: list | None = None,
    codebook: list | None = None,
) -> DataFrame:
    """IVF-PQ: the full classic vector-search recipe. A deterministic
    k-means coarse quantizer (operators/kmeans — decimal-exact updates)
    splits the corpus into ``n_lists`` inverted lists; each query probes
    only its ``nprobe`` nearest lists; candidates inside them are scored
    by PQ asymmetric distance (codes + per-query ADC arrays, exactly
    ``pq_topk``'s machinery) with the exact distance attached for audit.

    The queries stay a DataFrame end to end (``encode_queries_join``):
    probe selection (left-fold double chains — the same op order as the
    distributed assignment and the DuckDB mirror, ties toward the lower
    list index), ADC arrays, the ``cluster`` equi-join that gates
    candidates to the probed lists (``adc_join_topk``) and the exact
    audit all run distributed; driver state is the trained parameters,
    at any Q. At 100 TB the index is written ``partitionBy("cluster")``
    (operators/pq_store.py) so the probe gate becomes directory pruning.

    ``centroids`` / ``codebook`` take pre-trained parameters (the exact
    shapes ``kmeans`` / ``pq_fit_codebook`` return) so callers sharing a
    corpus train ONCE and search many times — training is deterministic,
    so passed-in parameters are identical to what this call would fit.

    Returns: query_id, neighbor_id, cluster, rank, adc_dist, exact_dist.
    """
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.kmeans import assign, kmeans

    if centroids is None:
        assigned, centroids = kmeans(df, vec_col, id_col, k=n_lists, iters=km_iters)
    else:
        assigned = assign(df, vec_col, centroids)
    if codebook is None:
        codebook = pq_fit_codebook(df, id_col, vec_col, m, k_centroids)
    sub = len(codebook[0][0])
    coded = with_code_cols(
        assigned.select(
            F.col(id_col).alias("neighbor_id"),
            quantize(vec_col).alias("qv"),
            "cluster",
        ),
        codebook, m, sub,
    ).select("neighbor_id", *[f"c{s}" for s in range(m)], "cluster")
    qenc = encode_queries_join(
        queries, id_col, vec_col, codebook, m, sub, centroids, nprobe
    )
    ranked = adc_join_topk(coded, qenc, m, topk)
    return _exact_audit_join(ranked, assigned, queries, id_col, vec_col).select(
        "query_id", "neighbor_id", "cluster", "rank", "adc_dist", "exact_dist"
    )


# ---------------------------------------------------------------------------
# Query side: queries stay a DataFrame
# ---------------------------------------------------------------------------


def encode_queries_qd(
    queries: DataFrame, id_col: str, vec_col: str, codebook, m: int, sub: int
) -> DataFrame:
    """Query-side ADC encoding with NO driver collect and NO coarse
    quantizer: (query_id, __qd0..__qd{m-1}) — the probe-free sibling of
    ``encode_queries_join`` backing ``pq_topk``."""
    base = queries.select(
        F.col(id_col).alias("query_id"), quantize(vec_col).alias("qqv")
    )
    return base.selectExpr("query_id", *_sub_dist_exprs("qqv", codebook, m, sub, "__qd"))


def encode_queries_join(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    codebook,
    m: int,
    sub: int,
    centroids,
    nprobe: int,
    probe_pos: str | None = None,
) -> DataFrame:
    """Query-side encoding with NO driver collect: per query, the M
    K-wide ADC distance arrays (exact BIGINT ``_sql_sq_l2`` folds) and
    the ``nprobe`` probed lists (left-fold double chains + stable struct
    sort: nearest first, ties toward the lower list index — the op order
    of the distributed assignment and the DuckDB mirror), all as one JVM
    projection, exploded to one row per (query, probed cluster):

        (query_id, __qd0..__qd{m-1}, cluster)

    ``probe_pos`` names an extra column holding each probe's 0-based
    place in that order, so one encoding serves every smaller budget
    (``probe_pos < n`` is the ``nprobe=n`` probe set).

    This is the scale path for query sets that are themselves tables
    (Q ~ 10^6): driver memory is O(1) — the codebook and coarse
    centroids are the only literals — and probe selection runs where the
    queries live instead of in a Python loop."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.kmeans import _sql_dist_sq

    qd_exprs = _sub_dist_exprs("qqv", codebook, m, sub, "__qd")
    cd = "array(" + ",".join(_sql_dist_sq("__ev", c) for c in centroids) + ")"
    probes_expr = (
        f"transform(slice(array_sort(zip_with({cd}, "
        f"sequence(0, {len(centroids) - 1}), "
        f"(d, i) -> named_struct('d', d, 'i', i))), 1, {int(nprobe)}), "
        "p -> p.i)"
    )
    base = queries.select(
        F.col(id_col).alias("query_id"),
        quantize(vec_col).alias("qqv"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__ev"),
    )
    enc = base.selectExpr("query_id", *qd_exprs, f"{probes_expr} AS __probes")
    qd = [f"__qd{s}" for s in range(m)]
    if probe_pos is not None:
        return enc.select(
            "query_id", *qd, F.posexplode("__probes").alias(probe_pos, "cluster")
        )
    return enc.select("query_id", *qd, F.explode("__probes").alias("cluster"))


_PAIR_OPS = {
    "=": lambda a, b: a == b,
    ">=": lambda a, b: a >= b,
    "<=": lambda a, b: a <= b,
}


def adc_join_topk(
    coded: DataFrame,
    qenc: DataFrame,
    m: int,
    topk: int,
    id_out: str = "neighbor_id",
    pair_filters: list[tuple] | None = None,
) -> DataFrame:
    """Score an encoded-query frame (``encode_queries_join``'s shape)
    against a coded corpus frame carrying (``id_out``, c0..c{m-1},
    cluster): one equi-join on ``cluster`` gates candidates to the probed
    lists, the ADC sum projects immediately (the __qd arrays never ride
    past the join), and a per-query window keeps the top-k. Everything is
    a shuffle-partitioned relational plan — no literals, no driver state;
    Catalyst broadcasts the query side when it is small and AQE handles a
    skewed list. ``pair_filters`` lists per-query constraint conditions a
    candidate must satisfy to pair with a query — the gate of batch
    filtered search (IVFPQStore.query attr_filters/attr_ranges): each
    entry is ``(corpus_col, qenc_col)`` (equality) or ``(corpus_col,
    qenc_col, op)`` with op one of ``= >= <=`` (round 8 — per-query RANGE
    bands: the corpus attribute against the query's own bound). The
    conditions ride the cluster equi-join, so constrained candidates are
    dropped IN the join, before scoring — Spark plans the equality legs
    as join keys and the bands as join residuals, never a crossJoin.
    Returns query_id, ``id_out``, cluster, rank, adc_dist."""
    adc_sql = (
        "(" + " + ".join(f"element_at(__qd{s}, c{s} + 1)" for s in range(m)) + ")"
    )
    if pair_filters:
        cond = coded["cluster"] == qenc["cluster"]
        for pf in pair_filters:
            a, b, op = pf if len(pf) == 3 else (*pf, "=")
            cond = cond & _PAIR_OPS[op](coded[a], qenc[b])
        joined = coded.join(qenc, cond).drop(qenc["cluster"]).drop(
            *[pf[1] for pf in pair_filters]
        )
    else:
        joined = coded.join(qenc, "cluster")
    cands = (
        joined
        .filter(F.col(id_out) != F.col("query_id"))
        .selectExpr(
            "query_id",
            _bq(id_out),
            "cluster",
            f"CAST({adc_sql} AS BIGINT) AS adc_dist",
        )
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", id_out)
    return (
        cands.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= topk)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.col(id_out).cast("long").alias(id_out),
            F.col("cluster").cast("int").alias("cluster"),
            "rank",
            "adc_dist",
        )
    )


def _exact_audit_join(
    ranked: DataFrame,
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    carry_cols: tuple[str, ...] = ("cluster", "rank", "adc_dist"),
) -> DataFrame:
    """Attach the exact full-dimension distance to ranked survivors by
    joining BACK to the raw vectors (O(Q x topk) lookups on both sides —
    never the candidate stream) — the same exact BIGINT fold as
    ``exact_l2_topk``. ``carry_cols`` names the ranked frame's payload
    columns to keep (the IVF path carries the source cluster; the
    flat-PQ path has none)."""
    nvec = df.select(
        F.col(id_col).alias("neighbor_id"), quantize(vec_col).alias("__nqv")
    )
    qvec = queries.select(
        F.col(id_col).alias("query_id"), quantize(vec_col).alias("__qqv")
    )
    return (
        ranked.join(nvec, "neighbor_id")
        .join(qvec, "query_id")
        .selectExpr(
            "query_id",
            "neighbor_id",
            *carry_cols,
            f"{_sql_l2_fold('__nqv', '__qqv')} AS exact_dist",
        )
    )
