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
- The per-query top-k shuffles only (id, query_id, adc) triples —
  partitionBy(query_id) with Q partitions. Queries are SHARDED into
  fixed-size batches (``query_batch``, default 64): each batch gets its
  own bounded projection + stack + top-k branch and the branches union,
  so projection width, stack arity, codegen unit size, and the exact-
  audit CASE depth are all O(batch), never O(Q) — a 10^4-query workload
  compiles the same plan shapes as a 10-query one, just more branches.
  Per-query results are independent, so the union over disjoint batches
  is row-identical to the unsharded plan (tests pin this).
- Exact rerank touches only the surviving top-k rows (narrow second
  projection, no second scan: it rides the same frame).
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


# Literal-heavy expressions (codebook centroids, ADC tables, exact-audit
# vectors) are rendered as SQL TEXT and parsed JVM-side in one call: the
# equivalent Column-builder path costs one py4j round trip per literal —
# thousands per plan — and dominated wall time as pure driver-side plan
# construction (~4 s per ivfpq_topk build at M=4, K=8, dim=64). The parsed
# plans are identical; only the construction path changes.


def _sql_long_array(vals) -> str:
    return "array(" + ",".join(f"{int(v)}L" for v in vals) + ")"


def _sql_sq_l2(sub_sql: str, centroid) -> str:
    """Exact BIGINT squared L2 between a quantized subvector expression
    and a literal centroid (JVM-side fold, no UDF)."""
    return (
        f"aggregate(zip_with({sub_sql}, {_sql_long_array(centroid)}, "
        f"(x, c) -> (x - c) * (x - c)), 0L, (acc, v) -> acc + v)"
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


def _collect_queries(queries: DataFrame, id_col: str, vec_col: str) -> list:
    """Driver-side query rows (id asc) with quantized + raw-double heads."""
    qrows = (
        queries.select(
            F.col(id_col).alias("id"),
            quantize(vec_col).alias("qv"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("ev"),
        )
        .orderBy("id")
        .collect()
    )
    if not qrows:
        raise ValueError("empty query set")
    return qrows


def _sq(a: list[int], b: list[int]) -> int:
    return sum((int(x) - int(y)) * (int(x) - int(y)) for x, y in zip(a, b))


def select_probes(qrows, centroids, nprobe: int) -> list[list[int]]:
    """Driver probe selection for the LITERAL query path: per query, the
    ``nprobe`` nearest coarse centroids (squared L2 over doubles), ties
    toward the lower list index.

    Bit-exactness contract: the distributed assignment and the DuckDB
    oracle both evaluate the distance as a LEFT-FOLD double chain
    (0.0 + t0 + t1 + ...), so probe selection must reproduce exactly that
    op order. The NumPy fast path vectorizes over (Q, n_lists) while
    keeping the fold order by accumulating one dimension at a time —
    ``acc += t*t`` elementwise is the same IEEE add sequence per cell as
    the scalar loop — so it is bit-identical to the pure-Python reference
    ``_select_probes_python`` (pinned in tests) while driver time stays
    flat as n_lists grows."""
    import numpy as np

    if not qrows or nprobe <= 0:
        return [[] for _ in qrows]
    q = np.array([[float(x) for x in qr["ev"]] for qr in qrows], dtype=np.float64)
    c = np.array([[float(x) for x in cc] for cc in centroids], dtype=np.float64)
    acc = np.zeros((q.shape[0], c.shape[0]), dtype=np.float64)
    for d in range(c.shape[1]):
        t = q[:, d, None] - c[None, :, d]
        acc += t * t
    order = np.argsort(acc, axis=1, kind="stable")  # stable = lower index wins ties
    return [[int(j) for j in row[:nprobe]] for row in order]


def _select_probes_python(qrows, centroids, nprobe: int) -> list[list[int]]:
    """The pure-Python left-fold reference for ``select_probes`` (kept
    callable so tests can pin NumPy-path bit-equality)."""
    probes = []
    for qr in qrows:
        ev = [float(x) for x in qr["ev"]]
        ds = []
        for ci, cc in enumerate(centroids):
            a = 0.0
            for x, y in zip(ev, cc):
                a += (x - y) * (x - y)
            ds.append((a, ci))
        ds.sort()
        probes.append([ci for _, ci in ds[:nprobe]])
    return probes


def _adc_tables(qrows, codebook, m: int, sub: int) -> list:
    """adc[qi][s][j] = exact int squared L2 between query qi's subvector s
    and codebook[s][j]. O(Q x M x K) driver ints."""
    return [
        [
            [_sq(list(qr["qv"])[s * sub : (s + 1) * sub], c) for c in codebook[s]]
            for s in range(m)
        ]
        for qr in qrows
    ]


def with_code_cols(df: DataFrame, codebook, m: int, sub: int) -> DataFrame:
    """Append ``c0..c{m-1}`` code columns to a frame carrying a quantized
    ``qv`` column: per subspace, argmin of squared L2 over the centroids
    (first occurrence = smallest j). Two selectExprs: distances land in a
    ``__d{s}`` array column, codes derive from it, the temp drops."""
    dist_exprs = [
        "array("
        + ",".join(
            _sql_sq_l2(f"slice(qv, {s * sub + 1}, {sub})", c) for c in codebook[s]
        )
        + f") AS __d{s}"
        for s in range(m)
    ]
    code_exprs = [
        f"CAST(array_position(__d{s}, array_min(__d{s})) - 1 AS INT) AS c{s}"
        for s in range(m)
    ]
    cols = [_bq(c) for c in df.columns]
    return df.selectExpr("*", *dist_exprs).selectExpr(*cols, *code_exprs)


def _sql_exact_dist(qrows) -> str:
    """Exact full-dimension squared L2 to the matching query (CASE chain)."""
    branches = " ".join(
        f"WHEN {int(qr['id'])} THEN "
        + _sql_sq_l2("qv", [int(x) for x in qr["qv"]])
        for qr in qrows
    )
    return f"CASE query_id {branches} END"


def _batches(seq: list, size: int):
    """Consecutive slices of ``seq`` of at most ``size`` items."""
    return [seq[lo : lo + size] for lo in range(0, len(seq), max(1, size))]


def _rank_pq_batch(
    coded: DataFrame, qrows, adc_tables, m: int, topk: int
) -> DataFrame:
    """One query-batch branch of the ADC top-k: bounded-width projection
    (one adc column per batch query, array lookup by code), one stack so
    a single scan serves the batch, one per-query top-k."""
    adc_exprs = [
        "("
        + " + ".join(
            f"element_at({_sql_long_array(adc_tables[qi][s])}, c{s} + 1)"
            for s in range(m)
        )
        + f") AS adc{qi}"
        for qi in range(len(qrows))
    ]
    stack_args = ", ".join(
        f"CAST({int(qr['id'])} AS BIGINT), adc{qi}" for qi, qr in enumerate(qrows)
    )
    stacked = coded.selectExpr("neighbor_id", "qv", *adc_exprs).selectExpr(
        "neighbor_id",
        "qv",
        f"stack({len(qrows)}, {stack_args}) AS (query_id, adc_dist)",
    )

    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    ranked = (
        stacked.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= topk)
    )

    # Exact audit distance only for survivors (batch x topk rows).
    return ranked.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "rank",
        F.col("adc_dist").cast("long").alias("adc_dist"),
        F.expr(_sql_exact_dist(qrows)).cast("long").alias("exact_dist"),
    )


def pq_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    k_centroids: int = 8,
    topk: int = 10,
    query_batch: int = 64,
    codebook: list | None = None,
    query_mode: str = "literal",
    n_salts: int | None = None,
) -> DataFrame:
    """ADC top-k: encode every row as M centroid codes, score each
    (query, row) pair by summing the query's precomputed per-subspace
    distances to the row's assigned centroids, keep the ``topk`` smallest
    per query (ties by neighbor id), and attach the exact full-dimension
    distance of each survivor for audit.

    Queries are sharded into ``query_batch``-sized branches that union
    (see module header): every plan shape stays O(query_batch) wide no
    matter how many queries arrive, and the result is row-identical to
    the unsharded plan because per-query top-ks are independent.

    ``codebook`` takes a pre-trained codebook (``pq_fit_codebook``'s
    shape) so callers sharing one corpus train once — the FAISS-style
    train-on-a-sample/search-forever contract; training is deterministic,
    so a passed-in codebook is identical to the one this call would fit.

    ``query_mode="join"`` keeps the queries a DATAFRAME end to end:
    per-query ADC arrays compute JVM-side (``encode_queries_qd``), the
    (query, row) pairing is the salted scoring join
    (``_salted_query_pairs`` — flat PQ has no coarse quantizer to gate
    on, so EVERY pair is scored by design; the salt spreads that work),
    and the exact audit joins survivors back to the raw vectors. O(1)
    driver state at any Q; row-identical to the literal path (pinned in
    tests).

    Returns: query_id, neighbor_id, rank, adc_dist, exact_dist.
    """
    if codebook is None:
        codebook = pq_fit_codebook(df, id_col, vec_col, m, k_centroids)
    sub = len(codebook[0][0])

    if query_mode == "join":
        if n_salts is None:
            n_salts = _default_n_salts(df, id_col)
        coded = with_code_cols(
            df.select(
                F.col(id_col).alias("neighbor_id"), quantize(vec_col).alias("qv")
            ),
            codebook, m, sub,
        ).select("neighbor_id", *[f"c{s}" for s in range(m)])
        qenc = encode_queries_qd(queries, id_col, vec_col, codebook, m, sub)
        adc_sql = (
            "("
            + " + ".join(f"element_at(__qd{s}, c{s} + 1)" for s in range(m))
            + ")"
        )
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
    if query_mode != "literal":
        raise ValueError(f"unknown query_mode {query_mode!r}")

    qrows = _collect_queries(queries, id_col, vec_col)
    adc_tables = _adc_tables(qrows, codebook, m, sub)

    base = df.select(F.col(id_col).alias("neighbor_id"), quantize(vec_col).alias("qv"))
    coded = with_code_cols(base, codebook, m, sub)

    parts = [
        _rank_pq_batch(coded, qb, tb, m, topk)
        for qb, tb in zip(
            _batches(qrows, query_batch), _batches(adc_tables, query_batch)
        )
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


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
    real count() here made every defaulted join-mode query pay a full
    corpus scan per call. Replication is cheap to overshoot (n_salts^2/N
    stays tiny at any corpus the join mode targets), so parallelism
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
    """The distributed brute-force scoring join shared by the ``"join"``
    query modes of ``exact_l2_topk`` / ``pq_topk`` / ``matryoshka_topk``:
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
    query_batch: int = 64,
    query_mode: str = "literal",
    n_salts: int | None = None,
) -> DataFrame:
    """Brute-force exact quantized-L2 top-k — the ANN ground truth every
    recall audit compares against (and the baseline the approximate
    paths must beat on cost). One narrow scan per query batch: per-query
    exact distances are literal-array folds (SQL-text parsed, JVM
    codegen), one stack, one per-query top-k — the same sharded plan
    shapes as ``pq_topk``, with exact distances in place of ADC lookups.
    Ties break on neighbor id. Returns: query_id, neighbor_id, rank,
    exact_dist.

    ``query_mode="join"`` keeps the queries a DATAFRAME end to end (the
    salted scoring join, ``_salted_query_pairs``): O(1) driver state at
    any Q, exact BIGINT zip_with folds per pair, partial top-k per
    (query, salt) reusing the join partitioning. Row-identical to the
    literal path (pinned in tests) — Q-scale recall audits run the
    ground-truth leg distributed too."""
    if query_mode == "join":
        if n_salts is None:
            n_salts = _default_n_salts(df, id_col)
        base = df.select(
            F.col(id_col).alias("neighbor_id"), quantize(vec_col).alias("qv")
        )
        qframe = queries.select(
            F.col(id_col).alias("query_id"), quantize(vec_col).alias("__qqv")
        )
        pairs = _salted_query_pairs(base, qframe, n_salts).selectExpr(
            "query_id",
            "neighbor_id",
            "__salt",
            "CAST(aggregate(zip_with(qv, __qqv, (x, c) -> (x - c) * (x - c)),"
            " 0L, (acc, v) -> acc + v) AS BIGINT) AS exact_dist",
        )
        return _two_stage_topk(pairs, "exact_dist", topk).select(
            F.col("query_id").cast("long").alias("query_id"),
            F.col("neighbor_id").cast("long").alias("neighbor_id"),
            "rank",
            "exact_dist",
        )
    if query_mode != "literal":
        raise ValueError(f"unknown query_mode {query_mode!r}")
    qrows = _collect_queries(queries, id_col, vec_col)
    base = df.select(
        F.col(id_col).alias("neighbor_id"), quantize(vec_col).alias("qv")
    )
    parts = []
    for qb in _batches(qrows, query_batch):
        dist_exprs = [
            f"{_sql_sq_l2('qv', [int(x) for x in qr['qv']])} AS d{qi}"
            for qi, qr in enumerate(qb)
        ]
        stack_args = ", ".join(
            f"CAST({int(qr['id'])} AS BIGINT), d{qi}"
            for qi, qr in enumerate(qb)
        )
        stacked = base.selectExpr("neighbor_id", *dist_exprs).selectExpr(
            "neighbor_id",
            f"stack({len(qb)}, {stack_args}) AS (query_id, exact_dist)",
        )
        w = Window.partitionBy("query_id").orderBy("exact_dist", "neighbor_id")
        parts.append(
            stacked.filter(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= topk)
            .select(
                F.col("query_id").cast("long").alias("query_id"),
                F.col("neighbor_id").cast("long").alias("neighbor_id"),
                "rank",
                F.col("exact_dist").cast("long").alias("exact_dist"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


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
    query_batch: int = 64,
    centroids: list | None = None,
    codebook: list | None = None,
    query_mode: str = "literal",
) -> DataFrame:
    """IVF-PQ: the full classic vector-search recipe. A deterministic
    k-means coarse quantizer (operators/kmeans — decimal-exact updates)
    splits the corpus into ``n_lists`` inverted lists; each query probes
    only its ``nprobe`` nearest lists; candidates inside them are scored
    by PQ asymmetric distance (codes + driver ADC tables, exactly
    ``pq_topk``'s machinery) with the exact distance attached for audit.

    Probe selection runs on the DRIVER over the k x dim centroid matrix
    (left-fold double chains — the same op order as the distributed
    assignment and the DuckDB mirror, so probe sets are bit-stable;
    ties break toward the lower list index).

    Plan shape: the kmeans scans + one narrow coded projection over the
    corpus (codes, cluster, per-query gated ADC lookups — no join), one
    stack, one per-query top-k. At 100 TB the index DataFrame is written
    ``partitionBy("cluster")`` and the ``cluster IN probes`` gate becomes
    directory pruning: the probe set is a literal list, so the scan's
    ``PartitionFilters`` skip every unprobed list's directory.

    ``centroids`` / ``codebook`` take pre-trained parameters (the exact
    shapes ``kmeans`` / ``pq_fit_codebook`` return) so callers sharing a
    corpus train ONCE and search many times — training is deterministic,
    so passed-in parameters are identical to what this call would fit.

    ``query_mode``: ``"literal"`` (default) collects the Q query vectors
    to the driver and compiles them into O(query_batch)-wide literal
    plans — right for interactive / audit-sample query sets (Q up to
    ~10^4). ``"join"`` keeps the queries a DATAFRAME end to end
    (``encode_queries_join``): probe selection, ADC tables, candidate
    gating, and the exact audit all run distributed, with O(1) driver
    state — the path for query sets that are themselves tables
    (Q ~ 10^6). Both modes are row-identical (pinned in tests).

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

    if query_mode == "join":
        return _ivfpq_topk_join(
            assigned, queries, id_col, vec_col, nprobe, m, topk,
            centroids, codebook,
        )
    if query_mode != "literal":
        raise ValueError(f"unknown query_mode {query_mode!r}")

    qrows = _collect_queries(queries, id_col, vec_col)
    adc_tables = _adc_tables(qrows, codebook, m, sub)
    probes = select_probes(qrows, centroids, nprobe)

    coded = with_code_cols(
        assigned.select(
            F.col(id_col).alias("neighbor_id"),
            quantize(vec_col).alias("qv"),
            "cluster",
        ),
        codebook, m, sub,
    )

    parts = [
        _rank_ivfpq_batch(coded, qb, tb, pb, m, topk)
        for qb, tb, pb in zip(
            _batches(qrows, query_batch),
            _batches(adc_tables, query_batch),
            _batches(probes, query_batch),
        )
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Distributed (join-based) query side: queries stay a DataFrame
# ---------------------------------------------------------------------------


def _qd_sql_exprs(codebook, m: int, sub: int) -> list[str]:
    """Per-subspace ADC distance-array projections over a quantized query
    column ``qqv`` (exact BIGINT folds — the JVM twin of the driver-side
    ``_adc_tables``)."""
    return [
        "array("
        + ",".join(
            _sql_sq_l2(f"slice(qqv, {s * sub + 1}, {sub})", c) for c in codebook[s]
        )
        + f") AS __qd{s}"
        for s in range(m)
    ]


def encode_queries_qd(
    queries: DataFrame, id_col: str, vec_col: str, codebook, m: int, sub: int
) -> DataFrame:
    """Query-side ADC encoding with NO driver collect and NO coarse
    quantizer: (query_id, __qd0..__qd{m-1}) — the probe-free sibling of
    ``encode_queries_join`` backing ``pq_topk(query_mode="join")``."""
    base = queries.select(
        F.col(id_col).alias("query_id"), quantize(vec_col).alias("qqv")
    )
    return base.selectExpr("query_id", *_qd_sql_exprs(codebook, m, sub))


def encode_queries_join(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    codebook,
    m: int,
    sub: int,
    centroids,
    nprobe: int,
) -> DataFrame:
    """Query-side encoding with NO driver collect: per query, the M
    K-wide ADC distance arrays (exact BIGINT, the same ``_sql_sq_l2``
    folds the driver-side ``_adc_tables`` computes in Python) and the
    ``nprobe`` probed lists (left-fold double chains + stable struct
    sort, the same op order and tie rule as ``select_probes``), all as
    one JVM projection, exploded to one row per (query, probed cluster):

        (query_id, cluster, __qd0..__qd{m-1})

    This is the scale path for query sets that are themselves tables
    (Q ~ 10^6): driver memory is O(1) — the codebook and coarse
    centroids are the only literals — and probe selection runs where the
    queries live instead of in a Python loop."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.kmeans import _sql_dist_sq

    qd_exprs = _qd_sql_exprs(codebook, m, sub)
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
    return enc.select(
        "query_id",
        *[f"__qd{s}" for s in range(m)],
        F.explode("__probes").alias("cluster"),
    )


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
    never the candidate stream), matching the literal path's
    ``_sql_exact_dist`` BIGINT fold bit for bit. ``carry_cols`` names the
    ranked frame's payload columns to keep (the IVF path carries the
    source cluster; the flat-PQ path has none)."""
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
            "CAST(aggregate(zip_with(__nqv, __qqv, (x, c) -> (x - c) * (x - c)),"
            " 0L, (acc, v) -> acc + v) AS BIGINT) AS exact_dist",
        )
    )


def _ivfpq_topk_join(
    assigned: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    nprobe: int,
    m: int,
    topk: int,
    centroids,
    codebook,
) -> DataFrame:
    """IVF-PQ search with a DISTRIBUTED query side (``query_mode="join"``):
    row-identical to the literal path (pinned in tests) but with queries
    staying a DataFrame end to end — the 100 TB shape for query sets that
    are themselves tables. ``assigned`` is the cluster-assigned corpus
    (``kmeans``/``assign`` output). Column order matches ``ivfpq_topk``."""
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


def _rank_ivfpq_batch(
    coded: DataFrame, qrows, adc_tables, probes, m: int, topk: int
) -> DataFrame:
    """One query-batch branch of the IVF-PQ top-k. Candidates outside the
    BATCH's probed lists are filtered before scoring (at 100 TB, with the
    index written partitionBy(cluster), that filter is directory pruning
    per branch); per-query ADC columns are NULL outside the query's own
    probed lists and the stack drops them (IS NOT NULL), so each query
    scores only ~nprobe/n_lists of the corpus."""
    batch_lists = sorted({int(c) for ps in probes for c in ps})
    gated = coded.filter(F.col("cluster").isin(batch_lists))
    adc_exprs = [
        f"CASE WHEN cluster IN ({','.join(str(int(c)) for c in probes[qi])}) THEN ("
        + " + ".join(
            f"element_at({_sql_long_array(adc_tables[qi][s])}, c{s} + 1)"
            for s in range(m)
        )
        + f") END AS adc{qi}"
        for qi in range(len(qrows))
    ]
    stack_args = ", ".join(
        f"CAST({int(qr['id'])} AS BIGINT), adc{qi}" for qi, qr in enumerate(qrows)
    )
    stacked = gated.selectExpr(
        "neighbor_id", "qv", "cluster", *adc_exprs
    ).selectExpr(
        "neighbor_id",
        "qv",
        "cluster",
        f"stack({len(qrows)}, {stack_args}) AS (query_id, adc_dist)",
    )

    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    ranked = (
        stacked.filter(
            F.col("adc_dist").isNotNull()
            & (F.col("neighbor_id") != F.col("query_id"))
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= topk)
    )
    return ranked.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.col("cluster").cast("int").alias("cluster"),
        "rank",
        F.col("adc_dist").cast("long").alias("adc_dist"),
        F.expr(_sql_exact_dist(qrows)).cast("long").alias("exact_dist"),
    )
