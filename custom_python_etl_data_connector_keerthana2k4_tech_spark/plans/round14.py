"""Round-14 additions: causal/corpus/graph/embedding profiling —
standardized-mean-difference covariate balance between experiment arms
(the pre-test every causal readout needs), Gries' deviation-of-
proportions term dispersion (is a term corpus-wide or one source's
quirk), the rich-club coefficient ladder (do hubs interconnect), the
two-NN maximum-likelihood intrinsic-dimension estimate of the embedding
manifold, and pivoted per-user recency features (days-since-last-X, the
bread-and-butter churn-model inputs).

The reference computes none of these (complete operator surface:
/root/reference/etl_connector.py:53-242; SURVEY §2.1-2.2). All five are
oracle-paired (DuckDB) and auto-gated by tests/test_oracle.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions.vectors import sql_quantize
from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.registry import query
from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.relational import DSUM, dsum
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load

# q308's adaptive switch (mirrors round6.TWO_HOP_DENSE_DOMAIN_LIMIT): up to
# this many embedding rows the whole quantized matrix broadcasts as one
# shard (1M x 64 int64 ~ 0.5 GB); above it, the matrix shards by vec_id
# residue and per-shard partial two-NN results min-merge — the driver never
# holds more than one shard.
INTRINSIC_DENSE_ROW_LIMIT = 1_000_000

# ---------------------------------------------------------------------------
# Covariate balance between experiment arms (standardized mean differences)
# ---------------------------------------------------------------------------


@query(
    "q305_covariate_balance",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CAST(((user_id * 2654435761) % 4294967296) // 2147483648
                  AS BIGINT) AS arm,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) / count(*)
               AS avg_value,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*) AS purchase_share
      FROM events GROUP BY 1
    ), long AS (
      SELECT arm, 'n_events' AS covariate, CAST(n_events AS DOUBLE) AS x FROM u
      UNION ALL
      SELECT arm, 'avg_value', avg_value FROM u
      UNION ALL
      SELECT arm, 'purchase_share', purchase_share FROM u
    ), moments AS (
      SELECT covariate,
             count(CASE WHEN arm = 1 THEN 1 END) AS n1,
             count(CASE WHEN arm = 0 THEN 1 END) AS n0,
             {DSUM('CASE WHEN arm = 1 THEN x ELSE 0 END')} AS s1,
             {DSUM('CASE WHEN arm = 0 THEN x ELSE 0 END')} AS s0,
             {DSUM('CASE WHEN arm = 1 THEN x * x ELSE 0 END')} AS ss1,
             {DSUM('CASE WHEN arm = 0 THEN x * x ELSE 0 END')} AS ss0
      FROM long GROUP BY 1
    )
    SELECT covariate,
           CAST(n1 AS BIGINT) AS n_treat, CAST(n0 AS BIGINT) AS n_ctrl,
           (s1 / n1 - s0 / n0)
             / sqrt(((ss1 / n1 - (s1 / n1) * (s1 / n1))
                     + (ss0 / n0 - (s0 / n0) * (s0 / n0))) / 2) AS smd
    FROM moments
    """,
)
def q305_covariate_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariate-balance audit for the hash-assigned experiment arms:
    standardized mean difference (Cohen's d with pooled variance) of three
    per-user covariates — activity volume, mean event value, purchase
    share. |SMD| < 0.1 is the conventional all-clear before reading any
    treatment effect (q209/q130); imbalance means the assignment is
    confounded. Scale: one groupBy(user) collapses the fact; the
    unpivoted covariate frame is 3x users; per-covariate moments are one
    conditional-sum pass with decimal accumulation, so both engines'
    divisions see identical sums. Reference has no statistics
    (SURVEY §2.2)."""
    u = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events_l"),
            (F.sum(F.col("value").cast("decimal(30,10)")).cast("double") / F.count("*")).alias(
                "avg_value"
            ),
            (
                F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).cast("double")
                / F.count("*")
            ).alias("purchase_share"),
        )
        .select(
            F.floor(
                F.pmod(F.col("user_id") * 2654435761, F.lit(4294967296)) / F.lit(2147483648)
            )
            .cast("long")
            .alias("arm"),
            F.col("n_events_l").cast("double").alias("n_events"),
            "avg_value",
            "purchase_share",
        )
    )
    long = u.selectExpr(
        "arm",
        "stack(3, 'n_events', n_events, 'avg_value', avg_value, "
        "'purchase_share', purchase_share) AS (covariate, x)",
    )
    n1 = F.count(F.when(F.col("arm") == 1, 1))
    n0 = F.count(F.when(F.col("arm") == 0, 1))
    s1 = dsum(F.when(F.col("arm") == 1, F.col("x")).otherwise(0.0))
    s0 = dsum(F.when(F.col("arm") == 0, F.col("x")).otherwise(0.0))
    ss1 = dsum(F.when(F.col("arm") == 1, F.col("x") * F.col("x")).otherwise(0.0))
    ss0 = dsum(F.when(F.col("arm") == 0, F.col("x") * F.col("x")).otherwise(0.0))
    m1, m0 = s1 / n1, s0 / n0
    v1 = ss1 / n1 - m1 * m1
    v0 = ss0 / n0 - m0 * m0
    return long.groupBy("covariate").agg(
        n1.cast("long").alias("n_treat"),
        n0.cast("long").alias("n_ctrl"),
        ((m1 - m0) / F.sqrt((v1 + v0) / 2)).alias("smd"),
    )


# ---------------------------------------------------------------------------
# Term dispersion across sources (Gries' deviation of proportions)
# ---------------------------------------------------------------------------


@query(
    "q306_term_dispersion",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ), tf AS (
      SELECT w, source, count(*) AS f FROM toks WHERE w <> '' GROUP BY 1, 2
    ), src AS (
      SELECT source, sum(f) AS src_total FROM tf GROUP BY 1
    ), term AS (
      SELECT w, sum(f) AS term_total FROM tf GROUP BY 1
    ), top AS (
      SELECT w, term_total FROM (
        SELECT w, term_total,
               row_number() OVER (ORDER BY term_total DESC, w ASC) AS rk
        FROM term
      ) WHERE rk <= 20
    ), grid AS (
      SELECT top.w, top.term_total, src.source, src.src_total,
             COALESCE(tf.f, 0) AS f,
             (SELECT sum(src_total) FROM src) AS corpus_total
      FROM top CROSS JOIN src
      LEFT JOIN tf ON tf.w = top.w AND tf.source = src.source
    )
    SELECT w AS term, CAST(term_total AS BIGINT) AS term_total,
           0.5 * sum(abs(CAST(f AS DOUBLE) / term_total
                         - CAST(src_total AS DOUBLE) / corpus_total)) AS dp
    FROM grid GROUP BY w, term_total
    """,
)
def q306_term_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gries' deviation of proportions for the 20 most frequent corpus
    terms: DP = half the L1 gap between where a term's occurrences live
    and where tokens in general live — 0 means perfectly corpus-wide,
    near 1 means one source's quirk. The corpus-mix screen that catches
    boilerplate the per-document rules (q152/q244) can't see. Scale: one
    tokenize-explode pass builds (term, source) counts; everything after
    runs on that aggregate frame, with the top-20 selected by a
    deterministic count-then-lexicographic rank and the (20 x sources)
    grid crossing two dimension-bounded frames. Integer counts feed every
    ratio. Reference has no text surface (SURVEY §2.2)."""
    toks = load(spark, sf_dir, "documents").select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    tf = toks.filter(F.col("w") != "").groupBy("w", "source").agg(F.count("*").alias("f"))
    src = tf.groupBy("source").agg(F.sum("f").alias("src_total"))
    term = tf.groupBy("w").agg(F.sum("f").alias("term_total"))
    from pyspark.sql.window import Window

    top = (
        term.withColumn(
            "rk", F.row_number().over(Window.orderBy(F.desc("term_total"), F.asc("w")))
        )
        .filter(F.col("rk") <= 20)
        .select("w", "term_total")
    )
    corpus = src.agg(F.sum("src_total").alias("corpus_total"))
    grid = (
        top.crossJoin(F.broadcast(src))
        .crossJoin(F.broadcast(corpus))
        .join(F.broadcast(tf), ["w", "source"], "left")
        .select(
            "w",
            "term_total",
            "src_total",
            "corpus_total",
            F.coalesce(F.col("f"), F.lit(0)).alias("f"),
        )
    )
    return (
        grid.groupBy("w", "term_total")
        .agg(
            (
                0.5
                * F.sum(
                    F.abs(
                        F.col("f").cast("double") / F.col("term_total")
                        - F.col("src_total").cast("double") / F.col("corpus_total")
                    )
                )
            ).alias("dp")
        )
        .select(
            F.col("w").alias("term"),
            F.col("term_total").cast("long").alias("term_total"),
            "dp",
        )
    )


# ---------------------------------------------------------------------------
# Rich-club coefficient ladder over the co-purchase graph
# ---------------------------------------------------------------------------


@query(
    "q307_rich_club",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), und AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
    ), deg AS (
      SELECT u, count(*) AS d FROM und GROUP BY 1
    ), ks AS (
      SELECT unnest([25, 50, 100]) AS k
    ), club AS (
      SELECT ks.k, count(*) AS n_k
      FROM ks JOIN deg ON deg.d > ks.k GROUP BY 1
    ), among AS (
      SELECT ks.k, count(*) AS e2_k
      FROM ks
      JOIN und ON TRUE
      JOIN deg du ON und.u = du.u AND du.d > ks.k
      JOIN deg dv ON und.v = dv.u AND dv.d > ks.k
      GROUP BY 1
    )
    SELECT club.k AS k, CAST(club.n_k AS BIGINT) AS n_k,
           CAST(COALESCE(among.e2_k, 0) AS DOUBLE)
             / (club.n_k * (club.n_k - 1)) AS phi
    FROM club LEFT JOIN among ON club.k = among.k
    WHERE club.n_k >= 2
    """,
)
def q307_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient at degree thresholds 25/50/100: among nodes
    with degree > k, the fraction of possible links actually present —
    phi near 1 means hub products form a tightly interlocked club (one
    warehouse outage cascades), low phi means hubs are independent
    anchors. Completes the hub analysis started by q149 (degrees) and
    q296 (assortativity). Scale: the edge frame is the shared PERSISTED
    copurchase_edges basket expansion (degree aggregation + edge-among
    join both read the cache); club membership is a broadcast threshold
    probe per k (3-row ladder); the edge-among count joins the edge list
    to the degree frame twice on node keys — no pair materialization
    beyond the existing edges. Both-direction edge storage makes e2 = 2x
    undirected count, cancelling against the ordered-pair denominator
    n(n-1). Exact integers into one division. Reference has no graph
    surface (SURVEY §2.2)."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.extensions import copurchase_und_edges

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    und = copurchase_und_edges(li)
    deg = und.groupBy("u").agg(F.count("*").alias("d"))
    ks = spark.range(0, 1).select(
        F.explode(F.array(F.lit(25), F.lit(50), F.lit(100))).alias("k")
    )
    club = (
        ks.join(deg, deg.d > ks.k)
        .groupBy("k")
        .agg(F.count("*").alias("n_k"))
    )
    du = deg.select(F.col("u").alias("du_u"), F.col("d").alias("du_d"))
    dv = deg.select(F.col("u").alias("dv_u"), F.col("d").alias("dv_d"))
    edge_deg = (
        und.join(du, F.col("u") == F.col("du_u"))
        .join(dv, F.col("v") == F.col("dv_u"))
        .select("du_d", "dv_d")
    )
    among = (
        F.broadcast(ks)
        .join(edge_deg, (F.col("du_d") > F.col("k")) & (F.col("dv_d") > F.col("k")))
        .groupBy("k")
        .agg(F.count("*").alias("e2_k"))
    )
    return (
        club.join(among, "k", "left")
        .filter(F.col("n_k") >= 2)
        .select(
            "k",
            F.col("n_k").cast("long").alias("n_k"),
            (
                F.coalesce(F.col("e2_k"), F.lit(0)).cast("double")
                / (F.col("n_k") * (F.col("n_k") - 1))
            ).alias("phi"),
        )
    )


# ---------------------------------------------------------------------------
# Two-NN intrinsic dimension of the embedding manifold
# ---------------------------------------------------------------------------


@query(
    "q308_intrinsic_dimension",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, unnest({sql_quantize('embedding')}) AS x,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    ), dists AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             sum((a.x - b.x) * (a.x - b.x)) AS dsq
      FROM q a JOIN q b USING (i)
      WHERE a.vec_id <> b.vec_id
      GROUP BY 1, 2
    ), nn AS (
      SELECT va, dsq,
             row_number() OVER (PARTITION BY va ORDER BY dsq ASC, vb ASC)
               AS rk
      FROM dists
    ), mu AS (
      SELECT va,
             0.5 * ln(CAST(max(CASE WHEN rk = 2 THEN dsq END) AS DOUBLE)
                      / max(CASE WHEN rk = 1 THEN dsq END)) AS ln_mu
      FROM nn WHERE rk <= 2
      GROUP BY 1
      HAVING max(CASE WHEN rk = 1 THEN dsq END) > 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_used,
           count(*) / {DSUM('ln_mu')} AS intrinsic_dim
    FROM mu
    """,
)
def q308_intrinsic_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-NN maximum-likelihood intrinsic dimension (Facco et al.) of
    the embedding corpus: per point, the ratio of 2nd- to 1st-nearest-
    neighbor distance; ID = n / sum(ln mu). Tells you whether a 64-dim
    embedding really spans 64 dims or lives on a much thinner manifold —
    which governs how aggressively q172's quantization and q48's LSH can
    compress. Scale: embeddings quantize to the shared 1e-6 integer grid
    (functions/vectors.py); below INTRINSIC_DENSE_ROW_LIMIT the full
    quantized matrix broadcasts (n x d ints — MBs at any corpus that
    fits a single ANN shard) and each partition computes exact integer
    squared distances for ITS rows against the matrix in one vectorized
    NumPy matmul (all magnitudes < 2^53, so float64 arithmetic is
    exact), keeping only each row's two smallest. ABOVE the limit the
    matrix shards by vec_id residue: each shard broadcasts in turn
    (driver peak = one shard), a mapInPandas pass emits every point's
    two smallest distances INTO that shard, and a bounded merge
    (2 x n_shards candidates per point) takes the global two minima —
    exactly the dense answer, since min-merging is associative and the
    integer-grid distances are bit-reproducible either way. No
    pair-grain shuffle ever materializes on either path. The oracle is
    the O(n^2 d) relational formulation. Reference has no vector
    surface (SURVEY §2.2)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions.vectors import quantize

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", quantize("embedding").alias("qv")
    )
    n = e.count()

    def _shard_arrays(pdf: pd.DataFrame):
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = np.stack(pdf["qv"].to_numpy()).astype(np.float64)  # |x| <= 2^53
        return ids, mat, (mat * mat).sum(axis=1)

    def _partial_two_nn(b_shard):
        """Per input row: the two smallest exact squared distances into
        the broadcast shard (self excluded), as (va, d) candidate rows."""

        def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            shard_ids, m, nsq = b_shard.value
            for chunk in it:
                va, ds = [], []
                for vid, qv in zip(chunk["vec_id"], chunk["qv"]):
                    a = np.asarray(qv, dtype=np.float64)
                    dsq = nsq + (a * a).sum() - 2.0 * (m @ a)
                    dsq[shard_ids == vid] = np.inf
                    k = min(2, len(dsq))
                    for d in np.sort(np.partition(dsq, k - 1)[:k]):
                        if np.isfinite(d):
                            va.append(int(vid))
                            ds.append(float(d))
                yield pd.DataFrame({"va": va, "d": ds})

        return gen

    if n <= INTRINSIC_DENSE_ROW_LIMIT:
        # dense: one shard IS the corpus, so each row's two candidates are
        # final — emit (va, d1, d2) directly, no merge shuffle at all
        b_mat = spark.sparkContext.broadcast(_shard_arrays(e.toPandas()))

        def dense_two_nn(
            it: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            all_ids, m, nsq = b_mat.value
            for chunk in it:
                rows = []
                for vid, qv in zip(chunk["vec_id"], chunk["qv"]):
                    a = np.asarray(qv, dtype=np.float64)
                    dsq = nsq + (a * a).sum() - 2.0 * (m @ a)
                    dsq[all_ids == vid] = np.inf
                    d1, d2 = np.sort(np.partition(dsq, 1)[:2])
                    rows.append((int(vid), float(d1), float(d2)))
                yield pd.DataFrame(rows, columns=["va", "d1", "d2"])

        two = e.repartition(8, "vec_id").mapInPandas(
            dense_two_nn, schema="va long, d1 double, d2 double"
        )
    else:
        e = e.persist()
        n_shards = -(-n // INTRINSIC_DENSE_ROW_LIMIT)
        partials = []
        for s in range(n_shards):
            shard_pdf = e.filter(
                F.pmod(F.col("vec_id"), F.lit(n_shards)) == s
            ).toPandas()
            if shard_pdf.empty:
                continue
            b_shard = spark.sparkContext.broadcast(_shard_arrays(shard_pdf))
            partials.append(
                e.repartition(8, "vec_id").mapInPandas(
                    _partial_two_nn(b_shard), schema="va long, d double"
                )
            )
        cand = partials[0]
        for p in partials[1:]:
            cand = cand.unionAll(p)
        two = (
            cand.groupBy("va")
            .agg(F.array_sort(F.collect_list("d")).alias("ds"))
            .filter(F.size("ds") >= 2)
            .select(
                "va",
                F.element_at("ds", 1).alias("d1"),
                F.element_at("ds", 2).alias("d2"),
            )
        )

    mu = two.filter(F.col("d1") > 0).select(
        (0.5 * F.log(F.col("d2") / F.col("d1"))).alias("ln_mu")
    )
    return mu.agg(
        F.count("*").cast("long").alias("n_used"),
        (F.count("*") / dsum("ln_mu")).alias("intrinsic_dim"),
    )


# ---------------------------------------------------------------------------
# Pivoted per-user recency features (days since last event of each type)
# ---------------------------------------------------------------------------


@query(
    "q309_recency_features",
    oracle="""
    SELECT user_id,
           CAST(date_diff('day',
                CAST(max(CASE WHEN event_type = 'view' THEN ts END) AS DATE),
                DATE '2024-01-31') AS BIGINT) AS days_since_view,
           CAST(date_diff('day',
                CAST(max(CASE WHEN event_type = 'click' THEN ts END) AS DATE),
                DATE '2024-01-31') AS BIGINT) AS days_since_click,
           CAST(date_diff('day',
                CAST(max(CASE WHEN event_type = 'purchase' THEN ts END) AS DATE),
                DATE '2024-01-31') AS BIGINT) AS days_since_purchase
    FROM events GROUP BY 1
    """,
)
def q309_recency_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn-model recency features: per user, days since their last
    view / click / purchase as of the 2024-01-31 anchor — the pivoted
    conditional-argmax feature block every lifecycle model starts from
    (honest NULLs for types the user never did). Scale: ONE
    conditional-max pass over the fact (map-side combinable, no pivot
    shuffle, no per-type scans); the anchor is a literal so the whole
    row is codegen. Reference has no aggregation (SURVEY §2.2)."""
    ev = load(spark, sf_dir, "events")

    def since(t: str):
        return F.datediff(
            F.lit("2024-01-31").cast("date"),
            F.max(F.when(F.col("event_type") == t, F.col("ts"))).cast("date"),
        ).cast("long")

    return ev.groupBy("user_id").agg(
        since("view").alias("days_since_view"),
        since("click").alias("days_since_click"),
        since("purchase").alias("days_since_purchase"),
    )
