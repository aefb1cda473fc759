"""Round-16 additions: embedding-training data mining and stratified /
serial-correlation statistics — rank-band hard-negative mining (the
contrastive-training sampler), Mantel-Haenszel pooled odds ratio across
strata (the confounder-adjusted effect estimate), the Durbin-Watson
serial-correlation statistic, and first-order partial correlation
(association with a third series controlled away).

The reference computes none of these (complete operator surface:
/root/reference/etl_connector.py:53-242; SURVEY §2.1-2.2). All four are
oracle-paired (DuckDB) and auto-gated by tests/test_oracle.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions.vectors import sql_quantize
from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.registry import query
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load

# ---------------------------------------------------------------------------
# Rank-band hard-negative mining for contrastive embedding training
# ---------------------------------------------------------------------------

_HN_QUERIES = 10
_HN_LO, _HN_HI = 11, 30  # rank band: past the near-duplicates, before randoms


@query(
    "q314_hard_negative_mining",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label, unnest({sql_quantize('embedding')}) AS x,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings WHERE vec_id < {_HN_QUERIES}
    ), c AS (
      SELECT vec_id, label, unnest({sql_quantize('embedding')}) AS x,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    ), dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             max(q.label) AS q_label, max(c.label) AS c_label,
             sum(q.x * c.x) AS dot,
             sum(q.x * q.x) AS qn, sum(c.x * c.x) AS cn
      FROM q JOIN c USING (i)
      WHERE q.vec_id <> c.vec_id
      GROUP BY 1, 2
    ), ranked AS (
      SELECT query_id, cand_id, q_label, c_label,
             CAST(dot AS DOUBLE) / (sqrt(CAST(qn AS DOUBLE))
                                    * sqrt(CAST(cn AS DOUBLE))) AS cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY CAST(dot AS DOUBLE)
                                         / (sqrt(CAST(qn AS DOUBLE))
                                            * sqrt(CAST(cn AS DOUBLE))) DESC,
                                         cand_id ASC) AS rk
      FROM dots
    )
    SELECT query_id, cand_id AS negative_id, CAST(rk AS INT) AS rk,
           round(cosine, 6) AS cosine
    FROM ranked
    WHERE rk BETWEEN {_HN_LO} AND {_HN_HI} AND c_label <> q_label
    """,
)
def q314_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    embedding, candidates ranked {_HN_LO}-{_HN_HI} by cosine that carry a
    DIFFERENT label — past the near-duplicate zone (likely false
    negatives), before the easy randoms that teach the model nothing.
    This is the sampler that decides retrieval-training data quality.
    Scale: dot products run on the shared 1e-6 integer grid
    (functions/vectors.py) so ranking ties are impossible to get wrong
    across engines (deterministic cosine + id tie-break); the query set
    is bounded so the candidate fan-out is queries x corpus — sharded by
    query at scale, with q48's LSH bucketing as the recall-tradeoff
    variant when the corpus side outgrows brute force. Reference has no
    vector surface (SURVEY §2.2)."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions.vectors import quantize

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", quantize("embedding").alias("qv")
    )
    comp = e.select(
        "vec_id",
        "label",
        F.posexplode("qv").alias("i", "x"),
    )
    q = comp.filter(F.col("vec_id") < _HN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        "i",
        F.col("x").alias("qx"),
    )
    dots = (
        q.join(
            comp.select(
                F.col("vec_id").alias("cand_id"),
                F.col("label").alias("c_label"),
                "i",
                F.col("x").alias("cx"),
            ),
            "i",
        )
        .filter(F.col("query_id") != F.col("cand_id"))
        .groupBy("query_id", "cand_id")
        .agg(
            F.max("q_label").alias("q_label"),
            F.max("c_label").alias("c_label"),
            F.sum(F.col("qx") * F.col("cx")).alias("dot"),
            F.sum(F.col("qx") * F.col("qx")).alias("qn"),
            F.sum(F.col("cx") * F.col("cx")).alias("cn"),
        )
    )
    cosine = F.col("dot").cast("double") / (
        F.sqrt(F.col("qn").cast("double")) * F.sqrt(F.col("cn").cast("double"))
    )
    ranked = dots.select(
        "query_id", "cand_id", "q_label", "c_label", cosine.alias("cosine")
    ).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
        ),
    )
    return ranked.filter(
        (F.col("rk") >= _HN_LO) & (F.col("rk") <= _HN_HI) & (F.col("c_label") != F.col("q_label"))
    ).select(
        "query_id",
        F.col("cand_id").alias("negative_id"),
        F.col("rk").cast("int").alias("rk"),
        F.round("cosine", 6).alias("cosine"),
    )


# ---------------------------------------------------------------------------
# Mantel-Haenszel pooled odds ratio across strata
# ---------------------------------------------------------------------------


@query(
    "q315_mantel_haenszel",
    oracle="""
    WITH u AS (
      SELECT user_id, dayname(min(ts)) AS stratum,
             CAST(((user_id * 2654435761) % 4294967296) // 2147483648
                  AS BIGINT) AS arm,
             max(CASE WHEN event_type = 'purchase' AND value > 90
                      THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id
    ), cells AS (
      SELECT stratum,
             sum(CASE WHEN arm = 1 AND conv = 1 THEN 1 ELSE 0 END) AS a,
             sum(CASE WHEN arm = 1 AND conv = 0 THEN 1 ELSE 0 END) AS b,
             sum(CASE WHEN arm = 0 AND conv = 1 THEN 1 ELSE 0 END) AS c,
             sum(CASE WHEN arm = 0 AND conv = 0 THEN 1 ELSE 0 END) AS d,
             count(*) AS n
      FROM u GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS k_strata,
           CAST(sum(CAST(a AS DOUBLE) * d / n) AS DOUBLE)
             / sum(CAST(b AS DOUBLE) * c / n) AS or_mh
    FROM cells
    WHERE a + b > 0 AND c + d > 0
    """,
)
def q315_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio of the treatment's effect on
    high-value purchase, stratified by the weekday each user first
    appeared: the confounder-adjusted effect estimate that a crude 2x2
    table gets wrong whenever arrival day correlates with both arm
    exposure and behavior (Simpson's guard, complementing the balance
    audit q305). Scale: one groupBy(user) pass builds the per-user row;
    the stratum cells are a 7x4 integer frame; the MH ratio is two sums
    of exact a*d/n rationals. Reference has no statistics
    (SURVEY §2.2)."""
    u = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.date_format(F.min("ts"), "EEEE").alias("stratum"),
            F.max(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("value") > 90), 1
                ).otherwise(0)
            ).alias("conv"),
        )
        .withColumn(
            "arm",
            F.floor(
                F.pmod(F.col("user_id") * 2654435761, F.lit(4294967296)) / F.lit(2147483648)
            ).cast("long"),
        )
    )
    cells = u.groupBy("stratum").agg(
        F.sum(F.when((F.col("arm") == 1) & (F.col("conv") == 1), 1).otherwise(0)).alias("a"),
        F.sum(F.when((F.col("arm") == 1) & (F.col("conv") == 0), 1).otherwise(0)).alias("b"),
        F.sum(F.when((F.col("arm") == 0) & (F.col("conv") == 1), 1).otherwise(0)).alias("c"),
        F.sum(F.when((F.col("arm") == 0) & (F.col("conv") == 0), 1).otherwise(0)).alias("d"),
        F.count("*").alias("n"),
    )
    kept = cells.filter((F.col("a") + F.col("b") > 0) & (F.col("c") + F.col("d") > 0))
    return kept.agg(
        F.count("*").cast("long").alias("k_strata"),
        (
            F.sum(F.col("a").cast("double") * F.col("d") / F.col("n")).cast("double")
            / F.sum(F.col("b").cast("double") * F.col("c") / F.col("n"))
        ).alias("or_mh"),
    )


# ---------------------------------------------------------------------------
# Durbin-Watson serial-correlation statistic of the daily series
# ---------------------------------------------------------------------------


@query(
    "q316_durbin_watson",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS x
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY 1
    ), m AS (
      SELECT sum(x) AS s, count(*) AS n FROM daily
    ), e AS (
      SELECT m.n * x - m.s AS e,
             lag(m.n * x - m.s) OVER (ORDER BY day) AS ep
      FROM daily CROSS JOIN m
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN ep IS NOT NULL
                         THEN (e - ep) * (e - ep) END) AS DOUBLE)
             / sum(e * e) AS dw
    FROM e
    """,
)
def q316_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic of the 1996 daily order counts: the ratio
    of squared successive residual differences to squared residuals —
    near 2 means no serial correlation, toward 0 positive, toward 4
    negative; the one-number check that the AR(1) model (q301) or an
    i.i.d. assumption (q275 runs test) is even plausible. Scale: the
    fact collapses to the day frame first; residuals are n-scaled
    integers (n*x - S), so the scale factor cancels in the ratio and
    both engines divide identical exact BIGINTs. One ordered window for
    the lag. Reference has no statistics (SURVEY §2.2)."""
    daily = (
        load(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01"))
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.count("*").alias("x"))
    )
    m = daily.agg(F.sum("x").alias("s"), F.count("*").alias("n"))
    e = daily.join(F.broadcast(m)).select(
        "day", (F.col("n") * F.col("x") - F.col("s")).alias("e")
    )
    e = e.withColumn("ep", F.lag("e").over(Window.orderBy("day")))
    return e.agg(
        F.count("*").cast("long").alias("n_days"),
        (
            F.sum(
                F.when(
                    F.col("ep").isNotNull(),
                    (F.col("e") - F.col("ep")) * (F.col("e") - F.col("ep")),
                )
            ).cast("double")
            / F.sum(F.col("e") * F.col("e"))
        ).alias("dw"),
    )


# ---------------------------------------------------------------------------
# First-order partial correlation of daily volume and mean price given reach
# ---------------------------------------------------------------------------


@query(
    "q317_partial_correlation",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             count(*) AS x,
             CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(30,10))) AS BIGINT)
               AS y,
             count(DISTINCT o_custkey) AS z
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY 1
    ), mom AS (
      SELECT count(*) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(z) AS sz,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(z * z) AS szz,
             sum(x * y) AS sxy, sum(x * z) AS sxz, sum(y * z) AS syz
      FROM daily
    ), r AS (
      SELECT n,
             (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
               / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                      * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy))
               AS rxy,
             (n * CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * sz)
               / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                      * (n * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * sz))
               AS rxz,
             (n * CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * sz)
               / sqrt((n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)
                      * (n * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * sz))
               AS ryz
      FROM mom
    )
    SELECT CAST(n AS BIGINT) AS n_days, rxy, rxz, ryz,
           CASE WHEN (1 - rxz * rxz) * (1 - ryz * ryz) > 0
                THEN (rxy - rxz * ryz)
                       / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)) END
             AS partial_rxy_given_z
    FROM r
    """,
)
def q317_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order partial correlation: does daily order volume correlate
    with daily revenue beyond what shared customer reach explains?
    r_xy.z = (r_xy - r_xz*r_yz) / sqrt((1-r_xz^2)(1-r_yz^2)) — the
    confound-removal step between plain correlation (q121/q181) and a
    full regression. Scale: the fact collapses to <=366 day rows (counts,
    cent-integer revenue, distinct reach) in one pass; all nine moments
    are exact BIGINT sums of that frame; three correlations and the
    partial are pure scalar arithmetic both engines perform identically.
    Reference has no statistics (SURVEY §2.2)."""
    daily = (
        load(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01"))
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.count("*").alias("x"),
            F.sum((F.col("o_totalprice") * 100).cast("decimal(30,10)"))
            .cast("long")
            .alias("y"),
            F.countDistinct("o_custkey").alias("z"),
        )
    )
    mom = daily.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("z").alias("sz"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        # y is cent-scale: y^2 sums past int64 — exact decimal accumulation
        # (DuckDB's sum(BIGINT) promotes to HUGEINT for the same reason)
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("z")).alias("sxz"),
        F.sum(F.col("y") * F.col("z")).alias("syz"),
    )

    def corr(sab, sa, sb, saa, sbb):
        n = F.col("n")
        return (n * F.col(sab).cast("double") - F.col(sa).cast("double") * F.col(sb)) / F.sqrt(
            (n * F.col(saa).cast("double") - F.col(sa).cast("double") * F.col(sa))
            * (n * F.col(sbb).cast("double") - F.col(sb).cast("double") * F.col(sb))
        )

    r = mom.select(
        F.col("n"),
        corr("sxy", "sx", "sy", "sxx", "syy").alias("rxy"),
        corr("sxz", "sx", "sz", "sxx", "szz").alias("rxz"),
        corr("syz", "sy", "sz", "syy", "szz").alias("ryz"),
    )
    return r.select(
        F.col("n").cast("long").alias("n_days"),
        "rxy",
        "rxz",
        "ryz",
        F.when(
            (1 - F.col("rxz") * F.col("rxz")) * (1 - F.col("ryz") * F.col("ryz")) > 0,
            (F.col("rxy") - F.col("rxz") * F.col("ryz"))
            / F.sqrt(
                (1 - F.col("rxz") * F.col("rxz")) * (1 - F.col("ryz") * F.col("ryz"))
            ),
        ).alias("partial_rxy_given_z"),
    )
