"""Round-18 additions: inventory & risk & evaluation analytics — the
Syntetos-Boylan demand-intermittency classification (which forecasting
family each part needs), ABC-XYZ inventory segmentation (value Pareto x
demand variability), upper-tail dependence between daily volume and
revenue (do extremes co-occur), discount elasticity of weekly demand
(log-log OLS), and out-of-vocabulary rate between train and holdout
periods (the cold-start coverage check).

The reference computes none of these (complete operator surface:
/root/reference/etl_connector.py:53-242; SURVEY §2.1-2.2). All five are
oracle-paired (DuckDB) and auto-gated by tests/test_oracle.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.registry import query
from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.relational import DSUM, dsum
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load

# ---------------------------------------------------------------------------
# Syntetos-Boylan demand-intermittency classification
# ---------------------------------------------------------------------------


@query(
    "q322_demand_intermittency",
    oracle="""
    WITH demand AS (
      SELECT l_partkey, CAST(l_shipdate AS DATE) AS day,
             sum(CAST(l_quantity AS BIGINT)) AS q
      FROM lineitem GROUP BY 1, 2
    ), per_part AS (
      SELECT l_partkey,
             count(*) AS n_events,
             date_diff('day', min(day), max(day)) AS span,
             sum(q) AS sq, sum(q * q) AS sqq
      FROM demand GROUP BY 1 HAVING count(*) >= 2
    ), scored AS (
      SELECT l_partkey,
             CAST(span AS DOUBLE) / (n_events - 1) AS adi,
             (CAST(sqq AS DOUBLE) / n_events
              - (CAST(sq AS DOUBLE) / n_events) * (CAST(sq AS DOUBLE) / n_events))
               / ((CAST(sq AS DOUBLE) / n_events)
                  * (CAST(sq AS DOUBLE) / n_events)) AS cv2
      FROM per_part
    )
    SELECT CASE
             WHEN adi <= 1.32 AND cv2 <= 0.49 THEN 'smooth'
             WHEN adi > 1.32 AND cv2 <= 0.49 THEN 'intermittent'
             WHEN adi <= 1.32 AND cv2 > 0.49 THEN 'erratic'
             ELSE 'lumpy' END AS demand_class,
           CAST(count(*) AS BIGINT) AS n_parts
    FROM scored GROUP BY 1
    """,
)
def q322_demand_intermittency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Syntetos-Boylan demand classification per part: average
    inter-demand interval (ADI, from the demand-day span) and the
    squared coefficient of variation of demand sizes, bucketed at the
    canonical 1.32/0.49 cutoffs into smooth / intermittent / erratic /
    lumpy — the triage that decides which parts get exponential
    smoothing (q108/q245) and which need Croston-style intermittent
    models. Scale: one groupBy(part, day) collapses the fact to demand
    events, one groupBy(part) computes integer sufficient statistics,
    and the classification is scalar arithmetic on exact BIGINTs — the
    same two-shuffle profile at any corpus size. Reference has no
    aggregation (SURVEY §2.2)."""
    demand = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_partkey", F.col("l_shipdate").cast("date").alias("day"))
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("q"))
    )
    per_part = (
        demand.groupBy("l_partkey")
        .agg(
            F.count("*").alias("n_events"),
            F.datediff(F.max("day"), F.min("day")).alias("span"),
            F.sum("q").alias("sq"),
            F.sum(F.col("q") * F.col("q")).alias("sqq"),
        )
        .filter(F.col("n_events") >= 2)
    )
    mean = F.col("sq").cast("double") / F.col("n_events")
    scored = per_part.select(
        (F.col("span").cast("double") / (F.col("n_events") - 1)).alias("adi"),
        ((F.col("sqq").cast("double") / F.col("n_events") - mean * mean) / (mean * mean)).alias(
            "cv2"
        ),
    )
    cls = (
        F.when((F.col("adi") <= 1.32) & (F.col("cv2") <= 0.49), "smooth")
        .when((F.col("adi") > 1.32) & (F.col("cv2") <= 0.49), "intermittent")
        .when((F.col("adi") <= 1.32) & (F.col("cv2") > 0.49), "erratic")
        .otherwise("lumpy")
    )
    return scored.groupBy(cls.alias("demand_class")).agg(
        F.count("*").cast("long").alias("n_parts")
    )


# ---------------------------------------------------------------------------
# ABC-XYZ inventory segmentation matrix
# ---------------------------------------------------------------------------


@query(
    "q323_abc_xyz",
    oracle=f"""
    WITH rev AS (
      SELECT l_partkey,
             {DSUM('l_extendedprice * (1 - l_discount)')} AS revenue
      FROM lineitem GROUP BY 1
    ), abc AS (
      SELECT l_partkey, revenue,
             sum(revenue) OVER (ORDER BY revenue DESC, l_partkey ASC) AS cum,
             sum(revenue) OVER () AS total
      FROM rev
    ), wk AS (
      SELECT l_partkey,
             CAST(date_diff('day', DATE '1995-01-02',
                            date_trunc('week', l_shipdate)) AS BIGINT) // 7
               AS week,
             sum(CAST(l_quantity AS BIGINT)) AS q
      FROM lineitem GROUP BY 1, 2
    ), xyz AS (
      SELECT l_partkey, count(*) AS nw, sum(q) AS sq, sum(q * q) AS sqq
      FROM wk GROUP BY 1 HAVING count(*) >= 2
    ), classes AS (
      SELECT a.l_partkey,
             CASE WHEN a.cum <= 0.7 * a.total THEN 'A'
                  WHEN a.cum <= 0.9 * a.total THEN 'B'
                  ELSE 'C' END AS abc_class,
             CASE WHEN sqrt(CAST(x.sqq AS DOUBLE) / x.nw
                            - (CAST(x.sq AS DOUBLE) / x.nw)
                              * (CAST(x.sq AS DOUBLE) / x.nw))
                       / (CAST(x.sq AS DOUBLE) / x.nw) <= 0.5 THEN 'X'
                  WHEN sqrt(CAST(x.sqq AS DOUBLE) / x.nw
                            - (CAST(x.sq AS DOUBLE) / x.nw)
                              * (CAST(x.sq AS DOUBLE) / x.nw))
                       / (CAST(x.sq AS DOUBLE) / x.nw) <= 1.0 THEN 'Y'
                  ELSE 'Z' END AS xyz_class
      FROM abc a JOIN xyz x ON a.l_partkey = x.l_partkey
    )
    SELECT abc_class, xyz_class, CAST(count(*) AS BIGINT) AS n_parts
    FROM classes GROUP BY 1, 2
    """,
)
def q323_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ segmentation matrix: parts classed by cumulative revenue
    share (A <= 70%, B <= 90%, C rest — the Pareto axis q155 cuts) and
    by weekly-demand coefficient of variation (X <= 0.5, Y <= 1.0, Z
    rest) — the nine-cell planning grid that sets service levels and
    forecast methods per cell. Scale: two part-grain aggregates of the
    fact (revenue; weekly demand moments); the Pareto prefix over the
    ENTITY-grain part frame runs as operators/ranks.with_running_sums
    (range repartition + per-range windows + broadcast offsets — exact
    decimal arithmetic, no one-task global sort) and the grand total
    joins back as a broadcast single row; every input to a threshold is
    an exact decimal/BIGINT statistic so class boundaries agree across
    engines. Reference has no aggregation (SURVEY §2.2)."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.ranks import with_running_sums

    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )
    cum = with_running_sums(
        rev,
        [F.col("revenue").desc(), F.col("l_partkey").asc()],
        {"cum": "revenue"},
    )
    total = rev.agg(F.sum("revenue").alias("total"))
    abc = cum.select("l_partkey", "cum").crossJoin(F.broadcast(total))
    wk = li.groupBy(
        "l_partkey",
        (
            F.datediff(F.date_trunc("week", "l_shipdate"), F.lit("1995-01-02")).cast("long")
            / 7
        )
        .cast("long")
        .alias("week"),
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("q"))
    xyz = (
        wk.groupBy("l_partkey")
        .agg(
            F.count("*").alias("nw"),
            F.sum("q").alias("sq"),
            F.sum(F.col("q") * F.col("q")).alias("sqq"),
        )
        .filter(F.col("nw") >= 2)
        .withColumnRenamed("l_partkey", "x_partkey")
    )
    mean = F.col("sq").cast("double") / F.col("nw")
    cv = F.sqrt(F.col("sqq").cast("double") / F.col("nw") - mean * mean) / mean
    abc_class = (
        F.when(F.col("cum") <= 0.7 * F.col("total"), "A")
        .when(F.col("cum") <= 0.9 * F.col("total"), "B")
        .otherwise("C")
    )
    xyz_class = F.when(cv <= 0.5, "X").when(cv <= 1.0, "Y").otherwise("Z")
    classes = abc.join(xyz, F.col("l_partkey") == F.col("x_partkey")).select(
        abc_class.alias("abc_class"), xyz_class.alias("xyz_class")
    )
    return classes.groupBy("abc_class", "xyz_class").agg(
        F.count("*").cast("long").alias("n_parts")
    )


# ---------------------------------------------------------------------------
# Upper-tail dependence between daily volume and revenue
# ---------------------------------------------------------------------------


@query(
    "q324_tail_dependence",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS x,
             CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(30,10))) AS BIGINT)
               AS y
      FROM orders GROUP BY 1
    ), th AS (
      SELECT quantile_cont(CAST(x AS DOUBLE), 0.8) AS qx,
             quantile_cont(CAST(y AS DOUBLE), 0.8) AS qy
      FROM daily
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN x > qx THEN 1 ELSE 0 END) AS BIGINT)
             AS n_x_extreme,
           CAST(sum(CASE WHEN x > qx AND y > qy THEN 1 ELSE 0 END) AS BIGINT)
             AS n_joint,
           CAST(sum(CASE WHEN x > qx AND y > qy THEN 1 ELSE 0 END) AS DOUBLE)
             / sum(CASE WHEN x > qx THEN 1 ELSE 0 END) AS lambda_upper
    FROM daily CROSS JOIN th
    """,
)
def q324_tail_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical upper-tail dependence between daily order volume and
    daily revenue: P(revenue beyond its 80th percentile | volume beyond
    its 80th percentile). Under independence this is 0.2; near 1 means
    the two risks spike TOGETHER — the correlation-of-extremes fact that
    Pearson (q317) and even rank correlation average away, and exactly
    what capacity planning (q257) needs to know. Scale: the fact
    collapses to the day frame; thresholds are exact interpolated
    percentiles of that calendar-bounded frame broadcast back as one
    row; the conditional counts are exact integers. Reference has no
    statistics (SURVEY §2.2)."""
    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.count("*").alias("x"),
            F.sum((F.col("o_totalprice") * 100).cast("decimal(30,10)"))
            .cast("long")
            .alias("y"),
        )
    )
    th = daily.agg(
        F.percentile(F.col("x").cast("double"), F.lit(0.8)).alias("qx"),
        F.percentile(F.col("y").cast("double"), F.lit(0.8)).alias("qy"),
    )
    joint = F.sum(F.when((F.col("x") > F.col("qx")) & (F.col("y") > F.col("qy")), 1).otherwise(0))
    xex = F.sum(F.when(F.col("x") > F.col("qx"), 1).otherwise(0))
    return daily.join(F.broadcast(th)).agg(
        F.count("*").cast("long").alias("n_days"),
        xex.cast("long").alias("n_x_extreme"),
        joint.cast("long").alias("n_joint"),
        (joint.cast("double") / xex).alias("lambda_upper"),
    )


# ---------------------------------------------------------------------------
# Discount elasticity of weekly demand (log-log OLS)
# ---------------------------------------------------------------------------


@query(
    "q325_discount_elasticity",
    oracle=f"""
    WITH wk AS (
      SELECT date_trunc('week', l_shipdate) AS week,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS q,
             {DSUM('l_discount')} / count(*) AS avg_disc
      FROM lineitem GROUP BY 1
    ), pts AS (
      SELECT ln(q) AS ly, ln(1 - avg_disc) AS lx
      FROM wk WHERE q > 0 AND avg_disc < 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_weeks,
           (count(*) * {DSUM('lx * ly')} - {DSUM('lx')} * {DSUM('ly')})
             / (count(*) * {DSUM('lx * lx')} - {DSUM('lx')} * {DSUM('lx')})
             AS elasticity
    FROM pts
    """,
)
def q325_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount elasticity of demand: the log-log OLS slope of weekly
    shipped quantity against the weekly net-price factor (1 - average
    discount) — the %-demand-per-%-price-change number that pricing
    models quote, complementing q229's banded dose-response with a
    single parametric readout. Scale: the fact collapses to the week
    frame in one pass (integer quantities, decimal-exact discount
    means); the regression runs on decimal-accumulated log moments of
    that calendar-bounded frame. Reference has no statistics
    (SURVEY §2.2)."""
    wk = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.date_trunc("week", "l_shipdate").alias("week"))
        .agg(
            F.sum(F.col("l_quantity").cast("long")).cast("double").alias("q"),
            (dsum("l_discount") / F.count("*")).alias("avg_disc"),
        )
    )
    pts = wk.filter((F.col("q") > 0) & (F.col("avg_disc") < 1)).select(
        F.log("q").alias("ly"), F.log(1 - F.col("avg_disc")).alias("lx")
    )
    n = F.count("*")
    slx = dsum("lx")
    sly = dsum("ly")
    slxy = dsum(F.col("lx") * F.col("ly"))
    slxx = dsum(F.col("lx") * F.col("lx"))
    return pts.agg(
        n.cast("long").alias("n_weeks"),
        ((n * slxy - slx * sly) / (n * slxx - slx * slx)).alias("elasticity"),
    )


# ---------------------------------------------------------------------------
# Out-of-vocabulary rate between train and holdout periods
# ---------------------------------------------------------------------------


@query(
    "q326_oov_rate",
    oracle="""
    WITH cust AS (
      SELECT 'customer' AS entity,
             CAST(count(DISTINCT CASE WHEN o_orderdate >= TIMESTAMP '1999-01-01'
                                      THEN o_custkey END) AS BIGINT) AS n_test,
             CAST(count(DISTINCT CASE WHEN o_orderdate >= TIMESTAMP '1999-01-01'
                                       AND o_custkey NOT IN (
                                         SELECT DISTINCT o_custkey FROM orders
                                         WHERE o_orderdate < TIMESTAMP '1999-01-01')
                                      THEN o_custkey END) AS BIGINT) AS n_unseen
      FROM orders
    ), part_e AS (
      SELECT 'part' AS entity,
             CAST(count(DISTINCT CASE WHEN l_shipdate >= TIMESTAMP '1999-01-01'
                                      THEN l_partkey END) AS BIGINT) AS n_test,
             CAST(count(DISTINCT CASE WHEN l_shipdate >= TIMESTAMP '1999-01-01'
                                       AND l_partkey NOT IN (
                                         SELECT DISTINCT l_partkey FROM lineitem
                                         WHERE l_shipdate < TIMESTAMP '1999-01-01')
                                      THEN l_partkey END) AS BIGINT) AS n_unseen
      FROM lineitem
    )
    SELECT entity, n_test, n_unseen,
           CAST(n_unseen AS DOUBLE) / n_test AS oov_rate
    FROM (SELECT * FROM cust UNION ALL SELECT * FROM part_e)
    """,
)
def q326_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold-start coverage: of the customers and parts active in the
    1999+ holdout period, what share never appeared before 1999 — the
    out-of-vocabulary rate that upper-bounds any id-embedding model's
    holdout coverage and sizes the cold-start fallback path
    (complements q212's new-vs-returning and q291's precision@k split).
    Scale: per entity, one pass builds the distinct train set (bounded
    by the entity dimension, broadcast as a left-anti probe) and one
    conditional distinct count scores the holdout — no row-grain joins.
    Exact integers; one division. Reference has no set operations
    (SURVEY §2.2)."""

    def oov(df: DataFrame, key: str, ts: str, label: str) -> DataFrame:
        train = df.filter(F.col(ts) < "1999-01-01").select(key).distinct()
        test = df.filter(F.col(ts) >= "1999-01-01").select(key).distinct()
        unseen = test.join(F.broadcast(train), key, "left_anti")
        return test.agg(F.count("*").alias("n_test")).crossJoin(
            unseen.agg(F.count("*").alias("n_unseen"))
        ).select(
            F.lit(label).alias("entity"),
            F.col("n_test").cast("long").alias("n_test"),
            F.col("n_unseen").cast("long").alias("n_unseen"),
            (F.col("n_unseen").cast("double") / F.col("n_test")).alias("oov_rate"),
        )

    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return oov(orders, "o_custkey", "o_orderdate", "customer").unionAll(
        oov(li, "l_partkey", "l_shipdate", "part")
    )
