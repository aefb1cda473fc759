"""Round-5 additions to the declared query surface (SURVEY §2.3 extensions).

Classic TPC-H shapes the suite was still missing (Q14 promo share, Q18
large-volume orders, Q19 bracketed OR-of-ANDs scan), two exact
nonparametric statistics (Mann-Whitney U, Spearman rank correlation)
built on the doubled-rank integer trick from q187, an exact
largest-remainder budget allocation, a train/validation split
contamination audit for corpus curation, and a join-cardinality
forecast — the shuffle-explosion pre-flight you run BEFORE a 100 TB
fact-fact join.

The reference has no joins, aggregations, window functions, or
statistics anywhere (/root/reference/etl_connector.py:53-242 is its
complete operator surface, SURVEY §2.1-2.2); every query here is
north-star extension surface. All are oracle-paired (DuckDB) and
auto-gated by tests/test_oracle.py; operator semantics additionally
covered in tests/test_round5.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.registry import query
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load

# ---------------------------------------------------------------------------
# TPC-H Q14 shape: promotion revenue share per month
# ---------------------------------------------------------------------------


@query(
    "q234_promo_revenue_share",
    oracle="""
    SELECT date_trunc('month', l_shipdate) AS ship_month,
           CAST(sum(CASE WHEN p_type = 'PROMO' THEN
                 CAST(l_extendedprice AS DECIMAL(30,10))
                 * (1 - CAST(l_discount AS DECIMAL(30,10))) END)
             AS DOUBLE) AS promo_revenue,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(30,10))
                 * (1 - CAST(l_discount AS DECIMAL(30,10))))
             AS DOUBLE) AS total_revenue,
           coalesce(CAST(sum(CASE WHEN p_type = 'PROMO' THEN
                   CAST(l_extendedprice AS DECIMAL(30,10))
                   * (1 - CAST(l_discount AS DECIMAL(30,10))) END)
                AS DOUBLE), 0.0)
             / CAST(sum(CAST(l_extendedprice AS DECIMAL(30,10))
                   * (1 - CAST(l_discount AS DECIMAL(30,10)))) AS DOUBLE)
             AS promo_share
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
)
def q234_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: monthly share of discounted revenue from PROMO
    parts over one shipping year. The part side is a dimension table
    and broadcasts (SCALE.md join policy), so the 100 TB fact scan
    shuffles only its post-aggregation (month x 2-decimal) state; the
    date cut is a pushed-down scan predicate that prunes row groups
    before any join work. Revenue sums run in DECIMAL(30,10) so both
    engines accumulate exactly regardless of partition order; the
    share is one final double division. The reference computes no
    aggregates at all (SURVEY §2.2)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    pt = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice").cast("decimal(30,10)") * (
        1 - F.col("l_discount").cast("decimal(30,10)")
    )
    j = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey).select(
        F.date_trunc("month", "l_shipdate").alias("ship_month"),
        rev.alias("rev"),
        F.when(F.col("p_type") == "PROMO", rev).alias("promo_rev"),
    )
    return (
        j.groupBy("ship_month")
        .agg(
            F.sum("promo_rev").cast("double").alias("promo_revenue"),
            F.sum("rev").cast("double").alias("total_revenue"),
        )
        .select(
            "ship_month",
            "promo_revenue",
            "total_revenue",
            (
                F.coalesce(F.col("promo_revenue"), F.lit(0.0))
                / F.col("total_revenue")
            ).alias("promo_share"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q18 shape: large-volume orders (HAVING over a fact rollup)
# ---------------------------------------------------------------------------


@query(
    "q235_large_volume_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey,
             CAST(sum(CAST(l_quantity AS DECIMAL(30,10)))
               AS DOUBLE) AS total_qty
      FROM lineitem GROUP BY 1
      HAVING sum(CAST(l_quantity AS DECIMAL(30,10))) > 150
    )
    SELECT c.c_name, o.o_custkey, o.o_orderkey, o.o_orderdate,
           o.o_totalprice, big.total_qty
    FROM big JOIN orders o ON big.l_orderkey = o.o_orderkey
             JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q235_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total line quantity exceeds a
    threshold, enriched with customer identity. The quantity rollup
    collapses the fact table to order grain FIRST (one shuffle on
    l_orderkey with map-side partial sums), and the HAVING cut drops
    ~all groups before any join — so the joins move only the rare
    qualifying orders. Orders join is key-to-key on the already-small
    survivor set; customer is dimension-sized and AQE will broadcast
    it. Quantity accumulates in DECIMAL so the threshold comparison is
    exact across partition orders; at 100 TB the only full-data pass
    is the first rollup. The reference has no joins or HAVING
    (SURVEY §2.2)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(30,10)"))
            .cast("double")
            .alias("total_qty")
        )
        .filter(F.col("total_qty") > 150)
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "total_qty",
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q19 shape: bracketed OR-of-ANDs predicate scan
# ---------------------------------------------------------------------------


@query(
    "q236_bracket_revenue",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(30,10))
                 * (1 - CAST(l_discount AS DECIMAL(30,10))))
             AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 1 AND 15)
       OR (p_brand = 'Brand#7' AND p_size BETWEEN 5 AND 25
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 25 AND 50)
    """,
)
def q236_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue from three disjunctive brand/size/
    quantity brackets — the classic test that an engine evaluates
    OR-of-ANDs predicates on a join without exploding it. The
    l_quantity conjuncts reference only the fact side, so Catalyst
    splits the disjunction and pushes the derivable quantity range
    into the parquet scan while the brand/size conjuncts ride the
    broadcast part dimension; the bracket predicate then runs
    codegen-side on the joined row. One broadcast join, one scalar
    aggregate in DECIMAL — nothing shuffles but the final partial
    sums. The reference has no predicates beyond null checks
    (SURVEY §2.1 R7)."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    pt = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
    qty, brand, size = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    bracket = (
        ((brand == "Brand#1") & size.between(1, 10) & qty.between(1, 15))
        | ((brand == "Brand#7") & size.between(5, 25) & qty.between(10, 30))
        | ((brand == "Brand#13") & size.between(20, 50) & qty.between(25, 50))
    )
    return j.filter(bracket).agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(30,10)")
            * (1 - F.col("l_discount").cast("decimal(30,10)"))
        )
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U test (exact doubled ranks, tie-corrected z)
# ---------------------------------------------------------------------------


@query(
    "q237_mann_whitney_u",
    oracle="""
    WITH s AS (
      SELECT o_totalprice AS x,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS grp
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ), r AS (
      SELECT grp,
             rank() OVER (ORDER BY x) AS rmin,
             count(*) OVER (PARTITION BY x) AS nties
      FROM s
    ), agg AS (
      SELECT CAST(sum(CASE WHEN grp = 1 THEN 2 * rmin + nties - 1 END)
                  AS BIGINT) AS rank_sum2,
             CAST(count(CASE WHEN grp = 1 THEN 1 END) AS BIGINT) AS n1,
             CAST(count(CASE WHEN grp = 0 THEN 1 END) AS BIGINT) AS n2
      FROM r
    ), ties AS (
      SELECT CAST(coalesce(sum(t * t * t - t), 0) AS BIGINT) AS tie_term
      FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM s GROUP BY x) tg
    )
    SELECT n1, n2,
           CAST(rank_sum2 - n1 * (n1 + 1) AS DOUBLE) / 2 AS u_stat,
           (CAST(rank_sum2 - n1 * (n1 + 1) AS DOUBLE) / 2
              - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2)
             / sqrt((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12)
                    * ((CAST(n1 + n2 AS DOUBLE) + 1)
                       - CAST(tie_term AS DOUBLE)
                         / (CAST(n1 + n2 AS DOUBLE)
                            * (CAST(n1 + n2 AS DOUBLE) - 1)))) AS z
    FROM agg, ties
    """,
)
def q237_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann-Whitney U: do URGENT and LOW priority orders draw
    from the same price distribution? Nonparametric companion to
    q225's Welch t — rank-based, so price outliers can't dominate.
    Same doubled-rank identity as q187 (2*rank_min + ties - 1 ==
    2*avg_rank) keeps every rank statistic in INTEGER space; the tie
    correction sums t^3 - t over the tie-group size frame, also
    integer. U and the tie-corrected normal z are then computed from
    six exact integers with textually identical double expressions on
    both engines. The ranks come from a value-grain collapse (one row
    per distinct price) plus a parallel running count
    (operators/ranks.with_running_sums) — no unpartitioned rank window
    even when the value grid is fact-sized — and the tie term rides
    the SAME value-grain frame, so one aggregate row carries all six
    integers. The reference has no statistics (SURVEY §2.2)."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.ranks import with_running_sums

    s = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(
            F.col("o_totalprice").alias("x"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("grp"),
        )
    )
    vg = s.groupBy("x").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("grp").cast("long").alias("pos"),
    )
    vg = with_running_sums(vg, [F.col("x").asc()], {"cum_cnt": "cnt"})
    # rmin = cum_cnt - cnt + 1, so 2*rmin + nties - 1 == 2*(cum_cnt-cnt)+cnt+1
    contrib = 2 * (F.col("cum_cnt") - F.col("cnt")) + F.col("cnt") + 1
    agg = vg.agg(
        F.sum(F.col("pos") * contrib).cast("long").alias("rank_sum2"),
        F.sum("pos").cast("long").alias("n1"),
        (F.sum("cnt") - F.sum("pos")).cast("long").alias("n2"),
        F.coalesce(
            F.sum(
                F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("tie_term"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    nd = (F.col("n1") + F.col("n2")).cast("double")
    u = (F.col("rank_sum2") - F.col("n1") * (F.col("n1") + 1)).cast(
        "double"
    ) / 2
    return agg.select(
        "n1",
        "n2",
        u.alias("u_stat"),
        (
            (u - n1d * n2d / 2)
            / F.sqrt(
                (n1d * n2d / 12)
                * (
                    (nd + 1)
                    - F.col("tie_term").cast("double") / (nd * (nd - 1))
                )
            )
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation per group (exact doubled ranks)
# ---------------------------------------------------------------------------


@query(
    "q238_spearman_corr",
    oracle="""
    WITH r AS (
      SELECT l_returnflag AS grp,
             2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
               + count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1
               AS rx,
             2 * rank() OVER (PARTITION BY l_returnflag
                              ORDER BY l_extendedprice)
               + count(*) OVER (PARTITION BY l_returnflag, l_extendedprice)
               - 1 AS ry
      FROM lineitem
    ), m AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
             CAST(sum(rx * ry) AS BIGINT) AS sxy,
             CAST(sum(rx * rx) AS BIGINT) AS sxx,
             CAST(sum(ry * ry) AS BIGINT) AS syy
      FROM r GROUP BY 1
    )
    SELECT grp,
           n,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             AS spearman_rho
    FROM m
    """,
)
def q238_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and extended price
    per return flag — the monotonic-association companion to q121's
    Pearson matrix (Pearson sees only linear structure; Spearman on
    ranks sees any monotone relation and shrugs at outliers).
    Tie-averaged ranks stay in INTEGER space via the doubled-rank
    identity (q187), so the five moments (sum, sum-of-squares,
    cross-product) are exact BIGINTs; rho is Pearson on those moments
    — the doubling cancels algebraically — evaluated with textually
    identical double expressions on both engines. Per-group windows
    mean ONE shuffle on the group key; at fact scale rank within
    q139-style value buckets. The reference has no statistics
    (SURVEY §2.2)."""
    li = load(spark, sf_dir, "lineitem")
    wq = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    wqt = Window.partitionBy("l_returnflag", "l_quantity")
    wp = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wpt = Window.partitionBy("l_returnflag", "l_extendedprice")
    r = li.select(
        F.col("l_returnflag").alias("grp"),
        (2 * F.rank().over(wq) + F.count(F.lit(1)).over(wqt) - 1).alias("rx"),
        (2 * F.rank().over(wp) + F.count(F.lit(1)).over(wpt) - 1).alias("ry"),
    )
    m = r.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").cast("long").alias("sx"),
        F.sum("ry").cast("long").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).cast("long").alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).cast("long").alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).cast("long").alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    return m.select(
        "grp",
        "n",
        (
            (nd * sxy - sx * sy)
            / F.sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy))
        ).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# Largest-remainder budget allocation (exact integer apportionment)
# ---------------------------------------------------------------------------

#: Budget units to apportion across nations (e.g. sampling quota, ad spend).
ALLOCATION_BUDGET = 1_000_000


@query(
    "q239_budget_allocation",
    oracle=f"""
    WITH rev AS (
      SELECT n_name,
             CAST(sum(CAST(o_totalprice AS DECIMAL(30,10))) * 100 AS BIGINT)
               AS rev_cents
      FROM orders JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(rev_cents) AS BIGINT) AS total_cents FROM rev
    ), q AS (
      SELECT n_name, rev_cents,
             CAST({ALLOCATION_BUDGET} * rev_cents AS BIGINT)
               // total_cents AS floor_units,
             CAST({ALLOCATION_BUDGET} * rev_cents AS BIGINT)
               % total_cents AS rem
      FROM rev, tot
    ), lk AS (
      SELECT CAST({ALLOCATION_BUDGET} - sum(floor_units) AS BIGINT)
               AS leftover
      FROM q
    )
    SELECT n_name, rev_cents,
           CAST(floor_units
                + CASE WHEN row_number() OVER (ORDER BY rem DESC, n_name)
                            <= leftover THEN 1 ELSE 0 END
             AS BIGINT) AS alloc_units
    FROM q, lk
    """,
)
def q239_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment: split 1,000,000
    budget units across nations proportional to revenue, with the
    allocations guaranteed to sum EXACTLY to the budget — floors of
    the exact quotas, then +1 to the largest remainders until the
    leftover is spent. The entire method runs in integer arithmetic
    (revenue pinned to cents via a DECIMAL rollup, quota = budget *
    cents // total via integer division), so both engines agree
    bit-for-bit and re-runs are deterministic (remainder ties broken
    by name). One fact rollup (orders x broadcast dims) collapses to
    a nation-sized frame; everything after — totals, floors, ranks —
    is aggregate-space with a 1-row broadcast total. This is how you
    hand out per-source sampling quotas in a data-mix plan (q100)
    without drift from double rounding. The reference has no
    aggregation surface (SURVEY §2.2)."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(30,10)")) * 100)
            .cast("long")
            .alias("rev_cents")
        )
    )
    tot = rev.agg(F.sum("rev_cents").cast("long").alias("total_cents"))
    b = F.lit(ALLOCATION_BUDGET).cast("long")
    # `div` (not `/`) keeps the quota in exact 64-bit integer space —
    # budget * cents exceeds 2^53, where double division rounds.
    q = (
        rev.crossJoin(F.broadcast(tot))
        .withColumn("quota_num", b * F.col("rev_cents"))
        .select(
            "n_name",
            "rev_cents",
            F.expr("quota_num div total_cents").alias("floor_units"),
            (F.col("quota_num") % F.col("total_cents")).alias("rem"),
        )
    )
    lk = q.agg((b - F.sum("floor_units")).cast("long").alias("leftover"))
    w = Window.orderBy(F.desc("rem"), F.asc("n_name"))
    return q.crossJoin(F.broadcast(lk)).select(
        "n_name",
        "rev_cents",
        (
            F.col("floor_units")
            + F.when(F.row_number().over(w) <= F.col("leftover"), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("alloc_units"),
    )


# ---------------------------------------------------------------------------
# Train/validation split contamination audit (canonical-text leakage)
# ---------------------------------------------------------------------------


@query(
    "q240_split_contamination",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
               AS canon,
             CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
                  ELSE 'val' END AS split
      FROM documents
    ), per_canon AS (
      SELECT canon,
             CAST(count(CASE WHEN split = 'train' THEN 1 END) AS BIGINT)
               AS n_train,
             CAST(count(CASE WHEN split = 'val' THEN 1 END) AS BIGINT)
               AS n_val
      FROM d GROUP BY 1
    )
    SELECT CAST(count(CASE WHEN n_train > 0 AND n_val > 0 THEN 1 END)
             AS BIGINT) AS n_canon_leaked,
           CAST(coalesce(sum(CASE WHEN n_train > 0 THEN n_val END), 0)
             AS BIGINT) AS n_val_docs_leaked,
           CAST(sum(n_val) AS BIGINT) AS n_val_docs,
           CAST(coalesce(sum(CASE WHEN n_train > 0 THEN n_val END), 0)
                AS DOUBLE) / sum(n_val) AS leak_frac
    FROM per_canon
    """,
)
def q240_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/validation contamination audit: after the deterministic
    80/20 hash split (q184's multiplicative hash) and q137's text
    canonicalization, count validation documents whose canonical form
    ALSO appears in train — the leakage that silently inflates eval
    scores. Composes three existing primitives into the check every
    LLM data pipeline runs before training: hash split (join-free,
    per-row), canonicalize (narrow), then ONE aggregation keyed on
    the canonical form holding two conditional counts; the final
    report is a second aggregate over that canon-grain frame. No
    doc x doc comparison — leakage detection rides the same
    aggregate-space trick as q152, so it runs at corpus scale. At
    100 TB you'd key on a fingerprint of the canonical form (q42's
    md5 path) instead of the string. The reference has no dedup or
    split surface (SURVEY §2.2)."""
    d = load(spark, sf_dir, "documents").select(
        F.trim(
            F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " ")
        ).alias("canon"),
        F.when((F.col("doc_id") * F.lit(2654435761)) % 100 < 80, "train")
        .otherwise("val")
        .alias("split"),
    )
    per_canon = d.groupBy("canon").agg(
        F.count(F.when(F.col("split") == "train", 1)).alias("n_train"),
        F.count(F.when(F.col("split") == "val", 1)).alias("n_val"),
    )
    leaked_val = F.sum(
        F.when(F.col("n_train") > 0, F.col("n_val"))
    )
    return per_canon.agg(
        F.count(
            F.when((F.col("n_train") > 0) & (F.col("n_val") > 0), 1)
        ).alias("n_canon_leaked"),
        F.coalesce(leaked_val, F.lit(0)).cast("long").alias(
            "n_val_docs_leaked"
        ),
        F.sum("n_val").cast("long").alias("n_val_docs"),
        (
            F.coalesce(leaked_val, F.lit(0)).cast("double")
            / F.sum("n_val")
        ).alias("leak_frac"),
    )


# ---------------------------------------------------------------------------
# Join-cardinality forecast (shuffle-explosion pre-flight)
# ---------------------------------------------------------------------------


@query(
    "q241_join_cardinality_forecast",
    oracle="""
    WITH a AS (
      SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n_a
      FROM orders GROUP BY 1
    ), b AS (
      SELECT user_id AS k, CAST(count(*) AS BIGINT) AS n_b
      FROM events GROUP BY 1
    ), m AS (
      SELECT a.k, a.n_a * b.n_b AS out_rows,
             max(a.n_a * b.n_b) OVER () AS mx
      FROM a JOIN b ON a.k = b.k
    )
    SELECT CAST(count(*) AS BIGINT) AS n_matched_keys,
           CAST(sum(out_rows) AS BIGINT) AS predicted_rows,
           CAST(max(out_rows) AS BIGINT) AS max_key_rows,
           CAST(max(out_rows) AS DOUBLE) / sum(out_rows)
             AS top_key_share,
           CAST(max(CASE WHEN out_rows = mx THEN k END) AS BIGINT)
             AS hottest_key
    FROM m
    """,
)
def q241_join_cardinality_forecast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Join-explosion pre-flight: BEFORE running a fact-fact join
    (orders x events on the customer/user key), predict its exact
    output cardinality from the two per-key count frames — predicted
    rows = sum over matched keys of n_a * n_b, plus the hottest key
    and its share, which is precisely the number AQE's skew-join or
    q166-guided salting needs. The two rollups are map-side-combined
    aggregations (each engine-cheap even at 100 TB); the key-count
    join moves only key-grain state, orders of magnitude below the
    join it forecasts. A predicted_rows in the trillions or a
    top_key_share near 1 is the signal to salt or rethink — for the
    cost of two GROUP BYs instead of a job that dies at 3 a.m. Ties on the hottest key are broken
    by max_by's key ordering on exact BIGINTs. The reference has no
    joins (SURVEY §2.2)."""
    a = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_a"))
    )
    b = (
        load(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    m = a.join(b, "k").select(
        "k",
        (F.col("n_a") * F.col("n_b")).alias("out_rows"),
        F.max(F.col("n_a") * F.col("n_b"))
        .over(Window.partitionBy())
        .alias("mx"),
    )
    return m.agg(
        F.count(F.lit(1)).alias("n_matched_keys"),
        F.sum("out_rows").cast("long").alias("predicted_rows"),
        F.max("out_rows").cast("long").alias("max_key_rows"),
        (F.max("out_rows").cast("double") / F.sum("out_rows")).alias(
            "top_key_share"
        ),
        F.max(F.when(F.col("out_rows") == F.col("mx"), F.col("k")))
        .cast("long")
        .alias("hottest_key"),
    )


# ---------------------------------------------------------------------------
# Theil inequality index with between/within-nation decomposition
# ---------------------------------------------------------------------------


@query(
    "q242_theil_decomposition",
    oracle="""
    WITH cust AS (
      SELECT c_nationkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(30,10)))
               AS DECIMAL(38,10)) AS rev_dec
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY o_custkey, c_nationkey
    ), g_all AS (
      SELECT CAST(sum(rev_dec) AS DOUBLE) / count(*) AS mu,
             CAST(count(*) AS BIGINT) AS n_total
      FROM cust
    ), nat AS (
      SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
             CAST(sum(rev_dec) AS DOUBLE) / count(*) AS mu_g
      FROM cust GROUP BY 1
    ), terms AS (
      SELECT c.c_nationkey,
             CAST(round((CAST(c.rev_dec AS DOUBLE) / nat.mu_g)
                        * ln(CAST(c.rev_dec AS DOUBLE) / nat.mu_g)
                        * 1e9) AS BIGINT) AS q
      FROM cust c JOIN nat ON c.c_nationkey = nat.c_nationkey
    )
    SELECT n.n_name, nat.n_cust, nat.mu_g AS mean_rev,
           CAST(sum(terms.q) AS DOUBLE) / 1e9 / nat.n_cust AS theil_within,
           (CAST(nat.n_cust AS DOUBLE) / g_all.n_total) * (nat.mu_g / g_all.mu)
             * ln(nat.mu_g / g_all.mu) AS between_term
    FROM terms JOIN nat ON terms.c_nationkey = nat.c_nationkey
               JOIN nation n ON nat.c_nationkey = n.n_nationkey, g_all
    GROUP BY n.n_name, nat.n_cust, nat.mu_g, g_all.n_total, g_all.mu
    """,
)
def q242_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality of customer revenue, decomposed into
    within-nation and between-nation components (total Theil =
    sum of (n_g/N)(mu_g/mu) * theil_within_g + sum of between_term —
    the additive decomposition Gini famously lacks, making this the
    data-mix concentration screen you can attribute: q135 says HOW
    unequal, this says WHERE). The x*ln(x) terms are quantized to
    exact nano-integers before summation (q216's trick), so the
    per-nation sums are order-independent BIGINTs and both engines
    agree bit-for-bit; means come from exact DECIMAL rollups with one
    double division each. Plan: one fact rollup to customer grain,
    one nation-grain rollup, then a broadcast enrichment join back —
    the raw table is scanned once. The reference has no aggregation
    surface (SURVEY §2.2)."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_custkey", "c_nationkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(30,10)"))
            .cast("decimal(38,10)")
            .alias("rev_dec")
        )
    )
    glob = cust.agg(
        (F.sum("rev_dec").cast("double") / F.count(F.lit(1))).alias("mu"),
        F.count(F.lit(1)).alias("n_total"),
    )
    nat = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_cust"),
        (F.sum("rev_dec").cast("double") / F.count(F.lit(1))).alias("mu_g"),
    )
    x_over_mu = F.col("rev_dec").cast("double") / F.col("mu_g")
    terms = cust.join(F.broadcast(nat), "c_nationkey").select(
        "c_nationkey",
        F.round(x_over_mu * F.log(x_over_mu) * F.lit(1e9))
        .cast("long")
        .alias("q"),
    )
    return (
        terms.groupBy("c_nationkey")
        .agg(F.sum("q").alias("qsum"))
        .join(F.broadcast(nat), "c_nationkey")
        .join(
            F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .crossJoin(F.broadcast(glob))
        .select(
            "n_name",
            "n_cust",
            F.col("mu_g").alias("mean_rev"),
            (F.col("qsum").cast("double") / 1e9 / F.col("n_cust")).alias(
                "theil_within"
            ),
            (
                (F.col("n_cust").cast("double") / F.col("n_total"))
                * (F.col("mu_g") / F.col("mu"))
                * F.log(F.col("mu_g") / F.col("mu"))
            ).alias("between_term"),
        )
    )


# ---------------------------------------------------------------------------
# Top principal component of the embedding corpus (power iteration)
# ---------------------------------------------------------------------------


@query("q243_pca_top_component", oracle=None)  # matrix algebra — rows-only
def q243_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project every embedding onto the corpus' top principal axis —
    the one-dimensional summary that drives embedding drift monitors,
    whitening, and the coarse axis for IVF-style partitioning (q47/
    q48's bucketers). One-pass distributed Gram accumulation per
    operators/pca.py: each Arrow batch contributes a d x d partial
    (NumPy matmul in mapInPandas), the driver sums d^2 doubles and
    eigensolves 64x64 — exact after a single scan, where power
    iteration would pay a scan per step and stall on the corpus'
    tiny eigengap. Projection is a codegen column expression.
    Verified against a full NumPy eigensolver twin in
    tests/test_pca.py, the same exact-twin gating as k-means (q136)
    and PageRank (q126). The reference has no vector surface
    (SURVEY §2.2)."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pca import (
        top_principal_component,
    )

    emb = load(spark, sf_dir, "embeddings")
    _, scored = top_principal_component(emb, "embedding", dim=64)
    return scored.select("vec_id", "label", "pc1_score")


# ---------------------------------------------------------------------------
# Intra-document repetition screen (looping/templated text detector)
# ---------------------------------------------------------------------------


@query(
    "q244_intra_doc_repetition",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         x -> x <> '') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
      FROM d WHERE len(toks) >= 2
    ), bc AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2,
             CAST(count(*) AS BIGINT) AS cnt
      FROM s GROUP BY 1, 2, 3
    )
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_bigrams,
           CAST(count(*) AS BIGINT) AS n_distinct,
           1.0 - CAST(count(*) AS DOUBLE) / sum(cnt) AS dup_share,
           CAST(max(cnt) AS BIGINT) AS top_bigram_count
    FROM bc GROUP BY 1
    """,
)
def q244_intra_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition screen: per document, the share of
    bigram OCCURRENCES that are repeats of an earlier bigram in the
    same document, plus the hottest bigram's count — the standard
    looping-text / boilerplate-within-page quality rule (Gopher-style
    repetition filters) that q152's cross-document screen cannot see
    (a doc can be unique corpus-wide yet internally degenerate). Same
    shuffle-free ``transform(sequence(...))`` bigram extraction as
    q134/q152; both aggregations are keyed on doc_id, so the work is
    embarrassingly parallel per document and at 100 TB this is one
    doc-keyed pass with map-side partial counts. Ratios are single
    double divisions of exact BIGINTs. The reference has no text
    analytics (SURVEY §2.2)."""
    docs = load(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower("text"), "[^a-z]+"), lambda x: x != F.lit("")
    )
    bc = (
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"
                )
            ).alias("bg"),
        )
        .groupBy("doc_id", "bg.w1", "bg.w2")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return bc.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_distinct"),
        (1.0 - F.count(F.lit(1)).cast("double") / F.sum("cnt")).alias(
            "dup_share"
        ),
        F.max("cnt").alias("top_bigram_count"),
    )


# ---------------------------------------------------------------------------
# Holt linear-trend one-step-ahead backtest (level+trend recursion)
# ---------------------------------------------------------------------------

HOLT_ALPHA = 0.3
HOLT_BETA = 0.1


@query(
    "q245_holt_trend_backtest",
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) / count(*)
               AS mu
      FROM events GROUP BY 1
    ), seq AS (
      SELECT day, mu, row_number() OVER (ORDER BY day) AS rn FROM daily
    ), walk AS (
      SELECT rn, day, mu, mu AS lvl, CAST(0 AS DOUBLE) AS trend,
             mu AS forecast
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.rn, s.day, s.mu,
             {HOLT_ALPHA} * s.mu
               + {1 - HOLT_ALPHA} * (w.lvl + w.trend),
             {HOLT_BETA} * (({HOLT_ALPHA} * s.mu
                             + {1 - HOLT_ALPHA} * (w.lvl + w.trend)) - w.lvl)
               + {1 - HOLT_BETA} * w.trend,
             w.lvl + w.trend
      FROM seq s JOIN walk w ON s.rn = w.rn + 1
    )
    SELECT CAST(day AS TIMESTAMP) AS day, mu, lvl, trend, forecast,
           abs(mu - forecast) AS abs_err
    FROM walk
    """,
)
def q245_holt_trend_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend double exponential smoothing over the daily
    event-value mean, backtested one-step-ahead: level and trend
    recursions (l_t = a*x_t + (1-a)(l+b); b_t = beta*(l_t - l) +
    (1-beta)*b) with forecast_t = l_(t-1) + b_(t-1) — the
    trend-following upgrade of q108's flat EWMA, and the simplest
    forecaster that beats q163's seasonal-naive on trending series.
    Like q175's CUSUM, the recursion is irreducibly sequential, so it
    runs in applyInPandas over the DAILY frame (calendar-sized
    regardless of fact volume; the 100 TB work is the one exact
    per-day DECIMAL rollup feeding it), and the DuckDB oracle replays
    the identical double recursion as a recursive CTE — a full
    value-hash gate on a stateful operator. Level init = first
    observation, trend init = 0, both engines. The reference has no
    forecasting surface (SURVEY §2.2)."""
    import pandas as pd

    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        (
            F.sum(F.col("value").cast("decimal(30,10)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu")
    )

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        lvl = trend = None
        out = []
        for mu in pdf["mu"]:
            mu = float(mu)
            if lvl is None:
                lvl, trend, fc = mu, 0.0, mu
            else:
                fc = lvl + trend
                new_lvl = HOLT_ALPHA * mu + (1 - HOLT_ALPHA) * (lvl + trend)
                trend = HOLT_BETA * (new_lvl - lvl) + (1 - HOLT_BETA) * trend
                lvl = new_lvl
            out.append((lvl, trend, fc))
        pdf["lvl"] = [t[0] for t in out]
        pdf["trend"] = [t[1] for t in out]
        pdf["forecast"] = [t[2] for t in out]
        pdf["abs_err"] = (pdf["mu"] - pdf["forecast"]).abs()
        return pdf[["day", "mu", "lvl", "trend", "forecast", "abs_err"]]

    return (
        daily.groupBy(F.lit(1).alias("_g"))
        .applyInPandas(
            lambda key, pdf: holt(pdf),
            schema=(
                "day date, mu double, lvl double, trend double, "
                "forecast double, abs_err double"
            ),
        )
        .select(
            F.col("day").cast("timestamp").alias("day"),
            "mu",
            "lvl",
            "trend",
            "forecast",
            "abs_err",
        )
    )
