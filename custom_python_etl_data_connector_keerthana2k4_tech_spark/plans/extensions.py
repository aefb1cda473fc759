"""Extended query surface, round-1 second wave (SURVEY §2.3 additions).

Operators here round out the relational inventory with the shapes a
point-in-time analytics / training-data engine needs beyond the first 54
queries: as-of joins, pivot/unpivot reshaping, deterministic distributed
sampling, correlated subqueries (Catalyst decorrelation), a 6-way
star-schema join, edit-distance near-dup, and time-range window frames.

Same determinism rules as plans/relational.py (decimal-accumulated double
sums, aligned aliases, unique tiebreakers). Scale notes per query docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.joins import asof_join
from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.registry import query
from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.relational import DAVG, DSUM, dsum
from custom_python_etl_data_connector_keerthana2k4_tech_spark.session import app_once
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load


# ---------------------------------------------------------------------------
# As-of join (point-in-time enrichment)
# ---------------------------------------------------------------------------


@query(
    "q55_asof_join",
    oracle=f"""
    WITH od AS (
      SELECT o_custkey AS user_id, o_orderdate AS order_ts,
             {DSUM('o_totalprice')} AS day_total
      FROM orders GROUP BY 1, 2
    )
    SELECT e.event_id, e.user_id, e.ts,
           od.order_ts AS last_order_ts, od.day_total
    FROM events e
    ASOF LEFT JOIN od ON e.user_id = od.user_id AND e.ts >= od.order_ts
    """,
)
def q55_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment: each event gets the customer's most recent
    order day at-or-before the event (operators/joins.asof_join — the
    union + last-ignorenulls-window formulation: ONE shuffle on the key,
    no range-join row explosion; reference R6's enrichment generalized to
    temporal joins). Right side pre-aggregated per (key, day) so the match
    is unique and both engines are deterministic."""
    events = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    od = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("last_order_ts"),
        )
        .agg(dsum("o_totalprice").alias("day_total"))
    )
    return asof_join(
        events, od, on="user_id", left_time="ts", right_time="last_order_ts"
    ).select("event_id", "user_id", "ts", "last_order_ts", "day_total")


# ---------------------------------------------------------------------------
# Pivot / unpivot (reshaping)
# ---------------------------------------------------------------------------


@query(
    "q56_pivot",
    oracle=f"""
    SELECT l_linestatus,
           {DSUM("CASE WHEN l_returnflag = 'A' THEN l_quantity END")} AS qty_a,
           {DSUM("CASE WHEN l_returnflag = 'N' THEN l_quantity END")} AS qty_n,
           {DSUM("CASE WHEN l_returnflag = 'R' THEN l_quantity END")} AS qty_r,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def q56_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: long -> wide on an explicit pivot-value list. Listing the
    values up front matters at scale — it skips Spark's extra
    distinct-collect job AND keeps the plan a single partial-aggregate
    shuffle (pivot compiles to the same conditional aggregation the oracle
    spells out)."""
    li = load(spark, sf_dir, "lineitem")
    wide = (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(dsum("l_quantity").alias("qty"), F.count(F.lit(1)).alias("cnt"))
    )
    return wide.select(
        "l_linestatus",
        F.col("A_qty").alias("qty_a"),
        F.col("N_qty").alias("qty_n"),
        F.col("R_qty").alias("qty_r"),
        (
            F.coalesce("A_cnt", F.lit(0))
            + F.coalesce("N_cnt", F.lit(0))
            + F.coalesce("R_cnt", F.lit(0))
        ).alias("n_rows"),
    )


@query(
    "q57_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value
    FROM lineitem WHERE l_orderkey < 500
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
    FROM lineitem WHERE l_orderkey < 500
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
    FROM lineitem WHERE l_orderkey < 500
    """,
)
def q57_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: wide -> long. ``DataFrame.unpivot`` is a narrow
    transformation (no shuffle — each row expands in place), so it scales
    linearly; the oracle spells out the equivalent UNION ALL."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "metric",
        "value",
    )


# ---------------------------------------------------------------------------
# Deterministic distributed sampling
# ---------------------------------------------------------------------------


@query(
    "q58_hash_sample",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice
    FROM orders
    WHERE (o_orderkey * 2654435761) % 4294967296 <
          CASE WHEN o_orderpriority = '1-URGENT'
               THEN 858993459 ELSE 214748365 END
    """,
)
def q58_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: keep ~20% of URGENT orders and
    ~5% of the rest, selected by a Knuth multiplicative hash of the key —
    plain BIGINT arithmetic, so the *same* rows are chosen on any engine,
    any partitioning, any run (unlike ``df.sample``/``TABLESAMPLE``, whose
    RNG is partition-dependent and un-oracle-able). At 100 TB this is a
    pushdown-friendly filter: no shuffle, no state, reproducible splits
    for train/eval carving."""
    o = load(spark, sf_dir, "orders")
    bucket = (F.col("o_orderkey") * F.lit(2654435761)) % F.lit(4294967296)
    threshold = F.when(
        F.col("o_orderpriority") == "1-URGENT", F.lit(858993459)
    ).otherwise(F.lit(214748365))
    return o.filter(bucket < threshold).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )


# ---------------------------------------------------------------------------
# Correlated subqueries (Catalyst decorrelation)
# ---------------------------------------------------------------------------


@query(
    "q59_exists_subquery",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q59_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS (TPC-H Q4 shape). Declared through spark.sql so
    Catalyst performs the decorrelation: the physical plan is a left-semi
    join on l_orderkey = o_orderkey with the date conjunct pushed to both
    scans — i.e. the optimizer, not the author, turns the per-row probe
    into one shuffle."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("q59_orders")
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("q59_lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS order_count
        FROM q59_orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND EXISTS (SELECT 1 FROM q59_lineitem
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
        """
    )


@query(
    "q60_scalar_subquery",
    oracle=f"""
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE) / 7.0
             AS avg_weekly
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND p_brand = 'Brand#1'
      AND l_quantity < (SELECT 0.5 * {DAVG('l2.l_quantity')}
                        FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)
    """,
)
def q60_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar aggregate subquery (TPC-H Q17 shape: small-quantity
    orders for one brand). Catalyst decorrelates the per-part average into
    an aggregate + join; the brand filter broadcasts. The inner average is
    decimal-sum / count on both engines so the comparison threshold is
    bit-identical."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("q60_lineitem")
    load(spark, sf_dir, "part").createOrReplaceTempView("q60_part")
    return spark.sql(
        """
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE) / 7.0
                 AS avg_weekly
        FROM q60_lineitem, q60_part
        WHERE p_partkey = l_partkey AND p_brand = 'Brand#1'
          AND l_quantity < (
            SELECT 0.5 * (CAST(sum(CAST(l2.l_quantity AS DECIMAL(30,10))) AS DOUBLE)
                          / count(l2.l_quantity))
            FROM q60_lineitem l2 WHERE l2.l_partkey = q60_part.p_partkey)
        """
    )


# ---------------------------------------------------------------------------
# Star-schema multi-join (TPC-H Q5 shape)
# ---------------------------------------------------------------------------


@query(
    "q61_regional_revenue",
    oracle=f"""
    SELECT n_name, {DSUM('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def q61_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-way star join (TPC-H Q5: revenue by nation for one region/year,
    local suppliers only). The scale-critical choices: nation⋈region
    broadcast (fixed-size dims), the date filter pushed into the orders
    scan before the fact join, and the c_nationkey = s_nationkey conjunct
    applied as a join condition — Catalyst + AQE order the remaining
    shuffles."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    nat = F.broadcast(load(spark, sf_dir, "nation"))
    reg = F.broadcast(load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(reg, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# Edit-distance near-dup (blocked)
# ---------------------------------------------------------------------------


@query(
    "q62_levenshtein_neardup",
    oracle="""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS INT)
             AS lev
    FROM documents a JOIN documents b
      ON a.lang = b.lang AND a.n_chars // 50 = b.n_chars // 50
         AND a.doc_id < b.doc_id
    WHERE levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) <= 15
    """,
)
def q62_levenshtein_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-duplicate pairs with blocking. Levenshtein is
    O(len²) per pair, so the join is *blocked* on (lang, length-bucket):
    candidate pairs drop from |D|²/2 to Σ|block|²/2, and the expensive
    metric runs on a 40-char prefix only. Complements the token-set
    near-dup family (q43-q45): edit distance catches character-level edits
    Jaccard misses. Both engines implement standard Wagner-Fischer, so the
    distances match exactly."""
    d = load(spark, sf_dir, "documents")
    a = d.select(
        F.col("doc_id").alias("doc_a"),
        "lang",
        (F.col("n_chars") / 50).cast("long").alias("bucket"),
        F.substring("text", 1, 40).alias("prefix_a"),
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        "lang",
        (F.col("n_chars") / 50).cast("long").alias("bucket"),
        F.substring("text", 1, 40).alias("prefix_b"),
    )
    # The O(len x threshold) banded DP (levenshtein's threshold arg) returns
    # -1 past the bound and the exact distance inside it, so `lev >= 0` is
    # exactly `lev <= 15`. The probe side is round-robin repartitioned:
    # candidate-pair DP cost is quadratic in block size while the scan is
    # one small file, so without it every probe ran in one task.
    n_slices = spark.sparkContext.defaultParallelism
    return (
        a.repartition(n_slices)
        .join(b, ["lang", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("lev", F.levenshtein("prefix_a", "prefix_b", 15))
        .filter(F.col("lev") >= 0)
        .select("doc_a", "doc_b", "lev")
    )


# ---------------------------------------------------------------------------
# Time-range window frames
# ---------------------------------------------------------------------------


@query(
    "q63_time_range_window",
    oracle="""
    SELECT event_id, user_id, ts,
           CAST(sum(CAST(value AS DECIMAL(30,10))) OVER (
                PARTITION BY user_id ORDER BY ts
                RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
             AS DOUBLE) AS trailing_1h
    FROM events
    """,
)
def q63_time_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour per-user running sum — a RANGE frame keyed on *time*,
    not row count (the per-entity rolling feature of a training pipeline).
    Spark's rangeBetween needs a numeric ordering key: microseconds since
    epoch, so the 3.6e9-µs frame is exact and tie rows (equal ts) fall in
    one frame on both engines. One shuffle on user_id; the frame is a
    sliding two-pointer scan per partition, O(n) not O(n·window)."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(F.col("value").cast("decimal(30,10)"))
        .over(w)
        .cast("double")
        .alias("trailing_1h"),
    )


# ---------------------------------------------------------------------------
# TF-IDF (text analysis: salient terms per document)
# ---------------------------------------------------------------------------


@query(
    "q64_tfidf_top_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> ''
      GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * ln((SELECT n_docs FROM n) / df.df) AS score
      FROM tf JOIN df USING (term)
    )
    SELECT doc_id, term, score, CAST(rnk AS INT) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rnk
      FROM scored) t
    WHERE rnk <= 3
    """,
)
def q64_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF salient terms: tokenize -> per-doc term frequency -> corpus
    document frequency -> tf·ln(N/df) -> top-3 per doc. All JVM-side
    (split/explode/groupBy/window); the df table is tiny relative to the
    corpus (|vocab| rows) and broadcasts into the scoring join, so the only
    big shuffles are the two token aggregations. Ties rank by term so both
    engines order identically; identical double ops (count · ln(count ratio))
    are bit-identical cross-engine."""
    d = load(spark, sf_dir, "documents")
    n_docs = d.count()
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(df), "term").select(
        "doc_id",
        "term",
        (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "score", F.col("rnk").cast("int").alias("rnk"))
    )


# ---------------------------------------------------------------------------
# Embedding centroids (vector aggregate, component-wise)
# ---------------------------------------------------------------------------


@query(
    "q65_label_centroids",
    oracle="""
    WITH comp AS (
      SELECT label,
             generate_subscripts(embedding, 1) - 1 AS dim,
             unnest(embedding) AS val
      FROM embeddings
    )
    SELECT label, CAST(dim AS INT) AS dim,
           CAST(sum(CAST(val AS DECIMAL(30,10))) AS DOUBLE) / count(*) AS centroid,
           CAST(count(*) AS BIGINT) AS n_vecs
    FROM comp
    GROUP BY label, dim
    """,
)
def q65_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column, component-wise — the
    k-means-style aggregate of a vector column done relationally:
    posexplode to (label, dim, val), decimal-sum/count per (label, dim).
    One shuffle keyed (label, dim) — at 100 TB this beats any
    collect-and-average driver loop, and the decimal accumulation makes
    the float means deterministic cross-engine. (The IVF index build in
    operators/similarity.py uses the same shape.)"""
    e = load(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("dim", "val"))
        .groupBy("label", "dim")
        .agg(
            (F.sum(F.col("val").cast("decimal(30,10)")).cast("double") / F.count(F.lit(1))).alias("centroid"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
        .select("label", F.col("dim").cast("int").alias("dim"), "centroid", "n_vecs")
    )


# ---------------------------------------------------------------------------
# Python UDTF (table function surface)
# ---------------------------------------------------------------------------


@query(
    "q66_udtf_bigrams",
    oracle="""
    WITH s AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    tok AS (
      SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos
      FROM s
    )
    SELECT a.w || ' ' || b.w AS bigram, CAST(count(*) AS BIGINT) AS n
    FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    GROUP BY 1
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
)
def q66_udtf_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top bigrams via a Python UDTF (functions/udtfs.NGrams)
    applied LATERAL-style per document — the declared table-function slot of
    the UDF surface. The UDTF runs rows through the Python worker (slow
    path; the oracle's self-join-on-position is how you'd do it JVM-side);
    the aggregation after it is ordinary partial-agg + one shuffle."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions.udtfs import NGrams

    load(spark, sf_dir, "documents").createOrReplaceTempView("q66_documents")
    spark.udtf.register("q66_ngrams", NGrams)
    return spark.sql(
        """
        SELECT t.ngram AS bigram, count(*) AS n
        FROM q66_documents d, LATERAL q66_ngrams(d.text, 2) t
        GROUP BY t.ngram
        ORDER BY n DESC, bigram
        LIMIT 20
        """
    )


# ---------------------------------------------------------------------------
# Approximate percentiles (mergeable-sketch path for q35)
# ---------------------------------------------------------------------------


@query("q67_percentile_approx", oracle=None)  # sketch != DuckDB's — bound-tested
def q67_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx per group: the one-pass mergeable-sketch
    (Greenwald-Khanna) replacement for q35's exact sort-per-group — the
    form you run at 100 TB. No oracle (sketch internals differ per engine);
    tests bound it against the exact percentiles (accuracy 10000 =>
    rank error <= n/10000)."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.percentile_approx("value", 0.25, 10000).alias("p25"),
        F.percentile_approx("value", 0.5, 10000).alias("p50"),
        F.percentile_approx("value", 0.75, 10000).alias("p75"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# Distribution ranking functions
# ---------------------------------------------------------------------------


@query(
    "q68_distribution_ranks",
    oracle="""
    SELECT c_custkey, c_nationkey,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
)
def q68_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist — the distribution ranking family
    (quantile bucketing for feature engineering). One shuffle on the
    partition key; c_custkey tiebreaks so both engines rank identically."""
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


# ---------------------------------------------------------------------------
# Higher-order array functions (vector math without UDFs)
# ---------------------------------------------------------------------------


@query(
    "q69_higher_order_arrays",
    oracle="""
    SELECT vec_id, label,
           CAST(length(embedding) AS INT) AS dim,
           sqrt(list_sum(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2_norm,
           CAST(list_sum(list_transform(embedding,
                x -> CASE WHEN x > 0 THEN 1 ELSE 0 END)) AS BIGINT) AS n_positive
    FROM embeddings
    """,
)
def q69_higher_order_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions: transform + aggregate compute the L2
    norm and positive-component count of each embedding entirely JVM-side —
    no UDF, no explode, no shuffle (narrow per-row fold in list order, so
    the doubles match the oracle's sequential list_sum bit-for-bit).
    This is the hot-path idiom functions/vectors.py builds on."""
    e = load(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n_pos = F.aggregate(
        F.transform("embedding", lambda x: F.when(x > 0, 1).otherwise(0).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").cast("int").alias("dim"),
        F.sqrt(sq_sum).alias("l2_norm"),
        n_pos.alias("n_positive"),
    )


# ---------------------------------------------------------------------------
# Time-series gap filling (dense resample)
# ---------------------------------------------------------------------------


@query(
    "q70_gap_fill",
    oracle=f"""
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             count(*) AS n, {DSUM('value')} AS total
      FROM events GROUP BY 1, 2
    ),
    r AS (SELECT event_type, min(hour) AS h0, max(hour) AS h1 FROM b GROUP BY 1),
    g AS (SELECT event_type,
                 unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
          FROM r)
    SELECT g.event_type, g.hour,
           CAST(coalesce(b.n, 0) AS BIGINT) AS n_events,
           coalesce(b.total, 0.0) AS total_value
    FROM g LEFT JOIN b USING (event_type, hour)
    """,
)
def q70_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense time-series resample: hourly counts per event_type with
    zero-filled rows for silent hours (the hypertable-rollup/gap-fill
    operator of time-series engines). The dense hour grid is generated with
    sequence()+explode from each type's observed min/max — a few rows
    exploding to the grid, never a driver loop — then left-joined to the
    sparse aggregate. The grid side is tiny at any SF (types × hours), so
    AQE broadcasts it."""
    e = load(spark, sf_dir, "events")
    b = (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("total"))
    )
    g = (
        b.groupBy("event_type")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    return g.join(b, ["event_type", "hour"], "left").select(
        "event_type",
        "hour",
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.coalesce("total", F.lit(0.0)).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Semi-structured: VariantType (Spark 4 open-JSON path)
# ---------------------------------------------------------------------------


@query(
    "q71_variant_json",
    oracle=f"""
    SELECT event_type,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(count(json_extract(props, '$.k')) AS BIGINT) AS n_with_k
    FROM events
    GROUP BY event_type
    """,
)
def q71_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-content JSON via VariantType (Spark 4): ``parse_json`` once into
    a variant column, then typed ``variant_get`` projections. This is the
    100 TB answer to the reference's schemaless payloads (SURVEY §1.1:
    keep the unmodeled remainder dynamic instead of inferring a rigid
    struct per run) — variant decoding is a binary format, far cheaper
    than per-query ``from_json`` string parsing, and the shredded access
    pushes into the scan on Parquet variant columns."""
    e = load(spark, sf_dir, "events")
    v = e.select(
        "event_type", F.try_parse_json("props").alias("p")
    ).select(
        "event_type", F.variant_get("p", "$.k", "bigint").alias("k")
    )
    return v.groupBy("event_type").agg(
        F.sum("k").alias("sum_k"),
        F.count("k").alias("n_with_k"),
    )


# ---------------------------------------------------------------------------
# Interval self-join (bucketed range join)
# ---------------------------------------------------------------------------


@query(
    "q72_interval_pairs",
    oracle="""
    SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id,
           CAST(epoch_us(b.ts) - epoch_us(a.ts) AS BIGINT) AS gap_us
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 5 MINUTES
    """,
)
def q72_interval_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event pairs per user within a 5-minute trailing window
    (operators/joins.bucketed_range_join): time-bucketing turns the
    per-key nested-loop range join into a hash equi-join on (key, bucket)
    with <= 2x right-side replication. The oracle states the same pairs as
    a plain theta join."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.joins import bucketed_range_join

    e = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = bucketed_range_join(
        e, e, on="user_id", left_time="ts", right_time="ts",
        lower_us=1, upper_us=5 * 60 * 1_000_000,
    )
    return out.select(
        F.col("event_id").alias("id_a"),
        F.col("event_id_r").alias("id_b"),
        "user_id",
        (F.unix_micros("ts_r") - F.unix_micros("ts")).alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# Gaps and islands (streak detection)
# ---------------------------------------------------------------------------


@query(
    "q73_order_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT o_custkey, date_trunc('day', o_orderdate) AS d
      FROM orders
    ),
    grp AS (
      SELECT o_custkey, d,
             d - INTERVAL (7 * row_number() OVER (PARTITION BY o_custkey ORDER BY d)) DAY
               AS anchor
      FROM days
    )
    SELECT o_custkey, min(d) AS streak_start, max(d) AS streak_end,
           CAST(count(*) AS BIGINT) AS n_weeks
    FROM grp
    GROUP BY o_custkey, anchor
    HAVING count(*) >= 3
    """,
)
def q73_order_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of consecutive weekly order days per
    customer (the fixture generates orders on a 7-day grid), found with the
    row_number-difference trick — consecutive rows share (day - 7*rn), so
    one window + one aggregate finds every streak. No self-join, no
    iteration: two shuffles on the customer key regardless of streak
    length."""
    o = load(spark, sf_dir, "orders")
    days = o.select(
        "o_custkey", F.date_trunc("day", "o_orderdate").alias("d")
    ).distinct()
    w = Window.partitionBy("o_custkey").orderBy("d")
    grp = days.withColumn(
        "anchor",
        F.col("d") - F.make_dt_interval(days=F.lit(7) * F.row_number().over(w)),
    )
    return (
        grp.groupBy("o_custkey", "anchor")
        .agg(
            F.min("d").alias("streak_start"),
            F.max("d").alias("streak_end"),
            F.count(F.lit(1)).alias("n_weeks"),
        )
        .filter(F.col("n_weeks") >= 3)
        .drop("anchor")
    )


# ---------------------------------------------------------------------------
# FILTER-clause aggregation and ordered string aggregation
# ---------------------------------------------------------------------------


@query(
    "q74_filtered_agg",
    oracle=f"""
    SELECT l_returnflag,
           CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS n_discounted,
           CAST(count(*) FILTER (WHERE l_tax = 0) AS BIGINT) AS n_taxfree,
           {DSUM('l_extendedprice')} AS sum_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(30,10)))
                FILTER (WHERE l_quantity >= 25) AS DOUBLE) AS sum_price_bulk
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q74_filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (SQL FILTER clause): multiple differently-
    filtered aggregates in ONE pass / one shuffle — the alternative (N
    filtered subqueries joined back) scans the fact table N times.
    count_if and when()-guarded sums compile to the same partial-agg
    shape."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        F.count_if(F.col("l_tax") == 0).alias("n_taxfree"),
        dsum("l_extendedprice").alias("sum_price"),
        F.sum(
            F.when(
                F.col("l_quantity") >= 25,
                F.col("l_extendedprice").cast("decimal(30,10)"),
            )
        )
        .cast("double")
        .alias("sum_price_bulk"),
    )


@query(
    "q75_string_agg",
    oracle="""
    SELECT c_nationkey,
           string_agg(c_name, ',' ORDER BY c_name) AS names,
           CAST(count(*) AS BIGINT) AS n
    FROM (SELECT * FROM customer WHERE c_custkey < 200) t
    GROUP BY c_nationkey
    """,
)
def q75_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: collect_list -> array_sort -> array_join
    gives a deterministic LISTAGG regardless of row arrival order (plain
    collect_list order is partition-dependent — never expose it raw).
    Bounded input: giant group strings are a driver/memory hazard at scale;
    cap or switch to array output for unbounded groups."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") < 200)
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.array_sort(F.collect_list("c_name")), ",").alias("names"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# CDC apply (merge a change feed: insert / update / delete)
# ---------------------------------------------------------------------------


@query(
    "q76_cdc_apply",
    oracle="""
    WITH existing AS (
      SELECT event_id, ts, user_id, value FROM events WHERE event_id % 2 = 0
    ),
    changes AS (
      SELECT event_id, ts + INTERVAL 1 HOUR AS ts, user_id, value * 10 AS value,
             CASE WHEN event_id % 5 = 0 THEN 'D' ELSE 'U' END AS op
      FROM events WHERE event_id % 3 = 0
    ),
    merged AS (
      SELECT event_id, ts, user_id, value, 'I' AS op, 0 AS pri FROM existing
      UNION ALL
      SELECT event_id, ts, user_id, value, op, 1 AS pri FROM changes
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY event_id
                                   ORDER BY ts DESC, pri DESC) AS rn
      FROM merged
    )
    SELECT event_id, ts, user_id, value
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def q76_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture apply (operators/upsert.apply_cdc): a change feed
    with updates and deletes merges into a keyed table in ONE window pass —
    the Delta MERGE WHEN MATCHED THEN UPDATE/DELETE shape without a
    transaction log. Deletes win like any other change (newest record per
    key), then vanish from the output; the oracle states the same merge as
    window SQL."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.upsert import apply_cdc

    e = load(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    existing = e.filter(F.col("event_id") % 2 == 0)
    changes = (
        e.filter(F.col("event_id") % 3 == 0)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
        .withColumn("value", F.col("value") * 10)
        .withColumn(
            "op", F.when(F.col("event_id") % 5 == 0, "D").otherwise("U")
        )
    )
    return apply_cdc(existing, changes, key="event_id", order_by=["ts"])


# ---------------------------------------------------------------------------
# Rollup cascade (continuous-aggregate pattern: daily derived from hourly)
# ---------------------------------------------------------------------------


@query(
    "q77_rollup_cascade",
    oracle=f"""
    SELECT event_type, date_trunc('day', ts) AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           {DSUM('value')} AS total_value,
           ({DSUM('value')} / count(*)) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q77_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution rollup: the daily aggregate is derived FROM the
    hourly aggregate, not from raw events — the hypertable
    continuous-aggregate pattern. It works because the hourly partials are
    mergeable: counts sum, sums sum (kept in DECIMAL until the final cast
    so re-aggregation stays order-independent), avg derives from merged
    sum/count at the end. At 100 TB this is the difference between
    rescanning the fact table per resolution and re-aggregating a frame
    ~1000x smaller; the oracle computes daily straight from raw, proving
    cascade == direct. The streaming twin is the same hourly plan behind
    foreachBatch upsert keyed on (event_type, hour)."""
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(30,10)")).alias("total_dec"),
    )
    return (
        hourly.groupBy("event_type", F.date_trunc("day", "hour").alias("day"))
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("total_dec").cast("double").alias("total_value"),
        )
        .withColumn("avg_value", F.col("total_value") / F.col("n_events"))
    )


# ---------------------------------------------------------------------------
# argmax per group (max_by / arg_max)
# ---------------------------------------------------------------------------


@query(
    "q78_argmax_per_group",
    oracle="""
    SELECT event_type, event_id AS top_event_id, value AS max_value
    FROM (SELECT event_type, event_id, value,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY value DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
)
def q78_argmax_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax as an aggregate (max_by / arg_max): the highest-value event
    per type in ONE partial-aggregable pass — no window, no rank, no
    second shuffle (the window formulation of the same answer shuffles all
    rows; max_by merges per-partition champions). Ties break on the
    (value, event_id) tuple so both engines pick the same winner."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.max_by("event_id", F.struct("value", "event_id")).alias("top_event_id"),
        F.max("value").alias("max_value"),
    )


# ---------------------------------------------------------------------------
# Cohort retention (first-touch cohorts x week offset)
# ---------------------------------------------------------------------------


@query(
    "q79_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    )
    SELECT f.cohort_week,
           CAST(floor(date_diff('day', f.cohort_week,
                                date_trunc('week', e.ts)) / 7) AS BIGINT)
             AS week_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS active_users
    FROM events e JOIN firsts f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def q79_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-seen week, activity counted
    per (cohort, week-offset). The first-touch timestamp comes from a window
    min over the user partition — ONE hash shuffle on user_id instead of the
    aggregate+self-join form's two (the oracle takes the join form; results
    are identical). Both engines truncate weeks to Monday, so the day-diff
    is an exact multiple of 7 and the offset division is lossless. At
    100 TB the user_id shuffle dominates; countDistinct re-shuffles only
    the (cohort, offset, user) projection, which partial-aggregates
    map-side."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    cohorted = e.select(
        "user_id",
        F.date_trunc("week", F.min("ts").over(w)).alias("cohort_week"),
        F.date_trunc("week", "ts").alias("event_week"),
    )
    return (
        cohorted.groupBy(
            "cohort_week",
            F.floor(F.datediff("event_week", "cohort_week") / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


# ---------------------------------------------------------------------------
# Ordered conversion funnel (view -> click -> purchase)
# ---------------------------------------------------------------------------


@query(
    "q80_conversion_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts >= v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
      GROUP BY e.user_id
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS users_viewed,
           (SELECT CAST(count(*) AS BIGINT) FROM c) AS users_clicked,
           (SELECT CAST(count(*) AS BIGINT) FROM p) AS users_purchased
    """,
)
def q80_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: first view, first click AT OR AFTER that view, first
    purchase at or after that click — strict event-order semantics, not
    mere set membership. ONE pass over events: per user, conditional
    ordered mins computed from a sorted (ts, type) struct array inside a
    single groupBy (min-filter, then array-filter for the next stage), so
    events shuffles once on user_id; the oracle's staged-join form is the
    readable equivalent. Stage counts then reduce in a single partial-
    aggregable pass."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.sort_array(
            F.collect_list(
                F.when(
                    F.col("event_type") != "view",
                    F.struct("ts", "event_type"),
                )
            )
        ).alias("seq"),
    )
    full = per_user.select(
        "t_view",
        F.when(
            F.col("t_view").isNotNull(),
            F.expr(
                "array_min(transform(filter(seq, s -> s.event_type = 'click'"
                " AND s.ts >= t_view), s -> s.ts))"
            ),
        ).alias("t_click"),
        F.col("seq"),
    )
    full = full.select(
        "t_view",
        "t_click",
        F.when(
            F.col("t_click").isNotNull(),
            F.expr(
                "array_min(transform(filter(seq, s -> s.event_type = 'purchase'"
                " AND s.ts >= t_click), s -> s.ts))"
            ),
        ).alias("t_purchase"),
    )
    return full.agg(
        F.count("t_view").alias("users_viewed"),
        F.count("t_click").alias("users_clicked"),
        F.count("t_purchase").alias("users_purchased"),
    )


# ---------------------------------------------------------------------------
# Fixed-bin histogram (width_bucket)
# ---------------------------------------------------------------------------


@query(
    "q81_price_histogram",
    oracle="""
    SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                     WHEN o_totalprice >= 600000 THEN 13
                     ELSE floor(o_totalprice / 50000) + 1 END AS BIGINT)
             AS bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           min(o_totalprice) AS lo, max(o_totalprice) AS hi
    FROM orders
    GROUP BY 1
    """,
)
def q81_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin value histogram via width_bucket — the single-pass,
    fully partial-aggregable distribution profile (contrast q35/q67
    percentiles, which need a sort or sketch). 12 equi-width bins over
    [0, 600k]; out-of-range values land in the 0/13 overflow buckets per
    SQL spec, identically in both engines. At 100 TB this is the shape
    for data-quality profiling: one scan, tiny result, no shuffle beyond
    the 13-row final combine."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy(
        F.width_bucket("o_totalprice", F.lit(0), F.lit(600000), F.lit(12)).alias(
            "bucket"
        )
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


# ---------------------------------------------------------------------------
# Incremental ingest: new-key detection against an existing store
# ---------------------------------------------------------------------------


@query(
    "q85_incremental_ingest",
    oracle="""
    WITH existing AS (
      SELECT DISTINCT event_id FROM events WHERE event_id % 10 < 8
    ),
    batch AS (
      SELECT event_id, event_type FROM events WHERE event_id % 10 >= 5
    )
    SELECT b.event_type,
           CAST(count(*) AS BIGINT) AS n_batch,
           CAST(count(*) FILTER (e.event_id IS NULL) AS BIGINT) AS n_new
    FROM batch b LEFT JOIN existing e ON b.event_id = e.event_id
    GROUP BY 1
    """,
)
def q85_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest accounting: which rows of an arriving batch are
    genuinely new vs already in the store (the decision the reference's
    upsert makes implicitly, surfaced as a metric — etl_connector.py:
    176-191). One left join on the key scores both counts in a single
    pass; the anti-join form would need a second scan for the batch
    total. At 100 TB the store side prunes to just its key column
    (ReadSchema shows one field), and a bucketed store makes the join
    Exchange-free on that side; Spark 3.3+ also injects a runtime bloom
    filter from the smaller side."""
    e = load(spark, sf_dir, "events")
    existing = e.filter(F.col("event_id") % 10 < 8).select("event_id").distinct()
    batch = e.filter(F.col("event_id") % 10 >= 5).select("event_id", "event_type")
    marked = batch.join(
        existing.withColumn("seen", F.lit(1)), "event_id", "left"
    )
    return marked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_batch"),
        F.count(F.when(F.col("seen").isNull(), 1)).alias("n_new"),
    )


# ---------------------------------------------------------------------------
# OHLC time bars (first/last by time, min/max — one aggregate pass)
# ---------------------------------------------------------------------------


@query(
    "q86_ohlc_bars",
    oracle="""
    SELECT event_type, date_trunc('hour', ts) AS bar,
           arg_min(value, CAST(epoch(ts) AS BIGINT) * 100000000 + event_id)
             AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, CAST(epoch(ts) AS BIGINT) * 100000000 + event_id)
             AS close,
           CAST(count(*) AS BIGINT) AS n_ticks
    FROM events
    GROUP BY 1, 2
    """,
)
def q86_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar aggregation — the canonical time-series downsample:
    open/close are argmin/argmax of value over a composite
    (epoch-seconds, event_id) key, so first/last are total-ordered and
    both engines agree on intra-second ties; high/low/count ride the
    same single partial-aggregable pass (contrast a window first/last
    formulation, which shuffles every tick). This is the q77 rollup's
    financial cousin and composes with it: bars are mergeable into
    coarser bars by re-running the same aggregate."""
    e = load(spark, sf_dir, "events")
    order_key = (
        F.unix_timestamp("ts").cast("long") * F.lit(100000000).cast("long")
        + F.col("event_id")
    )
    return e.groupBy("event_type", F.date_trunc("hour", "ts").alias("bar")).agg(
        F.min_by("value", order_key).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", order_key).alias("close"),
        F.count(F.lit(1)).alias("n_ticks"),
    )


# ---------------------------------------------------------------------------
# Exact distinct via mergeable bitmaps (pre-aggregatable distinct index)
# ---------------------------------------------------------------------------


@query(
    "q87_bitmap_distinct",
    oracle="""
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def q87_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting through mergeable bitmaps
    (bitmap_bucket_number / bitmap_construct_agg / bitmap_count): ids
    bucket into 32k-bit bitmaps, bitmaps OR-merge associatively, the
    final count is a popcount sum. Same answer as count(DISTINCT) — the
    oracle — but unlike count(DISTINCT), the per-(group, bucket) bitmaps
    are a MATERIALIZABLE partial state: persist them per day/partition
    and any rollup (weekly, all-time, cross-group via bitmap_or_agg)
    merges without touching raw ids again. That is the q77 cascade
    pattern applied to distinct counts, which plain count(DISTINCT)
    cannot do exactly and HLL can only do approximately."""
    e = load(spark, sf_dir, "events")
    per_bucket = e.groupBy(
        "event_type", F.bitmap_bucket_number("user_id").alias("bucket")
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm")
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).alias("n_users")
    )


# ---------------------------------------------------------------------------
# Cumulative distinct users per day (bitmap state, no raw-row rescans)
# ---------------------------------------------------------------------------


@query(
    "q88_cumulative_distinct",
    oracle="""
    SELECT d.day, CAST(count(DISTINCT e.user_id) AS BIGINT) AS cum_users
    FROM (SELECT DISTINCT date_trunc('day', ts) AS day FROM events) d
    JOIN events e ON date_trunc('day', e.ts) <= d.day
    GROUP BY 1
    """,
)
def q88_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day — the growth-curve query that is
    quadratic if done naively (the oracle's day<=day join re-counts raw
    events per day). The engine instead scans events ONCE into per-(day,
    bucket) bitmaps, cumulatively ORs them along the day axis per bucket
    (a window over the tiny daily-state frame, ~days x buckets rows),
    and popcounts. At 100 TB the raw scan happens once; the cumulative
    pass touches only materialized state — and persisting `daily` turns
    tomorrow's update into an incremental single-day merge."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", "ts").alias("day"),
        F.bitmap_bucket_number("user_id").alias("bucket"),
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm"))
    w = (
        Window.partitionBy("bucket")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = daily.withColumn(
        "cum_count", F.bitmap_count(F.bitmap_or_agg("bm").over(w))
    )
    # Per-bucket NEW users each day = cumulative popcount minus the
    # previous day's; days where a bucket is absent contribute 0, so no
    # densification is needed. Summing increments per day and cumulating
    # over the (tiny, day-level) frame gives the running distinct total.
    inc = cum.withColumn(
        "new_users",
        F.col("cum_count")
        - F.lag("cum_count", 1, 0).over(Window.partitionBy("bucket").orderBy("day")),
    )
    daily_new = inc.groupBy("day").agg(F.sum("new_users").alias("new_users"))
    w_days = (
        Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily_new.select(
        "day", F.sum("new_users").over(w_days).alias("cum_users")
    )


# ---------------------------------------------------------------------------
# Cross-engine table checksum (data-validation fingerprint)
# ---------------------------------------------------------------------------


@query(
    "q89_table_checksum",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           bit_xor(CAST(concat('0x', substr(md5(
               concat_ws('|', CAST(o_orderkey AS VARCHAR),
                              CAST(o_custkey AS VARCHAR),
                              o_orderstatus)), 1, 15)) AS BIGINT)) AS checksum
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q89_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprint: md5 each canonical row string,
    XOR-fold per group. XOR is commutative/associative, so the checksum is
    partitioning- and order-invariant and partial-aggregates map-side —
    the migration-validation primitive this very repo's gate embodies
    (reference R7's validation, promoted from per-record to per-table).
    Grouping by a coarse column localizes a mismatch to a slice instead
    of one opaque table-level bit. The 60-bit hash prefix keeps the fold
    in BIGINT range identically on both engines."""
    o = load(spark, sf_dir, "orders")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
    )
    row_hash = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("long")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor(row_hash).alias("checksum"),
    )


# ---------------------------------------------------------------------------
# Per-group z-score standardization (deterministic feature prep)
# ---------------------------------------------------------------------------


@query(
    "q91_zscore_standardize",
    oracle="""
    WITH stats AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             sum(CAST(value AS DECIMAL(30,10))) AS s1,
             sum(CAST(value AS DECIMAL(30,10)) * CAST(value AS DECIMAL(30,10)))
               AS s2
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           (e.value - CAST(s.s1 AS DOUBLE) / s.n)
             / sqrt((CAST(s.s2 AS DOUBLE) - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE) / s.n)
                    / (s.n - 1)) AS z
    FROM events e JOIN stats s ON e.event_type = s.event_type
    """,
)
def q91_zscore_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score standardization — the feature-prep normalizer.
    Moments accumulate in DECIMAL (order-independent, so Spark's parallel
    sums and DuckDB's serial ones agree bit-for-bit) and variance derives
    from (s2 - s1^2/n)/(n-1); built-in stddev would float-drift across
    partitionings. The tiny per-group stats frame broadcast-joins back
    onto the fact rows: one scan + one broadcast, no window over raw
    rows, no second shuffle. This two-pass shape is how normalization
    actually runs at 100 TB (compute stats once, persist, apply)."""
    e = load(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(30,10)")
    stats = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).alias("s1"),
        F.sum(dec * dec).alias("s2"),
    )
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    enriched = e.join(F.broadcast(stats), "event_type")
    return enriched.select(
        "event_id",
        "event_type",
        (
            (F.col("value") - s1d / F.col("n"))
            / F.sqrt((s2d - s1d * s1d / F.col("n")) / (F.col("n") - 1))
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# Sessionization: gap-rule session ids assigned to every event
# ---------------------------------------------------------------------------


@query(
    "q92_sessionize",
    oracle="""
    SELECT event_id, user_id, ts,
           CAST(sum(is_new) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS BIGINT) AS session_seq
    FROM (
      SELECT event_id, user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL THEN 1
                  WHEN date_diff('second',
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                       ts) > 7200 THEN 1
                  ELSE 0 END AS is_new
      FROM events)
    """,
)
def q92_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level sessionization: a session break is a >2h silence, and the
    running count of breaks per user numbers every event's session —
    q34's session_window aggregates sessions, this LABELS raw events
    (the form joins and per-session features need). lag + running sum
    share ONE window partitioning (user_id), so the whole query is a
    single shuffle; ties order by (ts, event_id) so both engines number
    identically. At 100 TB session state never leaves the user partition
    — the streaming twin is the same rule in applyInPandasWithState."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    is_new = F.when(gap.isNull() | (gap > 7200), 1).otherwise(0)
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(is_new)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_seq"),
    )


# ---------------------------------------------------------------------------
# Market-basket co-occurrence (within-order part pairs)
# ---------------------------------------------------------------------------


@query(
    "q93_copurchase_pairs",
    oracle="""
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
)
def q93_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing in the same
    order, kept when support >= 2 — the candidate-pair stage of frequent
    itemset mining. The pair scope is the ORDER, so the blowup is
    items-per-order choose 2 (~21 pairs for TPC-H's ~7-line orders),
    linear in orders — the same bounded-block principle as the near-dup
    family: quadratic only within a naturally small group.

    NOT a self-join: at scale that means scanning the fact table twice
    and either broadcasting it (impossible at 100 TB) or shuffling both
    copies. Instead ONE scan groups items per order (one l_orderkey
    shuffle), and the sorted in-basket array expands to ordered pairs
    with higher-order functions JVM-side. `y > x` compares values, not
    positions, so strict-inequality semantics stay identical to the
    join formulation even when a part repeats within an order: k copies
    of p each pair with every q > p, and multiplicities match."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return copurchase_pairs(li).filter(F.col("n_orders") >= 2)


def copurchase_pairs(
    li: DataFrame, order_col: str = "l_orderkey", item_col: str = "l_partkey"
) -> DataFrame:
    """(part_a, part_b, n_orders) co-occurrence counts over (order, item)
    rows — single scan, one shuffle on the order key, JVM-side pair
    expansion from the sorted basket array (see q93's docstring for the
    equivalence argument vs the self-join formulation)."""
    baskets = li.groupBy(F.col(order_col)).agg(
        F.array_sort(F.collect_list(item_col)).alias("parts")
    )
    pairs = F.expr(
        """
        flatten(transform(parts, (x, i) ->
          transform(
            filter(slice(parts, i + 2, size(parts)), y -> y > x),
            y -> struct(x AS part_a, y AS part_b))))
        """
    )
    return (
        baskets.select(F.explode(pairs).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def materialize_once(df: DataFrame) -> DataFrame:
    """Persist `df` exactly once per (application, semantic plan): repeat
    calls with a semantically-equal plan return the SAME persisted frame,
    so the CacheManager holds one copy no matter how many query builders
    ask (a fresh .persist() per call re-registered an identical plan on
    every call and let cached frames pile up across a bench session). On
    a semanticHash collision with a different plan, ``df`` is persisted on
    its own and left out of the memo: another plan's rows never come back."""
    hit = app_once(df.sparkSession, ("persist", df.semanticHash()), df.persist)
    return hit if hit is df or df.sameSemantics(hit) else df.persist()


def copurchase_edges(li: DataFrame, min_orders: int = 1) -> DataFrame:
    """Distinct oriented (u < v) co-purchase edges, materialized once.

    Every graph-profile consumer (q117 triangles, q149 degrees, q296
    assortativity, q307 rich club) reads the edge frame at least twice —
    once for the degree aggregation and once for an edge join — so the
    basket expansion + pair count is cached instead of recomputed per
    branch, and repeat invocations (across queries and bench iterations)
    share ONE persisted copy via materialize_once. Callers needing the
    symmetric list union the reverse projection on top (cheap: reads the
    cache, no recompute)."""
    e = copurchase_pairs(li)
    if min_orders > 1:
        e = e.filter(F.col("n_orders") >= min_orders)
    return materialize_once(
        e.select(F.col("part_a").alias("u"), F.col("part_b").alias("v"))
    )


def copurchase_und_edges(li: DataFrame) -> DataFrame:
    """Symmetric (both-direction) distinct co-purchase edge list over a
    persisted oriented core — the shape q296/q307's moment/threshold
    math expects (each undirected edge contributes both (u,v) and (v,u))."""
    e = copurchase_edges(li)
    return e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


# ---------------------------------------------------------------------------
# Ratio-to-report (share of parent total)
# ---------------------------------------------------------------------------


@query(
    "q94_revenue_share",
    oracle=f"""
    WITH nat AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             {DSUM('o_totalprice')} AS revenue
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    )
    SELECT region, nation, revenue,
           revenue / sum(revenue) OVER (PARTITION BY region) AS share
    FROM nat
    """,
)
def q94_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its region's revenue. The
    share window runs over the ALREADY-AGGREGATED nation frame (25 rows),
    not the fact table — aggregate first, window the summary; windowing
    raw orders for the same answer would shuffle every order twice. Dims
    broadcast onto the fact scan, so the whole query is one fact shuffle
    plus a trivial window."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    nat = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")),
               o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(
                n.join(r, n.n_regionkey == r.r_regionkey).select(
                    "n_nationkey", F.col("n_name").alias("nation"),
                    F.col("r_name").alias("region"),
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("region", "nation")
        .agg(dsum("o_totalprice").alias("revenue"))
    )
    w = Window.partitionBy("region")
    return nat.select(
        "region", "nation", "revenue",
        (F.col("revenue") / F.sum("revenue").over(w)).alias("share"),
    )


# ---------------------------------------------------------------------------
# Year-over-year growth (periodized lag)
# ---------------------------------------------------------------------------


@query(
    "q95_yoy_growth",
    oracle=f"""
    WITH monthly AS (
      SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS yr,
             CAST(date_part('month', o_orderdate) AS BIGINT) AS mo,
             {DSUM('o_totalprice')} AS revenue
      FROM orders GROUP BY 1, 2
    )
    SELECT yr, mo, revenue,
           revenue - lag(revenue, 12) OVER (ORDER BY yr, mo) AS yoy_delta,
           revenue / lag(revenue, 12) OVER (ORDER BY yr, mo) - 1 AS yoy_pct
    FROM monthly
    """,
)
def q95_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth: monthly revenue lagged 12 periods. Like
    q94, the window runs over the aggregated period frame (~84 rows for
    7 years), so the unpartitioned ORDER BY is over summary state, never
    raw orders — aggregate first, then compare periods. The NULL first
    year is the honest answer (no prior-year base)."""
    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
    ).agg(dsum("o_totalprice").alias("revenue"))
    w = Window.orderBy("yr", "mo")
    return monthly.select(
        "yr", "mo", "revenue",
        (F.col("revenue") - F.lag("revenue", 12).over(w)).alias("yoy_delta"),
        (F.col("revenue") / F.lag("revenue", 12).over(w) - 1).alias("yoy_pct"),
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation (recency / frequency / monetary + quartiles)
# ---------------------------------------------------------------------------


@query(
    "q96_rfm_segments",
    oracle=f"""
    WITH rfm AS (
      SELECT o_custkey AS custkey,
             max(o_orderdate) AS last_order,
             CAST(count(*) AS BIGINT) AS frequency,
             {DSUM('o_totalprice')} AS monetary
      FROM orders GROUP BY 1
    )
    SELECT custkey, last_order, frequency, monetary,
           CAST(ntile(4) OVER (ORDER BY last_order, custkey) AS BIGINT) AS r_quartile,
           CAST(ntile(4) OVER (ORDER BY frequency, custkey) AS BIGINT) AS f_quartile,
           CAST(ntile(4) OVER (ORDER BY monetary, custkey) AS BIGINT) AS m_quartile
    FROM rfm
    """,
)
def q96_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency/frequency/monetary rolled
    up in ONE pass over orders, then quartile-scored. The customer frame
    is ENTITY-grain (a billion rows at 100 TB), so the quartiles must not
    run as an unpartitioned ntile window (one-task global sort); instead
    each score uses operators/ranks.with_ntile — range-repartition +
    parallel local sorts + broadcast partition offsets — which is
    bit-identical to ntile(4) OVER (ORDER BY col, custkey) (the custkey
    tie-break makes the order total, hence deterministic cross-engine)
    while every stage stays parallel. The three scores join back on
    custkey as customer-grain hash joins. The oracle keeps the plain
    window SQL as the independent formulation."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.ranks import with_ntile

    o = load(spark, sf_dir, "orders")
    rfm = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        dsum("o_totalprice").alias("monetary"),
    )
    out = rfm
    for col, name in [
        ("last_order", "r_quartile"),
        ("frequency", "f_quartile"),
        ("monetary", "m_quartile"),
    ]:
        score = with_ntile(
            rfm.select("custkey", col),
            [F.col(col).asc(), F.col("custkey").asc()],
            4,
            out=name,
        ).select("custkey", name)
        out = out.join(score, "custkey")
    return out.select(
        "custkey", "last_order", "frequency", "monetary",
        "r_quartile", "f_quartile", "m_quartile",
    )


# ---------------------------------------------------------------------------
# Column profiling (data-quality audit in one pass)
# ---------------------------------------------------------------------------


@query(
    "q97_column_profile",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(NULLIF(event_type, 'error')) AS BIGINT)
             AS type_nulls,
           CAST(count(DISTINCT event_type) AS BIGINT) AS type_distinct,
           CAST(count(DISTINCT user_id) AS BIGINT) AS user_distinct,
           min(value) AS value_min, max(value) AS value_max,
           min(ts) AS ts_min, max(ts) AS ts_max
    FROM events
    """,
)
def q97_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profile: row count, null counts (here a derived
    nullable via NULLIF — the fixture has no organic nulls), distinct
    cardinalities, and min/max ranges. This is the reference's R7
    validation generalized from per-record predicates to a whole-table
    audit, and it is ONE aggregate job: every metric partial-aggregates,
    so profiling 100 TB costs one scan — the pre-flight every ingest
    should run before committing a partition."""
    e = load(spark, sf_dir, "events")
    return e.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count(F.nullif("event_type", F.lit("error"))))
        .alias("type_nulls"),
        F.countDistinct("event_type").alias("type_distinct"),
        F.countDistinct("user_id").alias("user_distinct"),
        F.min("value").alias("value_min"),
        F.max("value").alias("value_max"),
        F.min("ts").alias("ts_min"),
        F.max("ts").alias("ts_max"),
    )


# ---------------------------------------------------------------------------
# Null-safe join (NULL keys match NULL keys)
# ---------------------------------------------------------------------------


@query(
    "q98_nullsafe_join",
    oracle="""
    WITH keyed AS (
      SELECT event_id, NULLIF(event_type, 'error') AS k, value FROM events
    ),
    dim AS (
      SELECT DISTINCT NULLIF(event_type, 'error') AS k,
             coalesce(NULLIF(event_type, 'error'), 'unclassified') AS label
      FROM events
    )
    SELECT d.label, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(e.value AS DECIMAL(30,10))) AS DOUBLE) AS total
    FROM keyed e JOIN dim d ON e.k IS NOT DISTINCT FROM d.k
    GROUP BY d.label
    """,
)
def q98_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (eqNullSafe / IS NOT DISTINCT FROM): NULL keys
    pair with the NULL dim row instead of silently dropping — the
    semantics dirty reference data needs (the reference coalesces falsy
    keys for the same reason, etl_connector.py:156-158). Crucially the
    null-safe comparator is still an EQUI-join key: Spark hash-partitions
    on the key with nulls colocated, so the plan is a broadcast/hash
    join, not the nested-loop a general theta predicate would force."""
    e = load(spark, sf_dir, "events")
    keyed = e.select(
        "event_id", F.nullif("event_type", F.lit("error")).alias("k"), "value"
    )
    dim = (
        keyed.select("k").distinct()
        .withColumn("label", F.coalesce("k", F.lit("unclassified")))
    )
    joined = keyed.join(F.broadcast(dim), keyed.k.eqNullSafe(dim.k))
    return joined.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(30,10)")).cast("double").alias("total"),
    )


# ---------------------------------------------------------------------------
# Rolling 7-day active users (sliding exact distinct via bitmap scatter)
# ---------------------------------------------------------------------------


@query(
    "q99_rolling_active_users",
    oracle="""
    WITH e AS (SELECT date_trunc('day', ts) AS day, user_id FROM events),
    d AS (SELECT DISTINCT day FROM e)
    SELECT d.day, CAST(count(DISTINCT e.user_id) AS BIGINT) AS active_7d
    FROM d JOIN e ON e.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
    GROUP BY 1
    """,
)
def q99_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct actives — the sliding-window distinct that
    has no partial-aggregable form over raw rows (the oracle's range
    self-join re-reads a week of events per day). Engine plan: one scan
    builds per-(day, bucket) bitmaps; each scatters to the <=6 later days
    it covers (explode of a 7-element sequence — 7x a frame of
    days x buckets, not of events); bitmaps OR-merge per target day and
    popcount. Exact, one raw scan, and the scatter width is the window
    length — the streaming twin keeps the same 7 bitmap states per
    bucket."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", "ts").alias("day"),
        F.bitmap_bucket_number("user_id").alias("bucket"),
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm"))
    dayno = (F.unix_timestamp("day") / 86400).cast("long")
    scattered = daily.select(
        F.explode(F.sequence(dayno, dayno + 6)).alias("target_dayno"),
        "bucket",
        "bm",
    )
    merged = scattered.groupBy("target_dayno", "bucket").agg(
        F.bitmap_or_agg("bm").alias("bm7")
    )
    days = daily.select(dayno.alias("target_dayno")).distinct()
    return (
        merged.join(days, "target_dayno", "left_semi")
        .groupBy("target_dayno")
        .agg(F.sum(F.bitmap_count("bm7")).alias("active_7d"))
        .select(
            F.timestamp_seconds(F.col("target_dayno") * 86400).alias("day"),
            "active_7d",
        )
    )


# ---------------------------------------------------------------------------
# Recursive CTE: multi-hop graph reachability
# ---------------------------------------------------------------------------


@query(
    "q101_recursive_reachability",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    seed AS (
      SELECT src AS part FROM edges GROUP BY src
      ORDER BY count(*) DESC, src LIMIT 1
    ),
    reach(part, dist) AS (
      SELECT part, 0 FROM seed
      UNION ALL
      SELECT e.dst, r.dist + 1 FROM reach r JOIN edges e ON e.src = r.part
      WHERE r.dist < 3
    )
    SELECT part, CAST(min(dist) AS INT) AS hops FROM reach GROUP BY part
    """,
)
def q101_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop BFS over the co-purchase graph via WITH RECURSIVE (Spark
    4's recursive CTE): hop distance (<=3) from the highest-degree part to
    everything it reaches, min-aggregated over walks. The iterative union
    runs inside the engine — each step is one hash join of the frontier
    against the edge list, no driver loop. The hop cap bounds work on
    cyclic graphs; for unbounded components this engine's label-propagation
    operator (operators/dedup.connected_components) is the scale path —
    this query is the *declarative* member of that family.

    The edge list itself comes from copurchase_pairs (single scan + basket
    expansion), symmetrized; the oracle rebuilds it with the naive
    self-join, the established engine-vs-oracle asymmetry."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # Materialize the pair list once, BEFORE symmetrizing: the union's two
    # branches and the recursive CTE's every iteration all re-evaluate
    # their input plan, so un-checkpointed they re-run the whole scan +
    # basket expansion repeatedly (observed 13.6s -> ~2s at sf0.1).
    pairs = (
        copurchase_pairs(li).filter(F.col("n_orders") >= 2).localCheckpoint()
    )
    edges = pairs.select(
        F.col("part_a").alias("src"), F.col("part_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("part_b").alias("src"), F.col("part_a").alias("dst"))
    )
    edges.createOrReplaceTempView("q101_edges")
    return spark.sql(
        """
        WITH RECURSIVE seed AS (
          SELECT src AS part FROM q101_edges GROUP BY src
          ORDER BY count(*) DESC, src LIMIT 1
        ),
        reach(part, dist) AS (
          SELECT part, 0 FROM seed
          UNION ALL
          SELECT /*+ BROADCAST(e) */ e.dst, r.dist + 1
          FROM reach r JOIN q101_edges e ON e.src = r.part
          WHERE r.dist < 3
        )
        SELECT part, CAST(min(dist) AS INT) AS hops FROM reach GROUP BY part
        """
    )


# ---------------------------------------------------------------------------
# Approximate heavy hitters (frequent-items sketch)
# ---------------------------------------------------------------------------


@query("q102_heavy_hitters", oracle=None)  # sketch estimates — rows-only check
def q102_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-ordered parts via the approx_top_k frequent-items
    sketch — the one-pass, mergeable, bounded-memory answer to "what are
    the hot keys" (the same question q20's exact top-k answers with a full
    groupBy + sort). At 100 TB the sketch is the first pass: partial
    sketches merge associatively map-side, the driver never sees per-key
    state, and memory is O(capacity), not O(distinct keys). Capacity 8192
    exceeds the distinct-part count at test SFs, so estimates are exact
    there — tests/test_heavy_hitters.py asserts that against q20-style
    exact counts, tie-aware at the rank boundary."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.agg(F.expr("approx_top_k(l_partkey, 20, 8192)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("l_partkey"),
            F.col("e.count").alias("est_orders"),
        )
    )


# ---------------------------------------------------------------------------
# Mergeable HLL sketch rollup (approximate-distinct state)
# ---------------------------------------------------------------------------


@query("q103_hll_rollup", oracle=None)  # sketch estimates — rows-only check
def q103_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly distinct users from per-day HLL sketches: one raw scan
    builds a DataSketches HLL per day (hll_sketch_agg), and coarser
    windows come from sketch UNION, never from re-reading events — the
    approximate member of the materializable-distinct-state family
    (q87's bitmaps are its exact sibling; q16 the single-shot estimate).
    At 100 TB the per-day sketch table is the only thing retained: any
    ad-hoc window (month, trailing 28d, lifetime) is an O(days x 1.5 KB)
    merge. tests/test_hll_rollup.py bounds the estimate against the exact
    per-month distincts."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    return (
        daily.groupBy(F.date_trunc("month", "day").alias("month"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .select("month", "approx_users", "n_days")
    )


# ---------------------------------------------------------------------------
# Robust outlier profile (median / MAD)
# ---------------------------------------------------------------------------


@query(
    "q104_robust_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type AS grp, median(CAST(value AS DOUBLE)) AS med
      FROM events GROUP BY 1
    ),
    mad AS (
      SELECT e.event_type AS grp,
             median(abs(CAST(e.value AS DOUBLE) - m.med)) AS mad
      FROM events e JOIN med m ON e.event_type = m.grp GROUP BY 1
    )
    SELECT m.grp, m.med, d.mad,
           CAST(count(*) FILTER (
             WHERE abs(CAST(e.value AS DOUBLE) - m.med)
                   > 3.5 * 1.4826 * d.mad) AS BIGINT) AS n_outliers,
           CAST(count(*) AS BIGINT) AS n
    FROM events e
    JOIN med m ON e.event_type = m.grp
    JOIN mad d ON e.event_type = d.grp
    GROUP BY 1, 2, 3
    """,
)
def q104_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier profile: median + MAD (median absolute
    deviation) and the count beyond 3.5 scaled MADs — the data-quality
    screen that, unlike mean/stddev z-scores, is not dragged by the very
    outliers it hunts. Three passes over one narrow projection, each a
    per-group aggregate with the tiny (group, stat) frames broadcast back
    — no row-level window. Exact medians keep the oracle bit-honest; at
    100 TB the drop-in scale path is approx_percentile (q67's mergeable
    KLL-style sketch) at a declared rank error."""
    e = load(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"), F.col("value").cast("double").alias("v")
    )
    med = e.groupBy("grp").agg(F.median("v").alias("med"))
    mad = (
        e.join(F.broadcast(med), "grp")
        .groupBy("grp")
        .agg(
            F.median(F.abs(F.col("v") - F.col("med"))).alias("mad"),
            F.first("med").alias("med"),
        )
    )
    return (
        e.join(F.broadcast(mad), "grp")
        .groupBy("grp", "med", "mad")
        .agg(
            F.count_if(
                F.abs(F.col("v") - F.col("med")) > 3.5 * 1.4826 * F.col("mad")
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("grp", "med", "mad", "n_outliers", "n")
    )


# ---------------------------------------------------------------------------
# Snapshot diff -> change feed
# ---------------------------------------------------------------------------


@query(
    "q105_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DOUBLE) AS price
      FROM orders WHERE o_orderkey % 11 <> 3
    ),
    new AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 5 = 0
                  THEN CAST(o_totalprice AS DOUBLE) * 1.1
                  ELSE CAST(o_totalprice AS DOUBLE) END AS price
      FROM orders WHERE o_orderkey % 13 <> 7
    )
    SELECT CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS op,
           COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           COALESCE(n.o_orderstatus, o.o_orderstatus) AS o_orderstatus,
           COALESCE(n.price, o.price) AS price
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
       OR (o.price IS DISTINCT FROM n.price)
    """,
)
def q105_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff two table snapshots into a change feed (operators/diff.
    table_diff): insert / delete / update rows from ONE full outer join on
    the key, null-safe struct comparison for change detection. The inverse
    of q76's apply_cdc — together they close the loop between state-based
    and log-based replication (tests/test_table_diff.py proves the
    round-trip). Snapshots here are deterministic derivations of `orders`:
    ~9% of keys deleted, ~8% inserted, 20% price-bumped."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.diff import table_diff

    o = load(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("double")
    old = o.filter(F.col("o_orderkey") % 11 != 3).select(
        "o_orderkey", "o_orderstatus", price.alias("price")
    )
    new = o.filter(F.col("o_orderkey") % 13 != 7).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 5 == 0, price * 1.1)
        .otherwise(price)
        .alias("price"),
    )
    return table_diff(old, new, keys=["o_orderkey"])


# ---------------------------------------------------------------------------
# Deterministic weighted sampling (A-ES exponential ranks)
# ---------------------------------------------------------------------------


@query(
    "q107_weighted_sample",
    oracle="""
    WITH ranked AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(o_totalprice AS DOUBLE) AS w,
             -ln(((o_orderkey * 2654435761) % 4294967296 + 1)
                 / 4294967297.0) / CAST(o_totalprice AS DOUBLE) AS rank_key
      FROM orders
    )
    SELECT o_orderkey, o_orderpriority, w, rank_key
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY o_orderpriority ORDER BY rank_key, o_orderkey) AS rn
      FROM ranked
    )
    WHERE rn <= 100
    """,
)
def q107_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, Efraimidis-Spirakis style:
    each row draws an exponential rank -ln(u)/w from a DETERMINISTIC
    uniform (q58's Knuth multiplicative hash of the key, so every engine
    and every partitioning picks the same sample — df.sample cannot be
    oracle-checked), and the k smallest ranks per stratum win. Inclusion
    probability scales with weight (price-proportional here — importance
    sampling for training mixes). One shuffle on the stratum for the
    top-k window; at scale the same ranks feed a per-partition
    partial top-k (q21's pattern) before the final k-merge."""
    o = load(spark, sf_dir, "orders")
    u = ((F.col("o_orderkey") * F.lit(2654435761)) % F.lit(4294967296) + 1) / F.lit(
        4294967297.0
    )
    w = F.col("o_totalprice").cast("double")
    ranked = o.select(
        "o_orderkey",
        "o_orderpriority",
        w.alias("w"),
        (-F.log(u) / w).alias("rank_key"),
    )
    win = Window.partitionBy("o_orderpriority").orderBy("rank_key", "o_orderkey")
    return (
        ranked.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= 100)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# LATERAL correlated subquery (per-row top-k, decorrelated by Catalyst)
# ---------------------------------------------------------------------------


@query(
    "q110_lateral_topk",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, t.price
    FROM customer c,
    LATERAL (
      SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
      FROM orders o WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 3
    ) t
    WHERE c.c_nationkey = 1
    """,
)
def q110_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row correlated table subquery: each nation-1 customer's top-3
    orders by price, declared as a LATERAL join. The point is what the
    OPTIMIZER does with it: Catalyst decorrelates the per-row ORDER BY ..
    LIMIT into a window row_number over o_custkey with one hash shuffle —
    q21's hand-written per-group top-k, derived mechanically from the
    declarative form (the same decorrelation story as q59/q60's EXISTS
    and scalar subqueries). Identical tie-breaks (price DESC, orderkey)
    keep both engines deterministic."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("q110_orders")
    load(spark, sf_dir, "customer").createOrReplaceTempView("q110_customer")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.price
        FROM q110_customer c,
        LATERAL (
          SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
          FROM q110_orders o WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 3
        ) t
        WHERE c.c_nationkey = 1
        """
    )


# ---------------------------------------------------------------------------
# Time-weighted average (step-function integral)
# ---------------------------------------------------------------------------


@query(
    "q111_time_weighted_avg",
    oracle="""
    WITH stepped AS (
      SELECT user_id, CAST(value AS DOUBLE) AS v,
             CAST(lead(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) - epoch_us(ts)
               AS DOUBLE) AS dt_us
      FROM events
    )
    SELECT user_id,
           sum(v * dt_us) / sum(dt_us) AS twap,
           CAST(count(*) AS BIGINT) AS n_intervals
    FROM stepped WHERE dt_us IS NOT NULL AND dt_us > 0
    GROUP BY user_id
    """,
)
def q111_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user: each observation holds until the
    next one, so the mean is the step-function integral sum(v*dt)/sum(dt)
    — the unbiased summary for irregularly-sampled series, where a plain
    avg() over-weights bursts (a sensor idling at one value for an hour
    must count like an hour, not like one row). One lead() window and one
    aggregate, both partitioned by user_id: a single shuffle, state
    bounded per key. Zero-length intervals (same-timestamp bursts) drop
    out of both engines identically; microsecond epochs keep dt integral
    until the final double division."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = e.select(
        "user_id",
        F.col("value").cast("double").alias("v"),
        (F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts"))
        .cast("double")
        .alias("dt_us"),
    )
    return (
        stepped.filter(F.col("dt_us").isNotNull() & (F.col("dt_us") > 0))
        .groupBy("user_id")
        .agg(
            (F.sum(F.col("v") * F.col("dt_us")) / F.sum("dt_us")).alias("twap"),
            F.count(F.lit(1)).alias("n_intervals"),
        )
    )


# ---------------------------------------------------------------------------
# Winsorization (percentile clamping, feature cleaning)
# ---------------------------------------------------------------------------


@query(
    "q112_winsorize",
    oracle="""
    WITH bounds AS (
      SELECT event_type AS grp,
             quantile_cont(CAST(value AS DOUBLE), 0.05) AS lo,
             quantile_cont(CAST(value AS DOUBLE), 0.95) AS hi
      FROM events GROUP BY 1
    )
    SELECT b.grp, b.lo, b.hi,
           avg(CAST(e.value AS DOUBLE)) AS mean_raw,
           avg(least(greatest(CAST(e.value AS DOUBLE), b.lo), b.hi))
             AS mean_winsor,
           CAST(count(*) FILTER (WHERE CAST(e.value AS DOUBLE) < b.lo
                OR CAST(e.value AS DOUBLE) > b.hi) AS BIGINT) AS n_clipped
    FROM events e JOIN bounds b ON e.event_type = b.grp
    GROUP BY 1, 2, 3
    """,
)
def q112_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization: clamp the feature into its [p05, p95] band
    before aggregating — the standard tail-taming transform before
    training on heavy-tailed features (q104's MAD screen *finds* the
    outliers; winsorizing *neutralizes* them without dropping rows). Two
    passes: exact percentile bounds per group (tiny frame, broadcast
    back), then clamp + aggregate in one scan. Same oracle-parity /
    scale-path split as q104: exact percentiles gate correctness,
    approx_percentile is the mergeable 100 TB drop-in."""
    e = load(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"), F.col("value").cast("double").alias("v")
    )
    bounds = e.groupBy("grp").agg(
        F.percentile("v", F.lit(0.05)).alias("lo"),
        F.percentile("v", F.lit(0.95)).alias("hi"),
    )
    clamped = F.least(F.greatest(F.col("v"), F.col("lo")), F.col("hi"))
    return (
        e.join(F.broadcast(bounds), "grp")
        .groupBy("grp", "lo", "hi")
        .agg(
            F.avg("v").alias("mean_raw"),
            F.avg(clamped).alias("mean_winsor"),
            F.count_if((F.col("v") < F.col("lo")) | (F.col("v") > F.col("hi"))).alias(
                "n_clipped"
            ),
        )
        .select("grp", "lo", "hi", "mean_raw", "mean_winsor", "n_clipped")
    )


# ---------------------------------------------------------------------------
# Deterministic mode (categorical majority per group)
# ---------------------------------------------------------------------------


@query(
    "q113_group_mode",
    oracle="""
    WITH counts AS (
      SELECT c_nationkey, o_orderpriority, count(*) AS n
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    )
    SELECT c_nationkey, o_orderpriority AS mode_priority, CAST(n AS BIGINT) AS n
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY c_nationkey ORDER BY n DESC, o_orderpriority) AS rn
      FROM counts
    ) WHERE rn = 1
    """,
)
def q113_group_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation modal order priority — the categorical majority vote.
    SQL's mode() breaks ties engine-dependently, so the mode is spelled
    as count + deterministic argmax (count DESC, value ASC): correct on
    every engine, and the heavy lifting is a partial-aggregable count
    whose reduce side is bounded by |groups| x |categories|, not rows.
    The final argmax runs on that tiny frame via max_by over a
    composite-ordered struct — no second shuffle of raw data."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    counts = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # argmax by (n DESC, priority ASC): max_by with a struct key ordering
    # (n, reversed-priority) would need string negation — use min_by over
    # (-n, priority) instead: smallest -n is the largest n, ties by the
    # lexicographically first priority.
    return (
        counts.groupBy("c_nationkey")
        .agg(
            F.min_by(
                F.struct(F.col("o_orderpriority").alias("p"), F.col("n").alias("n")),
                F.struct((-F.col("n")).alias("neg"), F.col("o_orderpriority").alias("p")),
            ).alias("m")
        )
        .select(
            "c_nationkey",
            F.col("m.p").alias("mode_priority"),
            F.col("m.n").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Shannon entropy (distribution diversity per group)
# ---------------------------------------------------------------------------


@query(
    "q114_source_entropy",
    oracle="""
    WITH counts AS (
      SELECT source, lang, count(*) AS n
      FROM documents GROUP BY 1, 2
    ),
    tot AS (
      SELECT source, sum(n) AS total, count(*) AS n_langs FROM counts GROUP BY 1
    )
    SELECT c.source,
           CAST(t.n_langs AS BIGINT) AS n_langs,
           -sum((c.n / t.total) * ln(c.n / t.total)) AS entropy_nats
    FROM counts c JOIN tot t ON c.source = t.source
    GROUP BY 1, 2
    """,
)
def q114_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's language mix — the diversity
    metric a training-mix dashboard watches (entropy 0 = monolingual
    shard; ln(k) = uniform over k). Two cheap aggregations over the
    (source, lang) count frame — the raw scan is one partial-aggregated
    groupBy, everything after runs on |sources| x |langs| rows. The same
    shape scores ANY categorical balance question (label skew, shard
    balance, dedup-cluster concentration)."""
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.groupBy("source").agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_langs")
    )
    p = F.col("n") / F.col("total")
    return (
        counts.join(tot, "source")
        .groupBy("source", "n_langs")
        .agg((-F.sum(p * F.log(p))).alias("entropy_nats"))
        .select("source", "n_langs", "entropy_nats")
    )


# ---------------------------------------------------------------------------
# Relational division (for-all quantification)
# ---------------------------------------------------------------------------


@query(
    "q115_relational_division",
    oracle="""
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities
    FROM orders
    GROUP BY o_custkey
    HAVING count(DISTINCT o_orderpriority) =
           (SELECT count(DISTINCT o_orderpriority) FROM orders)
    """,
)
def q115_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division — universal quantification ('customers who have
    ordered under EVERY priority level') as set-cover counting: group,
    count distinct categories, keep groups matching the global category
    count (a scalar subquery Catalyst evaluates once and broadcasts as a
    literal). No double-negated NOT EXISTS nesting, no category
    cross-join: one partial-aggregable groupBy whose reduce side is one
    row per customer. The universal set is computed from data, so new
    categories tighten the predicate automatically."""
    o = load(spark, sf_dir, "orders")
    o.createOrReplaceTempView("q115_orders")
    return spark.sql(
        """
        SELECT o_custkey,
               count(*) AS n_orders,
               count(DISTINCT o_orderpriority) AS n_priorities
        FROM q115_orders
        GROUP BY o_custkey
        HAVING count(DISTINCT o_orderpriority) =
               (SELECT count(DISTINCT o_orderpriority) FROM q115_orders)
        """
    )


# ---------------------------------------------------------------------------
# SCD Type 2 (effective-dated dimension from an event history)
# ---------------------------------------------------------------------------


@query(
    "q116_scd2_dimension",
    oracle="""
    SELECT user_id, event_id AS version_id, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           CAST(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                IS NULL AS BOOLEAN) AS is_current,
           CAST(value AS DOUBLE) AS attr_value
    FROM events WHERE event_type = 'signup'
    """,
)
def q116_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2: turn a mutation history into
    effective-dated dimension rows — each change opens a version at its
    timestamp, the next change closes it (valid_to = next valid_from,
    half-open intervals so point-in-time lookups never double-match), and
    the open-ended row is flagged current. One lead() window per key, one
    shuffle; the result is exactly what q55's as-of join probes. This is
    the warehouse-load half of the reference's upsert semantics: R8
    keeps only the latest record, SCD2 keeps them all with validity."""
    e = load(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return e.select(
        "user_id",
        F.col("event_id").alias("version_id"),
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
        F.col("value").cast("double").alias("attr_value"),
    )


# ---------------------------------------------------------------------------
# Triangle counting (degree-ordered orientation)
# ---------------------------------------------------------------------------


@query(
    "q117_triangle_count",
    oracle="""
    WITH edges AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM edges e1
    JOIN edges e2 ON e2.u = e1.v
    JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    """,
)
def q117_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the co-purchase graph — the clustering-coefficient
    numerator. The count is orientation-invariant, so the ORACLE uses the
    naive id-orientation while the ENGINE orients every edge from its
    lower-(degree, id) endpoint to the higher: each triangle is counted
    exactly once at its lowest-degree corner, and every wedge join fans
    out by ORIENTED out-degree, which the orientation provably caps at
    O(sqrt(|E|)) — the standard hardening against hub skew, where
    id-ordered wedges explode quadratically on the hottest node. Three
    hash joins total (wedge build + closure probe), all on edge keys."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = copurchase_edges(li, min_orders=2)
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionByName(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = (
        pairs.join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v")
    )
    ru = F.struct(F.col("du").alias("d"), F.col("u").alias("i"))
    rv = F.struct(F.col("dv").alias("d"), F.col("v").alias("i"))
    oriented = e.select(
        F.when(ru < rv, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(ru < rv, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(ru < rv, rv).otherwise(ru).alias("rdst"),
    )
    o1 = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), F.col("rdst").alias("rb")
    )
    o2 = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("c"), F.col("rdst").alias("rc")
    )
    wedges = o1.join(o2, "a").filter(F.col("rb") < F.col("rc"))
    closing = oriented.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    return (
        wedges.join(closing, ["b", "c"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
