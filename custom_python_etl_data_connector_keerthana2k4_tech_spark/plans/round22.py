"""Round-22 additions: Good-Turing frequency-of-frequencies smoothing
statistics (the unseen-mass estimate LM smoothing is built on) and a
run-length compressibility profile (the storage-layout audit that decides
which columns reward sorting before encode).

The reference computes none of these (complete operator surface:
/root/reference/etl_connector.py:53-242; SURVEY §2.1-2.2). Both are
oracle-paired (DuckDB) and auto-gated by tests/test_oracle.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.registry import query
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load

# ---------------------------------------------------------------------------
# Good-Turing smoothing statistics over corpus trigrams
# ---------------------------------------------------------------------------


@query(
    "q344_good_turing",
    oracle="""
    WITH d AS (
      SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
      FROM documents
    ), s AS (
      SELECT toks, unnest(generate_series(1, len(toks) - 2)) AS i
      FROM d WHERE len(toks) >= 3
    ), g AS (
      SELECT toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS tri FROM s
    ), f AS (
      SELECT tri, count(*) AS c FROM g GROUP BY 1
    )
    SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_trigrams,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(count(*) FILTER (c = 1) AS BIGINT) AS n_hapax,
           CAST(count(*) FILTER (c = 2) AS BIGINT) AS n_dis,
           CASE WHEN coalesce(sum(c), 0) = 0 THEN NULL
                ELSE CAST(count(*) FILTER (c = 1) AS DOUBLE)
                     / CAST(sum(c) AS DOUBLE) END AS p_unseen,
           CASE WHEN count(*) FILTER (c = 1) = 0 THEN NULL
                ELSE 2.0 * CAST(count(*) FILTER (c = 2) AS DOUBLE)
                     / CAST(count(*) FILTER (c = 1) AS DOUBLE) END
             AS r_star_hapax
    FROM f
    """,
)
def q344_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing smoothing statistics over corpus trigrams: the
    frequency-of-frequencies table (how many trigram types occur once,
    twice, ...) collapsed to the two numbers LM smoothing actually
    consumes — the unseen-mass estimate P0 = N1/N (probability the NEXT
    trigram drawn is novel) and the Turing-discounted count for hapax
    types r* = 2*N2/N1. This is the corpus-coverage pre-flight for LM
    data prep: a high P0 says the corpus is far from saturating its
    trigram space and more data will keep paying. Scale: trigram
    extraction is a narrow per-row ``transform(sequence(...))`` (zero
    shuffle, scan bandwidth); the only shuffle is the trigram count,
    map-side combined and bounded by type count, and the
    frequency-of-frequencies collapse is conditional aggregation over
    that already-reduced frame — no second shuffle. Every output is a
    single division of exact BIGINTs. Reference has no text analytics
    (SURVEY §2.2)."""
    docs = load(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), " "), lambda x: x != F.lit(""))
    tris = (
        docs.select(toks.alias("toks"))
        .filter(F.size("toks") >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 2),"
                    " i -> concat_ws(' ', toks[i - 1], toks[i], toks[i + 1]))"
                )
            ).alias("tri")
        )
    )
    f = tris.groupBy("tri").agg(F.count(F.lit(1)).alias("c"))
    # coalesce the conditional sums to 0 so an empty corpus matches the
    # oracle's count(*) FILTER semantics (0, not NULL), and NULL-guard the
    # ratios so the zero-hapax / zero-trigram cases are NULL in BOTH
    # engines (DuckDB's ieee division would otherwise yield Infinity).
    n1 = F.coalesce(F.sum(F.when(F.col("c") == 1, 1).otherwise(0)), F.lit(0))
    n2 = F.coalesce(F.sum(F.when(F.col("c") == 2, 1).otherwise(0)), F.lit(0))
    n_tri = F.coalesce(F.sum("c"), F.lit(0))
    return f.agg(
        n_tri.cast("long").alias("n_trigrams"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        n1.cast("long").alias("n_hapax"),
        n2.cast("long").alias("n_dis"),
        F.when(n_tri > 0, n1.cast("double") / n_tri.cast("double"))
        .alias("p_unseen"),
        F.when(n1 > 0, F.lit(2.0) * n2.cast("double") / n1.cast("double"))
        .alias("r_star_hapax"),
    )


# ---------------------------------------------------------------------------
# Run-length compressibility profile (storage-layout audit)
# ---------------------------------------------------------------------------


@query(
    "q345_rle_profile",
    oracle="""
    WITH lagged AS (
      SELECT l_suppkey, l_returnflag, CAST(round(l_quantity) AS BIGINT) AS qty,
             lag(l_suppkey)    OVER w AS p_supp,
             lag(l_returnflag) OVER w AS p_flag,
             lag(CAST(round(l_quantity) AS BIGINT)) OVER w AS p_qty
      FROM lineitem
      WINDOW w AS (PARTITION BY l_orderkey
                   ORDER BY l_linenumber, l_suppkey, l_returnflag,
                            CAST(round(l_quantity) AS BIGINT))
    ), runs AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) FILTER (p_supp IS NULL OR l_suppkey <> p_supp)
               AS BIGINT) AS runs_suppkey,
             CAST(count(*) FILTER (p_flag IS NULL OR l_returnflag <> p_flag)
               AS BIGINT) AS runs_returnflag,
             CAST(count(*) FILTER (p_qty IS NULL OR qty <> p_qty)
               AS BIGINT) AS runs_quantity
      FROM lagged
    )
    SELECT col, n_rows, n_runs,
           CASE WHEN n_runs > 0
                THEN CAST(n_rows AS DOUBLE) / CAST(n_runs AS DOUBLE)
                END AS rle_ratio
    FROM (
      SELECT 'l_suppkey' AS col, n_rows, runs_suppkey AS n_runs FROM runs
      UNION ALL
      SELECT 'l_returnflag', n_rows, runs_returnflag FROM runs
      UNION ALL
      SELECT 'l_quantity', n_rows, runs_quantity FROM runs
    )
    """,
)
def q345_rle_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length compressibility profile: for each candidate column, how
    many value-runs survive under the table's natural write order
    (l_linenumber within l_orderkey) — rows/runs is exactly the average
    RLE run length a columnar encoder would achieve without re-sorting.
    Columns whose ratio is ~1 are encoding-hostile in this layout and
    are the candidates for sort-before-write (write_sized_parquet); a
    ratio near the group size means the layout is already optimal. Scale: ONE shuffle
    (the l_orderkey window — co-partitioned lag for all three columns in
    the same pass), then a global conditional count; the three-row
    unpivot happens on the one-row aggregate, not the fact table. All
    counts exact BIGINTs; the ratio is one double division. Reference
    has no storage analytics (SURVEY §2.2)."""
    from pyspark.sql import Window

    # (l_orderkey, l_linenumber) is not unique in the synthetic fixture, so
    # the compared columns join the ORDER BY to make the lag order total.
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_suppkey", "l_returnflag", "qty"
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_suppkey",
        "l_returnflag",
        # round() before the integer cast on BOTH sides: DuckDB's
        # numeric->int cast rounds half-away-from-zero while Spark's
        # truncates toward zero, so a fractional quantity would shift run
        # boundaries differently per engine without the explicit round.
        F.round("l_quantity").cast("long").alias("qty"),
    )
    lagged = li.select(
        "l_suppkey",
        "l_returnflag",
        "qty",
        F.lag("l_suppkey").over(w).alias("p_supp"),
        F.lag("l_returnflag").over(w).alias("p_flag"),
        F.lag("qty").over(w).alias("p_qty"),
    )

    def _runs(col: str, prev: str) -> F.Column:
        changed = F.col(prev).isNull() | (F.col(col) != F.col(prev))
        # coalesce to 0 so an empty lineitem matches the oracle's
        # count(*) FILTER semantics (0, not NULL)
        return F.coalesce(F.sum(changed.cast("long")), F.lit(0))

    runs = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        _runs("l_suppkey", "p_supp").alias("runs_suppkey"),
        _runs("l_returnflag", "p_flag").alias("runs_returnflag"),
        _runs("qty", "p_qty").alias("runs_quantity"),
    )
    stacked = runs.select(
        F.expr(
            "stack(3, 'l_suppkey', runs_suppkey, 'l_returnflag', runs_returnflag,"
            " 'l_quantity', runs_quantity) AS (col, n_runs)"
        ),
        "n_rows",
    )
    return stacked.select(
        "col",
        "n_rows",
        "n_runs",
        F.when(
            F.col("n_runs") > 0,
            F.col("n_rows").cast("double") / F.col("n_runs").cast("double"),
        ).alias("rle_ratio"),
    )
