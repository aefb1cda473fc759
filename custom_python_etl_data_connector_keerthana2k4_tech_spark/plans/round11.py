"""Round-11 additions: two tokenizer/calibration operators for the
LLM-data north star — isotonic (PAV) probability calibration expressed in
closed form so BOTH engines verify it exactly, and BPE merge-candidate
mining (the pair-counting step a byte-pair tokenizer runs each merge
iteration).

q292's oracle uses the minimax characterization of isotonic regression:
fit_i = max_{j<=i} min_{k>=i} wavg(y[j..k]) — pure window/join SQL over
the (group x bin) cell frame, so the calibration is exact on both
engines without a pool-adjacent-violators pass.

The reference has no ML, text, or statistics surface
(/root/reference/etl_connector.py:53-242, SURVEY §2.1-2.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.registry import query
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load

# ---------------------------------------------------------------------------
# Isotonic calibration in closed form (minimax over binned cells)
# ---------------------------------------------------------------------------


@query(
    "q292_isotonic_calibration",
    oracle="""
    WITH cells AS (
      SELECT CASE WHEN dayname(ts) IN ('Saturday', 'Sunday')
                  THEN 'weekend' ELSE 'weekday' END AS g,
             CAST(hour(ts) AS INT) AS x,
             count(*) AS w,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS wy
      FROM events GROUP BY 1, 2
    ), pre AS (
      SELECT g, x, w, wy,
             sum(w) OVER (PARTITION BY g ORDER BY x) AS cw,
             sum(wy) OVER (PARTITION BY g ORDER BY x) AS cwy
      FROM cells
    ), pairs AS (
      SELECT a.g, a.x AS jx, b.x AS kx,
             CAST(b.cwy - a.cwy + a.wy AS DOUBLE)
               / (b.cw - a.cw + a.w) AS avg_jk
      FROM pre a JOIN pre b ON a.g = b.g AND a.x <= b.x
    ), suff AS (
      SELECT g, jx, kx,
             min(avg_jk) OVER (PARTITION BY g, jx ORDER BY kx DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS suffmin
      FROM pairs
    ), fit AS (
      SELECT g, kx AS x, max(suffmin) AS iso_fit
      FROM suff GROUP BY 1, 2
    )
    SELECT c.g, c.x, CAST(c.w AS BIGINT) AS n,
           CAST(c.wy AS DOUBLE) / c.w AS raw_rate, f.iso_fit
    FROM cells c JOIN fit f ON c.g = f.g AND c.x = f.x
    """,
)
def q292_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration of hourly purchase propensity, weekend vs
    weekday: the non-decreasing function of hour closest (weighted L2) to
    the observed rates, via the minimax identity
    fit_i = max_{j<=i} min_{k>=i} wavg(y[j..k]). Scale strategy: the fact
    collapses FIRST to (group x 24-hour) cells — one shuffle — and the
    quadratic pair enumeration runs over that constant-bounded frame
    (<=300 pairs/group, an intentional broadcast nested loop), never over
    raw events. All intermediate sums are integers, so the final ratios
    are bit-identical on both engines. Reference has no statistics
    (SURVEY §2.2)."""
    ev = load(spark, sf_dir, "events")
    cells = (
        ev.groupBy(
            F.when(F.dayofweek("ts").isin(1, 7), "weekend")
            .otherwise("weekday")
            .alias("g"),
            F.hour("ts").cast("int").alias("x"),
        )
        .agg(
            F.count("*").alias("w"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("wy"),
        )
    )
    wseq = Window.partitionBy("g").orderBy("x")
    pre = cells.withColumn("cw", F.sum("w").over(wseq)).withColumn("cwy", F.sum("wy").over(wseq))
    a = pre.select(
        F.col("g"),
        F.col("x").alias("jx"),
        F.col("w").alias("w_j"),
        F.col("wy").alias("wy_j"),
        F.col("cw").alias("cw_j"),
        F.col("cwy").alias("cwy_j"),
    )
    b = pre.select(
        F.col("g").alias("g_b"),
        F.col("x").alias("kx"),
        F.col("cw").alias("cw_k"),
        F.col("cwy").alias("cwy_k"),
    )
    pairs = a.join(
        F.broadcast(b),
        (F.col("g") == F.col("g_b")) & (F.col("jx") <= F.col("kx")),
    ).select(
        "g",
        "jx",
        "kx",
        (
            (F.col("cwy_k") - F.col("cwy_j") + F.col("wy_j")).cast("double")
            / (F.col("cw_k") - F.col("cw_j") + F.col("w_j"))
        ).alias("avg_jk"),
    )
    wsuff = (
        Window.partitionBy("g", "jx")
        .orderBy(F.desc("kx"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    suff = pairs.withColumn("suffmin", F.min("avg_jk").over(wsuff))
    fit = suff.groupBy("g", F.col("kx").alias("x")).agg(F.max("suffmin").alias("iso_fit"))
    return cells.join(fit, ["g", "x"]).select(
        "g",
        "x",
        F.col("w").cast("long").alias("n"),
        (F.col("wy").cast("double") / F.col("w")).alias("raw_rate"),
        "iso_fit",
    )


# ---------------------------------------------------------------------------
# BPE merge-candidate mining (tokenizer-training pair counts)
# ---------------------------------------------------------------------------


@query(
    "q293_bpe_merge_candidates",
    oracle="""
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ), positions AS (
      SELECT w, unnest(generate_series(1, length(w) - 1)) AS i
      FROM words WHERE length(w) >= 2
    ), pairs AS (
      SELECT substr(w, i, 1) AS c1, substr(w, i + 1, 1) AS c2, count(*) AS cnt
      FROM positions GROUP BY 1, 2
    )
    SELECT c1, c2, cnt, CAST(rk AS INT) AS rk FROM (
      SELECT c1, c2, cnt,
             row_number() OVER (ORDER BY cnt DESC, c1 ASC, c2 ASC) AS rk
      FROM pairs
    ) WHERE rk <= 20
    """,
)
def q293_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-training inner loop: count adjacent character pairs
    across every word occurrence in the corpus and rank the top-20 merge
    candidates — exactly the statistic a byte-pair encoder maximizes each
    merge iteration. Scale strategy: the explode fans each word to
    len-1 single-character pairs but the aggregate collapses to the
    character-bigram vocabulary (alphabet^2-bounded), so the shuffle
    carries tiny keys; the global top-20 runs as orderBy().limit(20)
    (TakeOrderedAndProject: parallel per-partition top-k + heap merge,
    deterministic count-then-lexicographic tie-break) and only the
    20-ROW result gets its rank window. At 100 TB the same plan holds:
    pair counting is a map-side-combinable groupBy, never a global sort
    of raw positions. Reference has no text surface (SURVEY §2.2)."""
    words = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .filter(F.length("w") >= 2)
    )
    positions = words.select(
        "w", F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i")
    )
    pairs = (
        positions.select(
            F.expr("substr(w, i, 1)").alias("c1"),
            F.expr("substr(w, i + 1, 1)").alias("c2"),
        )
        .groupBy("c1", "c2")
        .agg(F.count("*").alias("cnt"))
    )
    top20 = pairs.orderBy(F.desc("cnt"), F.asc("c1"), F.asc("c2")).limit(20)
    ranked = top20.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("c1"), F.asc("c2"))),
    )
    return ranked.select("c1", "c2", "cnt", F.col("rk").cast("int").alias("rk"))
