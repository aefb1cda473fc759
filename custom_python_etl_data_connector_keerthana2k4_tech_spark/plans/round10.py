"""Round-10 additions: evaluation & feature-engineering statistics a
training-data pipeline runs before and after a model release — corpus
readability profiling, leakage-free K-fold target encoding, per-source
Jensen-Shannon language drift, one-way ANOVA (computed from sufficient
statistics, no second pass), Kendall tau-b rank correlation of daily
series, McNemar's paired test, probability-calibration bins with Brier
score, and recommendation precision@k against a held-out window.

The reference computes no statistics of any kind — its only numeric
output is a processed-record counter (/root/reference/etl_connector.py:210,
226,231; SURVEY §2.1 R11). All eight queries are oracle-paired (DuckDB)
and auto-gated by tests/test_oracle.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.registry import query
from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.relational import DAVG, DSUM, davg, dsum
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load

# ---------------------------------------------------------------------------
# Corpus readability profile (Flesch-style, vowel-group syllable proxy)
# ---------------------------------------------------------------------------


@query(
    "q284_readability_profile",
    oracle=f"""
    WITH d AS (
      SELECT lang,
             length(regexp_extract_all(text, ' +')) + 1 AS words,
             length(regexp_extract_all(text, '[aeiou]+')) AS syllables
      FROM documents
    )
    SELECT lang,
           {DAVG('words')} AS avg_words,
           {DAVG('CAST(syllables AS DOUBLE) / words')} AS syll_per_word,
           {DAVG('206.835 - 1.015 * words '
                 '- 84.6 * (CAST(syllables AS DOUBLE) / words)')} AS flesch
    FROM d GROUP BY 1
    """,
)
def q284_readability_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language readability screen: mean words per document, vowel-group
    syllables per word, and a Flesch-reading-ease proxy (each fixture doc is
    one sentence — no terminal punctuation exists in the corpus). A
    pretraining mix uses this to drop unreadably dense shards. Scale: pure
    narrow map (two regexp counts) + one 5-group aggregate; no shuffle of
    text itself, only of the 3 per-doc integers. Decimal-accumulated
    averages (davg) keep both engines bit-identical. The reference has no
    text analysis (SURVEY §2.2)."""
    d = load(spark, sf_dir, "documents").select(
        "lang",
        (F.regexp_count(F.col("text"), F.lit(" +")) + F.lit(1)).alias("words"),
        F.regexp_count(F.col("text"), F.lit("[aeiou]+")).alias("syllables"),
    )
    spw = F.col("syllables").cast("double") / F.col("words")
    return d.groupBy("lang").agg(
        davg("words").alias("avg_words"),
        davg(spw).alias("syll_per_word"),
        davg(F.lit(206.835) - 1.015 * F.col("words") - 84.6 * spw).alias("flesch"),
    )


# ---------------------------------------------------------------------------
# Leakage-free K-fold target encoding
# ---------------------------------------------------------------------------


@query(
    "q285_target_encoding",
    oracle=f"""
    WITH base AS (
      SELECT c_mktsegment AS segment, o_custkey % 5 AS fold, o_totalprice
      FROM orders JOIN customer ON c_custkey = o_custkey
    ), per_fold AS (
      SELECT segment, fold, {DSUM('o_totalprice')} AS fold_sum,
             count(*) AS fold_cnt
      FROM base GROUP BY 1, 2
    ), per_seg AS (
      SELECT segment, {DSUM('o_totalprice')} AS seg_sum, count(*) AS seg_cnt
      FROM base GROUP BY 1
    )
    SELECT f.segment, f.fold,
           (s.seg_sum - f.fold_sum) / (s.seg_cnt - f.fold_cnt) AS encoded
    FROM per_fold f JOIN per_seg s ON f.segment = s.segment
    """,
)
def q285_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free K-fold target encoding of customer market segment
    against order value: rows in fold f are encoded with the segment mean
    computed EXCLUDING fold f (out-of-fold mean), the standard trick that
    prevents target leakage in gradient-boosted training sets. Scale: one
    fact-dim join (customer dim broadcast by AQE), one groupBy on
    (segment, fold) — 25 cells — and the per-segment totals join on the
    already-tiny aggregate; the encoding map then broadcasts back to tag
    the full fact at write time. Decimal sums (dsum) make the subtraction
    exact on both engines. Reference has no joins or aggregation
    (SURVEY §2.2)."""
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = (
        load(spark, sf_dir, "orders")
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_mktsegment").alias("segment"),
            (F.col("o_custkey") % 5).alias("fold"),
            "o_totalprice",
        )
    )
    per_fold = base.groupBy("segment", "fold").agg(
        dsum("o_totalprice").alias("fold_sum"), F.count("*").alias("fold_cnt")
    )
    per_seg = base.groupBy("segment").agg(
        dsum("o_totalprice").alias("seg_sum"), F.count("*").alias("seg_cnt")
    )
    return per_fold.join(F.broadcast(per_seg), "segment").select(
        "segment",
        "fold",
        (
            (F.col("seg_sum") - F.col("fold_sum")) / (F.col("seg_cnt") - F.col("fold_cnt"))
        ).alias("encoded"),
    )


# ---------------------------------------------------------------------------
# Per-source Jensen-Shannon divergence of the language mix
# ---------------------------------------------------------------------------


@query(
    "q286_js_divergence",
    oracle=f"""
    WITH sl AS (
      SELECT source, lang, count(*) AS n_sl FROM documents GROUP BY 1, 2
    ), s AS (
      SELECT source, count(*) AS n_s FROM documents GROUP BY 1
    ), l AS (
      SELECT lang, count(*) AS n_l FROM documents GROUP BY 1
    ), tot AS (
      SELECT count(*) AS n FROM documents
    ), grid AS (
      SELECT s.source, l.lang,
             COALESCE(sl.n_sl, 0) / CAST(s.n_s AS DOUBLE) AS p,
             l.n_l / CAST(tot.n AS DOUBLE) AS q
      FROM s CROSS JOIN l CROSS JOIN tot
      LEFT JOIN sl ON sl.source = s.source AND sl.lang = l.lang
    )
    SELECT source,
           {DSUM("0.5 * (CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2)) ELSE 0 END)"
                 " + 0.5 * (q * ln(q / ((p + q) / 2)))")} AS jsd
    FROM grid GROUP BY 1
    """,
)
def q286_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix drift per ingest source: Jensen-Shannon divergence
    between each source's language distribution and the corpus-wide
    distribution — the symmetric, bounded alternative to the KL screen
    (q179) that stays finite when a source is missing a language entirely.
    Scale: three narrow aggregates of the corpus (source x lang, source,
    lang), then a constant-size grid (#sources x #langs) built by crossing
    the two tiny margin frames — the cross is an intentional broadcast
    nested loop over dimension-bounded frames, never over documents.
    Decimal-accumulated sums fix the 5-term reduction order. Reference has
    no statistics (SURVEY §2.1 R11)."""
    docs = load(spark, sf_dir, "documents")
    sl = docs.groupBy("source", "lang").agg(F.count("*").alias("n_sl"))
    s = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    lang = docs.groupBy("lang").agg(F.count("*").alias("n_l"))
    tot = docs.agg(F.count("*").alias("n"))
    grid = (
        s.crossJoin(F.broadcast(lang))
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(sl), ["source", "lang"], "left")
        .select(
            "source",
            "lang",
            (F.coalesce(F.col("n_sl"), F.lit(0)) / F.col("n_s").cast("double")).alias("p"),
            (F.col("n_l") / F.col("n").cast("double")).alias("q"),
        )
    )
    m = (F.col("p") + F.col("q")) / 2
    term = 0.5 * F.when(F.col("p") > 0, F.col("p") * F.log(F.col("p") / m)).otherwise(
        F.lit(0.0)
    ) + 0.5 * (F.col("q") * F.log(F.col("q") / m))
    return grid.groupBy("source").agg(dsum(term).alias("jsd"))


# ---------------------------------------------------------------------------
# One-way ANOVA from sufficient statistics (single pass, no grand-mean join)
# ---------------------------------------------------------------------------


@query(
    "q287_anova_f",
    oracle=f"""
    WITH g AS (
      SELECT event_type,
             {DSUM('value')} AS s,
             {DSUM('value * value')} AS ss,
             count(*) AS n
      FROM events GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS k,
           CAST(sum(n) AS BIGINT) AS n_total,
           (({DSUM('s * s / n')} - {DSUM('s')} * {DSUM('s')} / sum(n))
              / (count(*) - 1))
             / (({DSUM('ss')} - {DSUM('s * s / n')}) / (sum(n) - count(*)))
             AS f_stat
    FROM g
    """,
)
def q287_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic for event value across event types,
    computed entirely from per-group sufficient statistics (sum, sum of
    squares, count) using the expansion SSB = sum(s_g^2/n_g) - S^2/N and
    SSW = sum(ss_g) - sum(s_g^2/n_g). One shuffle builds the 5-row group
    frame; the final reduction is a second aggregate of that frame — no
    grand-mean broadcast join, no second pass over the fact, which is the
    difference between one scan and two at 100 TB. Decimal accumulation
    keeps both engines exact. Reference has no statistics (SURVEY §2.2)."""
    g = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            dsum("value").alias("s"),
            dsum(F.col("value") * F.col("value")).alias("ss"),
            F.count("*").alias("n"),
        )
    )
    a = dsum(F.col("s") * F.col("s") / F.col("n"))
    big_s = dsum("s")
    n_tot = F.sum("n")
    k = F.count("*")
    ssb = a - big_s * big_s / n_tot
    ssw = dsum("ss") - a
    return g.agg(
        k.cast("long").alias("k"),
        n_tot.cast("long").alias("n_total"),
        ((ssb / (k - F.lit(1))) / (ssw / (n_tot - k))).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# Kendall tau-b rank correlation between two daily series
# ---------------------------------------------------------------------------


@query(
    "q288_kendall_tau_daily",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             count(*) AS n_orders,
             CAST(avg(o_totalprice) AS DOUBLE) AS avg_price
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY 1
    ), pairs AS (
      SELECT sign(CAST(a.n_orders - b.n_orders AS DOUBLE)) AS sx,
             sign(a.avg_price - b.avg_price) AS sy
      FROM d a JOIN d b ON a.day < b.day
    )
    SELECT CAST(sum(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS concordant,
           CAST(sum(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS discordant,
           (sum(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END)
              - sum(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END))
             / sqrt((count(*) - sum(CASE WHEN sx = 0 THEN 1 ELSE 0 END))
                    * (count(*) - sum(CASE WHEN sy = 0 THEN 1 ELSE 0 END)))
             AS tau_b
    FROM pairs
    """,
)
def q288_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between daily order volume and daily
    mean order value across 1996 — the tie-corrected, outlier-robust
    alternative to Pearson (q181) and Spearman (q238) for monotone
    association. Scale: the fact collapses to <=365 daily rows FIRST (one
    shuffle); the O(days^2) pair enumeration is an intentional broadcast
    nested loop over that constant-bounded daily frame (~66k pairs for a
    year) — never over raw orders, so the quadratic term is independent of
    corpus size. Reference has no statistics (SURVEY §2.2)."""
    d = (
        load(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01"))
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.count("*").alias("n_orders"),
            F.avg("o_totalprice").cast("double").alias("avg_price"),
        )
    )
    a = d.select(
        F.col("day").alias("day_a"),
        F.col("n_orders").alias("nx_a"),
        F.col("avg_price").alias("px_a"),
    )
    b = d.select(
        F.col("day").alias("day_b"),
        F.col("n_orders").alias("nx_b"),
        F.col("avg_price").alias("px_b"),
    )
    pairs = a.join(F.broadcast(b), F.col("day_a") < F.col("day_b")).select(
        F.signum((F.col("nx_a") - F.col("nx_b")).cast("double")).alias("sx"),
        F.signum(F.col("px_a") - F.col("px_b")).alias("sy"),
    )
    conc = F.sum(F.when(F.col("sx") * F.col("sy") > 0, 1).otherwise(0))
    disc = F.sum(F.when(F.col("sx") * F.col("sy") < 0, 1).otherwise(0))
    ties_x = F.sum(F.when(F.col("sx") == 0, 1).otherwise(0))
    ties_y = F.sum(F.when(F.col("sy") == 0, 1).otherwise(0))
    n = F.count("*")
    return pairs.agg(
        conc.cast("long").alias("concordant"),
        disc.cast("long").alias("discordant"),
        ((conc - disc) / F.sqrt((n - ties_x) * (n - ties_y))).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# McNemar's paired test: customer purchase behavior 1996 vs 1997
# ---------------------------------------------------------------------------


@query(
    "q289_mcnemar_paired",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             max(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01'
                       AND o_orderdate < TIMESTAMP '1997-01-01'
                      THEN 1 ELSE 0 END) AS y96,
             max(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
                       AND o_orderdate < TIMESTAMP '1998-01-01'
                      THEN 1 ELSE 0 END) AS y97
      FROM orders GROUP BY 1
    )
    SELECT CAST(sum(CASE WHEN y96 = 1 AND y97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS b,
           CAST(sum(CASE WHEN y96 = 0 AND y97 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS c,
           CAST(POWER(sum(CASE WHEN y96 = 1 AND y97 = 0 THEN 1 ELSE 0 END)
                      - sum(CASE WHEN y96 = 0 AND y97 = 1 THEN 1 ELSE 0 END), 2)
                AS DOUBLE)
             / (sum(CASE WHEN y96 = 1 AND y97 = 0 THEN 1 ELSE 0 END)
                + sum(CASE WHEN y96 = 0 AND y97 = 1 THEN 1 ELSE 0 END))
             AS mcnemar_chi2
    FROM per_cust
    """,
)
def q289_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on paired binary outcomes: did each customer order in
    1996 vs in 1997? The chi-square statistic (b-c)^2/(b+c) uses only the
    discordant cells — the paired-design A/B check that SRM (q222) and
    Welch (q130/q225) don't cover. Scale: one groupBy(custkey) with two
    conditional max's (map-side partial), then a single-row reduction; both
    year predicates push to the orders scan. Reference has no aggregation
    (SURVEY §2.2)."""
    in96 = (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    in97 = (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    per_cust = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max(F.when(in96, 1).otherwise(0)).alias("y96"),
            F.max(F.when(in97, 1).otherwise(0)).alias("y97"),
        )
    )
    b = F.sum(F.when((F.col("y96") == 1) & (F.col("y97") == 0), 1).otherwise(0))
    c = F.sum(F.when((F.col("y96") == 0) & (F.col("y97") == 1), 1).otherwise(0))
    return per_cust.agg(
        b.cast("long").alias("b"),
        c.cast("long").alias("c"),
        (F.pow((b - c).cast("double"), 2) / (b + c)).alias("mcnemar_chi2"),
    )


# ---------------------------------------------------------------------------
# Probability calibration bins + Brier score
# ---------------------------------------------------------------------------


@query(
    "q290_calibration_brier",
    oracle=f"""
    WITH scored AS (
      SELECT ((user_id * 2654435761) % 1000) / 1000.0 AS score,
             CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
      FROM events
    )
    SELECT CAST(floor(score * 10) AS INT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           {DAVG('score')} AS avg_pred,
           {DAVG('y')} AS obs_rate,
           {DAVG('(score - y) * (score - y)')} AS brier
    FROM scored GROUP BY 1
    """,
)
def q290_calibration_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-calibration audit: a deterministic Knuth-hash pseudo-score per
    user stands in for a model probability; events bin by predicted decile
    and each bin reports predicted-vs-observed purchase rate plus its Brier
    contribution — the reliability-diagram table that complements ROC AUC
    (q187) and decile lift (q168). Scale: pure narrow map (integer hash,
    two CASE columns) then a 10-group aggregate with map-side partials;
    nothing wide touches the raw events besides one shuffle of 4 small
    columns. Decimal averages keep engines exact. Reference has no
    statistics (SURVEY §2.2)."""
    score = (F.pmod(F.col("user_id") * F.lit(2654435761), F.lit(1000)) / 1000.0).alias("score")
    y = F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0).alias("y")
    scored = load(spark, sf_dir, "events").select(score, y)
    return scored.groupBy(F.floor(F.col("score") * 10).cast("int").alias("bin")).agg(
        F.count("*").cast("long").alias("n"),
        davg("score").alias("avg_pred"),
        davg("y").alias("obs_rate"),
        davg((F.col("score") - F.col("y")) * (F.col("score") - F.col("y"))).alias("brier"),
    )


# ---------------------------------------------------------------------------
# Recommendation precision@k against a held-out window
# ---------------------------------------------------------------------------


@query(
    "q291_precision_at_k",
    oracle="""
    WITH train AS (
      SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS item, count(*) AS cnt
      FROM events
      WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-21'
      GROUP BY 1
    ), topk AS (
      SELECT item FROM (
        SELECT item, row_number() OVER (ORDER BY cnt DESC, item ASC) AS rk
        FROM train
      ) WHERE rk <= 3
    ), test AS (
      SELECT DISTINCT user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS item
      FROM events
      WHERE event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-21'
    )
    SELECT t.user_id,
           CAST(sum(CASE WHEN k.item IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS hits,
           sum(CASE WHEN k.item IS NOT NULL THEN 1 ELSE 0 END) / 3.0
             AS precision_at_3
    FROM test t LEFT JOIN topk k ON t.item = k.item
    GROUP BY 1
    """,
)
def q291_precision_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline recommender evaluation: recommend the 3 globally
    most-purchased items from the first 20 days, then score precision@3
    per user against their distinct held-out purchases — the
    train/test-split evaluation loop every ranking pipeline runs. Scale:
    train popularity is one groupBy(item); the top-3 pick runs as
    orderBy().limit() — Spark's TakeOrderedAndProject, a parallel
    per-partition top-k + heap merge, never a global rank window over
    the item frame — and the 3-row list broadcasts into the held-out
    purchases (equi probe, no shuffle of the test fact beyond its own
    distinct); ties break deterministically by item id. Reference has
    no joins or windows (SURVEY §2.2)."""
    item = F.get_json_object(F.col("props"), "$.k").cast("long").alias("item")
    events = load(spark, sf_dir, "events")
    train = (
        events.filter((F.col("event_type") == "purchase") & (F.col("ts") < "2024-01-21"))
        .select(item)
        .groupBy("item")
        .agg(F.count("*").alias("cnt"))
    )
    topk = (
        train.orderBy(F.desc("cnt"), F.asc("item"))
        .limit(3)
        .select(F.col("item").alias("rec_item"))
    )
    test = (
        events.filter((F.col("event_type") == "purchase") & (F.col("ts") >= "2024-01-21"))
        .select("user_id", item)
        .distinct()
    )
    hits = F.sum(F.when(F.col("rec_item").isNotNull(), 1).otherwise(0))
    return (
        test.join(F.broadcast(topk), F.col("item") == F.col("rec_item"), "left")
        .groupBy("user_id")
        .agg(
            hits.cast("long").alias("hits"),
            (hits / 3.0).alias("precision_at_3"),
        )
    )
