"""Round-27 additions: graph link prediction, sketch set algebra, and
incremental view maintenance in the query surface.

- q367 Adamic-Adar link prediction over the co-purchase graph: scores
  non-adjacent part pairs by shared-neighbor evidence — the classic
  "customers who bought X also bought Y" candidate generator;
- q368 HLL set algebra: per source-pair union/intersection distinct-count
  estimates from MERGED register tables (inclusion-exclusion), with the
  exact counts riding along as audit — the sketch-only way to size
  cross-corpus overlap at 100 TB;
- q369 incremental view refresh: a grouped count/sum view maintained from
  a change feed alone (operators/ivm.py); the ORACLE is the full rebuild,
  so value equality proves the delta algebra end to end.

The reference computes none of this (complete operator surface:
/root/reference/etl_connector.py:53-242; SURVEY §2.1-2.2). All three are
oracle-paired (DuckDB) and auto-gated by tests/test_oracle.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions import text as TXT
from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.hll import (
    HLL_ALPHA_MM,
    HLL_BUCKET_BITS,
    HLL_M,
    HLL_W,
    _SHIFT,
    hll_estimate,
    hll_registers,
    sql_rho,
)
from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.registry import query
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load

# ---------------------------------------------------------------------------
# q367: Adamic-Adar link prediction over the co-purchase graph
# ---------------------------------------------------------------------------

_AA_TOPK = 50
_AA_MAX_MID = 1000  # skip super-hub middles: O(deg^2) wedge guard at scale


@query(
    "q367_link_prediction",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ), und AS (
      SELECT u, v FROM e UNION ALL SELECT v, u FROM e
    ), deg AS (
      SELECT u AS node, count(*) AS d FROM und GROUP BY 1
    ), wedges AS (
      SELECT w1.v AS a, w2.v AS b, w1.u AS mid
      FROM und w1 JOIN und w2 ON w1.u = w2.u AND w1.v < w2.v
      JOIN deg ON deg.node = w1.u AND deg.d <= {_AA_MAX_MID}
    ), nonadj AS (
      SELECT wedges.a, wedges.b, wedges.mid
      FROM wedges ANTI JOIN e ON e.u = wedges.a AND e.v = wedges.b
    ), scored AS (
      SELECT a, b,
             CAST(count(*) AS BIGINT) AS n_common,
             sum(1.0 / ln(CAST(deg.d AS DOUBLE))) AS adamic_adar
      FROM nonadj JOIN deg ON deg.node = nonadj.mid
      GROUP BY 1, 2
    )
    SELECT a AS part_a, b AS part_b, n_common, adamic_adar
    FROM scored
    ORDER BY n_common DESC, a, b
    LIMIT {_AA_TOPK}
    """,
)
def q367_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the co-purchase graph: score every
    NON-adjacent part pair by its shared neighbors, down-weighting hub
    middles by 1/ln(degree) — the classic collaborative-filtering
    candidate generator ("bought together with the same things, never yet
    together"). Ranking key is the exact integer common-neighbor count
    (deterministic cross-engine; the float Adamic-Adar rides along as a
    value column), top-{k} via sort-limit (TakeOrderedAndProject — no
    single-partition window). Scale: wedges enumerate per middle node and
    explode with deg^2, so middles above {cap} neighbors are excluded —
    exactly the hub cut production link predictors apply (hubs carry
    ~zero Adamic-Adar weight anyway); the edge frame is the shared
    PERSISTED basket expansion. Reference has no graph surface
    (SURVEY §2.2)."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.extensions import (
        copurchase_edges,
        copurchase_und_edges,
    )

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    und = copurchase_und_edges(li)
    oriented = copurchase_edges(li).select(
        F.col("u").alias("a"), F.col("v").alias("b")
    )

    # Wedge enumeration WITHOUT a self-join: one shuffle groups each
    # middle's (distinct, sorted) neighbor list (degree = array size, no
    # separate groupBy); the a<b pairs explode JVM-side inside the task
    # PRE-PACKED into one BIGINT key (a*2^32 + b — monotone in (a, b),
    # so count DESC, key ASC is the same ranking). TWO-PHASE scoring
    # keeps the ~100M-key hot aggregate as narrow as possible: phase 1
    # counts wedges per packed key ONLY (a bare 8-byte key + count — no
    # float column riding every wedge), anti-joins the adjacency on the
    # SAME pk partitioning the aggregate just produced (a shuffled
    # left-anti: the edge set is O(E), not constant, so broadcasting it
    # would be a multi-GB driver broadcast at 100x scale — only the
    # small edge side reshuffles), and takes the top-k via sort-limit;
    # phase 2 recomputes
    # the 1/ln(degree) Adamic-Adar weights for just the {k} winners by
    # intersecting their (tiny, broadcast-joined) neighbor arrays.
    # Degree-threshold top-k pruning does NOT apply here: the measured
    # graph has top-50 n_common ~10 with every degree above it; exact
    # counting of every candidate pair is the honest cost, so the plan
    # optimizes constants (packed keys, one narrow shuffle, broadcast
    # anti, O(k) rescoring).
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.extensions import materialize_once

    nbrs = materialize_once(
        und.groupBy("u")
        .agg(F.sort_array(F.collect_set("v")).alias("ns"))
        .withColumn("d", F.size("ns").cast("long"))
    )
    packed = nbrs.filter(F.col("d") <= _AA_MAX_MID).select(
        F.explode(
            F.expr(
                """
                flatten(transform(ns, (x, i) ->
                  transform(slice(ns, i + 2, size(ns)),
                            y -> x * 4294967296L + y)))
                """
            )
        ).alias("pk"),
    )
    oriented_pk = oriented.select(
        (F.col("a") * F.lit(4294967296).cast("long") + F.col("b")).alias("pk")
    )
    top = (
        packed.groupBy("pk")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        .join(oriented_pk.hint("shuffle_hash"), "pk", "left_anti")
        .orderBy(F.desc("n_common"), "pk")
        .limit(_AA_TOPK)
        .select(
            F.expr("pk div 4294967296").alias("a"),
            F.expr("pk % 4294967296").alias("b"),
            "n_common",
        )
    )
    # Phase 2: Adamic-Adar for the k winners only. Broadcast the k-row
    # frame through both neighbor-list joins, intersect the sorted
    # arrays, and weight each shared middle under the degree cap.
    with_a = nbrs.select(F.col("u").alias("a"), F.col("ns").alias("ns_a")).join(
        F.broadcast(top), "a"
    )
    with_b = nbrs.select(F.col("u").alias("b"), F.col("ns").alias("ns_b")).join(
        F.broadcast(with_a), "b"
    )
    mids = with_b.select(
        "a", "b", "n_common",
        F.explode(F.array_intersect("ns_a", "ns_b")).alias("mid"),
    )
    # mids is bounded by top-k pairs x the degree cap (<= k*cap rows), so
    # IT is the broadcast side; the O(V) degree frame streams through the
    # probe instead of being broadcast (a node-count-sized broadcast would
    # not survive a 100x scale-up any better than the edge one above).
    return (
        F.broadcast(mids)
        .join(nbrs.select(F.col("u").alias("mid"), "d"), "mid")
        .filter(F.col("d") <= _AA_MAX_MID)
        .groupBy("a", "b", "n_common")
        .agg(
            F.sum(F.lit(1.0) / F.log(F.col("d").cast("double"))).alias(
                "adamic_adar"
            )
        )
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            "n_common",
            "adamic_adar",
        )
        .orderBy(F.desc("n_common"), "part_a", "part_b")
    )


# ---------------------------------------------------------------------------
# q368: HLL set algebra across source vocabularies
# ---------------------------------------------------------------------------

_H68 = f"{TXT.sql_rolling_fingerprint('md5(w)')}"


def _sql_hll_est(regs_cte: str, groups: str) -> str:
    """Estimate CTE chain over a register CTE named ``regs_cte`` keyed by
    ``groups`` — the q359 formula, reused for arbitrary group keys."""
    return f"""
      SELECT {groups}, CASE WHEN raw <= {2.5 * HLL_M!r} AND n_zero > 0
                  THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / n_zero)
                  ELSE raw END AS n_est
      FROM (
        SELECT {groups},
               {HLL_M} - count(*) AS n_zero,
               {HLL_ALPHA_MM!r} / (CAST(
                 sum(CAST(1 AS BIGINT) << ({_SHIFT} - reg))
                 + ({HLL_M} - count(*)) * (CAST(1 AS BIGINT) << {_SHIFT})
               AS DOUBLE) / {float(1 << _SHIFT)!r}) AS raw
        FROM {regs_cte} GROUP BY {groups}
      )
    """


@query(
    "q368_hll_set_algebra",
    oracle=f"""
    WITH h AS (
      SELECT source, {_H68} AS h
      FROM (SELECT source, unnest({TXT.sql_words('text')}) AS w FROM documents)
    ), regs AS (
      SELECT source, h & {HLL_M - 1} AS bucket,
             max({sql_rho(f'(h >> {HLL_BUCKET_BITS}) & {(1 << HLL_W) - 1}')})
               AS reg
      FROM h GROUP BY 1, 2
    ), pairs AS (
      SELECT a.source AS source_a, b.source AS source_b
      FROM (SELECT DISTINCT source FROM regs) a
      JOIN (SELECT DISTINCT source FROM regs) b ON a.source < b.source
    ), uregs AS (
      SELECT source_a, source_b, bucket, max(reg) AS reg FROM (
        SELECT p.source_a, p.source_b, r.bucket, r.reg
        FROM pairs p JOIN regs r ON r.source = p.source_a
        UNION ALL
        SELECT p.source_a, p.source_b, r.bucket, r.reg
        FROM pairs p JOIN regs r ON r.source = p.source_b
      ) GROUP BY 1, 2, 3
    ), est_s AS (
      {_sql_hll_est('regs', 'source')}
    ), est_u AS (
      {_sql_hll_est('uregs', 'source_a, source_b')}
    ), exact AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(DISTINCT CASE WHEN a.w = b.w THEN a.w END) AS BIGINT)
               AS x_intersect
      FROM (SELECT DISTINCT source, unnest({TXT.sql_words('text')}) AS w
            FROM documents) a
      JOIN (SELECT DISTINCT source, unnest({TXT.sql_words('text')}) AS w
            FROM documents) b
        ON a.source < b.source AND a.w = b.w
      GROUP BY 1, 2
    )
    SELECT p.source_a, p.source_b,
           ea.n_est AS est_a, eb.n_est AS est_b,
           eu.n_est AS est_union,
           ea.n_est + eb.n_est - eu.n_est AS est_intersect,
           coalesce(exact.x_intersect, 0) AS exact_intersect
    FROM pairs p
    JOIN est_s ea ON ea.source = p.source_a
    JOIN est_s eb ON eb.source = p.source_b
    JOIN est_u eu ON eu.source_a = p.source_a AND eu.source_b = p.source_b
    LEFT JOIN exact ON exact.source_a = p.source_a
                   AND exact.source_b = p.source_b
    """,
)
def q368_hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch set algebra: per source pair, the HLL estimates of each
    vocabulary, of their UNION (elementwise max-merge of the register
    tables — the merge HLL exists for), and of their INTERSECTION by
    inclusion-exclusion, with the exact intersection as audit. This is
    how cross-corpus overlap is sized at 100 TB: per-source registers are
    constant-size state accumulated shard by shard, and every pairwise
    question afterwards is algebra on 128-row tables — no word-grain join ever runs (the exact audit here
    does run one, at fixture scale, precisely to measure the estimator).
    Every register/merge/power-sum step is integer-exact, so the whole
    construction is oracle-paired bitwise like q359. Reference has no
    aggregation surface (SURVEY §2.1)."""
    d = load(spark, sf_dir, "documents")
    words = d.select("source", F.explode(TXT.words("text")).alias("w"))
    regs = hll_registers(words, "w", ["source"]).persist()
    est_s = hll_estimate(regs, ["source"])
    sources = regs.select("source").distinct()
    pairs = (
        sources.select(F.col("source").alias("source_a"))
        .join(
            sources.select(F.col("source").alias("source_b")),
            F.col("source_a") < F.col("source_b"),
        )
    )
    u1 = pairs.join(regs, F.col("source") == F.col("source_a")).select(
        "source_a", "source_b", "bucket", "reg"
    )
    u2 = pairs.join(regs, F.col("source") == F.col("source_b")).select(
        "source_a", "source_b", "bucket", "reg"
    )
    uregs = (
        u1.unionByName(u2)
        .groupBy("source_a", "source_b", "bucket")
        .agg(F.max("reg").cast("int").alias("reg"))
    )
    est_u = hll_estimate(uregs, ["source_a", "source_b"]).withColumnRenamed(
        "n_est", "est_union"
    )
    dv = words.distinct()
    exact = (
        dv.select(F.col("source").alias("source_a"), "w")
        .join(dv.select(F.col("source").alias("source_b"), "w"), "w")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_intersect"))
    )
    ea = est_s.select(
        F.col("source").alias("source_a"), F.col("n_est").alias("est_a")
    )
    eb = est_s.select(
        F.col("source").alias("source_b"), F.col("n_est").alias("est_b")
    )
    return (
        pairs.join(ea, "source_a")
        .join(eb, "source_b")
        .join(est_u, ["source_a", "source_b"])
        .join(exact, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "est_a",
            "est_b",
            "est_union",
            (F.col("est_a") + F.col("est_b") - F.col("est_union")).alias(
                "est_intersect"
            ),
            F.coalesce("exact_intersect", F.lit(0)).alias("exact_intersect"),
        )
    )


# ---------------------------------------------------------------------------
# q369: incremental view refresh (delta algebra vs full rebuild)
# ---------------------------------------------------------------------------


@query(
    "q369_incremental_view_refresh",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    WHERE event_id % 5 <> 0
    GROUP BY event_type
    """,
)
def q369_incremental_view_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance under the oracle gate: the engine
    builds the grouped count/sum view on an OLD snapshot (events minus
    the %7 rows), then refreshes it to the NEW snapshot (events minus the
    %5 rows — inserts AND deletes) purely from the table_diff_wide change
    feed (operators/ivm.py: signed delta contributions, one delta-sized
    shuffle, no base rescan). The ORACLE computes the full rebuild on the
    new snapshot — value equality proves the delta algebra exactly
    (integer metrics keep it bit-stable). This is the refresh path a
    100 TB materialized view runs per CDC batch. Reference recomputes
    everything per run (SURVEY §2.1 R13)."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.diff import table_diff_wide
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.ivm import (
        group_agg_view,
        incremental_group_agg,
    )

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    old = ev.filter(F.col("event_id") % 7 != 0)
    new = ev.filter(F.col("event_id") % 5 != 0)
    prev = group_agg_view(old, ["event_type"], ["cents"])
    feed = table_diff_wide(old, new, ["event_id"])
    return incremental_group_agg(prev, feed, ["event_type"], ["cents"]).select(
        "event_type", "n_rows", F.col("cents").cast("long").alias("cents")
    )
