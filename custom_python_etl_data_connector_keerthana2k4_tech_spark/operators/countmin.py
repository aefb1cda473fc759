"""Count-Min sketch (Cormode & Muthukrishnan 2005) as a reusable
operator family: cell construction and probe estimation.

The sketch is a fixed d x w grid of counters; every view of it here is a
``(rid, bucket, cell)`` DataFrame, which makes the two properties that
matter at 100 TB first-class:

- **mergeable**: sketches of shards/days/sources combine by cell-wise sum
  (one metadata-sized groupBy), so frequency monitoring never needs the
  exact token-grain state;
- **one-sided**: estimates only over-count (min over d rows of colliding
  mass), so screening decisions made on the sketch are conservative.

Token hash = the engine's polynomial rolling fingerprint (functions/
text.py) with affine row permutations mod 1e9+7 — identical in DuckDB,
which is how q356 keeps the whole construction oracle-paired.

The reference has no aggregation surface at all (complete operator
inventory: /root/reference/etl_connector.py:53-242, SURVEY §2.1-2.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions.text import rolling_fingerprint

CM_P = 1_000_000_007
CM_W = 256
CM_ROWS = ((1_103_515_245, 12_345), (214_013, 2_531_011), (69_069, 362_437))


def _with_buckets(df: DataFrame, token_col: str) -> DataFrame:
    """Add ``rid``/``bucket`` long-form rows for every sketch row hash."""
    t = df.withColumn("__rh", rolling_fingerprint(token_col))
    exprs = [
        (((F.lit(a).cast("long") * F.col("__rh") + F.lit(b)) % CM_P) % CM_W).alias(
            f"__b{i}"
        )
        for i, (a, b) in enumerate(CM_ROWS)
    ]
    stacked = "stack({n}, {args}) as (rid, bucket)".format(
        n=len(CM_ROWS), args=", ".join(f"{i}, __b{i}" for i in range(len(CM_ROWS)))
    )
    return t.select(*df.columns, *exprs).select(*df.columns, F.expr(stacked))


def cm_cells(occurrences: DataFrame, token_col: str = "token") -> DataFrame:
    """Sketch cells ``(rid, bucket, cell)`` from a token-occurrence frame
    (one row per occurrence). Map-side-combinable: the only shuffle is
    the token count and the d x w cell aggregation."""
    counts = occurrences.groupBy(token_col).agg(F.count(F.lit(1)).alias("__cnt"))
    return (
        _with_buckets(counts, token_col)
        .groupBy("rid", "bucket")
        .agg(F.sum("__cnt").cast("long").alias("cell"))
    )


def cm_estimate(
    cells: DataFrame, probes: DataFrame, token_col: str = "token"
) -> DataFrame:
    """Estimated count per probe token: min over rows of its bucket's
    cell. The cells frame is d x w rows at most — broadcast."""
    lf = _with_buckets(probes.select(token_col).distinct(), token_col)
    return (
        lf.join(F.broadcast(cells), ["rid", "bucket"], "left")
        .groupBy(token_col)
        .agg(F.min(F.coalesce(F.col("cell"), F.lit(0))).cast("long").alias("est_cnt"))
    )
