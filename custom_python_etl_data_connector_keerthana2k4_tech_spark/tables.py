"""Fixture-table loaders (TESTDATA.md).

One place to read the driver-generated parquet tables so every query plan
starts from a pruned, pushdown-friendly parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Columns written as parquet TIMESTAMP(NANOS), which Spark cannot map to a
# Catalyst type directly (PARQUET_TYPE_ILLEGAL). We read them as raw nano
# longs (legacy conf) and convert to micros-precision timestamps — the same
# truncation DuckDB applies, so both engines see identical values.
_NANO_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; known: {TABLES}")
    # Pin UTC on whatever session the caller (e.g. the driver) hands us:
    # window bucketing, year()/date_format() and pandas rendering are all
    # session-TZ dependent and must match the UTC-naive DuckDB oracle.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Ship this package to the Python workers (mapInPandas/UDF closures
    # reference package modules; workers don't share the driver's sys.path).
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.session import ship_package

    ship_package(spark)
    nano_cols = _NANO_TS_COLS.get(name, ())
    if nano_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in nano_cols:
        if dict(df.dtypes).get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # Some driver-generated parquet stores timestamps as TIMESTAMP_NTZ.
    # The session TZ is pinned UTC above, so casting NTZ -> TIMESTAMP keeps
    # wall-clock values identical to DuckDB's naive-timestamp semantics while
    # restoring compatibility with TIMESTAMP-only functions (unix_micros,
    # window(), etc.).
    for c, dt in df.dtypes:
        if dt == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df
