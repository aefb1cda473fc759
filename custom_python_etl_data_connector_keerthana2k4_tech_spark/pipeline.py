"""The reference pipeline, Spark-first (SURVEY §2.1 R6, R7, R13; §2.1a).

Reference behavior reproduced (citations into /root/reference/etl_connector.py):

- ``transform_pulses``  = ``transform_pulse``  (:130-164), as one ``select``
- ``validate``          = ``validate_document`` (:194-203), as one ``filter``
- ``invalid_records``   = the records the reference logs-and-skips (:221-223),
  surfaced as a dead-letter DataFrame instead of log lines
- ``run_batch``         = ``main`` (:206-239): read -> transform -> validate ->
  keyed upsert, as a single lazy DataFrame chain. Batching (:229-232) is
  implicit in Spark's per-partition writers; the run counter (:210,226) is the
  returned metrics dict. It is the only such chain: the streaming connectors
  (streaming.run_pulse_stream, run_pulse_stream_rest) run it per micro-batch.

Semantic divergences (documented per SURVEY §2.1a / §7 hard parts):
- The reference coalesces ``pulse_id`` with Python ``or`` (falsy: "" and 0
  also fall through, :156-158). The engine standardizes on SQL NULL-coalesce
  but maps empty-string ids to NULL first, matching the falsy behavior for
  the string case.
- ``datetime.utcnow()`` (:138) becomes a pinned per-run timestamp literal so
  runs are deterministic and testable.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.config import PipelineConfig
from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.upsert import (
    dedup_last_write_wins,
    upsert_parquet,
)

#: Output columns of the transformed document, exactly the dict shape built at
#: etl_connector.py:137-164 (FIXTURES.md §1.2).
TRANSFORMED_COLUMNS = (
    "ingestion_timestamp",
    "connector_name",
    "source",
    "source_base_url",
    "source_city",
    "raw",
    "pulse_name",
    "pulse_id",
    "pulse_created",
    "pulse_modified",
    "indicator_count",
)


def _empty_to_null(col: Column) -> Column:
    """Reference falsy-coalesce corner ("" is falsy, etl_connector.py:158)."""
    return F.when(col != F.lit(""), col)


def transform_pulses(
    raw_df: DataFrame,
    cfg: PipelineConfig,
    run_ts: _dt.datetime | None = None,
) -> DataFrame:
    """Per-record projection + enrichment (R6, etl_connector.py:130-164).

    ``raw_df`` holds one pulse per row with the open-content payload in a
    ``raw`` struct column (or as top-level columns which are packed first).
    Pure, narrow, whole-stage-codegen friendly: one ``select``, no UDFs.
    """
    if "raw" not in raw_df.columns:
        raw_df = raw_df.select(F.struct(*raw_df.columns).alias("raw"))

    ts = F.lit(run_ts) if run_ts is not None else F.current_timestamp()
    raw_fields = {f.name for f in raw_df.schema["raw"].dataType.fields}

    def raw_col(path: str) -> Column:
        # Null-safe nested access: missing struct -> NULL reproduces the
        # reference's `if pulse_info:` guard (etl_connector.py:148-149).
        head = path.split(".", 1)[0]
        if head not in raw_fields:
            return F.lit(None).cast("string")
        return F.col(f"raw.{path}")

    indicator_count = (
        F.col("raw.indicator_count").cast("long")
        if "indicator_count" in raw_fields
        else F.lit(None).cast("long")
    )

    return raw_df.select(
        ts.alias("ingestion_timestamp"),  # :138
        F.lit(cfg.connector_name).alias("connector_name"),  # :139
        F.lit(cfg.source).alias("source"),  # :140
        F.lit(cfg.base_url).alias("source_base_url"),  # :141
        F.lit(cfg.city or None).cast("string").alias("source_city"),  # :142 (""->NULL)
        F.col("raw"),  # :143 payload preserved whole
        raw_col("pulse_info.name").alias("pulse_name"),  # :150
        F.coalesce(
            _empty_to_null(raw_col("pulse_info.id")),
            _empty_to_null(raw_col("id")),
        ).alias("pulse_id"),  # :151,:156-158 falsy-coalesce for strings
        raw_col("pulse_info.created").alias("pulse_created"),  # :153
        raw_col("pulse_info.modified").alias("pulse_modified"),  # :154
        indicator_count.alias("indicator_count"),  # :161-162
    )


def valid_predicate() -> Column:
    """R7 validation predicate (etl_connector.py:194-203): required fields
    ``ingestion_timestamp`` and ``raw`` must be present/non-null."""
    return F.col("ingestion_timestamp").isNotNull() & F.col("raw").isNotNull()


def validate(df: DataFrame) -> DataFrame:
    """Keep only valid documents (applied at etl_connector.py:221-223)."""
    return df.filter(valid_predicate())


def invalid_records(df: DataFrame) -> DataFrame:
    """Dead-letter frame: the records the reference logs and skips
    (etl_connector.py:199-202, 221-223)."""
    return df.filter(~valid_predicate())


def run_batch(
    spark: SparkSession,
    raw_df: DataFrame,
    cfg: PipelineConfig,
    target_path: str,
    run_ts: _dt.datetime | None = None,
    quarantine_path: str | None = None,
) -> dict:
    """One pipeline run (R13, etl_connector.py:206-239): transform ->
    validate -> keyed idempotent upsert into a parquet table.

    Returns run accounting (R11, :210,226,231,237,239) as a metrics dict.
    Re-running with the same input converges (idempotence via the keyed
    upsert, :181) — the golden test asserts run(run(x)) == run(x).

    With ``quarantine_path`` set, records failing validation are appended
    there instead of only being counted — the dead-letter upgrade of the
    reference's log-and-skip (:199-202, 221-223): at scale you audit and
    replay skipped records, you don't grep logs for them.

    Run accounting uses ``DataFrame.observe``: the counters ride the
    upsert write's own execution instead of costing two extra count()
    passes over the transformed frame — at 100 TB those free-rider
    metrics are the difference between one scan and three. (The reference
    pays its counter per record in the same loop that writes,
    etl_connector.py:226 — observe is the distributed equivalent.)
    """
    transformed = transform_pulses(raw_df, cfg, run_ts=run_ts)
    obs = Observation("run_accounting")
    observed = transformed.observe(
        obs,
        F.count(F.lit(1)).alias("n_total"),
        F.sum(valid_predicate().cast("long")).alias("n_valid"),
    )
    # Within-run collapse first. The reference loops the batch and
    # replace_one's each record, so whichever duplicate its iterator
    # happens to visit last lands (etl_connector.py:176-181) — loop
    # position is not a well-defined concept once the batch is a shuffled
    # distributed frame, so the engine pins a deterministic,
    # order-independent tie-break instead (SURVEY §7 hard part (a)):
    # record recency (``pulse_modified``) wins within a run, and exact
    # duplicates fall back to source position (monotonically_increasing_id
    # = (partitionId << 33) + offset — source order for page-range REST
    # partitions and file splits). Collapsing before the upsert keeps the
    # position column out of the table schema.
    pos = "_src_pos"
    valid = (
        observed.filter(valid_predicate())
        .withColumn(pos, F.monotonically_increasing_id())
    )
    valid = dedup_last_write_wins(
        valid, "pulse_id", ["ingestion_timestamp", "pulse_modified", pos]
    ).drop(pos)
    upsert_parquet(
        spark,
        valid,
        target_path,
        key="pulse_id",
        order_by=["ingestion_timestamp"],
    )
    metrics = obs.get
    n_total = int(metrics["n_total"])
    n_valid = int(metrics["n_valid"] or 0)
    if quarantine_path is not None and n_total > n_valid:
        invalid_records(transformed).write.mode("append").parquet(quarantine_path)
    return {
        "records_seen": n_total,
        "records_upserted": n_valid,
        "records_skipped_invalid": n_total - n_valid,
    }
