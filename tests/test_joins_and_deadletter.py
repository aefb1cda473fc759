"""Dead-letter quarantine and multi-format scan coverage (SURVEY §2.3
source row: parquet/JSON/CSV)."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load


def _canon(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def test_dead_letter_quarantine(spark, tmp_path):
    """Invalid records (R7 failures) land in the quarantine table; valid
    records land in the target; counts partition the input."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.config import PipelineConfig
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.otx_fixture import raw_pulses_df
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.pipeline import run_batch

    # poison two records: NULL raw fails validation
    good = raw_pulses_df(spark).select(F.struct("*").alias("raw"))
    bad = good.limit(2).select(F.lit(None).cast(good.schema["raw"].dataType).alias("raw"))
    cfg = PipelineConfig(api_key="k", base_url="http://x", connector_name="t", city="")
    target = str(tmp_path / "t")
    quarantine = str(tmp_path / "q")
    metrics = run_batch(
        spark,
        good.unionByName(bad),
        cfg,
        target,
        run_ts=dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc),
        quarantine_path=quarantine,
    )
    assert metrics["records_skipped_invalid"] == 2
    assert spark.read.parquet(quarantine).count() == 2
    assert metrics["records_upserted"] == 8  # valid input rows
    # table rows < upserted rows: the fixture's duplicate pi-001 collapses
    # to one row (5 distinct keys + 2 NULL-key inserts)
    assert spark.read.parquet(target).count() == 7


def test_json_and_csv_scans_match_parquet(spark, sf_dir, tmp_path):
    """The engine reads the same relation identically from parquet, JSON
    lines, and CSV (SURVEY §2.3 source row) — schema applied on read, no
    inference drift."""
    nation = load(spark, sf_dir, "nation")
    jdir, cdir = str(tmp_path / "j"), str(tmp_path / "c")
    nation.write.mode("overwrite").json(jdir)
    nation.write.mode("overwrite").option("header", True).csv(cdir)

    schema = nation.schema
    from_json = spark.read.schema(schema).json(jdir)
    from_csv = spark.read.schema(schema).option("header", True).csv(cdir)
    assert _canon(from_json) == _canon(nation)
    assert _canon(from_csv) == _canon(nation)


def test_orc_scan_matches_parquet(spark, sf_dir, tmp_path):
    """ORC (the other built-in columnar format) roundtrips the same
    relation with predicate pushdown intact."""
    nation = load(spark, sf_dir, "nation")
    odir = str(tmp_path / "o")
    nation.write.mode("overwrite").orc(odir)
    from_orc = spark.read.schema(nation.schema).orc(odir)
    assert _canon(from_orc) == _canon(nation)
    plan = (
        from_orc.filter("n_nationkey = 3")
        .select("n_name")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "n_nationkey" in plan
