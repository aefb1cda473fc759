"""Count-Min operator family (operators/countmin.py): the one-sided
guarantee end-to-end."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions import text as TXT
from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.countmin import (
    cm_cells,
    cm_estimate,
)
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load


@pytest.fixture(scope="module")
def occurrences(spark, sf_dir):
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(TXT.words("text")).alias("token"))
    )


def test_cm_estimate_one_sided(spark, occurrences):
    cells = cm_cells(occurrences)
    true = occurrences.groupBy("token").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = {r.token: r.est_cnt for r in cm_estimate(cells, true).collect()}
    for r in true.collect():
        assert est[r.token] >= r.true_cnt


def test_cm_estimate_unknown_token_is_bounded_by_collisions(spark, occurrences):
    """A token never inserted gets only colliding mass (>= 0, finite) —
    and a token with a collision-free row gets exactly 0."""
    cells = cm_cells(occurrences)
    probe = occurrences.sparkSession.createDataFrame(
        [("zzz-never-seen-token-qq",)], "token string"
    )
    est = cm_estimate(cells, probe).collect()[0]
    assert est.est_cnt >= 0
