"""Round-5 ADVICE regressions:

1. every public vector-search entry point answers an EMPTY queries
   frame with an empty result, never an opaque error (ADVICE r4 #1);
2. ``with_code_cols`` / store ``attr_cols`` survive reserved-word and
   special-character column names (selectExpr backtick quoting, #4);
3. a crashed maintenance verb's orphaned generation / tmp dirs are swept
   by the next maintenance call (#3);
4. the versioned vacuum grace window keys off the TREE max mtime, so a
   long-running partitioned write whose top-level dir went stale is not
   swept mid-write (#2).
"""

from __future__ import annotations

import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pq import (
    exact_l2_topk,
    ivfpq_topk,
    pq_fit_codebook,
    pq_topk,
    with_code_cols,
)
from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pq_store import IVFPQStore
from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.similarity import matryoshka_topk
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# -- 1: empty query frames -> descriptive error ------------------------------


@pytest.mark.slow
def test_empty_queries_return_empty_results(spark, sf_dir, tmp_path):
    """An empty query TABLE is a valid input: every entry point answers
    it with an empty result of its usual columns, never an error."""
    e = load(spark, sf_dir, "embeddings")
    empty = e.filter(F.col("vec_id") < 0)
    store = IVFPQStore.build(
        spark, e, "vec_id", "embedding", str(tmp_path / "ix"), km_iters=1
    )
    for df, cols in [
        (pq_topk(e, empty, "vec_id", "embedding"),
         ["query_id", "neighbor_id", "rank", "adc_dist", "exact_dist"]),
        (exact_l2_topk(e, empty, "vec_id", "embedding"),
         ["query_id", "neighbor_id", "rank", "exact_dist"]),
        (ivfpq_topk(e, empty, "vec_id", "embedding", km_iters=1),
         ["query_id", "neighbor_id", "cluster", "rank", "adc_dist", "exact_dist"]),
        (matryoshka_topk(e, empty, "vec_id", "embedding"),
         ["query_id", "neighbor_id", "rank", "head_dist", "exact_dist"]),
        (store.query(empty),
         ["query_id", "neighbor_id", "cluster", "rank", "adc_dist"]),
    ]:
        assert df.columns == cols
        assert df.collect() == []


# -- 2: reserved-word / special-char passthrough columns ---------------------


def test_with_code_cols_quotes_passthrough_names(spark, sf_dir):
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions.vectors import quantize

    e = load(spark, sf_dir, "embeddings").limit(50)
    cb = pq_fit_codebook(e, "vec_id", "embedding", 4, 4)
    base = e.select(
        F.col("vec_id").alias("neighbor_id"),
        quantize("embedding").alias("qv"),
        F.col("label").alias("order"),        # SQL reserved word
        F.col("label").alias("my label"),     # space
        F.col("label").alias("weird`tick"),   # embedded backtick
    )
    coded = with_code_cols(base, cb, 4, len(cb[0][0]))
    assert set(coded.columns) == {
        "neighbor_id", "qv", "order", "my label", "weird`tick",
        "c0", "c1", "c2", "c3",
    }
    assert coded.count() == 50


def test_store_attr_cols_reserved_word(spark, sf_dir, tmp_path):
    e = load(spark, sf_dir, "embeddings").withColumn(
        "order", F.col("label")
    )
    store = IVFPQStore.build(
        spark, e, "vec_id", "embedding", str(tmp_path / "ix"),
        km_iters=1, attr_cols=["order"],
    )
    got = store.query(
        e.filter(F.col("vec_id") < 2), nprobe=2, topk=5, where="`order` >= 0"
    )
    assert got.count() > 0


# -- 3: orphaned generations / tmp dirs are swept by maintenance -------------


def test_maintenance_sweeps_orphaned_data_dirs(spark, sf_dir, tmp_path):
    e = load(spark, sf_dir, "embeddings")
    root = str(tmp_path / "ix")
    store = IVFPQStore.build(spark, e, "vec_id", "embedding", root, km_iters=1)
    before = _rows(store.query(e.filter(F.col("vec_id") < 2), topk=5))

    # simulate crashed verbs: an orphaned old generation (pointer already
    # advanced past it) and stale upsert/delete tmp dirs
    for stray in ["data-00000099", "data.upsert", "data-00000001.delete"]:
        os.makedirs(os.path.join(root, stray, "cluster=0"), exist_ok=True)
        with open(os.path.join(root, stray, "cluster=0", "junk"), "w") as f:
            f.write("x")

    store.compact()
    names = sorted(
        n for n in os.listdir(root) if n.startswith("data")
    )
    # round 7: the superseded generation is RETAINED for pinned reads
    # (genstore retention) — allowed survivors are live + retained; the
    # stray orphans must all be gone
    ptr = store._ptr()
    allowed = {ptr["gen"], *ptr["retained"]}
    assert set(names) == allowed, f"orphans not swept: {names} vs {allowed}"
    assert not any(n.endswith((".upsert", ".delete")) for n in names)
    assert "data-00000099" not in names
    assert _rows(store.query(e.filter(F.col("vec_id") < 2), topk=5)) == before


# -- 4: vacuum grace window uses tree max mtime ------------------------------


def test_vacuum_grace_uses_tree_mtime(spark, tmp_path):
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.versioned import (
        vacuum_versioned,
        versioned_upsert,
    )

    root = str(tmp_path / "vt")
    df = spark.range(5).select(
        F.col("id").alias("k"), F.lit(1).alias("v"), F.lit(0).alias("ord")
    )
    versioned_upsert(spark, df, root, key="k", order_by=["ord"])
    versioned_upsert(spark, df.withColumn("v", F.lit(2)), root, key="k",
                     order_by=["ord"])

    # an in-flight writer's directory claiming an already-committed
    # version: top-level dir mtime is OLD (partition dirs created early),
    # but a file deep inside was written moments ago
    stray = os.path.join(root, "data", "v00000001-inflight")
    sub = os.path.join(stray, "part=a")
    os.makedirs(sub)
    with open(os.path.join(sub, "chunk"), "w") as f:
        f.write("mid-write")
    old = time.time() - 3600
    os.utime(stray, (old, old))  # stale top-level mtime, fresh file inside

    vacuum_versioned(spark, root, keep_last=1, grace_seconds=600.0)
    assert os.path.exists(stray), "live mid-write dir was swept"

    # once the WHOLE tree is quiet past the grace window, it sweeps
    for p in [stray, sub, os.path.join(sub, "chunk")]:
        os.utime(p, (old, old))
    vacuum_versioned(spark, root, keep_last=1, grace_seconds=600.0)
    assert not os.path.exists(stray)
