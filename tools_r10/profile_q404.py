"""Phase-level wall profile of the q404 drift-repair lifecycle (r10).

OVERLAP=0 reproduces the round-9 sequential fixture (build ps, build vs,
plant three single-store drift verbs back to back); OVERLAP=1 runs the
round-10 shape (builds concurrent; the independent vector delete
concurrent with the postings upsert+delete sequence). repair_drift and
the stamp-surface serve are measured unchanged in both.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.session import get_spark, scratch_dir
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    overlap = os.environ.get("OVERLAP", "1") == "1"
    spark = get_spark(app_name="profile-q404-r10")
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.concurrency import run_jobs
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.paired import repair_drift
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.postings_store import (
        PostingsStore,
    )
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pq_store import IVFPQStore
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.reconcile import (
        reconcile_stores,
        store_stamps,
    )
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round29 import (
        _IVF_ITERS,
        _IVF_LISTS,
        _PQ_K,
        _PQ_M,
        _coarse_centroids,
        _pq_codebook,
    )
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round35 import (
        _AUD_PDEL,
        _AUD_STAMP,
        _AUD_UPS,
        _AUD_VDEL,
    )

    load(spark, sf_dir, "documents").count()
    _coarse_centroids(spark, sf_dir), _pq_codebook(spark, sf_dir)
    for rep in range(int(os.environ.get("REPS", "3"))):
        marks = [("start", time.perf_counter())]

        def mark(label):
            marks.append((label, time.perf_counter()))

        docs = load(spark, sf_dir, "documents")
        e = load(spark, sf_dir, "embeddings")
        base_docs = docs.join(
            e.select(F.col("vec_id").alias("doc_id")), "doc_id", "left_semi"
        )
        proot = scratch_dir("prof404_p_") + "/ix"
        vroot = scratch_dir("prof404_v_") + "/ix"

        def build_ps():
            return PostingsStore.build(
                spark, base_docs, "doc_id", "text", proot, n_buckets=16
            )

        def build_vs():
            return IVFPQStore.build(
                spark, e, "vec_id", "embedding", vroot,
                n_lists=_IVF_LISTS, km_iters=_IVF_ITERS, m=_PQ_M,
                k_centroids=_PQ_K,
                centroids=_coarse_centroids(spark, sf_dir),
                codebook=_pq_codebook(spark, sf_dir),
            )

        def plant_postings():
            ps.upsert(
                base_docs.filter(F.col("doc_id") % _AUD_UPS == 2).withColumn(
                    "text", F.concat(F.lit("stale edit "), F.col("text"))
                ),
                stamp=_AUD_STAMP,
            )
            ps.delete(
                base_docs.filter(F.col("doc_id") % _AUD_PDEL == 3).select(
                    "doc_id"
                )
            )

        def plant_vectors():
            vs.delete(e.filter(F.col("vec_id") % _AUD_VDEL == 4).select("vec_id"))

        if overlap:
            ps, vs = run_jobs([build_ps, build_vs])
            mark("builds(overlap)")
            run_jobs([plant_postings, plant_vectors])
            mark("plant(overlap)")
        else:
            ps = build_ps()
            mark("ps.build")
            vs = build_vs()
            mark("vs.build")
            plant_postings()
            mark("plant.postings")
            plant_vectors()
            mark("plant.vectors")
        repair_drift(ps, vs, reconcile_stores(ps, vs), base_docs, e)
        mark("repair_drift")
        store_stamps(ps, vs).select("doc_id", "p_stamp", "v_stamp").write.format(
            "noop"
        ).mode("overwrite").save()
        mark("serve")
        print(f"--- rep {rep} overlap={overlap} ---")
        for (l0, t0), (l1, t1) in zip(marks, marks[1:]):
            print(f"{l1:18s} {t1 - t0:7.2f}s")
        print(f"{'TOTAL':18s} {marks[-1][1] - marks[0][1]:7.2f}s")


if __name__ == "__main__":
    main()
