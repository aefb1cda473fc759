"""Phase-level wall profile of q403's paired streaming lifecycle (r10).

Measures (a) sequential vs OVERLAPPED fixture construction (the two
store builds + the stream-source payload write), and (b) the live
union-leg BM25/ANN serve vs the same serve after compacting the
committed epoch into the generation — the round-9 VERDICT #4 question:
is the union-leg serve penalty worth an explicit compaction when
epochs are live?
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
    compact_before_serve = os.environ.get("COMPACT", "0") == "1"
    spark = get_spark(app_name="profile-q403-r10")
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.concurrency import run_jobs
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.paired import (
        paired_streaming_append,
    )
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.postings_store import (
        PostingsStore,
    )
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pq_store import IVFPQStore
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round29 import (
        _IVF_ITERS,
        _IVF_LISTS,
        _IVF_NPROBE,
        _PQ_K,
        _PQ_M,
        _PQ_NQ,
        _coarse_centroids,
        _pq_codebook,
    )
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round33 import (
        _QT_SHORTLIST,
        _qt_frame,
    )

    load(spark, sf_dir, "documents").count()
    _coarse_centroids(spark, sf_dir), _pq_codebook(spark, sf_dir)
    for rep in range(int(os.environ.get("REPS", "3"))):
        marks = [("start", time.perf_counter())]

        def mark(label):
            marks.append((label, time.perf_counter()))

        docs = load(spark, sf_dir, "documents")
        e = load(spark, sf_dir, "embeddings")
        held = (F.col("vec_id") % 7) == 1
        held_ids = e.filter(held).select(F.col("vec_id").alias("doc_id"))
        init_docs = docs.join(held_ids, "doc_id", "left_anti")
        init_vecs = e.filter(~held)
        proot = scratch_dir("prof403_p_") + "/ix"
        vroot = scratch_dir("prof403_v_") + "/ix"
        payload = docs.join(held_ids, "doc_id", "left_semi").join(
            e.filter(held).select("vec_id", "embedding"),
            F.col("doc_id") == F.col("vec_id"),
        )
        src = scratch_dir("prof403_src_")

        def build_ps():
            return PostingsStore.build(
                spark, init_docs, "doc_id", "text", proot, n_buckets=16
            )

        def build_vs():
            return IVFPQStore.build(
                spark, init_vecs, "vec_id", "embedding", vroot,
                n_lists=_IVF_LISTS, km_iters=_IVF_ITERS, m=_PQ_M,
                k_centroids=_PQ_K,
                centroids=_coarse_centroids(spark, sf_dir),
                codebook=_pq_codebook(spark, sf_dir),
            )

        def write_payload():
            payload.write.mode("overwrite").parquet(src)

        if overlap:
            ps, vs, _ = run_jobs([build_ps, build_vs, write_payload])
            mark("fixture(overlap)")
        else:
            ps = build_ps()
            mark("ps.build")
            vs = build_vs()
            mark("vs.build")
            write_payload()
            mark("payload.write")
        ckpt = scratch_dir("prof403_ckpt_") + "/ckpt"
        stream = spark.readStream.schema(payload.schema).parquet(src)
        paired_streaming_append(ps, vs, stream, ckpt).awaitTermination()
        mark("stream")
        print("epochs after stream:", ps._epochs(), vs._epochs())
        if compact_before_serve:
            run_jobs([ps.compact, vs.compact])
            mark("compact")
        bm = ps.ranked_bm25_table(_qt_frame(spark), topk=_QT_SHORTLIST)
        bm.write.format("noop").mode("overwrite").save()
        mark("bm.serve")
        ann = vs.query(
            e.filter(F.col("vec_id") < _PQ_NQ),
            nprobe=_IVF_NPROBE, topk=_QT_SHORTLIST,
        )
        ann.write.format("noop").mode("overwrite").save()
        mark("ann.serve")
        print(f"--- rep {rep} overlap={overlap} compact={compact_before_serve} ---")
        for (l0, t0), (l1, t1) in zip(marks, marks[1:]):
            print(f"{l1:18s} {t1 - t0:7.2f}s")
        print(f"{'TOTAL':18s} {marks[-1][1] - marks[0][1]:7.2f}s")


if __name__ == "__main__":
    main()
