"""operators/dedup.incremental_near_dedup_sigs: append-only batch-by-batch
near-dedup over a persisted signature table, pinned against full-corpus
near_dedup and against a rebuild of its own signature store.

Reference parity: the reference's idempotent upsert dedups by EXACT key
one record at a time (/root/reference/etl_connector.py:167-191); this is
the north-star near-duplicate generalization of the same
admit-if-not-seen contract.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.dedup import (
    incremental_near_dedup_sigs,
    minhash_signatures,
    near_dedup,
)

THRESH = 0.8


def _docs(spark):
    base = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),  # exact dup of 1
        (3, "alpha beta gamma delta epsilon eta"),  # near-dup of 1
        (4, "completely different words entirely here now"),
        (5, "unrelated content about some other topic"),
        (6, "completely different words entirely here today"),  # near-dup of 4
        (7, "singleton text that matches nothing else at all"),
        (8, "alpha beta gamma delta epsilon theta"),  # near-dup of 1/3
    ]
    return spark.createDataFrame(base, "doc_id long, text string")


def _ids(df, col="doc_id"):
    return sorted(r[col] for r in df.select(col).collect())


def test_two_batch_incremental_equals_full(spark):
    docs = _docs(spark)
    full = sorted(r["doc_id"] for r in near_dedup(docs, "doc_id", "text", THRESH).collect())

    b1 = docs.filter(F.col("doc_id") <= 4)
    b2 = docs.filter(F.col("doc_id") > 4)
    kept1, sig1 = incremental_near_dedup_sigs(b1, None, "doc_id", "text", THRESH)
    kept2, sig2 = incremental_near_dedup_sigs(
        b2, sig1.select("id", "fp", "sz", "shingles", "bands"), "doc_id", "text", THRESH
    )
    assert _ids(kept1) + _ids(kept2) == full  # bridge-free fixture: identical corpora
    assert sorted(r["id"] for r in sig2.select("id").collect()) == full


def test_signature_table_is_rebuildable(spark):
    """updated store == minhash_signatures(admitted corpus): signatures are
    content-deterministic, so the append-only table never drifts."""
    docs = _docs(spark)
    kept, sig_store = incremental_near_dedup_sigs(docs, None, "doc_id", "text", THRESH)
    rebuilt = minhash_signatures(kept, "doc_id", "text")
    a = {(r["id"], r["fp"], tuple(r["shingles"]), tuple(map(tuple, r["bands"])))
         for r in sig_store.collect()}
    b = {(r["id"], r["fp"], tuple(r["shingles"]), tuple(map(tuple, r["bands"])))
         for r in rebuilt.collect()}
    assert a == b
