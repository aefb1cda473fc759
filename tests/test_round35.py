"""Round-8 batch-path completions:

- ranked_bm25_table / phrase_table accept ``as_of_gen`` and are
  row-identical to looping the single-query pinned paths;
- per-query RANGE bands in batch filtered ANN (attr_ranges) equal
  looping query(where="attr BETWEEN lo AND hi") per query, compose with
  exact-match attr_filters, and keep PartitionFilters pruning.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.postings_store import PostingsStore
from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pq_store import IVFPQStore
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load

QT = {0: ["table", "sort", "hash"], 1: ["scan", "join", "sort"], 2: ["table", "index"]}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _mutated_pstore(spark, sf_dir, tmp_path):
    docs = load(spark, sf_dir, "documents")
    store = PostingsStore.build(
        spark, docs, "doc_id", "text", str(tmp_path / "ix"), n_buckets=16
    )
    g0 = store.current_gen()
    store.upsert(
        docs.filter(F.col("doc_id") % 7 == 1).withColumn(
            "text", F.concat(F.lit("table sort "), F.col("text"))
        )
    )
    store.delete(docs.filter(F.col("doc_id") % 9 == 3).select("doc_id"))
    return store, g0


@pytest.mark.slow
def test_bm25_table_as_of_gen_equals_single_query_loop(spark, sf_dir, tmp_path):
    store, g0 = _mutated_pstore(spark, sf_dir, tmp_path)
    qt = spark.createDataFrame(
        [(qid, t) for qid, ts in QT.items() for t in ts], "query_id long, term string"
    )
    batch = store.ranked_bm25_table(qt, topk=10, as_of_gen=g0)
    singles = []
    for qid, terms in QT.items():
        one = store.ranked_bm25(terms, topk=10, as_of_gen=g0).select(
            F.lit(qid).cast("long").alias("query_id"), "doc_id", "bm25",
            "n_terms_hit",
        )
        singles.append(one)
    # attach the per-query rank the batch path carries
    got = _rows(batch.select("query_id", "doc_id", "bm25", "n_terms_hit"))
    want = _rows(singles[0].unionByName(singles[1]).unionByName(singles[2]))
    assert got == want
    # and the pinned batch differs from the live batch (the mutation moved it)
    live = store.ranked_bm25_table(qt, topk=10)
    assert _rows(live.select("query_id", "doc_id", "bm25", "n_terms_hit")) != want


@pytest.mark.slow
def test_phrase_table_as_of_gen_equals_single_loop(spark, sf_dir, tmp_path):
    store, g0 = _mutated_pstore(spark, sf_dir, tmp_path)
    phrases = {10: ["table", "sort"], 11: ["sort", "hash"]}
    pt = spark.createDataFrame(
        [(pid, i, t) for pid, ts in phrases.items() for i, t in enumerate(ts)],
        "phrase_id long, ppos int, term string",
    )
    batch = store.phrase_table(pt, as_of_gen=g0)
    want = []
    for pid, ts in phrases.items():
        want.extend(
            (pid, r["doc_id"], r["n_matches"], r["first_pos"])
            for r in store.phrase(ts, as_of_gen=g0).collect()
        )
    assert _rows(batch) == sorted(want)


def _band_store(spark, sf_dir, tmp_path):
    e = load(spark, sf_dir, "embeddings")
    store = IVFPQStore.build(
        spark, e, "vec_id", "embedding", str(tmp_path / "v"), attr_cols=["label"]
    )
    return e, store


@pytest.mark.slow
def test_attr_ranges_equal_per_query_where_loops(spark, sf_dir, tmp_path):
    e, store = _band_store(spark, sf_dir, tmp_path)
    qdf = e.filter(F.col("vec_id") < 3)
    bands = qdf.select(
        F.col("vec_id").alias("query_id"),
        (F.col("vec_id") % 2).cast("int").alias("label_lo"),
        ((F.col("vec_id") % 2) + 1).cast("int").alias("label_hi"),
    )
    got = _rows(
        store.query(qdf, nprobe=2, topk=10, attr_ranges=bands)
    )
    want = []
    for qid in range(3):
        lo, hi = qid % 2, qid % 2 + 1
        one = store.query(
            e.filter(F.col("vec_id") == qid),
            nprobe=2, topk=10,
            where=f"label BETWEEN {lo} AND {hi}",
        )
        want.extend(tuple(r) for r in one.collect())
    assert got == sorted(want)


@pytest.mark.slow
def test_attr_ranges_one_sided_and_composed_with_filters(spark, sf_dir, tmp_path):
    e, store = _band_store(spark, sf_dir, tmp_path)
    qdf = e.filter(F.col("vec_id") < 2)
    # one-sided band: label >= query_id % 3 (no _hi column)
    bands = qdf.select(
        F.col("vec_id").alias("query_id"),
        (F.col("vec_id") % 3).cast("int").alias("label_lo"),
    )
    got = _rows(
        store.query(qdf, nprobe=2, topk=10, attr_ranges=bands)
    )
    want = []
    for qid in range(2):
        one = store.query(
            e.filter(F.col("vec_id") == qid),
            nprobe=2, topk=10,
            where=f"label >= {qid % 3}",
        )
        want.extend(tuple(r) for r in one.collect())
    assert got == sorted(want)
    # composed: equality filter AND band — equals the conjunctive where
    wants_eq = qdf.select(
        F.col("vec_id").alias("query_id"),
        (F.col("vec_id") % 4).cast("int").alias("label"),
    )
    got2 = _rows(
        store.query(
            qdf, nprobe=2, topk=10,
            attr_filters=wants_eq, attr_ranges=bands,
        )
    )
    want2 = []
    for qid in range(2):
        one = store.query(
            e.filter(F.col("vec_id") == qid),
            nprobe=2, topk=10,
            where=f"label = {qid % 4} AND label >= {qid % 3}",
        )
        want2.extend(tuple(r) for r in one.collect())
    assert got2 == sorted(want2)


def test_attr_ranges_validation(spark, sf_dir, tmp_path):
    e, store = _band_store(spark, sf_dir, tmp_path)
    qdf = e.filter(F.col("vec_id") < 2)
    bad = qdf.select(
        F.col("vec_id").alias("query_id"), F.lit(0).alias("price_lo")
    )
    with pytest.raises(ValueError, match="attr_ranges"):
        store.query(qdf, attr_ranges=bad)


def test_attr_ranges_keeps_partition_pruning(spark, sf_dir, tmp_path):
    """The band residual must not defeat directory pruning: the probed
    cluster IN predicate still lands in PartitionFilters."""
    e, store = _band_store(spark, sf_dir, tmp_path)
    qdf = e.filter(F.col("vec_id") < 2)
    bands = qdf.select(
        F.col("vec_id").alias("query_id"),
        F.lit(0).cast("int").alias("label_lo"),
        F.lit(9).cast("int").alias("label_hi"),
    )
    df = store.query(qdf, nprobe=2, topk=5, attr_ranges=bands)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    import re
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "cluster" in pf and "IN" in pf.upper()
