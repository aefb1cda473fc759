"""Bucket-partitioned postings store (operators/postings_store.py):
phrase results must equal the direct in-memory operator, appends (batch
and streaming) must grow the index consistently, and the bucket
predicate must land in PartitionFilters."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.postings import build_postings, phrase_match
from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.postings_store import PostingsStore
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load

DOCS_DDL = "doc_id long, text string, lang string, source string, n_chars long"
PHRASE = ["table", "scan"]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_store_phrase_equals_direct_operator(spark, sf_dir, tmp_path):
    docs = load(spark, sf_dir, "documents")
    store = PostingsStore.build(
        spark, docs, "doc_id", "text", str(tmp_path / "ix"), n_buckets=16
    )
    direct = phrase_match(build_postings(docs, "doc_id", "text"), PHRASE)
    got = store.phrase(PHRASE)
    assert _rows(got) == _rows(direct)
    assert len(_rows(got)) > 0  # the fixture really contains the phrase

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    scan = plan[plan.index("PartitionFilters"):]
    assert "bucket" in scan[: scan.index("]")]


def test_batch_and_streaming_append_grow_the_index(spark, sf_dir, tmp_path):
    docs = load(spark, sf_dir, "documents")
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    store = PostingsStore.build(
        spark, half_a, "doc_id", "text", str(tmp_path / "ix"), n_buckets=16
    )
    partial = _rows(store.phrase(PHRASE))

    src = str(tmp_path / "incoming")
    half_b.write.parquet(src)
    stream = spark.readStream.schema(DOCS_DDL).parquet(src)
    store.streaming_append(stream, str(tmp_path / "ckpt")).awaitTermination()

    full = phrase_match(build_postings(docs, "doc_id", "text"), PHRASE)
    assert _rows(store.phrase(PHRASE)) == _rows(full)
    assert set(partial) <= set(_rows(full))

    # reload from disk: params round-trip
    again = PostingsStore(spark, str(tmp_path / "ix"))
    assert again.n_buckets == 16
    assert _rows(again.phrase(PHRASE)) == _rows(full)


# -- BM25 ranked retrieval (round 5) ------------------------------------------

TERMS = ["table", "sort", "hash"]


def test_ranked_bm25_prunes_to_term_buckets(spark, sf_dir, tmp_path):
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions.text import py_hex_hash60

    docs = load(spark, sf_dir, "documents")
    store = PostingsStore.build(
        spark, docs, "doc_id", "text", str(tmp_path / "ix"), n_buckets=16
    )
    got = store.ranked_bm25(TERMS, topk=10)
    rows = _rows(got)
    assert len(rows) == 10
    # plan: bucket IN (...) in PartitionFilters; distributed top-k (no
    # global window / single-partition sort)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    scan = plan[plan.index("PartitionFilters"):]
    assert "bucket" in scan[: scan.index("]")]
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    # <= |terms| bucket directories in the pruning predicate: the IN-list
    # of the PartitionFilters entry is exactly the terms' bucket ids
    import re

    want = {py_hex_hash60(t) % 16 for t in TERMS}
    m = re.search(r"bucket[^ ]* IN \(([^)]*)\)", scan[: scan.index("]")])
    assert m, f"no bucket IN pruning predicate: {scan[:200]}"
    pruned = {int(x) for x in m.group(1).split(",")}
    assert pruned == want


def test_ranked_bm25_append_equals_rebuild(spark, sf_dir, tmp_path):
    """The doclen sidecar must track appends: a store grown in two parts
    ranks identically to a one-shot build (stats included)."""
    docs = load(spark, sf_dir, "documents")
    p0 = docs.filter(F.col("doc_id") % 3 < 2)
    p1 = docs.filter(F.col("doc_id") % 3 == 2)
    grown = PostingsStore.build(
        spark, p0, "doc_id", "text", str(tmp_path / "a"), n_buckets=16
    )
    grown.append(p1)
    oneshot = PostingsStore.build(
        spark, docs, "doc_id", "text", str(tmp_path / "b"), n_buckets=16
    )
    assert _rows(grown.ranked_bm25(TERMS, topk=25)) == _rows(
        oneshot.ranked_bm25(TERMS, topk=25)
    )


def test_ranked_bm25_edge_cases(spark, sf_dir, tmp_path):
    import pytest

    docs = load(spark, sf_dir, "documents")
    store = PostingsStore.build(
        spark, docs, "doc_id", "text", str(tmp_path / "ix"), n_buckets=16
    )
    with pytest.raises(ValueError, match="empty term set"):
        store.ranked_bm25([])
    # a term absent from the corpus contributes nothing (and an all-absent
    # query returns an empty ranking, not an error)
    assert store.ranked_bm25(["zzzznotaword"], topk=5).count() == 0
    both = store.ranked_bm25(TERMS + ["zzzznotaword"], topk=10)
    alone = store.ranked_bm25(TERMS, topk=10)
    assert _rows(both) == _rows(alone)


def test_doclen_missing_raises_descriptive(spark, sf_dir, tmp_path):
    import shutil

    import pytest

    docs = load(spark, sf_dir, "documents").limit(50)
    store = PostingsStore.build(
        spark, docs, "doc_id", "text", str(tmp_path / "ix"), n_buckets=8
    )
    shutil.rmtree(store._doclen_path())
    with pytest.raises(FileNotFoundError, match="doclen sidecar"):
        store.ranked_bm25(TERMS)


def test_ranked_bm25_after_streaming_growth(spark, sf_dir, tmp_path):
    """The doclen sidecar must also track STREAMING appends (foreachBatch
    routes through append): a stream-grown store ranks identically to a
    one-shot build."""
    docs = load(spark, sf_dir, "documents")
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    grown = PostingsStore.build(
        spark, half_a, "doc_id", "text", str(tmp_path / "ix"), n_buckets=16
    )
    src = str(tmp_path / "incoming")
    half_b.write.parquet(src)
    stream = spark.readStream.schema(DOCS_DDL).parquet(src)
    grown.streaming_append(stream, str(tmp_path / "ckpt")).awaitTermination()

    oneshot = PostingsStore.build(
        spark, docs, "doc_id", "text", str(tmp_path / "b"), n_buckets=16
    )
    assert _rows(grown.ranked_bm25(TERMS, topk=25)) == _rows(
        oneshot.ranked_bm25(TERMS, topk=25)
    )


# -- batch (query-table) BM25 (round 6) ---------------------------------------


def test_ranked_bm25_table_equals_per_query_loops(spark, sf_dir, tmp_path):
    """The batch path must be row-identical, per query, to looping the
    single-query ranked_bm25 — scores, n_terms_hit, the top-k cut, and
    the doc_id tie rule all included."""
    docs = load(spark, sf_dir, "documents")
    store = PostingsStore.build(
        spark, docs, "doc_id", "text", str(tmp_path / "ix"), n_buckets=16
    )
    qsets = {
        0: ["table", "sort", "hash"],
        1: ["scan", "join"],
        2: ["table", "table", "zzzznotaword"],  # dupes collapse; misses score 0
        3: ["zzzznotaword"],  # all-absent query: no rows, not an error
    }
    qt = spark.createDataFrame(
        [(qid, t) for qid, ts in qsets.items() for t in ts],
        "query_id long, term string",
    )
    got = store.ranked_bm25_table(qt, topk=7)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["bm25"], r["n_terms_hit"])
        )
    for qid, terms in qsets.items():
        want = [
            (i + 1, r["doc_id"], r["bm25"], r["n_terms_hit"])
            for i, r in enumerate(store.ranked_bm25(terms, topk=7).collect())
        ]
        assert sorted(by_q.get(qid, [])) == want, f"query {qid} diverges"


@pytest.mark.slow
def test_ranked_bm25_table_prunes_and_scales_to_10k_queries(
    spark, sf_dir, tmp_path
):
    """Q = 10^4 queries from a table: the plan must keep the bucket
    PartitionFilters literal (driver state is bucket ids only) and the
    run must complete, with spot queries matching the single-query path."""
    docs = load(spark, sf_dir, "documents")
    store = PostingsStore.build(
        spark, docs, "doc_id", "text", str(tmp_path / "ix"), n_buckets=16
    )
    vocab = ["table", "sort", "hash", "scan", "join", "index"]
    rows = [
        (qid, vocab[(qid + j) % len(vocab)])
        for qid in range(10_000)
        for j in range(1 + qid % 3)
    ]
    qt = spark.createDataFrame(rows, "query_id long, term string")
    got = store.ranked_bm25_table(qt, topk=3)

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    scan = plan[plan.index("PartitionFilters"):]
    assert "bucket" in scan[: scan.index("]")]

    counts = {r["query_id"]: r["n"] for r in
              got.groupBy("query_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert len(counts) == 10_000 and all(n <= 3 for n in counts.values())
    for qid in (0, 4999, 9999):
        terms = [vocab[(qid + j) % len(vocab)] for j in range(1 + qid % 3)]
        want = {
            (r["doc_id"], r["bm25"]) for r in store.ranked_bm25(terms, topk=3).collect()
        }
        have = {
            (r["doc_id"], r["bm25"])
            for r in got.filter(F.col("query_id") == qid).collect()
        }
        assert have == want, f"query {qid} diverges"


# -- upsert / delete / exactly-once streaming (round 6) ------------------------


def _bm25_rows(store, topk=25):
    return _rows(store.ranked_bm25(TERMS, topk=topk))


def test_upsert_equals_fresh_build_and_hardlinks_untouched(
    spark, sf_dir, tmp_path
):
    """Replace-or-insert: store content, phrase results, AND ranked BM25
    (doclen sidecar included) must equal a fresh build over the mutated
    corpus; untouched bucket directories carry into the new generation
    as hardlinks (same inodes — no bytes copied)."""
    import glob
    import os as _os

    docs = load(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    store = PostingsStore.build(
        spark, base, "doc_id", "text", str(tmp_path / "a"), n_buckets=64
    )
    # 1) INSERT-only upsert with a narrow vocabulary: only the few token
    # buckets it lands in (plus the ids' dbuckets) may rewrite — every
    # other bucket must carry over as a hardlink (replacements of
    # text-rich docs legitimately touch every bucket their OLD tokens
    # hash to, so the hardlink claim is asserted on the insert case)
    inserts = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .limit(5)
        .withColumn("text", F.lit("sort table sort"))
    )
    before = {
        _os.stat(f).st_ino
        for f in glob.glob(store._data_path() + "/*/*.parquet")
    }
    store.upsert(inserts)
    after = {
        _os.stat(f).st_ino
        for f in glob.glob(store._data_path() + "/*/*.parquet")
    }
    assert before & after, "expected untouched buckets to hardlink over"

    # 2) replacements (text edits change dlen AND token buckets)
    batch = docs.filter(F.col("doc_id") % 10 == 1).withColumn(
        "text", F.concat(F.col("text"), F.lit(" sort sort"))
    )
    store.upsert(batch)
    mutated = (
        base.join(inserts.select("doc_id"), "doc_id", "left_anti")
        .unionByName(inserts)
        .join(batch.select("doc_id"), "doc_id", "left_anti")
        .unionByName(batch)
    )
    fresh = PostingsStore.build(
        spark, mutated, "doc_id", "text", str(tmp_path / "b"), n_buckets=64
    )
    assert _rows(store.reader()) == _rows(fresh.reader())
    assert _rows(store.doclen_reader()) == _rows(fresh.doclen_reader())
    assert _bm25_rows(store) == _bm25_rows(fresh)
    assert _rows(store.phrase(PHRASE)) == _rows(fresh.phrase(PHRASE))
    # a reloaded handle resolves the same generation pointer
    again = PostingsStore(spark, str(tmp_path / "a"))
    assert _bm25_rows(again) == _bm25_rows(fresh)


def test_delete_equals_fresh_build_and_is_idempotent(spark, sf_dir, tmp_path):
    docs = load(spark, sf_dir, "documents")
    store = PostingsStore.build(
        spark, docs, "doc_id", "text", str(tmp_path / "a"), n_buckets=64
    )
    victims = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    store.delete(victims)
    kept = docs.join(victims, "doc_id", "left_anti")
    fresh = PostingsStore.build(
        spark, kept, "doc_id", "text", str(tmp_path / "b"), n_buckets=64
    )
    assert _rows(store.reader()) == _rows(fresh.reader())
    assert _rows(store.doclen_reader()) == _rows(fresh.doclen_reader())
    assert _bm25_rows(store) == _bm25_rows(fresh)
    # deleting already-absent ids is a no-op
    gen = store.current_gen()
    store.delete(victims)
    assert store.current_gen() == gen
    assert _bm25_rows(store) == _bm25_rows(fresh)


def test_streaming_epoch_replay_is_exactly_once(spark, sf_dir, tmp_path):
    """A retried epoch (at-least-once foreachBatch delivery) must not
    double-count postings or doclen rows: same epoch id applied twice ==
    applied once; distinct epochs both land."""
    docs = load(spark, sf_dir, "documents")
    p0 = docs.filter(F.col("doc_id") % 3 == 0)
    p1 = docs.filter(F.col("doc_id") % 3 == 1)
    p2 = docs.filter(F.col("doc_id") % 3 == 2)
    store = PostingsStore.build(
        spark, p0, "doc_id", "text", str(tmp_path / "ix"), n_buckets=16
    )
    store._commit_epoch(p1, 0)
    store._commit_epoch(p1, 0)  # the retry: must be a no-op
    store._commit_epoch(p2, 1)
    store._commit_epoch(p2, 1)
    fresh = PostingsStore.build(
        spark, docs, "doc_id", "text", str(tmp_path / "b"), n_buckets=16
    )
    assert _rows(store.reader()) == _rows(fresh.reader())
    assert store.doclen_reader().count() == docs.count()  # no dup sidecar rows
    assert _bm25_rows(store) == _bm25_rows(fresh)


def test_compact_folds_epochs_and_preserves_results(spark, sf_dir, tmp_path):
    docs = load(spark, sf_dir, "documents")
    p0 = docs.filter(F.col("doc_id") % 2 == 0)
    p1 = docs.filter(F.col("doc_id") % 2 == 1)
    store = PostingsStore.build(
        spark, p0, "doc_id", "text", str(tmp_path / "ix"), n_buckets=16
    )
    store._commit_epoch(p1, 0)
    want = _bm25_rows(store)
    store.compact()
    assert store._epochs() == []  # folded and swept
    assert _bm25_rows(store) == want
    # plan after compaction is a single pruned scan again (no union legs)
    got = store.ranked_bm25(TERMS, topk=10)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "Union" not in plan


def test_mutations_then_queries_over_mutated_store(spark, sf_dir, tmp_path):
    """phrase + ranked_bm25 + ranked_bm25_table all correct over a store
    that has seen the full verb set (append, stream, upsert, delete)."""
    docs = load(spark, sf_dir, "documents")
    store = PostingsStore.build(
        spark,
        docs.filter(F.col("doc_id") % 4 == 0),
        "doc_id", "text", str(tmp_path / "ix"), n_buckets=16,
    )
    store.append(docs.filter(F.col("doc_id") % 4 == 1))
    store._commit_epoch(docs.filter(F.col("doc_id") % 4 == 2), 0)
    edits = docs.filter(F.col("doc_id") % 4 == 3).withColumn(
        "text", F.concat(F.lit("table scan "), F.col("text"))
    )
    store.upsert(edits)
    victims = docs.filter(F.col("doc_id") % 9 == 0).select("doc_id")
    store.delete(victims)

    current = (
        docs.filter(F.col("doc_id") % 4 != 3)
        .unionByName(edits)
        .join(victims, "doc_id", "left_anti")
    )
    fresh = PostingsStore.build(
        spark, current, "doc_id", "text", str(tmp_path / "b"), n_buckets=16
    )
    assert _rows(store.phrase(PHRASE)) == _rows(fresh.phrase(PHRASE))
    assert _bm25_rows(store) == _bm25_rows(fresh)
    qt = spark.createDataFrame(
        [(0, "table"), (0, "sort"), (1, "scan"), (1, "join")],
        "query_id long, term string",
    )
    assert _rows(store.ranked_bm25_table(qt, topk=9)) == _rows(
        fresh.ranked_bm25_table(qt, topk=9)
    )


# -- batch (phrase-table) search (round 6) -------------------------------------


def test_phrase_table_equals_per_phrase_loops(spark, sf_dir, tmp_path):
    docs = load(spark, sf_dir, "documents")
    store = PostingsStore.build(
        spark, docs, "doc_id", "text", str(tmp_path / "ix"), n_buckets=16
    )
    phrases = {
        0: ["table", "scan"],
        1: ["merge", "sort", "join"],
        2: ["table"],              # single-token phrase
        3: ["zzz", "nothere"],     # absent phrase: no rows, not an error
        4: ["the", "the"],         # repeated token: adjacency still exact
    }
    pt = spark.createDataFrame(
        [(pid, i, t) for pid, ts in phrases.items() for i, t in enumerate(ts)],
        "phrase_id long, ppos long, term string",
    )
    got = store.phrase_table(pt)
    by_p = {}
    for r in got.collect():
        by_p.setdefault(r["phrase_id"], set()).add(
            (r["doc_id"], r["n_matches"], r["first_pos"])
        )
    for pid, ts in phrases.items():
        want = {
            (r["doc_id"], r["n_matches"], r["first_pos"])
            for r in store.phrase(ts).collect()
        }
        assert by_p.get(pid, set()) == want, f"phrase {pid} diverges"
    # the fixture really matches something for the main phrases
    assert by_p.get(0) and by_p.get(1)

    # pruning stays literal PartitionFilters at batch scale
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    scan = plan[plan.index("PartitionFilters"):]
    assert "bucket" in scan[: scan.index("]")]


def test_epoch_replay_after_compact_is_refused(spark, sf_dir, tmp_path):
    """The crash window between a fold-and-sweep and the streaming
    checkpoint: an epoch that was committed, folded by compact(), and
    swept must NOT re-commit when the stream replays it — the pointer's
    epoch watermark refuses ids at-or-below the last folded epoch."""
    docs = load(spark, sf_dir, "documents")
    p0 = docs.filter(F.col("doc_id") % 2 == 0)
    p1 = docs.filter(F.col("doc_id") % 2 == 1)
    store = PostingsStore.build(
        spark, p0, "doc_id", "text", str(tmp_path / "ix"), n_buckets=16
    )
    store._commit_epoch(p1, 3)
    store.compact()  # folds ep 3, sweeps its directory, watermark -> 3
    assert store._epochs() == []
    want = _rows(store.ranked_bm25(TERMS, topk=25))
    store._commit_epoch(p1, 3)  # the replay: must be refused
    store._commit_epoch(p1, 2)  # an older id is equally dead
    assert store._epochs() == []
    assert _rows(store.ranked_bm25(TERMS, topk=25)) == want
    # genuinely NEW epochs still land
    store._commit_epoch(p1.limit(0), 4)
    assert store._ptr()["watermark"] == 3
