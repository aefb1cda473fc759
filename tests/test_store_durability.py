"""Round-7 index-store durability contract (operators/genstore.py):

- LINEAGE-GUARDED epoch commits: a wiped-checkpoint restart (new
  lineage reusing epoch 0) RAISES instead of silently dropping batches
  as watermark replays; same-lineage replays stay no-ops;
  reset_lineage() is the deliberate re-point verb. Both stores.
- CAS pointer flips: two concurrent maintainers raise
  ConcurrentWriteError instead of last-write-winning (one rewrite
  silently vanishing). Both stores, staged deterministically.
- RETAINED generations: reader(gen=N) / query(as_of_gen=N) re-serve the
  exact pre-mutation index; vacuum() sweeps and pinned reads then fail
  loudly. Both stores.
- Emptied-out generations read as empty typed frames, not
  schema-inference errors (round-6 ADVICE).
- ranked_bm25_table with no non-NULL terms returns an empty typed frame
  (round-6 ADVICE).
- The per-term df join and the per-phrase plen join are AQE-sized:
  broadcast at fixture scale, shuffle-join completion when broadcasts
  are disabled (VERDICT r6 #6).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators import genstore
from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.genstore import (
    ConcurrentWriteError,
    LineageMismatchError,
)
from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.postings_store import PostingsStore
from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pq_store import IVFPQStore
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load

from conftest import fuzz_depth

DOCS_DDL = "doc_id long, text string, lang string, source string, n_chars long"
EMB_DDL = "vec_id long, embedding array<float>, label int"
TERMS = ["table", "sort", "hash"]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _pstore(spark, sf_dir, tmp_path, frac=2, name="ix"):
    docs = load(spark, sf_dir, "documents")
    return docs, PostingsStore.build(
        spark, docs.filter(F.col("doc_id") % frac == 0),
        "doc_id", "text", str(tmp_path / name), n_buckets=16,
    )


# -- lineage guard --------------------------------------------------------------


def test_postings_new_lineage_commit_raises_not_drops(spark, sf_dir, tmp_path):
    """The round-6 hole: compact advances the watermark, a NEW stream's
    epoch 0 is at-or-below it, and commit_epoch returned False — data
    loss with rc=0. Now: loud LineageMismatchError; same-lineage replay
    stays a no-op."""
    docs, store = _pstore(spark, sf_dir, tmp_path)
    p1 = docs.filter(F.col("doc_id") % 2 == 1)
    store._commit_epoch(p1, 0, lineage="ckpt-A")
    store.compact()  # folds epoch 0, watermark -> 0
    want = _rows(store.reader())
    # same-lineage replay of the folded epoch: idempotent no-op
    store._commit_epoch(p1, 0, lineage="ckpt-A")
    assert store._epochs() == [] and _rows(store.reader()) == want
    # NEW lineage reusing epoch 0: must raise, not drop
    with pytest.raises(LineageMismatchError):
        store._commit_epoch(p1, 0, lineage="ckpt-B")
    # and even a NEW epoch id from a foreign lineage is refused
    with pytest.raises(LineageMismatchError):
        store._commit_epoch(p1, 99, lineage="ckpt-B")
    assert _rows(store.reader()) == want


def test_pq_new_lineage_commit_raises_not_drops(spark, sf_dir, tmp_path):
    e = load(spark, sf_dir, "embeddings")
    p0 = e.filter(F.col("vec_id") % 2 == 0)
    p1 = e.filter(F.col("vec_id") % 2 == 1)
    store = IVFPQStore.build(spark, p0, "vec_id", "embedding", str(tmp_path / "idx"))
    store._commit_epoch(p1, 0, lineage="ckpt-A")
    store.compact()
    want = _rows(store.reader())
    store._commit_epoch(p1, 0, lineage="ckpt-A")  # replay: no-op
    assert store._epochs() == [] and _rows(store.reader()) == want
    with pytest.raises(LineageMismatchError):
        store._commit_epoch(p1, 0, lineage="ckpt-B")
    assert _rows(store.reader()) == want


def test_legacy_watermark_without_lineage_refuses_streams(spark, sf_dir, tmp_path):
    """A store whose watermark advanced before lineage tracking existed
    cannot tell a replay from a new checkpoint — ambiguity resolves loud
    (raise), never lossy (silent drop)."""
    docs, store = _pstore(spark, sf_dir, tmp_path)
    p1 = docs.filter(F.col("doc_id") % 2 == 1)
    store._commit_epoch(p1, 0)  # lineage=None: legacy/programmatic commit
    store.compact()
    assert store._ptr()["lineage"] is None
    with pytest.raises(LineageMismatchError):
        store._commit_epoch(p1, 0, lineage="ckpt-A")
    # bare programmatic replays keep the old watermark semantics
    assert store._commit_epoch(p1, 0) is None  # helper returns None; no raise


def test_streaming_wiped_checkpoint_raises_end_to_end(spark, sf_dir, tmp_path):
    """The full streaming path: stream A (checkpoint A) ingests and is
    folded; stream B (fresh checkpoint — epoch ids reset to 0) fails its
    first micro-batch loudly; reset_lineage() then adopts stream C."""
    docs, store = _pstore(spark, sf_dir, tmp_path, frac=3)
    p1 = docs.filter(F.col("doc_id") % 3 == 1)
    p2 = docs.filter(F.col("doc_id") % 3 == 2)
    src1 = str(tmp_path / "in1")
    p1.write.parquet(src1)
    q = store.streaming_append(
        spark.readStream.schema(DOCS_DDL).parquet(src1), str(tmp_path / "ck1")
    )
    q.awaitTermination()
    store.compact()
    want = _rows(store.reader())
    src2 = str(tmp_path / "in2")
    p2.write.parquet(src2)
    q2 = store.streaming_append(
        spark.readStream.schema(DOCS_DDL).parquet(src2), str(tmp_path / "ck2")
    )
    with pytest.raises(Exception) as ei:
        q2.awaitTermination()
    assert "lineage" in str(ei.value).lower()
    assert _rows(store.reader()) == want  # nothing half-landed
    # deliberate re-point: reset, then the new stream's epochs land
    store.reset_lineage()
    q3 = store.streaming_append(
        spark.readStream.schema(DOCS_DDL).parquet(src2), str(tmp_path / "ck3")
    )
    q3.awaitTermination()
    fresh = PostingsStore.build(
        spark, docs.filter(F.col("doc_id") % 3 != 1).unionByName(p1),
        "doc_id", "text", str(tmp_path / "b"), n_buckets=16,
    )
    assert _rows(store.reader()) == _rows(fresh.reader())


def test_pq_streaming_same_checkpoint_restart_is_fine(spark, sf_dir, tmp_path):
    """Same checkpoint, second run (no new files): the recorded lineage
    matches, nothing raises, nothing duplicates."""
    e = load(spark, sf_dir, "embeddings")
    p0 = e.filter(F.col("vec_id") % 2 == 0)
    p1 = e.filter(F.col("vec_id") % 2 == 1)
    store = IVFPQStore.build(spark, p0, "vec_id", "embedding", str(tmp_path / "idx"))
    src = str(tmp_path / "in")
    p1.write.parquet(src)
    ck = str(tmp_path / "ck")
    for _ in range(2):  # restart with the SAME checkpoint
        q = store.streaming_append(
            spark.readStream.schema(EMB_DDL).parquet(src), ck
        )
        q.awaitTermination()
    assert _rows(store.reader()) == _rows(store._encode(e))
    assert store._ptr()["lineage"] is not None


def test_reset_lineage_requires_compact_and_sweeps_tombstones(
    spark, sf_dir, tmp_path
):
    docs, store = _pstore(spark, sf_dir, tmp_path)
    p1 = docs.filter(F.col("doc_id") % 2 == 1)
    store._commit_epoch(p1, 0, lineage="A")
    with pytest.raises(RuntimeError, match="compact"):
        store.reset_lineage()
    store.compact()
    store.reset_lineage()
    ptr = store._ptr()
    assert ptr["lineage"] is None and ptr["watermark"] == -1
    assert ptr["folded"] == []
    # the new lineage's epoch 0 lands (no stale commit dir masks it)
    want = store.reader().count()
    store._commit_epoch(p1.limit(5), 0, lineage="B")
    assert store.reader().count() > want


def test_epoch_replay_racing_compact_cannot_double_count(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The TOCTOU the round-7 hardening closes: a replay whose pointer
    SNAPSHOT predates a concurrent compact (stale watermark) finds its
    commit directory already folded and swept — under round-6 semantics
    it would re-commit and double-count. The locked re-read before the
    final rename must refuse it. Staged deterministically by serving the
    stale pointer to the replay's first read only."""
    docs, store = _pstore(spark, sf_dir, tmp_path)
    p1 = docs.filter(F.col("doc_id") % 2 == 1)
    store._commit_epoch(p1, 5, lineage=None)
    stale = genstore.read_ptr(store._ptr_path(), 0)  # pre-compact snapshot
    store.compact()  # folds ep 5, advances watermark, sweeps the dir
    want = _rows(store.reader())
    calls = {"n": 0}
    real = genstore.read_ptr

    def first_read_stale(p, d):
        calls["n"] += 1
        return dict(stale) if calls["n"] == 1 else real(p, d)

    monkeypatch.setattr(genstore, "read_ptr", first_read_stale)
    store._commit_epoch(p1, 5, lineage=None)  # the racing replay
    monkeypatch.setattr(genstore, "read_ptr", real)
    assert calls["n"] >= 2  # fast path passed on the stale snapshot
    assert store._epochs() == []  # locked re-read refused the re-commit
    assert _rows(store.reader()) == want  # no double count


# -- CAS pointer flips ------------------------------------------------------------


def test_postings_concurrent_maintainers_raise_not_clobber(
    spark, sf_dir, tmp_path
):
    """Two maintainers from the same base generation: the loser raises
    ConcurrentWriteError and the winner's rewrite survives — staged
    deterministically by interposing a compact between the loser's read
    and its publish (versioned.py's staged-race pattern)."""
    docs, store = _pstore(spark, sf_dir, tmp_path)
    edits = docs.filter(F.col("doc_id") % 10 == 1).withColumn(
        "text", F.concat(F.lit("table sort "), F.col("text"))
    )
    racer = PostingsStore(spark, store.path)
    orig = store._swap

    def interposed(*a, **k):
        racer.compact()  # the other maintainer publishes first
        return orig(*a, **k)

    store._swap = interposed
    with pytest.raises(ConcurrentWriteError):
        store.upsert(edits)
    # the winner's generation is live and fully readable
    fresh = PostingsStore(spark, store.path)
    assert fresh.reader().count() > 0
    assert _rows(fresh.reader()) == _rows(racer.reader())


def test_pq_concurrent_maintainers_raise_not_clobber(spark, sf_dir, tmp_path):
    e = load(spark, sf_dir, "embeddings")
    store = IVFPQStore.build(spark, e, "vec_id", "embedding", str(tmp_path / "idx"))
    moved = e.filter(F.col("vec_id") < 5).withColumn(
        "embedding", F.transform("embedding", lambda x: -x)
    )
    racer = IVFPQStore(spark, store.path)
    orig = store._swap

    def interposed(*a, **k):
        racer.compact()
        return orig(*a, **k)

    store._swap = interposed
    with pytest.raises(ConcurrentWriteError):
        store.upsert(moved)
    fresh = IVFPQStore(spark, store.path)
    assert _rows(fresh.reader()) == _rows(fresh._encode(e))


@pytest.mark.parametrize("kind", ["postings", "pq"])
def test_failed_upsert_write_raises_and_releases_cache(
    spark, sf_dir, tmp_path, kind
):
    """A leg write that fails mid-upsert propagates, leaves the live
    generation as it was, and releases the new leg frames the rewrite
    cached (they would otherwise stay cached for the application)."""
    if kind == "postings":
        docs, store = _pstore(spark, sf_dir, tmp_path)
        batch = docs.filter(F.col("doc_id") % 10 == 1)
    else:
        e = load(spark, sf_dir, "embeddings")
        store = IVFPQStore.build(
            spark, e, "vec_id", "embedding", str(tmp_path / "idx")
        )
        batch = e.filter(F.col("vec_id") < 5)
    g0 = store.current_gen()
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()

    def failing_write(*a, **k):
        raise RuntimeError("leg write failed")

    store._write_legs = failing_write
    with pytest.raises(RuntimeError, match="leg write failed"):
        store.upsert(batch)
    assert cache.numCachedEntries() <= before
    assert store.current_gen() == g0


# -- retained generations (time travel) -------------------------------------------


def test_postings_pinned_read_serves_pre_mutation_state(
    spark, sf_dir, tmp_path
):
    docs, store = _pstore(spark, sf_dir, tmp_path, frac=1)
    g0 = store.current_gen()
    pre = _rows(store.reader())
    pre_dl = _rows(store.doclen_reader())
    pre_bm = _rows(store.ranked_bm25(TERMS, topk=10))
    edits = docs.filter(F.col("doc_id") % 7 == 1).withColumn(
        "text", F.concat(F.lit("table sort "), F.col("text"))
    )
    store.upsert(edits)
    store.delete(docs.filter(F.col("doc_id") % 9 == 3).select("doc_id"))
    assert _rows(store.reader()) != pre  # the mutations really changed it
    # pinned reads re-serve the exact pre-mutation index
    assert _rows(store.reader(gen=g0)) == pre
    assert _rows(store.doclen_reader(gen=g0)) == pre_dl
    assert _rows(store.ranked_bm25(TERMS, topk=10, as_of_gen=g0)) == pre_bm
    # a third mutation trims g0 past keep_gens=2
    store.delete(docs.filter(F.col("doc_id") % 11 == 5).select("doc_id"))
    with pytest.raises(LookupError):
        store.reader(gen=g0)
    assert store.reader(gen=g0 + 1).count() > 0  # newer pin still valid


def test_postings_vacuum_refuses_pinned_reads(spark, sf_dir, tmp_path):
    docs, store = _pstore(spark, sf_dir, tmp_path, frac=1)
    g0 = store.current_gen()
    store.delete(docs.filter(F.col("doc_id") % 9 == 3).select("doc_id"))
    assert store.reader(gen=g0).count() > 0
    live = _rows(store.ranked_bm25(TERMS, topk=10))
    store.vacuum()
    with pytest.raises(LookupError):
        store.reader(gen=g0)
    with pytest.raises(LookupError):
        store.ranked_bm25(TERMS, topk=10, as_of_gen=g0)
    # the live index is untouched
    assert _rows(store.ranked_bm25(TERMS, topk=10)) == live
    import os

    assert not os.path.isdir(store._gen_dirs(g0)[0])  # bytes really swept


def test_pq_pinned_query_serves_pre_mutation_state(spark, sf_dir, tmp_path):
    e = load(spark, sf_dir, "embeddings")
    store = IVFPQStore.build(spark, e, "vec_id", "embedding", str(tmp_path / "idx"))
    qdf = e.filter(F.col("vec_id") < 3)
    g0 = store.current_gen()
    pre = _rows(store.reader())
    pre_q = _rows(store.query(qdf, nprobe=8, topk=5))
    moved = e.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 10)).withColumn(
        "embedding", F.transform("embedding", lambda x: -x)
    )
    store.upsert(moved)
    assert _rows(store.reader()) != pre
    assert _rows(store.reader(gen=g0)) == pre
    assert _rows(store.query(qdf, nprobe=8, topk=5, as_of_gen=g0)) == pre_q
    store.vacuum()
    with pytest.raises(LookupError):
        store.query(qdf, nprobe=8, topk=5, as_of_gen=g0)


# -- emptied-out generations (ADVICE r6) ------------------------------------------


def test_postings_delete_everything_reads_empty_not_error(
    spark, sf_dir, tmp_path
):
    docs = load(spark, sf_dir, "documents")
    small = docs.filter(F.col("doc_id") < 30)
    store = PostingsStore.build(
        spark, small, "doc_id", "text", str(tmp_path / "ix"), n_buckets=8
    )
    store.delete(small.select("doc_id"))
    assert store.reader().count() == 0
    assert store.doclen_reader().count() == 0
    assert store.reader().columns == ["token", "doc_id", "pos", "bucket"]
    assert store.ranked_bm25(TERMS, topk=5).count() == 0
    assert store.phrase(["table", "scan"]).count() == 0
    # a reloaded handle behaves the same
    assert PostingsStore(spark, store.path).reader().count() == 0


def test_pq_delete_everything_reads_empty_not_error(spark, sf_dir, tmp_path):
    e = load(spark, sf_dir, "embeddings")
    small = e.filter(F.col("vec_id") < 40)
    store = IVFPQStore.build(
        spark, small, "vec_id", "embedding", str(tmp_path / "idx")
    )
    store.delete(small.select("vec_id"))
    assert store.reader().count() == 0
    q = e.filter(F.col("vec_id") < 2)
    assert store.query(q, nprobe=8, topk=5).count() == 0
    assert IVFPQStore(spark, store.path).reader().count() == 0


def test_bm25_table_all_null_terms_returns_empty_typed_frame(
    spark, sf_dir, tmp_path
):
    docs, store = _pstore(spark, sf_dir, tmp_path)
    cols = ["query_id", "doc_id", "bm25", "n_terms_hit", "rank"]
    qt = spark.createDataFrame(
        [(0, None), (1, None)], "query_id long, term string"
    )
    out = store.ranked_bm25_table(qt)
    assert out.columns == cols and out.count() == 0
    empty = spark.createDataFrame([], "query_id long, term string")
    out2 = store.ranked_bm25_table(empty)
    assert out2.columns == cols and out2.count() == 0


# -- AQE-sized retrieval joins (VERDICT r6 #6) -------------------------------------


def _forced_shuffle(spark):
    import contextlib

    @contextlib.contextmanager
    def ctx():
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            old_aqe = spark.conf.get(
                "spark.sql.adaptive.autoBroadcastJoinThreshold"
            )
        except Exception:
            old_aqe = None
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        try:
            yield
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            if old_aqe is None:
                spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
            else:
                spark.conf.set(
                    "spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe
                )

    return ctx()


def test_bm25_table_df_join_broadcasts_via_aqe_and_survives_shuffle(
    spark, sf_dir, tmp_path
):
    """The per-term df join carries no broadcast hint: at fixture
    vocabularies AQE converts it to a broadcast at runtime; with
    broadcasts disabled (the 10^7-term regime) the same plan completes
    on a shuffle join with identical rows."""
    docs, store = _pstore(spark, sf_dir, tmp_path, frac=1)
    qt = spark.createDataFrame(
        [(0, "table"), (0, "sort"), (1, "hash"), (1, "scan")],
        "query_id long, term string",
    )
    out = store.ranked_bm25_table(qt, topk=7)
    want = _rows(out)
    assert want
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # AQE sized the df join down
    with _forced_shuffle(spark):
        got = store.ranked_bm25_table(qt, topk=7)
        assert _rows(got) == want  # decimal accumulation: bit-identical
        plan2 = got._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan2  # genuinely ran shuffled


def test_bm25_table_large_vocabulary_smoke_on_shuffle_join(
    spark, sf_dir, tmp_path
):
    """A query table whose vocabulary would be dangerous to force-
    broadcast: with broadcasts disabled end to end, the batch still
    completes (shuffle joins all the way down) and real terms still
    score."""
    docs, store = _pstore(spark, sf_dir, tmp_path, frac=1)
    big = (
        spark.range(20000)
        .selectExpr(
            "id AS query_id",
            "concat('zz_absent_term_', id) AS term",
        )
        .unionByName(
            spark.createDataFrame(
                [(0, "table"), (1, "sort")], "query_id long, term string"
            )
        )
    )
    with _forced_shuffle(spark):
        out = store.ranked_bm25_table(big, topk=3)
        got = out.groupBy("query_id").count().collect()
    assert {r["query_id"] for r in got} == {0, 1}  # only real terms hit


@pytest.mark.slow
def test_batch_attr_filtered_query_equals_filtered_loops(
    spark, sf_dir, tmp_path
):
    """q395's contract: per-query attribute constraints as DATA
    (attr_filters) must be row-identical to looping
    query(where=...) with each query's own predicate — and the
    constraint must really bind (different constraints change results)."""
    e = load(spark, sf_dir, "embeddings")
    store = IVFPQStore.build(
        spark, e, "vec_id", "embedding", str(tmp_path / "idx"),
        attr_cols=["label"],
    )
    qids = [0, 1, 2, 3]
    qdf = e.filter(F.col("vec_id").isin(qids))
    wants = qdf.select(
        F.col("vec_id").alias("query_id"),
        (F.col("vec_id") % 3).cast("int").alias("label"),
    )
    batch = store.query(
        qdf, nprobe=4, topk=5, attr_filters=wants
    )
    loops = []
    for qid in qids:
        loops.append(
            store.query(
                e.filter(F.col("vec_id") == qid),
                nprobe=4, topk=5, where=f"label = {qid % 3}",
            )
        )
    want = loops[0]
    for p in loops[1:]:
        want = want.unionByName(p)
    assert _rows(batch) == _rows(want)
    assert batch.count() > 0
    # every returned neighbor satisfies ITS query's constraint
    lab = {r["vec_id"]: r["label"] for r in e.select("vec_id", "label").collect()}
    for r in batch.collect():
        assert lab[r["neighbor_id"]] == r["query_id"] % 3
    # constraints as data really vary per query: a shared constraint differs
    shared = store.query(qdf, nprobe=4, topk=5, where="label = 0")
    assert _rows(batch) != _rows(shared)
    # misuse fails loudly
    with pytest.raises(ValueError):
        store.query(
            qdf, nprobe=4, topk=5,
            attr_filters=wants.withColumnRenamed("label", "nope"),
        )


def test_batch_attr_filters_multi_column(spark, sf_dir, tmp_path):
    """Two constraint columns: a candidate must match BOTH of its
    query's attributes (per-tenant AND per-label retrieval). Derived
    attr columns ride the build frame like any metadata column."""
    e = load(spark, sf_dir, "embeddings").withColumn(
        "parity", (F.col("vec_id") % 2).cast("int")
    )
    store = IVFPQStore.build(
        spark, e, "vec_id", "embedding", str(tmp_path / "idx"),
        attr_cols=["label", "parity"],
    )
    qids = [0, 1, 2]
    qdf = e.filter(F.col("vec_id").isin(qids))
    wants = qdf.select(
        F.col("vec_id").alias("query_id"),
        (F.col("vec_id") % 3).cast("int").alias("label"),
        (F.col("vec_id") % 2).cast("int").alias("parity"),
    )
    batch = store.query(
        qdf, nprobe=4, topk=5, attr_filters=wants
    )
    loops = []
    for qid in qids:
        loops.append(
            store.query(
                e.filter(F.col("vec_id") == qid), nprobe=4, topk=5,
                where=f"label = {qid % 3} AND parity = {qid % 2}",
            )
        )
    want = loops[0]
    for p in loops[1:]:
        want = want.unionByName(p)
    assert _rows(batch) == _rows(want)
    lab = {
        r["vec_id"]: (r["label"], r["parity"])
        for r in e.select("vec_id", "label", "parity").collect()
    }
    got = batch.collect()
    assert got
    for r in got:
        assert lab[r["neighbor_id"]] == (r["query_id"] % 3, r["query_id"] % 2)


def test_pinned_read_isolated_from_streaming_commits(spark, sf_dir, tmp_path):
    """A pinned generation is the FOLDED state at its publish: epochs
    committed after the pin (streaming ingest racing an eval) must not
    leak into as_of_gen reads, while the live reader sees them."""
    docs, store = _pstore(spark, sf_dir, tmp_path)
    p1 = docs.filter(F.col("doc_id") % 2 == 1)
    store.compact()  # publish gen 1 (folded state), retains gen 0
    g1 = store.current_gen()
    pinned_before = _rows(store.reader(gen=g1))
    store._commit_epoch(p1, 0, lineage="A")  # post-pin streaming commit
    assert _rows(store.reader(gen=g1)) == pinned_before  # pin: no epoch legs
    assert len(_rows(store.reader())) > len(pinned_before)  # live: sees it


@pytest.mark.slow
def test_postings_lifecycle_random_walk_matches_model(spark, sf_dir, tmp_path):
    """Model-based lifecycle fuzz: a seeded random walk over the FULL
    verb set (append / epoch commit / epoch replay / upsert / delete /
    compact / vacuum) against a driver-side dict model of the corpus.
    After every verb the store's reader must equal a fresh build of the
    model corpus — so any interaction bug between generations, epochs,
    hardlink carryover, and the sidecar surfaces as a row diff at the
    exact step that broke it."""
    import random

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    all_rows = {r["doc_id"]: r["text"] for r in docs.collect()}
    ids = sorted(all_rows)
    rng = random.Random(7)
    base_ids = ids[::2]
    model = {i: all_rows[i] for i in base_ids}
    store = PostingsStore.build(
        spark,
        docs.filter(F.col("doc_id").isin(base_ids)),
        "doc_id", "text", str(tmp_path / "ix"), n_buckets=8,
    )

    def frame(pairs):
        return spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in pairs], DOCS_DDL
        )

    next_epoch = 0
    committed: dict[int, list] = {}
    for step in range(fuzz_depth(12, 6)):
        verb = rng.choice(
            ["append", "epoch", "replay", "upsert", "delete", "compact",
             "vacuum"]
        )
        if verb == "append":
            new = [i for i in ids if i not in model]
            pick = rng.sample(new, min(3, len(new)))
            if pick:
                store.append(frame([(i, all_rows[i]) for i in pick]))
                model.update({i: all_rows[i] for i in pick})
        elif verb == "epoch":
            new = [i for i in ids if i not in model]
            pick = rng.sample(new, min(3, len(new)))
            if pick:
                pairs = [(i, all_rows[i]) for i in pick]
                store._commit_epoch(frame(pairs), next_epoch, lineage="L")
                committed[next_epoch] = pairs
                next_epoch += 1
                model.update(dict(pairs))
        elif verb == "replay" and committed:
            eid = rng.choice(sorted(committed))
            # at-least-once delivery: must be a no-op however often
            store._commit_epoch(frame(committed[eid]), eid, lineage="L")
        elif verb == "upsert":
            pick = rng.sample(sorted(model), min(3, len(model)))
            pairs = [(i, "zqx edit " + all_rows[i]) for i in pick]
            store.upsert(frame(pairs))
            model.update(dict(pairs))
            committed.clear()  # upsert folds epochs first
        elif verb == "delete":
            pick = rng.sample(sorted(model), min(3, len(model)))
            store.delete(frame([(i, "") for i in pick]).select("doc_id"))
            for i in pick:
                model.pop(i)
            committed.clear()
        elif verb == "compact":
            store.compact()
            committed.clear()
        elif verb == "vacuum":
            store.vacuum()
        fresh = PostingsStore.build(
            spark, frame(sorted(model.items())),
            "doc_id", "text", str(tmp_path / f"chk{step}"), n_buckets=8,
        )
        assert _rows(store.reader()) == _rows(fresh.reader()), (
            f"step {step} verb {verb} diverged"
        )
        assert _rows(store.doclen_reader()) == _rows(fresh.doclen_reader()), (
            f"step {step} verb {verb} sidecar diverged"
        )


def test_generations_inspection(spark, sf_dir, tmp_path):
    """generations() — versioned.versions() for the index stores: one
    live row, retained rows oldest-first, lineage/watermark riding."""
    docs, store = _pstore(spark, sf_dir, tmp_path)
    assert [g["live"] for g in store.generations()] == [True]
    store._commit_epoch(docs.filter(F.col("doc_id") % 2 == 1), 0, lineage="A")
    store.compact()
    gens = store.generations()
    assert [g["live"] for g in gens] == [False, True]
    assert gens[-1]["lineage"] == "A" and gens[-1]["watermark"] == 0
    store.vacuum()
    assert [g["live"] for g in store.generations()] == [True]
    e = load(spark, sf_dir, "embeddings")
    vs = IVFPQStore.build(spark, e, "vec_id", "embedding", str(tmp_path / "v"))
    vs.compact()
    vgens = vs.generations()
    assert [g["live"] for g in vgens] == [False, True]
    assert vgens[0]["gen"] == "data"


def test_reconcile_stores_surfaces_one_sided_deletes(spark, sf_dir, tmp_path):
    """q396's operational audit: a doc deleted from ONE store of a
    paired deployment shows up in reconcile_stores; a consistent pair
    reconciles to empty."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.reconcile import reconcile_stores

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 60)
    # pair the two stores over the SAME id set (0..59 on both fixtures)
    ids = {r["doc_id"] for r in docs.select("doc_id").collect()} & {
        r["vec_id"] for r in emb.select("vec_id").collect()
    }
    docs = docs.filter(F.col("doc_id").isin(sorted(ids)))
    emb = emb.filter(F.col("vec_id").isin(sorted(ids)))
    ps = PostingsStore.build(
        spark, docs, "doc_id", "text", str(tmp_path / "p"), n_buckets=8
    )
    vs = IVFPQStore.build(spark, emb, "vec_id", "embedding", str(tmp_path / "v"))
    assert reconcile_stores(ps, vs).count() == 0  # consistent pair
    # delete from the postings store ONLY: drift must surface
    victims = docs.filter(F.col("doc_id") % 10 == 1).select("doc_id")
    ps.delete(victims)
    drift = reconcile_stores(ps, vs).collect()
    want_ids = {str(r["doc_id"]) for r in victims.collect()}
    assert {r["doc_id"] for r in drift} == want_ids
    assert {r["side"] for r in drift} == {"vectors_only"}
    # catching up the vector store restores the invariant
    vs.delete(victims.withColumnRenamed("doc_id", "vec_id"))
    assert reconcile_stores(ps, vs).count() == 0


def test_phrase_table_plen_join_is_aqe_sized(spark, sf_dir, tmp_path):
    docs, store = _pstore(spark, sf_dir, tmp_path, frac=1)
    pt = spark.createDataFrame(
        [(0, 0, "table"), (0, 1, "scan"), (1, 0, "merge"), (1, 1, "sort")],
        "phrase_id long, ppos long, term string",
    )
    out = store.phrase_table(pt)
    want = _rows(out)
    assert want
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # AQE broadcast the 2-row plen frame
    with _forced_shuffle(spark):
        got = store.phrase_table(pt)
        assert _rows(got) == want
