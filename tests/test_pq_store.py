"""IVF-PQ index store (operators/pq_store.py): frozen-parameter
append-equivalence, directory pruning, and streaming ingest."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pq_store import IVFPQStore
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load

EMB_DDL = "vec_id long, embedding array<float>, label int"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def parts(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    return (
        e,
        e.filter(F.col("vec_id") % 5 < 3),
        e.filter(F.col("vec_id") % 5 == 3),
        e.filter(F.col("vec_id") % 5 == 4),
    )


def test_incremental_append_equals_one_shot_encode(spark, parts, tmp_path):
    e, p0, p1, p2 = parts
    store = IVFPQStore.build(
        spark, p0, "vec_id", "embedding", str(tmp_path / "idx")
    )
    store.append(p1)
    store.append(p2)
    # grown store == encoding the whole corpus with the same frozen params
    assert _rows(store.reader()) == _rows(store._encode(e))
    # reloading from disk sees the same frozen parameters
    reloaded = IVFPQStore(spark, str(tmp_path / "idx"))
    assert reloaded.centroids == store.centroids
    assert reloaded.codebook == store.codebook


def test_query_equals_full_store_query_and_prunes(spark, parts, tmp_path):
    e, p0, p1, p2 = parts
    grown = IVFPQStore.build(
        spark, p0, "vec_id", "embedding", str(tmp_path / "a")
    )
    grown.append(p1)
    grown.append(p2)
    queries = e.filter(F.col("vec_id") < 3)
    got = grown.query(queries, nprobe=2, topk=5)

    # one-shot twin: same frozen params (copied sidecar), whole corpus
    import os, shutil

    os.makedirs(str(tmp_path / "b"), exist_ok=True)
    shutil.copy(
        str(tmp_path / "a" / "_ivfpq_params.json"),
        str(tmp_path / "b" / "_ivfpq_params.json"),
    )
    oneshot = IVFPQStore(spark, str(tmp_path / "b"))
    oneshot._encode(e).write.mode("overwrite").partitionBy("cluster").parquet(
        oneshot._data_path()
    )
    assert _rows(got) == _rows(oneshot.query(queries, nprobe=2, topk=5))

    # the probe predicate must land in PartitionFilters (directory pruning)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    scan = plan[plan.index("PartitionFilters"):]
    assert "cluster" in scan[: scan.index("]")]


def test_filtered_query_semantics_and_pushdown(spark, parts, tmp_path):
    """Attribute-filtered search: results equal the unfiltered top-k
    recomputed over only the matching candidates, the attribute rides
    the coded table, and BOTH predicates land where they scale — cluster
    in PartitionFilters (directory pruning), label in PushedFilters
    (row-group skipping)."""
    e, _, _, _ = parts
    store = IVFPQStore.build(
        spark, e, "vec_id", "embedding", str(tmp_path / "idx"),
        attr_cols=["label"],
    )
    queries = e.filter(F.col("vec_id") < 3)
    got = store.query(queries, nprobe=2, topk=5, where="label = 3")

    # semantic twin: a store holding ONLY label-3 vectors (same frozen
    # params) must return the same ranking — post-filter == pre-filter
    # when the candidate sets match, because ADC scores are per-vector
    import os, shutil

    os.makedirs(str(tmp_path / "twin"), exist_ok=True)
    shutil.copy(
        str(tmp_path / "idx" / "_ivfpq_params.json"),
        str(tmp_path / "twin" / "_ivfpq_params.json"),
    )
    twin = IVFPQStore(spark, str(tmp_path / "twin"))
    twin._encode(e.filter(F.col("label") == 3)).write.mode(
        "overwrite"
    ).partitionBy("cluster").parquet(twin._data_path())
    assert _rows(got) == _rows(twin.query(queries, nprobe=2, topk=5))

    plan = got._jdf.queryExecution().executedPlan().toString()
    scan = plan[plan.index("PartitionFilters"):]
    assert "cluster" in scan[: scan.index("]")]
    pushed = plan[plan.index("PushedFilters"):]
    assert "label" in pushed[: pushed.index("]")]

    # attrs survive reload and maintenance rewrites
    reloaded = IVFPQStore(spark, str(tmp_path / "idx"))
    assert reloaded.attr_cols == ["label"]
    assert "label" in store.reader().columns

    # ...including upsert (rewritten lists keep the attribute column and
    # the filtered query still matches the matching-only twin afterwards)
    moved = e.filter(F.col("vec_id") < 20).withColumn(
        "label", F.lit(3).cast("int")
    )
    store.upsert(moved)
    assert "label" in store.reader().columns
    twin2_dir = str(tmp_path / "twin2")
    import os, shutil

    os.makedirs(twin2_dir, exist_ok=True)
    shutil.copy(
        str(tmp_path / "idx" / "_ivfpq_params.json"),
        twin2_dir + "/_ivfpq_params.json",
    )
    twin2 = IVFPQStore(spark, twin2_dir)
    whole_after = e.filter(F.col("vec_id") >= 20).unionByName(moved)
    twin2._encode(whole_after.filter(F.col("label") == 3)).write.mode(
        "overwrite"
    ).partitionBy("cluster").parquet(twin2._data_path())
    got2 = store.query(queries, nprobe=2, topk=5, where="label = 3")
    assert _rows(got2) == _rows(twin2.query(queries, nprobe=2, topk=5))


def test_streaming_append_keeps_index_fresh(spark, parts, tmp_path):
    e, p0, p1, p2 = parts
    store = IVFPQStore.build(
        spark, p0, "vec_id", "embedding", str(tmp_path / "idx")
    )
    src = str(tmp_path / "incoming")
    p1.unionByName(p2).write.parquet(src)
    stream = spark.readStream.schema(EMB_DDL).parquet(src)
    q = store.streaming_append(stream, str(tmp_path / "ckpt"))
    q.awaitTermination()
    assert _rows(store.reader()) == _rows(store._encode(e))


def test_compact_collapses_small_files_preserving_rows(spark, parts, tmp_path):
    e, p0, p1, p2 = parts
    store = IVFPQStore.build(
        spark, p0, "vec_id", "embedding", str(tmp_path / "idx")
    )
    # many tiny appends -> many files per list
    for chunk in (p1, p2):
        store.append(chunk.repartition(4))
    import glob

    before = set(glob.glob(str(tmp_path / "idx" / "data" / "*/*.parquet")))
    rows_before = _rows(store.reader())
    store.compact()
    # compaction publishes a NEW data generation behind the pointer file;
    # the pre-compact directory is retired
    assert store._data_path() != str(tmp_path / "idx" / "data")
    after = set(glob.glob(store._data_path() + "/*/*.parquet"))
    assert _rows(store.reader()) == rows_before
    assert len(after) < len(before)
    # one file per list directory
    import os as _os
    per_dir = {}
    for f in after:
        per_dir.setdefault(_os.path.dirname(f), []).append(f)
    assert all(len(v) == 1 for v in per_dir.values())


def test_upsert_replaces_and_inserts_rewriting_touched_lists_only(
    spark, parts, tmp_path
):
    import glob, os as _os

    e, p0, p1, p2 = parts
    # 16 lists >> the <=5-vector batch: untouched lists are guaranteed
    store = IVFPQStore.build(
        spark, p0.unionByName(p1), "vec_id", "embedding", str(tmp_path / "idx"),
        n_lists=16,
    )
    # batch = a few brand-new vectors + replacements for 2 existing ids
    # (negated embeddings, so replacements may migrate lists)
    moved = p0.filter(F.col("vec_id") < 2).withColumn(
        "embedding", F.transform("embedding", lambda x: -x)
    )
    batch = p2.filter(F.col("vec_id") < 20).unionByName(moved)
    before = {
        _os.stat(f).st_ino
        for f in glob.glob(store._data_path() + "/*/*.parquet")
    }
    store.upsert(batch)
    after = {
        _os.stat(f).st_ino
        for f in glob.glob(store._data_path() + "/*/*.parquet")
    }

    expected_src = (
        p0.unionByName(p1)
        .join(batch.select("vec_id"), "vec_id", "left_anti")
        .unionByName(batch)
    )
    assert _rows(store.reader()) == _rows(store._encode(expected_src))
    # untouched lists carry over as HARDLINKS into the new generation
    # (same inodes — partition-selective rewrite, no bytes copied)
    assert before & after, "expected at least one list left untouched"


def test_publish_is_crash_safe(spark, parts, tmp_path):
    """A half-built next generation (a crash before the pointer flip)
    never affects readers, and the next maintenance pass sweeps it and
    publishes cleanly over the same name."""
    import os as _os

    e, p0, p1, p2 = parts
    store = IVFPQStore.build(spark, p0, "vec_id", "embedding", str(tmp_path / "idx"))
    rows = _rows(store.reader())
    # simulate a compact that crashed after writing half a generation
    junk = _os.path.join(str(tmp_path / "idx"), "data-00000001")
    _os.makedirs(_os.path.join(junk, "cluster=0"))
    with open(_os.path.join(junk, "cluster=0", "part-junk.parquet"), "w") as f:
        f.write("not parquet")
    # pointer still names the complete original dir: reads are unaffected
    assert store._data_path().endswith("/data")
    assert _rows(store.reader()) == rows
    # next compact sweeps the leftover and publishes atomically
    store.compact()
    assert store._data_path().endswith("data-00000001")
    assert _rows(store.reader()) == rows
    # a reloaded handle resolves the same pointer
    assert _rows(IVFPQStore(spark, str(tmp_path / "idx")).reader()) == rows


def test_delete_removes_ids_rewriting_touched_lists_only(spark, parts, tmp_path):
    e, p0, p1, p2 = parts
    store = IVFPQStore.build(
        spark, e, "vec_id", "embedding", str(tmp_path / "idx")
    )
    victims = e.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    store.delete(victims)
    expected_src = e.join(victims, "vec_id", "left_anti")
    assert _rows(store.reader()) == _rows(store._encode(expected_src))
    # deleting already-absent ids is a no-op
    gen = store.current_gen()
    store.delete(victims)
    assert store.current_gen() == gen
    assert _rows(store.reader()) == _rows(store._encode(expected_src))


# -- exactly-once streaming epochs (round 6) -----------------------------------


def test_streaming_epoch_replay_is_exactly_once(spark, parts, tmp_path):
    """A retried epoch (at-least-once foreachBatch delivery) must not
    duplicate vectors — a blind append would make a duplicated vector
    appear TWICE in every top-k that reaches it."""
    e, p0, p1, p2 = parts
    store = IVFPQStore.build(spark, p0, "vec_id", "embedding", str(tmp_path / "idx"))
    store._commit_epoch(p1, 0)
    store._commit_epoch(p1, 0)  # the retry: must be a no-op
    store._commit_epoch(p2, 1)
    store._commit_epoch(p2, 1)
    assert _rows(store.reader()) == _rows(store._encode(e))
    # and the query path sees each vector exactly once
    q = e.filter(F.col("vec_id") < 3)
    got = store.query(q, nprobe=8, topk=5)
    pairs = [(r["query_id"], r["neighbor_id"]) for r in got.collect()]
    assert len(pairs) == len(set(pairs))


def test_compact_folds_epochs_crash_safely(spark, parts, tmp_path):
    """compact() folds committed epochs into the new generation; the
    pointer records them BEFORE the directory sweep, so even a leftover
    epoch directory (simulated crash mid-sweep) is never double-counted
    by readers."""
    import os as _os

    e, p0, p1, p2 = parts
    store = IVFPQStore.build(spark, p0, "vec_id", "embedding", str(tmp_path / "idx"))
    store._commit_epoch(p1.unionByName(p2), 0)
    want = _rows(store.reader())
    store.compact()
    assert store._epochs() == []
    assert _rows(store.reader()) == want
    # simulate the crash: resurrect a folded epoch directory and mark it
    # folded in the pointer — readers must keep skipping it
    eroot = _os.path.join(str(tmp_path / "idx"), "eph")
    store._commit_epoch(p2, 7)  # a directory that IS listed as folded
    import json as _json

    ptr = _os.path.join(str(tmp_path / "idx"), "_data_ptr")
    with open(ptr) as f:
        val = _json.load(f)
    val["folded"] = ["ep-0000000007"]
    with open(ptr, "w") as f:
        _json.dump(val, f)
    assert _rows(store.reader()) == want
    # the next compact prunes the tombstone and sweeps the directory
    store.compact()
    assert not _os.path.isdir(_os.path.join(eroot, "ep-0000000007"))
    assert _rows(store.reader()) == want


def test_upsert_after_streaming_folds_then_rewrites(spark, parts, tmp_path):
    e, p0, p1, p2 = parts
    store = IVFPQStore.build(spark, p0, "vec_id", "embedding", str(tmp_path / "idx"))
    store._commit_epoch(p1, 0)
    moved = p0.filter(F.col("vec_id") < 2).withColumn(
        "embedding", F.transform("embedding", lambda x: -x)
    )
    batch = p2.filter(F.col("vec_id") < 20).unionByName(moved)
    store.upsert(batch)
    expected_src = (
        p0.unionByName(p1)
        .join(batch.select("vec_id"), "vec_id", "left_anti")
        .unionByName(batch)
    )
    assert _rows(store.reader()) == _rows(store._encode(expected_src))
    assert store._epochs() == []


def test_epoch_replay_after_compact_is_refused(spark, parts, tmp_path):
    """Watermark semantics (genstore): an epoch folded and swept by
    compact() cannot re-commit when the stream replays it after a crash
    that lost the streaming checkpoint."""
    e, p0, p1, p2 = parts
    store = IVFPQStore.build(spark, p0, "vec_id", "embedding", str(tmp_path / "idx"))
    store._commit_epoch(p1, 5)
    store.compact()
    want = _rows(store.reader())
    store._commit_epoch(p1, 5)  # replay of the folded epoch: refused
    assert store._epochs() == []
    assert _rows(store.reader()) == want
