"""Stores written before the shared generation core open unchanged.

Each case rewrites a freshly built store into one pointer form that
earlier releases leave on disk — no pointer file, the legacy plain-string
IVF-PQ pointer, the JSON pointer with dirname (IVF-PQ) or integer
(postings) generations, and JSON pointers without the fields added later
(watermark, lineage, retained, version) — and then runs a read, a pinned
read, an upsert and a compact on it. Every publish must keep writing the
pointer in the store's own form: a dirname ``gen`` for IVF-PQ, an integer
one for postings.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.postings_store import PostingsStore
from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pq_store import IVFPQStore
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _gen_dir(leg: str, n: int) -> str:
    return leg if n == 0 else f"{leg}-{n:08d}"


# (store kind, pointer content or None, live generation, retained gens on
# disk besides the live one: at most generation 0); pointer gens are
# written in the form each store used before: a dirname for IVF-PQ, an
# integer for postings
CASES = {
    "postings-no-pointer": ("postings", None, 0, []),
    "pq-no-pointer": ("pq", None, 0, []),
    "pq-plain-string": ("pq", "data-00000002\n", 2, []),
    "pq-json-dirname": (
        "pq",
        {"gen": "data-00000001", "folded": [], "watermark": -1,
         "lineage": None, "retained": ["data"], "version": 1},
        1, [0],
    ),
    "postings-json-int": (
        "postings",
        {"gen": 1, "folded": [], "watermark": -1, "lineage": None,
         "retained": [0], "version": 1},
        1, [0],
    ),
    "pq-json-no-newer-fields": ("pq", {"gen": "data-00000001", "folded": []}, 1, []),
    "postings-json-no-newer-fields": ("postings", {"gen": 1, "folded": []}, 1, []),
}


def _open_legacy(spark, sf_dir, root, kind, ptr, live, retained):
    """Build a store, then lay its generation 0 out as generation ``live``
    (keeping generation 0 when it is ``retained``) under the given pointer
    file."""
    if kind == "postings":
        docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
        PostingsStore.build(spark, docs, "doc_id", "text", root, n_buckets=8)
        cls, legs, ptr_file = PostingsStore, ("data", "doclen"), "_store_ptr"
    else:
        e = load(spark, sf_dir, "embeddings")
        IVFPQStore.build(spark, e, "vec_id", "embedding", root, km_iters=1)
        cls, legs, ptr_file = IVFPQStore, ("data",), "_data_ptr"
    for leg in legs:
        if live != 0:
            shutil.copytree(os.path.join(root, leg), os.path.join(root, _gen_dir(leg, live)))
            if 0 not in retained:
                shutil.rmtree(os.path.join(root, leg))
    if ptr is not None:
        with open(os.path.join(root, ptr_file), "w") as f:
            f.write(ptr if isinstance(ptr, str) else json.dumps(ptr))
    return cls(spark, root)


def _mutate(spark, sf_dir, store):
    if isinstance(store, PostingsStore):
        docs = load(spark, sf_dir, "documents")
        store.upsert(
            docs.filter(F.col("doc_id") % 6 == 0).withColumn(
                "text", F.concat(F.lit("table sort "), F.col("text"))
            )
        )
    else:
        e = load(spark, sf_dir, "embeddings")
        store.upsert(
            e.filter(F.col("vec_id") % 5 == 3).withColumn(
                "embedding", F.reverse(F.col("embedding"))
            )
        )


@pytest.mark.parametrize("case", sorted(CASES))
def test_legacy_pointer_forms_open_read_and_mutate(spark, sf_dir, tmp_path, case):
    kind, ptr, live, retained = CASES[case]
    store = _open_legacy(spark, sf_dir, str(tmp_path / "ix"), kind, ptr, live, retained)
    assert store.current_gen() == live
    before = _rows(store.reader())
    assert before
    with store.pinned(live) as g:
        assert _rows(store.reader(gen=g)) == before
    for g in retained:  # copies of the live generation
        assert _rows(store.reader(gen=g)) == before

    _mutate(spark, sf_dir, store)
    assert store.current_gen() == live + 1
    with open(store._ptr_path()) as f:
        written = json.load(f)
    if kind == "pq":
        assert written["gen"] == f"data-{live + 1:08d}"
        assert written["retained"][-1] == _gen_dir("data", live)
    else:
        assert written["gen"] == live + 1
        assert written["retained"][-1] == live
    after = _rows(store.reader())
    assert after != before
    assert _rows(store.reader(gen=live)) == before  # retained pre-mutation gen

    store.compact()
    assert store.current_gen() == live + 2
    assert _rows(store.reader()) == after
    assert _rows(type(store)(spark, store.path).reader()) == after
