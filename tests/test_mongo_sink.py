"""Wire-level test of the Mongo upsert sink (operators/upsert.upsert_mongo).

The mongo-spark-connector jar is absent from this image, so the wire is a
stub: a Python Data Source registered under the SAME format name
("mongodb") captures every option and document the sink hands to the
connector, and the test replays the captured replace-by-key operations
against a dict — asserting exactly the semantics the reference's
``replace_one({key: k}, doc, upsert=True)`` loop produces
(/root/reference/etl_connector.py:167-191): last-write-wins per key,
insert-when-absent, convergence on re-run. This closes the gap where R8's
actual target store was only parquet-twinned.
"""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceWriter, WriterCommitMessage

from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.upsert import upsert_mongo


#: connection.uri on which the stub writer fails every partition
_FAILING_URI = "stub://fail"


class _Commit(WriterCommitMessage):
    pass


class _MongoStubWriter(DataSourceWriter):
    def __init__(self, options: dict):
        self.options = dict(options)
        # the sink passes the wire address via connection.uri; the stub
        # treats it as the capture directory
        self.capture_dir = self.options["connection.uri"]

    def write(self, iterator):
        if self.capture_dir == _FAILING_URI:
            raise RuntimeError("stub wire refused the batch")
        docs = [row.asDict(recursive=True) for row in iterator]
        os.makedirs(self.capture_dir, exist_ok=True)
        fn = os.path.join(self.capture_dir, f"batch-{uuid.uuid4().hex}.json")
        with open(fn, "w") as f:
            json.dump({"options": self.options, "docs": docs}, f, default=str)
        return _Commit()

    def commit(self, messages):
        pass

    def abort(self, messages):
        pass


class MongoStubDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "mongodb"

    def writer(self, schema: T.StructType, overwrite: bool):
        return _MongoStubWriter(dict(self.options))


@pytest.fixture(scope="module")
def mongo_stub(spark):
    # make this module importable on executor python workers so the stub
    # class unpickles there
    spark.sparkContext.addPyFile(os.path.abspath(__file__))
    spark.dataSource.register(MongoStubDataSource)
    return spark


def _captured(capture_dir):
    batches = []
    for fn in sorted(os.listdir(capture_dir)):
        with open(os.path.join(capture_dir, fn)) as f:
            batches.append(json.load(f))
    return batches


def _replay(batches, key):
    """Apply the captured wire ops the way Mongo would: replace-by-key
    upsert for keyed docs (etl_connector.py:181), plain insert for
    keyless ones (:185-187)."""
    coll: dict = {}
    inserts = []
    for b in batches:
        for doc in b["docs"]:
            k = doc.get(key)
            if k is None:
                inserts.append(doc)
            else:
                coll[k] = doc
    return coll, inserts


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "pulse_id string, payload string, ingestion_timestamp long"
    )


def test_mongo_sink_wire_semantics(mongo_stub, tmp_path):
    spark = mongo_stub
    cap = str(tmp_path / "wire")
    batch = _batch(
        spark,
        [
            ("a", "old", 1),
            ("a", "new", 2),  # same key, newer -> must win before the wire
            ("b", "only", 1),
            (None, "keyless", 1),  # insert fallback
        ],
    )
    upsert_mongo(
        batch,
        uri=cap,
        database="intel",
        collection="pulses",
        key="pulse_id",
        order_by=["ingestion_timestamp"],
    )
    batches = _captured(cap)
    assert batches, "nothing reached the wire"
    # connector options: replace-by-key contract (etl_connector.py:181)
    opts = batches[0]["options"]
    assert opts["operationtype"] == "replace"
    assert opts["idfieldlist"] == "pulse_id"
    assert opts["database"] == "intel" and opts["collection"] == "pulses"
    # the sink dedups BEFORE the wire: one doc per key, newest wins
    coll, inserts = _replay(batches, "pulse_id")
    assert coll["a"]["payload"] == "new"
    assert coll["b"]["payload"] == "only"
    assert len(inserts) == 1 and inserts[0]["payload"] == "keyless"
    total_docs = sum(len(b["docs"]) for b in batches)
    assert total_docs == 3  # 2 keyed survivors + 1 keyless


def test_mongo_sink_rerun_converges(mongo_stub, tmp_path):
    """Replaying the same keyed batch converges (reference idempotence:
    re-sent records replace, never duplicate)."""
    spark = mongo_stub
    cap = str(tmp_path / "wire2")
    batch = _batch(spark, [("a", "v", 1), ("b", "w", 2)])
    for _ in range(2):
        upsert_mongo(
            batch, uri=cap, database="d", collection="c",
            key="pulse_id", order_by=["ingestion_timestamp"],
        )
    coll, inserts = _replay(_captured(cap), "pulse_id")
    assert {k: d["payload"] for k, d in coll.items()} == {"a": "v", "b": "w"}
    assert inserts == []


def test_mongo_sink_batches_per_partition(mongo_stub, tmp_path):
    """Micro-batching rides the wire: documents arrive in per-partition
    batches (one connector write per partition), not one round-trip per
    document like the reference (etl_connector.py:181-187)."""
    spark = mongo_stub
    cap = str(tmp_path / "wire3")
    rows = [(f"k{i}", f"v{i}", i) for i in range(40)]
    batch = _batch(spark, rows).repartition(4)
    upsert_mongo(
        batch, uri=cap, database="d", collection="c",
        key="pulse_id", order_by=["ingestion_timestamp"],
    )
    batches = _captured(cap)
    total = sum(len(b["docs"]) for b in batches)
    assert total == 40
    assert len(batches) < 40  # batched, not per-document round-trips


def test_mongo_sink_surfaces_write_errors(mongo_stub):
    """Only a missing connector reads as "not available": an error raised
    by the connector's own write reaches the caller as itself."""
    batch = _batch(mongo_stub, [("a", "v", 1)])
    with pytest.raises(Exception, match="stub wire refused the batch") as err:
        upsert_mongo(
            batch, uri=_FAILING_URI, database="d", collection="c",
            key="pulse_id", order_by=["ingestion_timestamp"],
        )
    assert not isinstance(err.value, NotImplementedError)
