"""operators/versioned: snapshot-isolated keyed upserts with time travel,
rollback, and vacuum — R8's upsert semantics plus the atomicity the
reference's in-place Mongo writes lack (etl_connector.py:167-191)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.versioned import (
    current_version,
    read_versioned,
    rollback,
    vacuum_versioned,
    versioned_upsert,
    versions,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, v string, ts long")


def _state(spark, root, version=None):
    return {
        r["k"]: r["v"]
        for r in read_versioned(spark, root, version).collect()
    }


def test_upsert_versions_and_time_travel(spark, tmp_path):
    root = str(tmp_path / "t")
    v1 = versioned_upsert(spark, _df(spark, [("a", "v1", 1), ("b", "w1", 1)]), root, "k", ["ts"])
    v2 = versioned_upsert(spark, _df(spark, [("a", "v2", 2), ("c", "x1", 1)]), root, "k", ["ts"])
    v3 = versioned_upsert(spark, _df(spark, [("b", "w0", 0)]), root, "k", ["ts"])  # older ts loses
    assert (v1, v2, v3) == (1, 2, 3)
    assert current_version(spark, root) == 3
    # latest: last-write-wins by ts, stale update rejected
    assert _state(spark, root) == {"a": "v2", "b": "w1", "c": "x1"}
    # time travel: every historical state intact
    assert _state(spark, root, 1) == {"a": "v1", "b": "w1"}
    assert _state(spark, root, 2) == {"a": "v2", "b": "w1", "c": "x1"}
    assert [m["version"] for m in versions(spark, root)] == [1, 2, 3]
    assert versions(spark, root)[2]["parent"] == 2


def test_replay_converges(spark, tmp_path):
    """Re-delivering a batch produces a new version with IDENTICAL content
    (keyed idempotence — the reference's replace_one, :181)."""
    root = str(tmp_path / "t")
    batch = _df(spark, [("a", "v1", 1), (None, "keyless", 1)])
    versioned_upsert(spark, batch, root, "k", ["ts"])
    s1 = _state(spark, root)
    n1 = read_versioned(spark, root).count()
    versioned_upsert(spark, _df(spark, [("a", "v1", 1)]), root, "k", ["ts"])
    assert _state(spark, root) == s1
    # NULL-key rows are the reference's insert fallback and accumulate
    assert read_versioned(spark, root).count() == n1


def test_rollback_is_append_only(spark, tmp_path):
    root = str(tmp_path / "t")
    versioned_upsert(spark, _df(spark, [("a", "good", 1)]), root, "k", ["ts"])
    versioned_upsert(spark, _df(spark, [("a", "bad", 2)]), root, "k", ["ts"])
    v3 = rollback(spark, root, 1)
    assert v3 == 3 and current_version(spark, root) == 3
    assert _state(spark, root) == {"a": "good"}
    # history intact: the bad version is still readable for audit
    assert _state(spark, root, 2) == {"a": "bad"}
    m3 = versions(spark, root)[-1]
    assert m3["rollback_of"] == 1 and m3["data"] == versions(spark, root)[0]["data"]


def test_vacuum_respects_retention_and_shared_dirs(spark, tmp_path):
    root = str(tmp_path / "t")
    for i in range(4):
        versioned_upsert(spark, _df(spark, [("a", f"v{i}", i)]), root, "k", ["ts"])
    rollback(spark, root, 1)  # v5 shares v1's data dir
    reclaimed = vacuum_versioned(spark, root, keep_last=2)
    # v4 and v5(=v1 data) retained; v1's dir survives via the rollback ref
    assert 1 not in reclaimed
    assert set(reclaimed) <= {2, 3}
    assert _state(spark, root) == {"a": "v0"}  # latest (rollback of 1)
    assert _state(spark, root, 4) == {"a": "v3"}
    with pytest.raises(Exception):
        read_versioned(spark, root, 2).collect()  # vacuumed


def test_snapshot_isolation_reader_pinned(spark, tmp_path):
    """A DataFrame resolved before a new publish keeps reading its own
    immutable snapshot."""
    root = str(tmp_path / "t")
    versioned_upsert(spark, _df(spark, [("a", "v1", 1)]), root, "k", ["ts"])
    pinned = read_versioned(spark, root)  # resolves version 1's files
    versioned_upsert(spark, _df(spark, [("a", "v2", 2)]), root, "k", ["ts"])
    assert {r["v"] for r in pinned.collect()} == {"v1"}
    assert _state(spark, root) == {"a": "v2"}


def test_table_changes_roundtrip(spark, tmp_path):
    """CDC across versions: apply_cdc(v_from, changes(from, to)) == v_to."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.upsert import apply_cdc
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.versioned import table_changes

    root = str(tmp_path / "t")
    versioned_upsert(spark, _df(spark, [("a", "v1", 1), ("b", "w1", 1)]), root, "k", ["ts"])
    versioned_upsert(spark, _df(spark, [("a", "v2", 2), ("c", "x1", 1)]), root, "k", ["ts"])
    changes = table_changes(spark, root, 1, 2, keys=["k"])
    ops = {(r["op"], r["k"]) for r in changes.collect()}
    assert ops == {("update", "a"), ("insert", "c")}
    rebuilt = apply_cdc(
        read_versioned(spark, root, 1), changes, "k", ["ts"]
    )
    got = {(r["k"], r["v"]) for r in rebuilt.collect()}
    want = {(r["k"], r["v"]) for r in read_versioned(spark, root, 2).collect()}
    assert got == want


def test_table_changes_roundtrip_across_rollback(spark, tmp_path):
    """A rollback version carries OLDER order_by values, so the feed must
    replay authoritatively (order_by=[]) — including deletes, which
    table_diff spells out and apply_cdc normalizes."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.upsert import apply_cdc
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.versioned import table_changes

    root = str(tmp_path / "t")
    versioned_upsert(spark, _df(spark, [("a", "v1", 1)]), root, "k", ["ts"])
    versioned_upsert(spark, _df(spark, [("a", "v2", 2), ("c", "x1", 2)]), root, "k", ["ts"])
    rollback(spark, root, 1)  # v3 == v1's state
    changes = table_changes(spark, root, 2, 3, keys=["k"])
    ops = {(r["op"], r["k"]) for r in changes.collect()}
    assert ops == {("update", "a"), ("delete", "c")}
    rebuilt = apply_cdc(read_versioned(spark, root, 2), changes, "k", [])
    got = {(r["k"], r["v"]) for r in rebuilt.collect()}
    assert got == {("a", "v1")}


def _pdf(spark, rows):
    return spark.createDataFrame(rows, "k string, v string, ts long, day string")


def test_partitioned_versions_reference_untouched_partitions(spark, tmp_path):
    """The 100 TB path: a new version rewrites only touched partitions and
    its manifest references the previous owner for the rest."""
    import os

    root = str(tmp_path / "t")
    versioned_upsert(
        spark,
        _pdf(spark, [("a", "v1", 1, "d1"), ("b", "w1", 1, "d2")]),
        root, "k", ["ts"], partition_by="day",
    )
    # second batch touches ONLY d2
    versioned_upsert(
        spark,
        _pdf(spark, [("b", "w2", 2, "d2"), ("c", "x1", 1, "d2")]),
        root, "k", ["ts"], partition_by="day",
    )
    ms = versions(spark, root)
    assert ms[1]["partitions"]["d1"] == ms[0]["data"]  # referenced, not copied
    assert ms[1]["partitions"]["d2"] == ms[1]["data"]  # rewritten
    # v2's own directory holds ONLY the touched partition
    assert not os.path.exists(f"{root}/{ms[1]['data']}/day=d1")
    assert _state(spark, root) == {"a": "v1", "b": "w2", "c": "x1"}
    assert _state(spark, root, 1) == {"a": "v1", "b": "w1"}


def test_partitioned_rollback_vacuum_and_cdc(spark, tmp_path):
    root = str(tmp_path / "t")
    versioned_upsert(
        spark, _pdf(spark, [("a", "v1", 1, "d1")]), root, "k", ["ts"],
        partition_by="day",
    )
    versioned_upsert(
        spark, _pdf(spark, [("a", "v2", 2, "d1"), ("b", "w1", 1, "d2")]),
        root, "k", ["ts"], partition_by="day",
    )
    v3 = rollback(spark, root, 1)
    assert _state(spark, root) == {"a": "v1"}
    assert _state(spark, root, 2) == {"a": "v2", "b": "w1"}
    # vacuum keeps every dir referenced by retained manifests (v2, v3=v1 refs)
    reclaimed = vacuum_versioned(spark, root, keep_last=2)
    assert reclaimed == []  # v1's dir is referenced by v3 (the rollback)
    assert _state(spark, root) == {"a": "v1"}
    # CDC across partitioned versions
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.versioned import table_changes

    ch = table_changes(spark, root, 1, 2, keys=["k"])
    assert {(r["op"], r["k"]) for r in ch.collect()} == {
        ("update", "a"), ("insert", "b"),
    }


def test_concurrent_writer_loser_aborts_cleanly(spark, tmp_path):
    """Two writers racing from the same parent: exactly one commits;
    the loser raises ConcurrentWriteError, nothing visible changes, and
    history stays linear. The race is staged deterministically via the
    expected_parent CAS handle (both writers read parent=1)."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.versioned import (
        ConcurrentWriteError,
    )

    root = str(tmp_path / "t")
    versioned_upsert(spark, _df(spark, [("a", "v1", 1)]), root, "k", ["ts"])
    # writer A (parent=1) wins
    va = versioned_upsert(
        spark, _df(spark, [("a", "A", 2)]), root, "k", ["ts"], expected_parent=1
    )
    assert va == 2
    # writer B also read parent=1 — must abort, not clobber A
    with pytest.raises(ConcurrentWriteError):
        versioned_upsert(
            spark, _df(spark, [("a", "B", 3)]), root, "k", ["ts"], expected_parent=1
        )
    assert _state(spark, root) == {"a": "A"}
    hist = versions(spark, root)
    assert [m["version"] for m in hist] == [1, 2]
    assert [m["parent"] for m in hist] == [None, 1]


def test_checksum_sidecar_failure_does_not_poison_the_table(spark, tmp_path):
    """A directory where the local filesystem would write the manifest's
    ``.crc`` sidecar used to fail the claim after the manifest file was
    made: the writer reported a lost race and left an empty manifest that
    broke every later read. Claims go through the raw filesystem, so the
    commit succeeds, the table stays readable, and later upserts commit."""
    import shutil

    root = str(tmp_path / "t")
    versioned_upsert(spark, _df(spark, [("a", "v1", 1)]), root, "k", ["ts"])
    blocker = tmp_path / "t" / "_versions" / ".v00000002.json.crc"
    blocker.mkdir()
    assert versioned_upsert(spark, _df(spark, [("a", "v2", 2)]), root, "k", ["ts"]) == 2
    assert _state(spark, root) == {"a": "v2"}
    shutil.rmtree(blocker)
    assert versioned_upsert(spark, _df(spark, [("b", "w1", 1)]), root, "k", ["ts"]) == 3
    assert _state(spark, root) == {"a": "v2", "b": "w1"}


class _ClaimFS:
    """A FileSystem stand-in for the manifest claim over {path: content}.
    ``exists`` answers False, staging a writer that claims the path right
    after the check; ``create`` raises ``create_error`` when set; a
    stream's ``write`` raises ``write_error`` when set."""

    def __init__(self, files: dict, create_error=None, write_error=None):
        self.files, self.create_error, self.write_error = dict(files), create_error, write_error

    def exists(self, p):
        return False

    def create(self, p, overwrite):
        if self.create_error is not None:
            raise self.create_error
        self.files[p.toString()] = ""
        fs = self

        class _Stream:
            def write(self, data):
                if fs.write_error is not None:
                    raise fs.write_error
                fs.files[p.toString()] += data.decode("utf-8")

            def close(self):
                pass

        return _Stream()

    def delete(self, p, recursive):
        return self.files.pop(p.toString(), None) is not None


def _java_error(spark, exc_class: str, *args):
    from py4j.protocol import Py4JJavaError

    cls = spark._jvm
    for part in exc_class.split("."):
        cls = getattr(cls, part)
    return Py4JJavaError("An error occurred while calling o1.create.\n", cls(*args))


def _stub_manifest_fs(spark, monkeypatch, fs):
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators import versioned as v

    monkeypatch.setattr(v, "_manifest_fs", lambda _spark, _path: (fs, spark._jvm))
    return v


def test_failed_create_keeps_another_writers_manifest(spark, monkeypatch):
    """A create that fails for a reason other than a claimed path raises
    its own error and deletes nothing: the manifest at the path may be a
    writer's that committed between the existence check and the create."""
    from py4j.protocol import Py4JJavaError

    fs = _ClaimFS(
        {"/t/_versions/v00000002.json": "winner"},
        create_error=_java_error(spark, "java.io.IOException", "disk full"),
    )
    v = _stub_manifest_fs(spark, monkeypatch, fs)
    with pytest.raises(Py4JJavaError, match="disk full"):
        v._create_exclusive(spark, "/t/_versions/v00000002.json", "loser")
    assert fs.files == {"/t/_versions/v00000002.json": "winner"}


@pytest.mark.parametrize(
    "exc_class, args",
    [
        ("org.apache.hadoop.fs.FileAlreadyExistsException", ("exists",)),
        ("org.apache.hadoop.hdfs.protocol.AlreadyBeingCreatedException", ("leased",)),
        # HDFS clients receive the NameNode's lease error in this wrapper
        (
            "org.apache.hadoop.ipc.RemoteException",
            ("org.apache.hadoop.hdfs.protocol.AlreadyBeingCreatedException", "leased"),
        ),
    ],
)
def test_create_on_a_claimed_path_is_a_lost_race(spark, monkeypatch, exc_class, args):
    fs = _ClaimFS(
        {"/t/_versions/v00000002.json": "winner"},
        create_error=_java_error(spark, exc_class, *args),
    )
    v = _stub_manifest_fs(spark, monkeypatch, fs)
    assert not v._create_exclusive(spark, "/t/_versions/v00000002.json", "loser")
    assert fs.files == {"/t/_versions/v00000002.json": "winner"}


def test_failed_write_removes_the_manifest_this_call_created(spark, monkeypatch):
    """Once the create succeeded the file is this call's own: a failed
    write deletes it and raises its real error, not a lost race."""
    from py4j.protocol import Py4JJavaError

    fs = _ClaimFS({}, write_error=_java_error(spark, "java.io.IOException", "disk full"))
    v = _stub_manifest_fs(spark, monkeypatch, fs)
    with pytest.raises(Py4JJavaError, match="disk full"):
        v._create_exclusive(spark, "/t/_versions/v00000002.json", "mine")
    assert fs.files == {}


def test_manifest_claim_serializes_even_without_cas_handle(spark, tmp_path):
    """A manifest another writer committed must not be overwritten: the
    manifest directory is authoritative, and the next writer builds on
    the committed version."""
    import json as _json

    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.versioned import (
        _create_exclusive,
        _read_small,
    )

    root = str(tmp_path / "t")
    versioned_upsert(spark, _df(spark, [("a", "v1", 1)]), root, "k", ["ts"])
    # simulate a writer that committed v2's manifest (reuses v1's data dir
    # so the state stays readable)
    m1 = _json.loads(_read_small(spark, f"{root}/_versions/v00000001.json"))
    ghost = {"version": 2, "parent": 1, "data": m1["data"], "n_rows": m1["n_rows"]}
    assert _create_exclusive(
        spark, f"{root}/_versions/v00000002.json", _json.dumps(ghost)
    )
    assert current_version(spark, root) == 2
    v3 = versioned_upsert(spark, _df(spark, [("b", "w1", 1)]), root, "k", ["ts"])
    assert v3 == 3
    assert [m["version"] for m in versions(spark, root)] == [1, 2, 3]
    # re-claiming a committed slot fails
    assert not _create_exclusive(spark, f"{root}/_versions/v00000002.json", "x")


def test_vacuum_sweeps_loser_orphans(spark, tmp_path):
    """A losing writer's data directory (unreferenced, version already
    committed) is reclaimed by vacuum; in-flight targets (higher than any
    committed version) survive."""
    root = str(tmp_path / "t")
    versioned_upsert(spark, _df(spark, [("a", "v1", 1)]), root, "k", ["ts"])
    versioned_upsert(spark, _df(spark, [("a", "v2", 2)]), root, "k", ["ts"])
    import os

    loser = tmp_path / "t" / "data" / "v00000002-deadbeef"
    inflight = tmp_path / "t" / "data" / "v00000003-cafef00d"
    os.makedirs(loser)
    os.makedirs(inflight)
    # default grace window: a FRESH dir claiming a committed version may be
    # a concurrent writer mid-write that read parent n just before someone
    # else committed n+1 — never swept while younger than the grace window
    vacuum_versioned(spark, root, keep_last=2)
    assert loser.exists()
    vacuum_versioned(spark, root, keep_last=2, grace_seconds=0.0)
    assert not loser.exists()  # past grace: orphan of a committed version
    assert inflight.exists()  # claims an uncommitted version, never swept
    assert _state(spark, root) == {"a": "v2"}


# ---------------------------------------------------------------------------
# DELETE / OPTIMIZE / zone-map pruning
# ---------------------------------------------------------------------------


def test_delete_unpartitioned(spark, tmp_path):
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.versioned import versioned_delete

    root = str(tmp_path / "t")
    versioned_upsert(
        spark, _df(spark, [("a", "v1", 1), ("b", "w1", 1), ("c", "x1", 1)]),
        root, "k", ["ts"],
    )
    v2 = versioned_delete(spark, root, F.col("k") == "b")
    assert v2 == 2
    assert _state(spark, root) == {"a": "v1", "c": "x1"}
    # history untouched: the deleted row is still readable at v1
    assert _state(spark, root, 1) == {"a": "v1", "b": "w1", "c": "x1"}
    assert versions(spark, root)[1]["deleted_where"].find("k") >= 0
    # a later upsert continues normally
    versioned_upsert(spark, _df(spark, [("b", "w9", 9)]), root, "k", ["ts"])
    assert _state(spark, root) == {"a": "v1", "b": "w9", "c": "x1"}


def test_delete_partitioned_rewrites_only_matching_partitions(spark, tmp_path):
    import os

    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.versioned import versioned_delete

    root = str(tmp_path / "t")
    versioned_upsert(
        spark,
        _pdf(spark, [("a", "v1", 1, "d1"), ("b", "w1", 1, "d2"), ("c", "x1", 1, "d2")]),
        root, "k", ["ts"], partition_by="day",
    )
    versioned_delete(spark, root, "k = 'b'")
    ms = versions(spark, root)
    # d1 untouched (still referenced from v1's dir); d2 rewritten
    assert ms[1]["partitions"]["d1"] == ms[0]["data"]
    assert ms[1]["partitions"]["d2"] == ms[1]["data"]
    assert not os.path.exists(f"{root}/{ms[1]['data']}/day=d1")
    assert _state(spark, root) == {"a": "v1", "c": "x1"}
    assert _state(spark, root, 1) == {"a": "v1", "b": "w1", "c": "x1"}
    # deleting every row of a partition drops it from the manifest
    versioned_delete(spark, root, "day = 'd2'")
    assert set(versions(spark, root)[2]["partitions"]) == {"d1"}
    assert _state(spark, root) == {"a": "v1"}
    # deleting everything leaves a readable empty table with schema
    versioned_delete(spark, root, "true")
    empty = read_versioned(spark, root)
    assert empty.count() == 0
    assert set(empty.columns) == {"k", "v", "ts", "day"}
    # and the table comes back to life on the next upsert
    versioned_upsert(
        spark, _pdf(spark, [("z", "z1", 1, "d9")]), root, "k", ["ts"],
        partition_by="day",
    )
    assert _state(spark, root) == {"z": "z1"}


def test_compact_unpartitioned_is_content_identical(spark, tmp_path):
    import glob

    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.versioned import compact_versioned

    root = str(tmp_path / "t")
    # many tiny batches -> fragmented current version
    for i in range(5):
        versioned_upsert(
            spark, _df(spark, [(f"k{i}", f"v{i}", i)]), root, "k", ["ts"]
        )
    before = _state(spark, root)
    v = compact_versioned(spark, root)
    assert v == 6
    assert versions(spark, root)[-1]["compaction_of"] == 5
    assert _state(spark, root) == before
    files = glob.glob(f"{root}/{versions(spark, root)[-1]['data']}/*.parquet")
    assert len(files) == 1  # bin-packed: tiny table -> one file


def test_compact_partitioned_rewrites_only_fragmented(spark, tmp_path):
    import glob

    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.versioned import compact_versioned

    root = str(tmp_path / "t")
    versioned_upsert(
        spark,
        _pdf(spark, [("a", "v1", 1, "d1"), ("b", "w1", 1, "d2"),
                     ("b2", "w2", 2, "d2"), ("b3", "w3", 3, "d2")]),
        root, "k", ["ts"], partition_by="day",
    )
    # fragment d2's layout in place (same rows, 3 files — the shape a
    # 32-shuffle-partition merge write leaves at scale; d1 stays 1-file)
    ms = versions(spark, root)
    owner = f"{root}/{ms[-1]['partitions']['d2']}"
    d2_rows = spark.read.parquet(f"{owner}/day=d2")
    d2_rows.repartition(3).write.mode("overwrite").parquet(f"{owner}/day=d2")
    d2_files = glob.glob(f"{root}/{ms[-1]['partitions']['d2']}/day=d2/*.parquet")
    assert len(d2_files) > 1
    before = _state(spark, root)
    compact_versioned(spark, root)
    ms = versions(spark, root)
    # d1 still referenced from its ORIGINAL owner; d2 rewritten compact
    assert ms[-1]["partitions"]["d1"] == ms[0]["data"]
    assert ms[-1]["partitions"]["d2"] == ms[-1]["data"]
    d2_after = glob.glob(f"{root}/{ms[-1]['data']}/day=d2/*.parquet")
    assert len(d2_after) == 1
    assert _state(spark, root) == before
    # idempotent second pass: nothing fragmented, nothing rewritten
    compact_versioned(spark, root)
    assert set(versions(spark, root)[-1]["partitions"].values()) == set(
        ms[-1]["partitions"].values()
    )


def test_zone_map_stats_and_pruned_read(spark, tmp_path):
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.versioned import prune_report

    root = str(tmp_path / "t")
    versioned_upsert(
        spark,
        _pdf(spark, [("a", "v1", 10, "d1"), ("b", "w1", 20, "d1"),
                     ("c", "x1", 100, "d2"), ("d", "y1", 200, "d3")]),
        root, "k", ["ts"], partition_by="day", stats_cols=["ts"],
    )
    m = versions(spark, root)[-1]
    assert m["stats"]["d1"]["ts"] == [10, 20]
    assert m["stats"]["d3"]["ts"] == [200, 200]
    kept, skipped = prune_report(spark, root, {"ts": (15, 120)})
    assert (kept, skipped) == (["d1", "d2"], ["d3"])
    got = read_versioned(spark, root, prune={"ts": (15, 120)})
    # superset of matching rows, d3 never read
    assert {r["k"] for r in got.collect()} == {"a", "b", "c"}
    # prune that matches nothing -> schema-preserving empty frame
    none = read_versioned(spark, root, prune={"ts": (1000, 2000)})
    assert none.count() == 0 and "day" in none.columns
    # stats stick across later upserts without re-passing stats_cols
    versioned_upsert(
        spark, _pdf(spark, [("e", "z1", 500, "d3")]), root, "k", ["ts"],
        partition_by="day",
    )
    m2 = versions(spark, root)[-1]
    assert m2["stats"]["d3"]["ts"] == [200, 500]
    assert m2["stats"]["d1"]["ts"] == [10, 20]  # carried forward
    # delete maintains stats for rewritten partitions
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.versioned import versioned_delete

    versioned_delete(spark, root, "ts = 500")
    assert versions(spark, root)[-1]["stats"]["d3"]["ts"] == [200, 200]


def test_zone_maps_survive_rollback(spark, tmp_path):
    """rollback() must carry stats/stats_cols into the republished
    manifest: versioned_upsert inherits the zone-map config from the
    PARENT manifest, so dropping them would silently stop zone-map
    maintenance for every upsert after a rollback."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.versioned import prune_report

    root = str(tmp_path / "t")
    versioned_upsert(
        spark,
        _pdf(spark, [("a", "v1", 10, "d1"), ("c", "x1", 100, "d2")]),
        root, "k", ["ts"], partition_by="day", stats_cols=["ts"],
    )
    versioned_upsert(
        spark, _pdf(spark, [("b", "w2", 20, "d1")]), root, "k", ["ts"],
        partition_by="day",
    )
    v3 = rollback(spark, root, 1)
    m3 = versions(spark, root)[-1]
    assert m3["stats_cols"] == ["ts"]
    assert m3["stats"]["d1"]["ts"] == [10, 10]  # v1's zone maps, not v2's
    # an upsert AFTER the rollback still maintains zone maps (inherited)
    versioned_upsert(
        spark, _pdf(spark, [("e", "z1", 500, "d3")]), root, "k", ["ts"],
        partition_by="day",
    )
    m4 = versions(spark, root)[-1]
    assert m4["stats_cols"] == ["ts"]
    assert m4["stats"]["d3"]["ts"] == [500, 500]
    kept, skipped = prune_report(spark, root, {"ts": (400, 600)})
    assert "d3" in kept and "d1" in skipped
    assert v3 == 3


def test_zone_map_unpartitioned_whole_table_skip(spark, tmp_path):
    root = str(tmp_path / "t")
    versioned_upsert(
        spark, _df(spark, [("a", "v1", 10), ("b", "w1", 20)]), root, "k",
        ["ts"], stats_cols=["ts"],
    )
    assert versions(spark, root)[-1]["stats"][""]["ts"] == [10, 20]
    hit = read_versioned(spark, root, prune={"ts": (15, 30)})
    assert hit.count() == 2  # zone overlap: whole (single-zone) table kept
    miss = read_versioned(spark, root, prune={"ts": (30, 40)})
    assert miss.count() == 0


def test_boolean_partitions_round_trip_and_null_partitions_are_refused(spark, tmp_path):
    """Partition values are recorded as Spark renders them in directory
    names (``true``, not Python's ``True``), so a boolean-partitioned table
    reads back every row. A NULL partition value has no directory of its
    own (Spark reads it back as NULL, which no recorded value matches), so
    it is refused rather than lost."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.versioned import versioned_delete

    ddl = "k string, v string, ts long, flag boolean"
    root = str(tmp_path / "t")
    versioned_upsert(
        spark,
        spark.createDataFrame([("a", "v1", 1, True), ("b", "w1", 1, False), ("c", "x1", 1, True)], ddl),
        root, "k", ["ts"], partition_by="flag", stats_cols=["ts"],
    )
    assert _state(spark, root) == {"a": "v1", "b": "w1", "c": "x1"}
    m = versions(spark, root)[-1]
    assert sorted(m["partitions"]) == sorted(m["stats"]) == ["false", "true"]
    versioned_upsert(
        spark, spark.createDataFrame([("a", "v2", 2, True)], ddl), root, "k", ["ts"],
        partition_by="flag",
    )
    versioned_delete(spark, root, "k = 'b'")
    assert _state(spark, root) == {"a": "v2", "c": "x1"}
    assert sorted(versions(spark, root)[-1]["partitions"]) == ["true"]

    nulls = str(tmp_path / "n")
    with pytest.raises(ValueError, match="'day'"):
        versioned_upsert(
            spark, _pdf(spark, [("a", "v1", 1, "d1"), ("b", "w1", 1, None)]), nulls,
            "k", ["ts"], partition_by="day",
        )
    assert versions(spark, nulls) == []


_LOST_CLAIM_CASES = [
    (verb, partitioned)
    for verb in ("upsert", "delete", "merge", "compact", "rollback")
    for partitioned in (False, True)
]


@pytest.mark.parametrize("verb, partitioned", _LOST_CLAIM_CASES)
def test_lost_claim_changes_nothing_visible(spark, tmp_path, monkeypatch, verb, partitioned):
    """Every committing verb that loses the manifest claim raises
    ConcurrentWriteError, adds no version and changes no read; only the
    rival's commit is visible, and vacuum sweeps the loser's directory.
    The race is staged by claiming the loser's version from inside the
    claim itself."""
    import json as _json
    import os
    import shutil

    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators import versioned as v

    root = str(tmp_path / "t")
    part = {"partition_by": "day"} if partitioned else {}
    rows = [("a", "v1", 1, "d1"), ("b", "w1", 1, "d2"), ("c", "x1", 1, "d2")]
    v.versioned_upsert(spark, _pdf(spark, rows), root, "k", ["ts"], **part)
    v.versioned_upsert(spark, _pdf(spark, [("c", "x2", 2, "d2")]), root, "k", ["ts"], **part)
    if verb == "compact" and partitioned:
        # fragment d2 in place so compaction has a partition to rewrite
        d2 = f"{root}/{versions(spark, root)[-1]['partitions']['d2']}/day=d2"
        spark.read.parquet(d2).repartition(2).write.mode("overwrite").parquet(d2 + ".tmp")
        shutil.rmtree(d2)
        os.rename(d2 + ".tmp", d2)
    before = versions(spark, root)
    state = _state(spark, root)
    rival = dict(before[-1], version=3, parent=2)  # republishes v2's content

    real = v._create_exclusive

    def claimed_first(spark_, path, content):
        assert real(spark_, path, _json.dumps(rival, sort_keys=True))
        return real(spark_, path, content)

    monkeypatch.setattr(v, "_create_exclusive", claimed_first)
    run = {
        "upsert": lambda: v.versioned_upsert(
            spark, _pdf(spark, [("b", "w2", 2, "d2")]), root, "k", ["ts"], **part
        ),
        "delete": lambda: v.versioned_delete(spark, root, "k = 'b'"),
        "merge": lambda: v.versioned_merge(
            spark, _pdf(spark, [("b", "w2", 2, "d2")]), root, "k", [(None, "update")]
        ),
        "compact": lambda: v.compact_versioned(spark, root),
        "rollback": lambda: v.rollback(spark, root, 1),
    }[verb]
    with pytest.raises(v.ConcurrentWriteError):
        run()
    monkeypatch.undo()
    assert versions(spark, root) == before + [rival]
    assert _state(spark, root) == state
    referenced = {d for m in versions(spark, root) for d in [m["data"], *m.get("partitions", {}).values()]}
    orphans = {f"data/{n}" for n in os.listdir(f"{root}/data")} - referenced
    assert len(orphans) == (0 if verb == "rollback" else 1)
    v.vacuum_versioned(spark, root, grace_seconds=0)
    assert not any(os.path.exists(f"{root}/{o}") for o in orphans)
    assert _state(spark, root) == state


def test_numeric_looking_string_partitions_keep_their_rows(spark, tmp_path):
    """A string partition column whose values look numeric (``007``,
    ``010``) reads back as strings: Spark would infer the directory
    ``shard=007`` as the integer 7, which no recorded value matches, so
    reads returned nothing and an upsert dropped the partition's rows."""
    ddl = "k string, v string, ts long, shard string"
    root = str(tmp_path / "t")
    versioned_upsert(
        spark,
        spark.createDataFrame(
            [("a", "v1", 1, "007"), ("b", "w1", 1, "010"), ("c", "x1", 1, "007")], ddl
        ),
        root, "k", ["ts"], partition_by="shard", stats_cols=["ts"],
    )
    assert _state(spark, root) == {"a": "v1", "b": "w1", "c": "x1"}
    assert versions(spark, root)[-1]["partition_type"] == "string"
    versioned_upsert(
        spark, spark.createDataFrame([("d", "y1", 2, "007")], ddl), root, "k", ["ts"],
        partition_by="shard",
    )
    assert _state(spark, root) == {"a": "v1", "b": "w1", "c": "x1", "d": "y1"}
    m = versions(spark, root)[-1]
    assert sorted(m["partitions"]) == sorted(m["stats"]) == ["007", "010"]
    assert read_versioned(spark, root).schema["shard"].dataType.simpleString() == "string"
