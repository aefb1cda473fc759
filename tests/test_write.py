"""write_sized_parquet: file counts track the size target, content survives."""

from __future__ import annotations

import glob
import re

import pytest

from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.write import (
    estimated_bytes,
    swap_dir,
    write_sized_parquet,
)
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load


def _parquet_files(path: str) -> list[str]:
    return glob.glob(f"{path}/**/*.parquet", recursive=True)


def test_small_target_splits_large_target_coalesces(spark, sf_dir, tmp_path):
    df = load(spark, sf_dir, "events")
    est = estimated_bytes(df)
    assert est > 0

    many = str(tmp_path / "many")
    n_many = write_sized_parquet(df, many, target_file_bytes=max(1, est // 8))
    assert n_many >= 8
    assert len(_parquet_files(many)) == n_many

    one = str(tmp_path / "one")
    n_one = write_sized_parquet(df, one, target_file_bytes=est * 10)
    assert n_one == 1
    assert len(_parquet_files(one)) == 1

    # content identical either way
    a = spark.read.parquet(many)
    b = spark.read.parquet(one)
    assert a.count() == b.count() == df.count()
    assert a.exceptAll(b).count() == 0


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    df = load(spark, sf_dir, "events").withColumnRenamed("event_type", "et")
    out = str(tmp_path / "by_type")
    write_sized_parquet(df, out, partition_by=["et"])
    # directory-partitioned: one subdir per type, and a reader filter
    # touches only that subdir (partition pruning)
    pruned = spark.read.parquet(out).filter("et = 'click'")
    types = {r.et for r in pruned.select("et").distinct().collect()}
    assert types <= {"click"}


class _RenameFailsFS:
    """A FileSystem stand-in over {directory: contents}, keyed by path
    string, whose ``fail_on``-th rename returns false, as Hadoop renames
    may. ``moves`` records every rename as (src, dst)."""

    def __init__(self, dirs: dict, fail_on: int):
        self.dirs, self.fail_on, self.moves = dict(dirs), fail_on, []

    def exists(self, p):
        return p.toString() in self.dirs

    def rename(self, src, dst):
        src, dst = src.toString(), dst.toString()
        self.moves.append((src, dst))
        if len(self.moves) == self.fail_on or src not in self.dirs or dst in self.dirs:
            return False
        self.dirs[dst] = self.dirs.pop(src)
        return True

    def delete(self, p, recursive):
        return self.dirs.pop(p.toString(), None) is not None


def test_swap_dir_replaces_the_live_directory(spark):
    path = spark._jvm.org.apache.hadoop.fs.Path
    fs = _RenameFailsFS({"/w/t": "old rows", "/w/t.new": "new rows"}, fail_on=0)
    swap_dir(fs, path("/w/t.new"), path("/w/t"))
    assert fs.dirs == {"/w/t": "new rows"}
    # the old copy went to a unique sibling hidden by a leading dot
    (_, aside), _ = fs.moves
    assert re.fullmatch(r"/w/\.t__old_[0-9a-f]{32}", aside)


def test_swap_dir_keeps_the_old_directory_when_the_new_one_cannot_move_in(spark):
    path = spark._jvm.org.apache.hadoop.fs.Path
    fs = _RenameFailsFS({"/w/t": "old rows", "/w/t.new": "new rows"}, fail_on=2)
    with pytest.raises(IOError, match="cannot rename /w/t.new to /w/t"):
        swap_dir(fs, path("/w/t.new"), path("/w/t"))
    assert fs.dirs == {"/w/t": "old rows", "/w/t.new": "new rows"}
