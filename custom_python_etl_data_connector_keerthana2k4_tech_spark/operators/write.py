"""Size-aware parquet writing (the output half of the 100 TB checklist).

A 1000-executor job that writes one file per shuffle partition produces
either the small-files problem (thousands of KB-size files that crush the
downstream scan planner) or multi-GB monoliths that kill read parallelism.
This module picks the output partition count from the data itself so files
land near a target size — the knob every large table write needs, and one
Spark leaves to the user (reference parity: R9's fixed ``batch_size=20``
is the single-node version of this decision, etl_connector.py:206).
"""

from __future__ import annotations

import uuid

from pyspark import SparkContext
from pyspark.sql import DataFrame


def estimated_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the frame (bytes).

    Comes from the optimized logical plan: exact file sizes for unfiltered
    scans, selectivity-scaled estimates downstream. Coarse but the right
    cost-free signal for sizing decisions (the alternative — materialize
    and measure — costs a full extra pass).
    """
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def write_sized_parquet(
    df: DataFrame,
    path: str,
    target_file_bytes: int = 128 << 20,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    max_files: int = 100_000,
) -> int:
    """Write ``df`` as parquet with output files near ``target_file_bytes``.

    Partition count = clamp(ceil(estimated_bytes / target), 1, max_files);
    the in-memory estimate overshoots the on-disk (encoded + compressed)
    size, so files land at-or-under target — the safe side for scan
    parallelism. Uses ``coalesce`` when shrinking (narrow — avoids a full
    shuffle of the output data) and ``repartition`` when growing.
    With ``partition_by``, the count applies per write (Spark splits by
    directory afterwards). Returns the partition count used.
    """
    est = max(1, estimated_bytes(df))
    n = max(1, min(max_files, -(-est // target_file_bytes)))
    current = df.rdd.getNumPartitions()
    shaped = df.coalesce(n) if n < current else df.repartition(n)
    writer = shaped.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return n


def swap_dir(fs, new, live) -> None:
    """Replace directory ``live`` with ``new`` (Hadoop paths on ``fs``):
    move the current ``live`` aside to a unique sibling whose leading dot
    hides it from readers and partition discovery, rename ``new`` in, then
    delete the old copy. A rename that returns false rolls back and
    raises, so the live directory is never lost silently. A crash between
    the two renames leaves the old copy at ``.<name>__old_<id>``."""
    aside = SparkContext._jvm.org.apache.hadoop.fs.Path(
        live.getParent(), f".{live.getName()}__old_{uuid.uuid4().hex}"
    )
    moved = fs.exists(live)
    if moved and not fs.rename(live, aside):
        raise IOError(f"cannot move {live} aside to {aside}")
    if not fs.rename(new, live):
        if moved and not fs.rename(aside, live):
            raise IOError(f"cannot rename {new} to {live}; the old copy is at {aside}")
        raise IOError(f"cannot rename {new} to {live}")
    if moved:
        fs.delete(aside, True)
