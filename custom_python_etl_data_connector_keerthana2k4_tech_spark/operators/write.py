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


def _list_parquet_files(spark, path: str):
    """(hadoop FileSystem, Path, [(name, bytes)]) for a parquet directory."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    files = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if not st.isDirectory() and name.endswith(".parquet"):
            files.append((name, int(st.getLen())))
    return fs, hpath, files


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


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 128 << 20,
    slack: float = 1.5,
) -> dict:
    """Compact a small-files parquet directory in place to ~target-sized
    files; returns ``{"files_before", "files_after", "bytes", "compacted"}``.

    The maintenance half of :func:`write_sized_parquet`: long-running
    ingests (streaming micro-batches, frequent keyed upserts — the
    reference's per-run appends, etl_connector.py:206-237, have the same
    failure mode) accrete files far smaller than the scan-efficient size,
    and planner/open-file overhead then dominates reads. Sizing uses the
    ACTUAL on-disk byte total (already encoded+compressed — better than a
    Catalyst estimate for data already at rest). No-op unless the
    directory has more than ``slack`` x the ideal file count, so repeated
    maintenance runs converge instead of rewriting forever. The rewrite
    goes to a sibling temp dir, then swaps via two FileSystem renames
    (the atomicity a real table format (Delta/Iceberg) provides
    transactionally; this is the vanilla-parquet equivalent, with a
    window between the renames).

    At cluster scale run this per partition directory of a
    ``partition_by`` table so each compaction is an independent job.
    """
    fs, hpath, files = _list_parquet_files(spark, path)
    total = sum(b for _, b in files)
    ideal = max(1, -(-total // target_file_bytes))
    stats = {
        "files_before": len(files),
        "files_after": len(files),
        "bytes": total,
        "compacted": False,
    }
    if len(files) <= max(ideal * slack, 1):
        return stats
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "._compacting"
    jvm = spark._jvm
    tmp_path = jvm.org.apache.hadoop.fs.Path(tmp)
    fs.delete(tmp_path, True)
    df.coalesce(ideal).write.mode("overwrite").parquet(tmp)
    swap_dir(fs, tmp_path, hpath)
    _, _, after = _list_parquet_files(spark, path)
    stats["files_after"] = len(after)
    stats["compacted"] = True
    return stats


def write_with_manifest(
    df: DataFrame,
    path: str,
    target_file_bytes: int = 128 << 20,
    partition_by: list[str] | None = None,
) -> dict:
    """Atomic-handoff export: size-aware parquet write + a `_MANIFEST.json`
    recording every data file with its byte size plus the total row count
    and an order-invariant content checksum.

    Downstream consumers read the manifest FIRST and only the files it
    names — the publish/subscribe contract that makes a directory handoff
    exactly-once: a partially-written or concurrently-rewritten directory
    never matches its manifest, and a re-run that produces identical data
    produces an identical checksum (idempotent publish). This is the
    file-system analogue of the reference's idempotent keyed upsert
    (R8, /root/reference/etl_connector.py:167-191) for whole-table
    exports, and the poor-engine's slice of what table formats
    (Delta/Iceberg) do with their commit logs.

    The checksum is the engine's order-invariant table fingerprint (XOR of
    per-row hashes — same construction as q89's cross-engine checksum), so
    it is stable under row order, partitioning, and file layout. Returns
    the manifest dict (also written as JSON next to the data).
    """
    import json
    import os

    from pyspark.sql import functions as F

    spark = df.sparkSession
    n_parts = write_sized_parquet(
        df, path, target_file_bytes=target_file_bytes, partition_by=partition_by
    )
    written = spark.read.parquet(path)
    agg = (
        written.select(F.xxhash64(*sorted(written.columns)).alias("h"))
        .agg(F.bit_xor("h").alias("checksum"), F.count("*").alias("n_rows"))
        .collect()[0]
    )
    fs, hpath, files = _list_parquet_files(spark, path)
    manifest = {
        "format": "parquet",
        "n_rows": int(agg["n_rows"]),
        "checksum": str(int(agg["checksum"] or 0)),
        "partitions_written": n_parts,
        "files": sorted(
            ({"name": name, "bytes": int(size)} for name, size in files),
            key=lambda f: f["name"],
        ),
    }
    manifest_path = os.path.join(path, "_MANIFEST.json")
    jvm = spark._jvm
    out = fs.create(jvm.org.apache.hadoop.fs.Path(manifest_path), True)
    out.write(bytearray(json.dumps(manifest, indent=2).encode()))
    out.close()
    return manifest


def verify_manifest(spark, path: str) -> tuple[bool, dict]:
    """Re-derive (row count, checksum, file census) for a directory and
    compare against its `_MANIFEST.json`. Returns (ok, details)."""
    import json

    from pyspark.sql import functions as F

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path + "/_MANIFEST.json")
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.open(hpath)
    try:
        raw = bytes(
            stream.readAllBytes()
        )  # java 9+ InputStream API present on Java 17
    finally:
        stream.close()
    manifest = json.loads(raw.decode())
    _, _, files = _list_parquet_files(spark, path)
    actual_files = sorted(
        ({"name": n, "bytes": int(s)} for n, s in files), key=lambda f: f["name"]
    )
    df = spark.read.parquet(path)
    agg = (
        df.select(F.xxhash64(*sorted(df.columns)).alias("h"))
        .agg(F.bit_xor("h").alias("checksum"), F.count("*").alias("n_rows"))
        .collect()[0]
    )
    details = {
        "rows_match": int(agg["n_rows"]) == manifest["n_rows"],
        "checksum_match": str(int(agg["checksum"] or 0)) == manifest["checksum"],
        "files_match": actual_files == manifest["files"],
    }
    return all(details.values()), details
