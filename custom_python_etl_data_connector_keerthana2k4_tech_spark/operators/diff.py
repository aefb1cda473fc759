"""Snapshot diff: turn two table states into a change feed.

The inverse of ``operators/upsert.apply_cdc`` (which folds a change feed
into a table): given OLD and NEW snapshots keyed by ``keys``, emit one row
per difference — ``insert`` (key only in NEW), ``delete`` (key only in
OLD), ``update`` (key in both, any non-key column differing null-safely).
``apply_cdc(old, table_diff(old, new)) == new`` is the round-trip contract
(tests/test_table_diff.py).

Plan shape: ONE full outer join on the key columns — both sides shuffle by
key once, comparisons are null-safe struct equality inside codegen, no
per-column joins. At 100 TB this is the minimal-movement diff; if both
snapshots are written bucketed by key (``bucketBy`` on the key columns),
the Exchange disappears entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def table_diff(old: DataFrame, new: DataFrame, keys: list[str]) -> DataFrame:
    """Change feed (op, *keys, *payload) with op in insert/delete/update.

    Payload columns carry NEW values for insert/update and OLD values for
    delete (what ``apply_cdc`` needs to reconstruct NEW from OLD).
    """
    payload = [c for c in new.columns if c not in keys]
    if payload != [c for c in old.columns if c not in keys]:
        raise ValueError("old/new schemas must agree")

    o = old.select(*keys, F.struct(*payload).alias("__old"))
    n = new.select(*keys, F.struct(*payload).alias("__new"))
    joined = o.join(n, keys, "full_outer")
    op = (
        F.when(F.col("__old").isNull(), F.lit("insert"))
        .when(F.col("__new").isNull(), F.lit("delete"))
        .when(~F.col("__old").eqNullSafe(F.col("__new")), F.lit("update"))
    )
    chosen = F.coalesce(F.col("__new"), F.col("__old"))
    return (
        joined.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(
            "op",
            *keys,
            *[chosen.getField(c).alias(c) for c in payload],
        )
    )


def table_diff_wide(old: DataFrame, new: DataFrame, keys: list[str]) -> DataFrame:
    """Change feed carrying BOTH row images: (op, *keys, old_image struct,
    new_image struct) — old_image is NULL for inserts, new_image NULL for
    deletes, both present for updates.

    This is what AGGREGATE incremental view maintenance needs
    (operators/ivm.py): an update's delta is new - old, so the single-image
    feed of ``table_diff`` (enough to reconstruct the new SNAPSHOT) cannot
    maintain a sum without rescanning the base. Same one-full-outer-join
    plan shape as ``table_diff``.
    """
    payload = [c for c in new.columns if c not in keys]
    if payload != [c for c in old.columns if c not in keys]:
        raise ValueError("old/new schemas must agree")

    o = old.select(*keys, F.struct(*payload).alias("old_image"))
    n = new.select(*keys, F.struct(*payload).alias("new_image"))
    joined = o.join(n, keys, "full_outer")
    op = (
        F.when(F.col("old_image").isNull(), F.lit("insert"))
        .when(F.col("new_image").isNull(), F.lit("delete"))
        .when(~F.col("old_image").eqNullSafe(F.col("new_image")), F.lit("update"))
    )
    return (
        joined.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select("op", *keys, "old_image", "new_image")
    )
