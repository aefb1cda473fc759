"""Join utilities beyond equi-joins: ``asof_join`` (nearest earlier or
later match per key) and ``bucketed_range_join`` (time-range joins as an
equi-join on buckets). Skewed equi-joins are left to AQE's skew-join
handling, on by default in session.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    left_time: str = "ts",
    right_time: str = "ts",
    direction: str = "backward",
    tolerance: Column | None = None,
    suffix: str = "_right",
) -> DataFrame:
    """As-of join: attach to each left row the nearest right row at-or-before
    (``backward``) / at-or-after (``forward``) its timestamp, per key.

    Spark has no ASOF JOIN primitive (the reference domain — point-in-time
    enrichment of an event stream — needs one; cf. DuckDB/pandas ``merge_asof``).
    The naive range-join (``l.k = r.k AND r.t <= l.t`` + pick max) explodes to
    O(|matches|) intermediate rows and shuffles twice. This implementation is
    the scalable formulation:

      1. UNION the two sides (right rows carry their payload as one struct,
         left rows carry null payload),
      2. one shuffle: window ``partitionBy(keys).orderBy(time, side)``,
      3. ``last(payload, ignorenulls=True)`` over the unbounded-preceding
         frame assigns each left row the most recent right payload,
      4. keep left rows, unpack the struct.

    Cost: ONE shuffle of |L|+|R| rows, no row explosion, linear scan per
    partition — survives 100 TB provided keys are plentiful (the window
    parallelizes per key). Ties at equal time: right rows sort before left
    for ``backward`` (inclusive match), after for ``forward``; multiple right
    rows at the same (key, time) resolve to the one latest in
    ``orderBy(right_time)`` — pre-aggregate the right side to make (key, time)
    unique when determinism matters.

    ``tolerance``: an interval/duration Column (e.g. ``F.expr("INTERVAL 7 DAYS")``);
    matches farther than that from the left timestamp are nulled out.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    keys = [on] if isinstance(on, str) else list(on)

    payload_cols = [c for c in right.columns if c not in keys]
    left_cols = list(left.columns)
    overlap = set(payload_cols) & set(left_cols)
    renamed = {c: (c + suffix if c in overlap else c) for c in payload_cols}

    payload = F.struct(
        *[F.col(c).alias(renamed[c]) for c in payload_cols]
    ).alias("__asof_payload")
    # side: right=0 sorts before left=1 at equal ts for backward (inclusive);
    # forward flips the time order, so flip side precedence too.
    r = right.select(
        *[F.col(k) for k in keys],
        F.col(right_time).alias("__asof_t"),
        F.lit(0).alias("__asof_side"),
        payload,
    )
    l = left.select(
        *[F.col(k) for k in keys],
        F.col(left_time).alias("__asof_t"),
        F.lit(1).alias("__asof_side"),
        F.lit(None).cast(r.schema["__asof_payload"].dataType).alias("__asof_payload"),
        F.struct(*left_cols).alias("__asof_left"),
    )
    r = r.withColumn("__asof_left", F.lit(None).cast(l.schema["__asof_left"].dataType))

    unioned = l.unionByName(r)
    t_ord = F.col("__asof_t") if direction == "backward" else F.col("__asof_t").desc()
    w = (
        Window.partitionBy(*keys)
        .orderBy(t_ord, "__asof_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = unioned.withColumn(
        "__asof_match", F.last("__asof_payload", ignorenulls=True).over(w)
    ).filter(F.col("__asof_side") == 1)

    if tolerance is not None:
        rt = F.col("__asof_match." + renamed[right_time]) if right_time in renamed else None
        if rt is None:
            raise ValueError("tolerance requires right_time to be carried in the payload")
        gap_ok = (
            (F.col("__asof_t") - rt <= tolerance)
            if direction == "backward"
            else (rt - F.col("__asof_t") <= tolerance)
        )
        matched = matched.withColumn(
            "__asof_match", F.when(gap_ok, F.col("__asof_match"))
        )

    out = matched.select(
        *[F.col("__asof_left." + c).alias(c) for c in left_cols],
        *[F.col("__asof_match." + renamed[c]).alias(renamed[c]) for c in payload_cols],
    )
    return out


def bucketed_range_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    left_time: str,
    right_time: str,
    lower_us: int,
    upper_us: int,
    suffix: str = "_r",
) -> DataFrame:
    """Interval join: pairs where ``right_time - left_time`` lies in
    ``[lower_us, upper_us]`` microseconds, equi-keyed on ``on``.

    Spark plans a raw time-range conjunct as a per-key nested-loop — O(n·m)
    per key, the classic interval-join trap. This formulation buckets time
    into ``w = upper_us - lower_us`` wide slots: the left side keeps its one
    bucket, the right side replicates to the <= 2 buckets its admissible
    partners can occupy, and the join becomes a hash equi-join on
    (keys, bucket) followed by the exact range filter. Cost: <= 2x
    replication of the right side, one shuffle, no quadratic probing —
    survives dense keys at 100 TB where the nested-loop dies.
    """
    keys = [on] if isinstance(on, str) else list(on)
    w = max(upper_us - lower_us, 1)

    overlap = (set(right.columns) - set(keys)) & set(left.columns)
    renamed = {c: (c + suffix if c in overlap else c) for c in right.columns if c not in keys}
    r = right.select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(renamed[c]) for c in renamed],
    )
    rt = renamed.get(right_time, right_time)

    l2 = left.withColumn("__bkt", F.floor(F.unix_micros(F.col(left_time)) / w))
    r_us = F.unix_micros(F.col(rt))
    r2 = r.withColumn(
        "__bkt",
        F.explode(
            F.sequence(
                F.floor((r_us - F.lit(upper_us)) / w),
                F.floor((r_us - F.lit(lower_us)) / w),
            )
        ),
    )
    delta = F.unix_micros(F.col(rt)) - F.unix_micros(F.col(left_time))
    return (
        l2.join(r2, keys + ["__bkt"])
        .filter((delta >= lower_us) & (delta <= upper_us))
        .drop("__bkt")
    )
