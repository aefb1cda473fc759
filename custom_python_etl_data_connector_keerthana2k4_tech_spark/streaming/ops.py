"""Structured Streaming operators (SURVEY §2.3 streaming rows; §7 M5).

The reference's extract loop is an unbounded-ish incremental pull processed
with bounded memory (generator + batch buffer, etl_connector.py:88-127,
206-239). Its continuous analog here is the canonical Spark shape:
``readStream -> transform -> writeStream``, with

- tumbling/sliding window aggregations (``F.window``),
- session windows (``F.session_window``),
- watermarks for bounded state + late-data drop (``withWatermark``),
- streaming dedup (watermarked ``dropDuplicates`` — R8's dedup-by-key as a
  stream),
- ``foreachBatch`` running ``pipeline.run_batch`` per micro-batch (R8/R9:
  micro-batched keyed upserts whose re-delivery converges — exactly-once-by-key
  into a non-transactional store, SURVEY §7 hard part e).

Every transformation here is identical for batch and streaming frames
(tests assert stream-vs-batch parity on the events fixture replay), which
is the point of declaring them through the DataFrame API: one logical plan,
two execution modes.

Scale notes: watermark delay bounds the window/dedup state Spark keeps per
key; at 100 TB of events/day the knobs that matter are the watermark delay
(state size), shuffle partitions (parallelism of the stateful stage), and
RocksDB state store — all config, not code changes.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from custom_python_etl_data_connector_keerthana2k4_tech_spark.config import PipelineConfig
from custom_python_etl_data_connector_keerthana2k4_tech_spark.pipeline import run_batch
from custom_python_etl_data_connector_keerthana2k4_tech_spark.sources.rest import (
    project_raw,
    register_rest_source,
)

# versioned-table sink: commits retried after a lost manifest claim
_COMMIT_RETRIES = 3


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    width: str = "10 minutes",
    slide: str | None = None,
    watermark: str | None = "30 minutes",
    keys: Sequence[str] = ("event_type",),
) -> DataFrame:
    """Tumbling (or sliding, when ``slide`` is set) windowed counts + sums.

    Works identically on batch and streaming frames; on a stream the
    watermark bounds state and drops events later than ``watermark``.
    """
    if watermark is not None and events.isStreaming:
        events = events.withWatermark(ts_col, watermark)
    win = F.window(ts_col, width, slide) if slide else F.window(ts_col, width)
    return (
        events.groupBy(win.alias("win"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *keys,
            "n_events",
            "total_value",
        )
    )


def session_counts(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str | None = "30 minutes",
    keys: Sequence[str] = ("user_id",),
) -> DataFrame:
    """Session-window aggregation: events within ``gap`` of each other merge
    into one session per key (dynamic-length windows)."""
    if watermark is not None and events.isStreaming:
        events = events.withWatermark(ts_col, watermark)
    return (
        events.groupBy(F.session_window(ts_col, gap).alias("sess"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            *keys,
            "n_events",
            "total_value",
        )
    )


def stream_dedup(
    events: DataFrame,
    key_cols: Sequence[str] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming exact dedup by key: first occurrence wins; state for keys
    older than the watermark is dropped (bounded memory — the streaming form
    of R8's dedup-by-key)."""
    if events.isStreaming:
        events = events.withWatermark(ts_col, watermark)
    return events.dropDuplicates(list(key_cols))


def _foreach_batch(stream_df: DataFrame, sink, checkpoint: str) -> DataStreamWriter:
    """``sink(batch_df, batch_id)`` per micro-batch, checkpointed."""
    return (
        stream_df.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
    )


def foreach_batch_versioned_upsert(
    stream_df: DataFrame,
    table_root: str,
    key: str | list[str],
    order_by: list[str],
    checkpoint: str,
    partition_by: str | None = None,
    stats_cols: list[str] | None = None,
) -> DataStreamWriter:
    """Streaming ingestion into a VERSIONED table: each micro-batch
    publishes one snapshot-isolated version (operators/versioned) —
    readers never see a half-applied batch, every batch is time-
    travelable, CDC/materialized views ride the version feed, and zone
    maps stay maintained (``stats_cols``).

    Exactly-once here is belt-and-braces: the upsert itself is keyed
    last-write-wins (a replayed batch converges to identical table
    CONTENT, it just burns one extra version — vacuum reclaims it), and
    the optimistic-concurrency commit retries ``_COMMIT_RETRIES``
    times when a concurrent writer (another stream, a batch backfill, a
    compaction job) claims the version first; the loser's directory is
    invisible and swept. At 100 TB pass ``partition_by`` so each batch
    rewrites only the partitions it touches.
    """
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.versioned import (
        ConcurrentWriteError,
        versioned_upsert,
    )

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        for attempt in range(_COMMIT_RETRIES + 1):
            try:
                versioned_upsert(
                    batch_df.sparkSession,
                    batch_df,
                    table_root,
                    key=key,
                    order_by=order_by,
                    partition_by=partition_by,
                    stats_cols=stats_cols,
                )
                return
            except ConcurrentWriteError:
                if attempt == _COMMIT_RETRIES:
                    raise

    return _foreach_batch(stream_df, _sink, checkpoint)


def foreach_batch_near_dedup(
    stream_df: DataFrame,
    corpus_path: str,
    sig_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
) -> DataStreamWriter:
    """Streaming corpus ingestion with NEAR-dedup (the continuous form of
    ``operators/dedup.incremental_near_dedup_sigs``): each micro-batch is
    admitted only where its near-dup cluster touches nothing already in
    the corpus, using the persisted minhash SIGNATURE store — the store
    side is never re-shingled.

    Exactly-once without transactions: both sinks (admitted documents,
    admitted signatures) are partitioned by micro-batch id and written
    with dynamic partition OVERWRITE, and the store read EXCLUDES the
    current batch id — so a replayed batch sees exactly the pre-crash
    store state, recomputes the same admit set, and overwrites its own
    partitions byte-for-byte. The same mechanism as the keyed upsert's
    convergence (reference etl_connector.py:181), lifted from exact keys
    to near-dup clusters.

    Scale: per batch, only the batch is shingled/minhashed; the store
    contributes columnar (fp, bands) reads to the LSH candidate join and
    shingle reads for verified candidates only (see minhash_signatures).
    """
    sink = near_dedup_sink(
        corpus_path, sig_path, id_col=id_col, text_col=text_col,
        threshold=threshold,
    )
    return _foreach_batch(stream_df, sink, checkpoint)


def near_dedup_sink(
    corpus_path: str,
    sig_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
):
    """The foreachBatch callable behind ``foreach_batch_near_dedup`` —
    exposed so crash-replay (same batch id re-delivered) can be driven
    and asserted directly in tests."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.dedup import (
        incremental_near_dedup_sigs,
        minhash_signatures,
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            store = spark.read.parquet(sig_path)
        except AnalysisException as e:  # first batch: no store yet
            if e.getCondition() not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
                raise
            store = None
        else:
            store = store.filter(F.col("__batch") != batch_id).drop("__batch")
            store = None if store.isEmpty() else store
        kept, _ = incremental_near_dedup_sigs(
            batch_df, store, id_col, text_col, threshold=threshold
        )
        kept = kept.persist()
        (
            kept.withColumn("__batch", F.lit(batch_id))
            .write.partitionBy("__batch")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(corpus_path)
        )
        (
            minhash_signatures(kept, id_col, text_col)
            .withColumn("__batch", F.lit(batch_id))
            .write.partitionBy("__batch")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(sig_path)
        )
        kept.unpersist()

    return _sink


def _run_batch_per_micro_batch(
    raw: DataFrame, cfg: PipelineConfig, target_path: str, checkpoint: str
) -> None:
    """One availableNow pass of ``raw`` (a ``raw`` struct column per pulse)
    with ``pipeline.run_batch`` per micro-batch: the batch chain is the only
    transform -> validate -> keyed-upsert chain. Each micro-batch is one
    ingestion, so a later micro-batch wins; within one, the newest
    ``pulse_modified`` wins, then the later source position. Replayed
    micro-batches converge (keyed idempotence, etl_connector.py:181)."""

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        run_batch(batch_df.sparkSession, batch_df, cfg, target_path)

    q = _foreach_batch(raw, _sink, checkpoint).trigger(availableNow=True).start()
    q.awaitTermination()


def run_pulse_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    cfg: PipelineConfig,
    target_path: str,
    checkpoint: str,
) -> None:
    """Continuous connector mode (SURVEY §2.3 'streaming sink' row): JSON
    pulse files land in ``source_dir``; each micro-batch runs
    ``pipeline.run_batch``. One availableNow pass (drain-then-stop); run
    again after more files arrive and the keyed table converges."""
    raw = spark.readStream.schema(schema).json(source_dir)
    _run_batch_per_micro_batch(raw, cfg, target_path, checkpoint)


def run_pulse_stream_rest(
    spark: SparkSession,
    base_url: str,
    schema: T.StructType,
    cfg: PipelineConfig,
    target_path: str,
    checkpoint: str,
    **source_options,
) -> None:
    """Continuous connector mode OVER THE WIRE: the streaming REST source
    (sources/rest.py RestSimpleStreamReader — (page, pos) offsets, replayable),
    projected by the same ``sources.rest.project_raw`` as the batch read,
    runs ``pipeline.run_batch`` per micro-batch. This is the reference's
    whole program (etl_connector.py:206-239) as a restartable stream: the
    offset checkpoint replaces the implicit "start from page 1 each run", and
    the idempotent upsert makes any replayed micro-batch converge. One
    availableNow pass drains what the API currently serves; re-running
    resumes from the checkpointed page cursor."""
    register_rest_source(spark)
    items = (
        spark.readStream.format("paginated_rest")
        .options(base_url=base_url, **source_options)
        .load()
    )
    _run_batch_per_micro_batch(project_raw(items, schema), cfg, target_path, checkpoint)


def stateful_running_totals(
    events: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
):
    """Custom stateful operator (``applyInPandasWithState``): per-key
    running event count + value total, maintained across micro-batches in
    the state store and recovered from the checkpoint on restart.

    This is the escape hatch for stateful logic Spark's built-in windowed
    aggregations can't express (per-key models, custom session logic,
    CDC-style accumulators): Arrow batches in, a typed state tuple per key,
    one emitted row per key per batch with the cumulative figures. State is
    partitioned by the grouping key — the same shuffle contract as a
    groupBy — so it scales horizontally with shuffle partitions.
    """
    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {key_col: [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=f"{key_col} long, n_events long, total_value double",
        stateStructType="n long, total double",
        # append: each batch's emitted rows are final records (the running
        # totals as of that batch) — composes with append-only file sinks
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_delay: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
    right_prefix: str = "r_",
) -> DataFrame:
    """Stream-stream interval join (funnel/attribution shape): each left
    event pairs with right events of the same key that happen within
    ``[left_ts, left_ts + max_delay]`` — e.g. clicks joined to the
    purchases they convert into within the hour.

    Both inputs are watermarked and the join carries an explicit time-range
    conjunct; together those let Spark bound the state it buffers for each
    side (rows older than watermark + delay are evicted) — without the
    range condition a stream-stream join would have to keep *all* history.
    Works identically on batch frames (drops the watermarks) for parity
    testing. Right-side columns are prefixed to keep the output
    unambiguous. ``how='left_outer'`` emits unmatched left rows once their
    window can no longer match (after the watermark passes).
    """
    if left.isStreaming:
        left = left.withWatermark(left_ts, watermark)
    if right.isStreaming:
        right = right.withWatermark(right_ts, watermark)
    renamed = {c: (right_prefix + c) for c in right.columns}
    right = right.select([F.col(c).alias(renamed[c]) for c in right.columns])
    rk, rt = renamed[key], renamed[right_ts]
    cond = (
        (F.col(key) == F.col(rk))
        & (F.col(rt) >= F.col(left_ts))
        & (F.col(rt) <= F.col(left_ts) + F.expr(f"INTERVAL {max_delay}"))
    )
    return left.join(right, cond, how).drop(rk)


def streaming_ewma(
    events: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    ts_col: str = "ts",
    alpha: float = 0.1,
):
    """Per-key EWMA as a streaming operator: the recurrence
    y = a*x + (1-a)*y_prev needs exactly ONE double of state per key.
    The streaming twin of batch q108 (plans/llm_ops.q108_ewma) — the
    parity test replays the same events in ordered micro-batches and
    demands identical trajectories.

    Built on ``applyInPandasWithState``. (Spark 4's successor API,
    ``transformWithStateInPandas``, is the upstream direction for new
    stateful operators — typed named state, timers — but its state-server
    protocol requires protobuf, unavailable in this environment; the
    GroupState formulation is semantically identical for a single value
    state.)

    Rows are processed in (ts, event_id) order *within* each batch and
    batches are assumed in order per key (file replay / log-ordered
    sources); out-of-order arrival needs an upstream watermark + sort,
    exactly as the batch twin needs its window sort. The seeded-recursion
    trick keeps the hot loop vectorized: prepend the carried state to the
    batch, run pandas' C ewm recursion, drop the seed row.
    """
    def update(key, pdfs, state: GroupState):
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values([ts_col, "event_id"])
        prev = state.get if state.exists else None
        vals = pdf[value_col].astype(float)
        if prev is None:
            ew = vals.ewm(alpha=alpha, adjust=False).mean()
        else:
            seeded = pd.concat(
                [pd.Series([float(prev[0])]), vals], ignore_index=True
            )
            ew = seeded.ewm(alpha=alpha, adjust=False).mean().iloc[1:]
        pdf["ewma"] = ew.to_numpy()
        state.update((float(pdf["ewma"].iloc[-1]),))
        yield pdf[["event_id", key_col, ts_col, value_col, "ewma"]]

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=(
            f"event_id long, {key_col} long, {ts_col} timestamp, "
            f"{value_col} double, ewma double"
        ),
        stateStructType="last double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_cusum(
    events: DataFrame,
    mu0: float,
    slack: float = 0.5,
    alarm: float = 2.0,
    key_col: str = "user_id",
    value_col: str = "value",
    ts_col: str = "ts",
):
    """Per-key one-sided CUSUM as a streaming operator: cpos =
    max(0, cpos_prev + (x - mu0 - slack)), alarming when the
    accumulated positive drift clears ``alarm``. One double of state
    per key — the streaming twin of batch q175 (plans/round4.
    q175_cusum_drift), monitoring each key's stream against a
    baseline ``mu0`` computed offline (exactly how production CUSUM
    is deployed: the baseline comes from a calibration window, the
    detector runs forever after). Ordering contract and state
    mechanics are identical to :func:`streaming_ewma`; the recursion
    here is a reflected cumulative sum, kept in plain python per
    batch (rows per key per micro-batch are small; the numpy
    alternative needs no less state handoff)."""
    def update(key, pdfs, state: GroupState):
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values([ts_col, "event_id"])
        c = float(state.get[0]) if state.exists else 0.0
        out = []
        for x in pdf[value_col].astype(float):
            c = max(0.0, c + (x - mu0 - slack))
            out.append(c)
        pdf["cpos"] = out
        pdf["alarm"] = pdf["cpos"] > alarm
        state.update((float(c),))
        yield pdf[["event_id", key_col, ts_col, value_col, "cpos", "alarm"]]

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=(
            f"event_id long, {key_col} long, {ts_col} timestamp, "
            f"{value_col} double, cpos double, alarm boolean"
        ),
        stateStructType="cpos double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def enrich_scd2(
    events: DataFrame,
    dim: DataFrame,
    key: str = "user_id",
    dim_key: str = "user_id",
    ts_col: str = "ts",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    how: str = "left",
) -> DataFrame:
    """Point-in-time enrichment of an event stream against an SCD Type-2
    dimension: each event joins the dimension row whose validity interval
    ``[valid_from, valid_to)`` contains the EVENT time — never the current
    row, so replays and late events get the attributes that were true when
    the event happened (the batch formulation is q128's interval as-of
    join; the dimension build is q116's).

    Works identically on a streaming `events` frame: Spark supports
    stream-static joins with arbitrary conditions, and because the static
    side is re-read per micro-batch, publishing a new dimension snapshot
    is picked up without restarting the query. The half-open interval
    guarantees each event matches AT MOST ONE dimension row (SCD2
    invariant: intervals per key tile the timeline without overlap), so
    the join never amplifies the stream. An open current row
    (``valid_to IS NULL``) matches everything at-or-after its
    ``valid_from``. At 100 TB the dimension is the broadcast side; the
    stream is never shuffled at all.
    """
    d = dim
    if dim_key == key:
        d = d.withColumnRenamed(dim_key, f"_dim_{dim_key}")
        dim_key = f"_dim_{dim_key}"
    cond = (
        (events[key] == d[dim_key])
        & (events[ts_col] >= d[valid_from])
        & (d[valid_to].isNull() | (events[ts_col] < d[valid_to]))
    )
    return events.join(F.broadcast(d), cond, how).drop(dim_key)


def streaming_heavy_hitters(
    events: DataFrame,
    item_col: str = "event_type",
    capacity: int = 8,
    n_buckets: int = 4,
):
    """Streaming heavy hitters via SpaceSaving state per hash bucket —
    the continuous twin of batch q102's approx_top_k sketch: track the
    most frequent items of an unbounded stream in bounded memory
    (capacity counters per bucket), with SpaceSaving's guarantees that
    (a) estimates never undercount (count_est >= true count), (b) any
    item with true frequency > N/capacity is guaranteed tracked, and
    (c) with capacity >= distinct items the counts are EXACT.

    Items are sharded to ``n_buckets`` state partitions by a
    deterministic JVM-side hash (built-in ``crc32``, no Python UDF in
    the row path), so every item consistently lands in one
    bucket's counter set and the bucket states merge trivially at read
    time (union of candidate rows, one final top-k). Each micro-batch is
    pre-aggregated to exact per-item counts in pandas before touching
    the state, so state work is O(distinct-per-batch), not O(rows).
    Emits each bucket's full candidate set per batch (append mode): the
    latest batch's rows are the live sketch. State per bucket is two
    parallel arrays (items, counts) — bounded forever.
    """
    bucket = F.pmod(
        F.crc32(F.encode(F.col(item_col), "UTF-8")), F.lit(n_buckets)
    ).cast("int")

    def update(key, pdfs, state: GroupState):
        items, counts = (
            ([], []) if not state.exists else
            (list(state.get[0]), list(state.get[1]))
        )
        tracked = dict(zip(items, counts))
        batch = pd.concat(list(pdfs), ignore_index=True)
        for item, c in batch.groupby(item_col).size().items():
            c = int(c)
            if item in tracked:
                tracked[item] += c
            elif len(tracked) < capacity:
                tracked[item] = c
            else:  # SpaceSaving eviction: inherit the min counter
                victim = min(tracked, key=lambda k: (tracked[k], k))
                tracked[item] = tracked.pop(victim) + c
        out_items = sorted(tracked, key=lambda k: (-tracked[k], k))
        state.update(
            (out_items, [int(tracked[k]) for k in out_items])
        )
        yield pd.DataFrame(
            {
                "bucket": [key[0]] * len(out_items),
                "item": out_items,
                "count_est": [int(tracked[k]) for k in out_items],
            }
        )

    return (
        events.withColumn("bucket", bucket)
        .groupBy("bucket")
        .applyInPandasWithState(
            update,
            outputStructType="bucket int, item string, count_est long",
            stateStructType="items array<string>, counts array<long>",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def sessionize_with_timeout(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Timeout-driven sessionization (``applyInPandasWithState`` +
    ``GroupStateTimeout.EventTimeTimeout``): per-key sessions close either
    when a later event arrives past the gap (emitted immediately) or when
    the WATERMARK passes session_end + gap with no successor — the
    idle-timeout path that ``session_window`` aggregation cannot decorate
    with custom per-session logic.

    Emits one final row per closed session: (key, session_start,
    session_end, n_events, total_value). Open sessions live in the state
    store (two timestamps + two numbers per key), are recovered from the
    checkpoint on restart, and each key's state is colocated by the
    groupBy shuffle — the same horizontal-scaling contract as every other
    stateful operator here. Batch parity: the gap-rule window
    sessionization (q92/q160) over the same rows produces the same
    sessions; tests/test_streaming.py pins it.

    The reference processes records strictly one-at-a-time with no state
    across records (/root/reference/etl_connector.py:219-226); sessions
    are north-star extension surface (SURVEY §2.3).
    """
    gap_us = gap_minutes * 60 * 1_000_000

    def update(key, pdfs, state: GroupState):
        out = []
        if state.hasTimedOut:
            s, e, n, tot = state.get
            state.remove()
            out.append((key[0], s, e, n, tot))
        else:
            if state.exists:
                s, e, n, tot = state.get
            else:
                s = e = None
                n, tot = 0, 0.0
            rows = []
            for pdf in pdfs:
                ts_us = (pdf[ts_col].astype("int64") // 1000).tolist()
                rows.extend(zip(ts_us, pdf[value_col].tolist()))
            rows.sort()
            for t, v in rows:
                if n == 0:
                    s = e = t
                    n, tot = 1, float(v)
                elif t - e <= gap_us:
                    e = max(e, t)
                    n += 1
                    tot += float(v)
                else:
                    out.append((key[0], s, e, n, tot))
                    s = e = t
                    n, tot = 1, float(v)
            if n > 0:
                state.update((s, e, n, tot))
                state.setTimeoutTimestamp((e + gap_us) // 1000)
        yield pd.DataFrame(
            out,
            columns=[key_col, "start_us", "end_us", "n_events", "total_value"],
        )

    closed = (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=(
                f"{key_col} long, start_us long, end_us long, "
                "n_events long, total_value double"
            ),
            stateStructType="s long, e long, n long, total double",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    return closed.select(
        key_col,
        F.timestamp_micros(F.col("start_us")).alias("session_start"),
        F.timestamp_micros(F.col("end_us")).alias("session_end"),
        "n_events",
        "total_value",
    )
