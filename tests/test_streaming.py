"""Streaming tests (SURVEY §5.2.5): file-source replay of the events
fixture with availableNow triggers; stream-vs-batch parity, watermark
late-data drop, streaming dedup, and the continuous upsert pipeline.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.streaming import (
    run_pulse_stream,
    session_counts,
    stream_dedup,
    windowed_counts,
)

EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Events fixture replayed as a file-stream source directory."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load

    out = str(tmp_path_factory.mktemp("events_src"))
    # load() converts the fixture's TIMESTAMP(NANOS) to micros; the rewrite
    # gives the stream source a schema Spark's parquet reader accepts.
    load(spark, sf_dir, "events").coalesce(2).write.mode("overwrite").parquet(out)
    return out


def _run_to_memory(stream_df, name: str, checkpoint: str, mode: str = "complete"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_tumbling_window_stream_matches_batch(spark, events_dir, tmp_path):
    stream = spark.readStream.schema(EVENTS_DDL).parquet(events_dir)
    _run_to_memory(
        windowed_counts(stream, width="6 hours"),
        "tumbling_counts",
        str(tmp_path / "ck1"),
    )
    got = spark.sql("SELECT * FROM tumbling_counts")
    want = windowed_counts(spark.read.parquet(events_dir), width="6 hours")
    assert _rows(got) == _rows(want)
    assert got.count() > 0


def test_sliding_window_stream_matches_batch(spark, events_dir, tmp_path):
    stream = spark.readStream.schema(EVENTS_DDL).parquet(events_dir)
    _run_to_memory(
        windowed_counts(stream, width="12 hours", slide="6 hours"),
        "sliding_counts",
        str(tmp_path / "ck2"),
    )
    got = spark.sql("SELECT * FROM sliding_counts")
    want = windowed_counts(
        spark.read.parquet(events_dir), width="12 hours", slide="6 hours"
    )
    assert _rows(got) == _rows(want)
    # sliding windows overlap: ~2x the tumbling row count
    assert got.count() > spark.sql("SELECT * FROM tumbling_counts").count()


def test_session_window_stream_matches_batch(spark, events_dir, tmp_path):
    stream = spark.readStream.schema(EVENTS_DDL).parquet(events_dir)
    _run_to_memory(
        session_counts(stream, gap="2 hours"),
        "session_counts_t",
        str(tmp_path / "ck3"),
    )
    got = spark.sql("SELECT * FROM session_counts_t")
    want = session_counts(spark.read.parquet(events_dir), gap="2 hours")
    assert _rows(got) == _rows(want)
    # sessions merge events: fewer sessions than events, more than users
    n_users = spark.read.parquet(events_dir).select("user_id").distinct().count()
    assert n_users <= got.count() < spark.read.parquet(events_dir).count()


def test_watermark_drops_late_data(spark, tmp_path):
    """Two checkpointed availableNow runs: run 1 advances the watermark; a
    record in run 2 older than the watermark is dropped (append mode emits
    only finalized windows, and the late row never resurrects its window)."""
    src = str(tmp_path / "late_src")
    sink = str(tmp_path / "late_sink")
    ck = str(tmp_path / "ck_late")
    base = dt.datetime(2024, 3, 1, 12, 0, 0)

    def write_batch(rows):
        spark.createDataFrame(rows, EVENTS_DDL).coalesce(1).write.mode("append").parquet(src)

    # run 1: events up to 12:00 -> watermark ends up at 12:00 - 10min
    write_batch(
        [
            (1, base - dt.timedelta(hours=2), 1, "on_time", 1.0, "{}"),
            (2, base, 1, "on_time", 1.0, "{}"),
        ]
    )

    def run():
        # file sink: append mode + checkpoint recovery (memory sink can't
        # restart from a checkpoint), emitted rows read back as batch parquet
        stream = spark.readStream.schema(EVENTS_DDL).parquet(src)
        agg = windowed_counts(stream, width="10 minutes", watermark="10 minutes")
        q = (
            agg.writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    # run 2: one late event (3 hours before the watermark) + one new on-time
    write_batch(
        [
            (3, base - dt.timedelta(hours=3), 1, "late_marker", 1.0, "{}"),
            (4, base + dt.timedelta(hours=1), 1, "on_time", 1.0, "{}"),
        ]
    )
    run()
    emitted = spark.read.parquet(sink)
    types = {r.event_type for r in emitted.collect()}
    assert "on_time" in types  # finalized windows did emit
    assert "late_marker" not in types  # late event dropped by the watermark


def test_stream_dedup(spark, tmp_path):
    """Duplicate event_ids across micro-batches collapse to one row."""
    src = str(tmp_path / "dup_src")
    sink = str(tmp_path / "dup_sink")
    ck = str(tmp_path / "ck_dup")
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (10, base, 1, "a", 1.0, "{}"),
        (10, base, 1, "a", 1.0, "{}"),  # in-batch duplicate
        (11, base + dt.timedelta(minutes=1), 1, "b", 2.0, "{}"),
    ]
    spark.createDataFrame(rows, EVENTS_DDL).coalesce(1).write.mode("append").parquet(src)

    def run():
        stream = spark.readStream.schema(EVENTS_DDL).parquet(src)
        q = (
            stream_dedup(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    # second batch re-delivers event 10 (cross-batch dup) + a new event
    spark.createDataFrame(
        [(10, base, 1, "a", 1.0, "{}"), (12, base + dt.timedelta(minutes=2), 1, "c", 3.0, "{}")],
        EVENTS_DDL,
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    got = spark.read.parquet(sink)
    assert sorted(r.event_id for r in got.collect()) == [10, 11, 12]


def test_pulse_stream_converges(spark, tmp_path):
    """Continuous connector mode: JSON pulse files -> micro-batch keyed
    upsert; re-delivery and multi-run both converge (R8 on a stream)."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.config import PipelineConfig
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.otx_fixture import RAW_PULSE_SCHEMA, RAW_PULSES

    src = str(tmp_path / "pulse_src")
    target = str(tmp_path / "pulse_tgt")
    ck = str(tmp_path / "ck_pulse")
    os.makedirs(src)
    cfg = PipelineConfig(api_key="k", base_url="http://test", connector_name="s", city="")

    with open(os.path.join(src, "batch1.json"), "w") as f:
        for p in RAW_PULSES[:6]:
            f.write(json.dumps(p) + "\n")
    run_pulse_stream(spark, src, RAW_PULSE_SCHEMA, cfg, target, ck)
    first = spark.read.parquet(target)
    keyed_first = first.filter(F.col("pulse_id").isNotNull())
    assert keyed_first.count() == keyed_first.select("pulse_id").distinct().count()

    # second file: re-delivers pulse pi-001 with a NEWER modified -> replaces
    newer = dict(RAW_PULSES[0])
    newer["pulse_info"] = dict(newer["pulse_info"], modified="2024-02-01T00:00:00", name="Emotet wave v2")
    with open(os.path.join(src, "batch2.json"), "w") as f:
        f.write(json.dumps(newer) + "\n")
    run_pulse_stream(spark, src, RAW_PULSE_SCHEMA, cfg, target, ck)

    out = spark.read.parquet(target).filter(F.col("pulse_id") == "pi-001").collect()
    assert len(out) == 1
    assert out[0].pulse_name == "Emotet wave v2"


@pytest.mark.slow
def test_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState: per-key totals accumulate across micro-batches
    (maxFilesPerTrigger=1 forces two batches) and survive a checkpointed
    restart — the state store is doing the work, not the batch."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.streaming import stateful_running_totals

    src = str(tmp_path / "st_src")
    sink = str(tmp_path / "st_sink")
    ck = str(tmp_path / "st_ck")
    base = dt.datetime(2024, 4, 1, 12, 0, 0)

    def add_file(rows):
        spark.createDataFrame(rows, EVENTS_DDL).coalesce(1).write.mode("append").parquet(src)

    add_file([(1, base, 7, "a", 1.0, "{}"), (2, base, 7, "a", 2.0, "{}")])
    add_file([(3, base, 7, "a", 4.0, "{}"), (4, base, 8, "b", 10.0, "{}")])

    def run():
        stream = (
            spark.readStream.schema(EVENTS_DDL)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            stateful_running_totals(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    emitted = sorted(
        map(tuple, spark.read.parquet(sink).collect()), key=lambda t: (t[0], t[1])
    )
    # user 7 emitted once per batch containing it, with growing totals
    u7 = [t for t in emitted if t[0] == 7]
    assert [t[1] for t in u7] == [2, 3] and [t[2] for t in u7] == [3.0, 7.0]
    assert (8, 1, 10.0) in emitted

    # restart with new data: state recovered from checkpoint, totals continue
    add_file([(5, base, 7, "a", 0.5, "{}")])
    run()
    emitted2 = sorted(map(tuple, spark.read.parquet(sink).collect()))
    assert (7, 4, 7.5) in emitted2  # 3 prior events + 1 new, cumulative sum


def test_stream_stream_join_matches_batch(spark, events_dir, tmp_path):
    """Interval join of two derived streams (clicks -> purchases within 1h)
    equals the same join done in batch. Append mode: inner stream-stream
    join results are final once emitted."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.streaming import stream_stream_join

    def split(df):
        clicks = df.filter(F.col("event_id") % 2 == 0).select(
            "event_id", "ts", "user_id", "value"
        )
        buys = df.filter(F.col("event_id") % 2 == 1).select(
            "event_id", "ts", "user_id", "value"
        )
        return clicks, buys

    s_clicks, s_buys = split(spark.readStream.schema(EVENTS_DDL).parquet(events_dir))
    joined = stream_stream_join(
        s_clicks, s_buys, key="user_id", max_delay="1 hour", watermark="4 hours"
    )
    _run_to_memory(joined, "ss_join", str(tmp_path / "ck_ssj"), mode="append")
    got = spark.sql("SELECT * FROM ss_join")

    b_clicks, b_buys = split(spark.read.parquet(events_dir))
    want = stream_stream_join(
        b_clicks, b_buys, key="user_id", max_delay="1 hour", watermark="4 hours"
    )
    assert _rows(got) == _rows(want)
    assert got.count() > 0


def test_stream_static_join_enrichment(spark, events_dir, sf_dir, tmp_path):
    """Stream-static join: a live stream enriched against a batch dimension
    table (no watermark needed — the static side is re-read per batch)."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load

    dim = (
        load(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    stream = spark.readStream.schema(EVENTS_DDL).parquet(events_dir)
    enriched = stream.join(dim, "user_id", "left").select(
        "event_id", "user_id", "c_mktsegment"
    )
    _run_to_memory(enriched, "ss_enrich", str(tmp_path / "ck_ssenrich"), mode="append")
    got = spark.sql("SELECT * FROM ss_enrich")
    want = (
        spark.read.parquet(events_dir)
        .join(dim, "user_id", "left")
        .select("event_id", "user_id", "c_mktsegment")
    )
    assert _rows(got) == _rows(want)
    assert got.filter(F.col("c_mktsegment").isNotNull()).count() > 0


@pytest.mark.slow
def test_streaming_ewma_matches_batch(spark, sf_dir, tmp_path):
    """transformWithStateInPandas EWMA: ordered two-batch replay of the
    fixture events must reproduce the batch q108 trajectory exactly — one
    double of state per key carries the recursion across micro-batches."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans import registry
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.streaming import streaming_ewma
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load

    src = str(tmp_path / "ew_src")
    sink = str(tmp_path / "ew_sink")
    ck = str(tmp_path / "ew_ck")

    ev = (
        load(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts", F.col("value").cast("double").alias("value"))
        .orderBy("ts", "event_id")
    )
    rows = ev.collect()
    half = len(rows) // 2
    ddl = "event_id long, user_id long, ts timestamp, value double"
    for chunk in (rows[:half], rows[half:]):  # ordered halves -> 2 batches
        spark.createDataFrame(chunk, ddl).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(ddl).option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = (
        streaming_ewma(stream)
        .writeStream.format("parquet")
        .option("path", sink)
        .outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        r["event_id"]: r["ewma"] for r in spark.read.parquet(sink).collect()
    }
    want = {
        r["event_id"]: r["ewma"]
        for r in registry.queries()["q108_ewma"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    assert all(abs(got[k] - want[k]) < 1e-9 for k in want)


def test_pulse_stream_rest_over_the_wire(spark, tmp_path):
    """Continuous connector mode over the wire: the streaming REST source
    feeds transform -> validate -> keyed upsert. A second run resumes from
    the offset checkpoint (no page re-read of full pages) and new pulses
    appended to the feed land exactly once; re-delivered keys converge."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import parse_qs, urlparse

    from custom_python_etl_data_connector_keerthana2k4_tech_spark.config import PipelineConfig
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.otx_fixture import RAW_PULSE_SCHEMA, RAW_PULSES
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.streaming.ops import run_pulse_stream_rest

    per_page = 3
    pages = {1: {"results": RAW_PULSES[:per_page]},
             2: {"results": RAW_PULSES[per_page : per_page + 1]}}

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            p = int(parse_qs(urlparse(self.path).query).get("page", ["1"])[0])
            self.send_response(200)
            self.end_headers()
            self.wfile.write(json.dumps(pages.get(p, {"results": []})).encode())

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    target, ck = str(tmp_path / "tgt"), str(tmp_path / "ck")
    cfg = PipelineConfig(api_key="k", base_url=base, connector_name="s", city="")

    run_pulse_stream_rest(
        spark, base, RAW_PULSE_SCHEMA, cfg, target, ck, per_page=per_page
    )
    first = spark.read.parquet(target).filter(F.col("pulse_id").isNotNull())
    n_first = first.count()
    assert n_first == first.select("pulse_id").distinct().count() > 0

    # feed grows: page 2 fills out with an UPDATED copy of the first pulse
    newer = dict(RAW_PULSES[0])
    newer["pulse_info"] = dict(
        newer["pulse_info"], modified="2024-02-01T00:00:00", name="Emotet wave v2"
    )
    pages[2] = {"results": RAW_PULSES[per_page : per_page + 2] + [newer]}
    run_pulse_stream_rest(
        spark, base, RAW_PULSE_SCHEMA, cfg, target, ck, per_page=per_page
    )
    srv.shutdown()

    out = spark.read.parquet(target).filter(F.col("pulse_id").isNotNull())
    assert out.count() == out.select("pulse_id").distinct().count()
    v2 = out.filter(F.col("pulse_id") == "pi-001").collect()
    assert len(v2) == 1 and v2[0].pulse_name == "Emotet wave v2"


def test_pulse_stream_rest_skips_non_objects(spark, tmp_path):
    """The REST stream follows the batch path: feed items that are not JSON
    objects (a string, a number, an array) fail validation and are skipped,
    never upserted as keyless rows; within one micro-batch the newest
    ``pulse_modified`` of a key wins."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from custom_python_etl_data_connector_keerthana2k4_tech_spark.config import PipelineConfig
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.otx_fixture import RAW_PULSE_SCHEMA
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.streaming.ops import run_pulse_stream_rest

    def pulse(name, modified):
        return {"id": "p-1", "pulse_info": {"id": "p-1", "name": name, "modified": modified}}

    feed = [
        pulse("newer", "2024-02-01T00:00:00"),
        "not-a-pulse",
        7,
        [1, 2],
        pulse("older", "2024-01-01T00:00:00"),
    ]

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            self.send_response(200)
            self.end_headers()
            self.wfile.write(json.dumps({"results": feed}).encode())

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    target, ck = str(tmp_path / "tgt"), str(tmp_path / "ck")
    cfg = PipelineConfig(api_key="k", base_url=base, connector_name="s", city="")
    try:
        run_pulse_stream_rest(
            spark, base, RAW_PULSE_SCHEMA, cfg, target, ck, per_page=50
        )
    finally:
        srv.shutdown()

    rows = spark.read.parquet(target).collect()
    assert [(r.pulse_id, r.pulse_name) for r in rows] == [("p-1", "newer")]


@pytest.mark.slow
def test_streaming_cusum_matches_serial_recursion(spark, tmp_path):
    """Per-key streaming CUSUM: two ordered micro-batches must carry the
    reflected cumulative sum across the batch boundary exactly."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.streaming.ops import streaming_cusum

    mu0, slack, alarm = 10.0, 0.5, 2.0
    base = dt.datetime(2024, 1, 1)
    rows = []
    vals = {1: [12.0, 13.0, 9.0, 8.0, 14.0, 15.0], 2: [10.0, 10.2, 10.4, 9.0, 20.0, 10.0]}
    eid = 0
    for i in range(6):
        for uid in (1, 2):
            rows.append((eid, uid, base + dt.timedelta(minutes=i), vals[uid][i]))
            eid += 1
    ddl = "event_id long, user_id long, ts timestamp, value double"
    src, sink, ck = (str(tmp_path / d) for d in ("c_src", "c_sink", "c_ck"))
    half = len(rows) // 2
    for chunk in (rows[:half], rows[half:]):
        spark.createDataFrame(chunk, ddl).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(ddl).option("maxFilesPerTrigger", "1").parquet(src)
    q = (
        streaming_cusum(stream, mu0=mu0, slack=slack, alarm=alarm)
        .writeStream.format("parquet")
        .option("path", sink)
        .outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {r["event_id"]: (r["cpos"], r["alarm"]) for r in spark.read.parquet(sink).collect()}
    # serial reference recursion per key
    want = {}
    for uid, series in vals.items():
        c = 0.0
        for i, x in enumerate(series):
            c = max(0.0, c + (x - mu0 - slack))
            want_eid = i * 2 + (0 if uid == 1 else 1)
            want[want_eid] = (c, c > alarm)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == pytest.approx(want[k][0], abs=1e-12)
        assert got[k][1] == want[k][1]
    # the detector actually fired and actually reset somewhere
    assert any(v[1] for v in got.values())
    assert any(v[0] == 0.0 for v in got.values())


def test_jsonl_deadletter_split(spark, tmp_path):
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.sources.jsonl import read_jsonl_with_deadletter
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    p = tmp_path / "feed.jsonl"
    lines = [
        '{"id": 1, "name": "ok"}',
        "this is not json at all",
        '{"id": 2, "name": "fine"}',
        '{"id": "not-a-number", "name": "bad-type"}',
        '{"id": 3}',  # missing field: still good (null name)
    ]
    p.write_text("\n".join(lines) + "\n")
    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    good, dead = read_jsonl_with_deadletter(spark, str(p), schema)
    assert {r["id"] for r in good.collect()} == {1, 2, 3}
    dead_lines = [r["raw_line"] for r in dead.collect()]
    assert len(dead_lines) == 2
    assert "this is not json at all" in dead_lines
    assert any("not-a-number" in l for l in dead_lines)
    # nothing lost: good + dead == input lines
    assert good.count() + dead.count() == len(lines)
    # declared schema must not already carry the corrupt column
    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_jsonl_with_deadletter(
            spark, str(p), StructType(list(schema.fields) + [StructField("_corrupt_record", StringType())])
        )


def test_scd2_enrichment_stream_matches_batch(spark, tmp_path):
    """Stream-static SCD2 as-of enrichment: events pick up the dimension
    attributes valid at EVENT time, identically in batch and streaming."""
    import datetime

    from custom_python_etl_data_connector_keerthana2k4_tech_spark.streaming.ops import enrich_scd2

    t0 = datetime.datetime(2024, 1, 1)

    def at(h):
        return t0 + datetime.timedelta(hours=h)

    dim = spark.createDataFrame(
        [
            (1, "bronze", at(0), at(5)),
            (1, "gold", at(5), None),  # upgraded at hour 5, current row
            (2, "silver", at(0), None),
        ],
        "user_id long, tier string, valid_from timestamp, valid_to timestamp",
    )
    events = [
        (1, at(1), 1, "view", 1.0, "{}"),   # -> bronze
        (2, at(5), 1, "view", 1.0, "{}"),   # boundary: [from, to) -> gold
        (3, at(9), 1, "view", 1.0, "{}"),   # -> gold (open row)
        (4, at(2), 2, "view", 1.0, "{}"),   # -> silver
        (5, at(3), 7, "view", 1.0, "{}"),   # no dim row -> null tier
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(events, EVENTS_DDL).write.mode("overwrite").parquet(src)

    batch = {
        r["event_id"]: r["tier"]
        for r in enrich_scd2(
            spark.read.parquet(src), dim
        ).select("event_id", "tier").collect()
    }
    assert batch == {1: "bronze", 2: "gold", 3: "gold", 4: "silver", 5: None}

    stream = spark.readStream.schema(EVENTS_DDL).parquet(src)
    out = enrich_scd2(stream, dim).select("event_id", "tier")
    q = (
        out.writeStream.format("memory")
        .queryName("scd2_parity")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        r["event_id"]: r["tier"]
        for r in spark.sql("select * from scd2_parity").collect()
    }
    assert streamed == batch


@pytest.mark.slow
def test_streaming_heavy_hitters_exact_when_capacity_suffices(spark, tmp_path):
    """Two micro-batches; capacity >= distinct items -> SpaceSaving counts
    are exactly the batch groupBy counts, accumulated across batches."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.streaming.ops import streaming_heavy_hitters

    src = str(tmp_path / "hh_src")
    sink = str(tmp_path / "hh_sink")
    ck = str(tmp_path / "hh_ck")
    base = dt.datetime(2024, 4, 1)

    def add_file(rows):
        spark.createDataFrame(rows, EVENTS_DDL).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    add_file(
        [(i, base, 1, t, 0.0, "{}")
         for i, t in enumerate(["a", "a", "b", "c", "a"])]
    )
    add_file(
        [(10 + i, base, 1, t, 0.0, "{}")
         for i, t in enumerate(["b", "a", "d", "b"])]
    )

    def run():
        stream = (
            spark.readStream.schema(EVENTS_DDL)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            streaming_heavy_hitters(stream, capacity=8)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    # keep only each bucket's LAST emission: rows whose counts are maximal
    out = spark.read.parquet(sink).collect()
    latest = {}
    for r in out:
        latest[r["item"]] = max(latest.get(r["item"], 0), r["count_est"])
    assert latest == {"a": 4, "b": 3, "c": 1, "d": 1}


def test_streaming_heavy_hitters_never_undercounts(spark, tmp_path):
    """Capacity pressure (capacity=2, one bucket): estimates may inflate
    but can never undercount, and the true heavy item must surface."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.streaming.ops import streaming_heavy_hitters

    src = str(tmp_path / "hh2_src")
    sink = str(tmp_path / "hh2_sink")
    ck = str(tmp_path / "hh2_ck")
    base = dt.datetime(2024, 4, 1)
    types = ["hot"] * 10 + ["w1", "w2", "w3", "w4", "hot", "hot"]
    spark.createDataFrame(
        [(i, base, 1, t, 0.0, "{}") for i, t in enumerate(types)], EVENTS_DDL
    ).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(EVENTS_DDL).parquet(src)
    q = (
        streaming_heavy_hitters(stream, capacity=2, n_buckets=1)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r["item"]: r["count_est"] for r in spark.read.parquet(sink).collect()}
    true = {t: types.count(t) for t in set(types)}
    assert "hot" in rows and rows["hot"] >= true["hot"]
    for item, est in rows.items():
        assert est >= true[item]  # SpaceSaving never undercounts


@pytest.mark.slow
def test_stream_stream_left_outer_emits_unmatched(spark, events_dir, tmp_path):
    """Watermarked LEFT OUTER stream-stream join: unmatched left rows are
    held in state while they could still match, then emitted null-padded
    once the watermark passes their window. A far-future sentinel file in
    a second run advances the watermark past every real row, so the final
    sink must equal the batch left-outer join."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.streaming import stream_stream_join

    src = str(tmp_path / "lo_src")
    sink = str(tmp_path / "lo_sink")
    ck = str(tmp_path / "lo_ck")
    os.makedirs(src, exist_ok=True)
    real = (
        spark.read.parquet(events_dir)
        .filter(F.col("ts") < "2024-01-08")
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    )
    real.coalesce(1).write.mode("overwrite").parquet(src)

    def split(df):
        # sentinels (event_id >= 10**9) must flow THROUGH these filters —
        # a watermark only advances on rows that reach its operator
        clicks = df.filter(F.col("event_type") == "click").select(
            "event_id", "ts", "user_id", "value"
        )
        buys = df.filter(
            (F.col("event_type") == "purchase") & (F.col("value") > 90)
        ).select("event_id", "ts", "user_id", "value")
        return clicks, buys

    def run():
        s = spark.readStream.schema(EVENTS_DDL).parquet(src)
        joined = stream_stream_join(
            *split(s),
            key="user_id",
            max_delay="1 hour",
            watermark="2 hours",
            how="left_outer",
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    # sentinel in BOTH roles, 30 days later: pushes the watermark far past
    # every real row so all pending unmatched lefts are evicted + emitted
    # two sentinel runs: the watermark computed from batch N's data only
    # evicts state in batch N+1, so a second even-later sentinel batch
    # flushes everything the first one unlocked
    for i, far in enumerate([dt.datetime(2024, 3, 1), dt.datetime(2024, 4, 1)]):
        sentinel = spark.createDataFrame(
            [
                (10**9 + 2 * i, far, 999999, "click", 1.0, "{}"),
                (10**9 + 2 * i + 1, far, 999999, "purchase", 99.0, "{}"),
            ],
            EVENTS_DDL,
        )
        sentinel.coalesce(1).write.mode("append").parquet(src)
        run()

    got = (
        spark.read.parquet(sink)
        .filter(F.col("event_id") < 10**9)
        .drop("r_event_id", "r_ts")
    )
    want = stream_stream_join(
        *split(real),
        key="user_id",
        max_delay="1 hour",
        watermark="2 hours",
        how="left_outer",
    ).drop("r_event_id", "r_ts")
    assert _rows(got) == _rows(want)
    # the outer semantics actually exercised: some rows matched, some not
    assert got.filter(F.col("r_value").isNull()).count() > 0
    assert got.filter(F.col("r_value").isNotNull()).count() > 0


@pytest.mark.slow
def test_sessionize_with_timeout_matches_batch_gap_rule(spark, tmp_path):
    """Timeout-driven stateful sessionization: sessions close in-stream
    when a successor arrives past the gap, and via EventTimeTimeout when
    the watermark passes an idle session. Emitted sessions must equal the
    batch gap-rule sessionization of the same rows."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.streaming import sessionize_with_timeout

    src = str(tmp_path / "sw_src")
    sink = str(tmp_path / "sw_sink")
    ck = str(tmp_path / "sw_ck")
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    mins = dt.timedelta(minutes=1)
    rows = [
        # user 1: two sessions separated by a 90-minute hole
        (1, base, 1, "a", 1.0, "{}"),
        (2, base + 5 * mins, 1, "a", 2.0, "{}"),
        (3, base + 95 * mins, 1, "a", 3.0, "{}"),
        (4, base + 100 * mins, 1, "a", 4.0, "{}"),
        # user 2: one session
        (5, base, 2, "a", 10.0, "{}"),
        (6, base + 20 * mins, 2, "a", 20.0, "{}"),
    ]
    spark.createDataFrame(rows, EVENTS_DDL).coalesce(1).write.mode("append").parquet(src)

    def run():
        stream = spark.readStream.schema(EVENTS_DDL).parquet(src)
        q = (
            sessionize_with_timeout(stream, gap_minutes=30, watermark="10 minutes")
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    # two sentinel batches push the watermark far past every session's
    # idle deadline (watermark lags one batch; see left-outer join test)
    for i, far in enumerate([base + dt.timedelta(days=10), base + dt.timedelta(days=20)]):
        spark.createDataFrame(
            [(100 + i, far, 999, "a", 0.0, "{}")], EVENTS_DDL
        ).coalesce(1).write.mode("append").parquet(src)
        run()

    got = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events, r.total_value)
        for r in spark.read.parquet(sink).filter(F.col("user_id") < 999).collect()
    )
    want = [
        (1, base, base + 5 * mins, 2, 3.0),
        (1, base + 95 * mins, base + 100 * mins, 2, 7.0),
        (2, base, base + 20 * mins, 2, 30.0),
    ]
    assert got == want


@pytest.mark.slow
def test_foreach_batch_near_dedup_stream(spark, tmp_path):
    """Streaming near-dedup against the persisted signature store: batches
    arrive as files; admitted docs match the batch-by-batch incremental
    operator, and replaying a micro-batch converges (overwrite-by-batch +
    store-read excluding the batch's own partition)."""
    import pyspark.sql.functions as F

    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.dedup import (
        incremental_near_dedup_sigs,
    )
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.streaming.ops import (
        foreach_batch_near_dedup,
    )

    rows_b1 = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),  # exact dup of 1
        (3, "completely different words entirely here now"),
    ]
    rows_b2 = [
        (4, "alpha beta gamma delta epsilon eta"),  # near-dup of admitted 1
        (5, "unrelated content about some other topic"),
    ]
    src = tmp_path / "src"
    src.mkdir()
    corpus = str(tmp_path / "corpus")
    sigs = str(tmp_path / "sigs")
    ckpt = str(tmp_path / "ckpt")
    ddl = "doc_id long, text string"

    def write_batch(name, rows):
        spark.createDataFrame(rows, ddl).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    def run_available():
        stream = spark.readStream.schema(ddl).parquet(str(src / "*"))
        q = (
            foreach_batch_near_dedup(
                stream, corpus, sigs, ckpt, "doc_id", "text", threshold=0.8
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write_batch("b1", rows_b1)
    run_available()
    write_batch("b2", rows_b2)
    run_available()

    got = sorted(
        r["doc_id"] for r in spark.read.parquet(corpus).select("doc_id").collect()
    )
    # reference semantics from the batch operator, applied batch-by-batch
    k1, s1 = incremental_near_dedup_sigs(
        spark.createDataFrame(rows_b1, ddl), None, "doc_id", "text", 0.8
    )
    k2, _ = incremental_near_dedup_sigs(
        spark.createDataFrame(rows_b2, ddl),
        s1.select("id", "fp", "sz", "shingles", "bands"),
        "doc_id",
        "text",
        0.8,
    )
    expect = sorted(
        [r["doc_id"] for r in k1.collect()] + [r["doc_id"] for r in k2.collect()]
    )
    assert got == expect
    # signature store mirrors the corpus
    assert sorted(
        r["id"] for r in spark.read.parquet(sigs).select("id").collect()
    ) == got

    # crash replay: re-delivering the SECOND micro-batch under its original
    # batch id must converge — the sink reads the store EXCLUDING its own
    # partition, recomputes the same admit set, and overwrites in place
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.streaming.ops import near_dedup_sink

    sink = near_dedup_sink(corpus, sigs, "doc_id", "text", threshold=0.8)
    sink(spark.createDataFrame(rows_b2, ddl), 1)
    again = sorted(
        r["doc_id"] for r in spark.read.parquet(corpus).select("doc_id").collect()
    )
    assert got == again
    assert sorted(
        r["id"] for r in spark.read.parquet(sigs).select("id").collect()
    ) == got


def test_near_dedup_sink_raises_on_unreadable_store(spark, tmp_path):
    """Only a missing or empty signature store reads as "no store yet"; a
    store that cannot be read fails the batch instead of admitting every
    document as new."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.streaming.ops import near_dedup_sink

    corpus, sigs = str(tmp_path / "corpus"), tmp_path / "sigs"
    batch = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    sigs.mkdir()
    sink = near_dedup_sink(corpus, str(sigs), "doc_id", "text", threshold=0.8)
    sink(batch, 0)  # empty store directory: first batch
    assert spark.read.parquet(corpus).count() == 1

    garbage = tmp_path / "garbage"
    garbage.mkdir()
    (garbage / "part-0.parquet").write_bytes(b"not a parquet file")
    bad = near_dedup_sink(corpus, str(garbage), "doc_id", "text", threshold=0.8)
    with pytest.raises(Exception, match="(?i)parquet"):
        bad(batch, 1)


def test_versioned_stream_sink_publishes_snapshots(spark, tmp_path):
    """Streaming ingestion into a versioned table: each micro-batch lands
    as one snapshot-isolated version (time-travelable), replayed batches
    converge by keyed last-write-wins, and zone maps stay maintained."""
    import datetime as dt

    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.versioned import (
        current_version,
        read_versioned,
        versions,
    )
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.streaming.ops import (
        foreach_batch_versioned_upsert,
    )

    src = str(tmp_path / "vsrc")
    root = str(tmp_path / "vtable")
    ck = str(tmp_path / "vck")
    base = dt.datetime(2024, 3, 1, 12, 0, 0)

    def run():
        stream = spark.readStream.schema(EVENTS_DDL).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        q = foreach_batch_versioned_upsert(
            stream.select("event_id", "user_id", "ts", "value", "event_type"),
            root,
            key="event_id",
            order_by=["ts"],
            checkpoint=ck,
            partition_by="event_type",
            stats_cols=["value"],
        ).trigger(availableNow=True).start()
        q.awaitTermination()

    spark.createDataFrame(
        [(1, base, 7, "a", 1.0, "{}"), (2, base, 7, "b", 5.0, "{}")], EVENTS_DDL
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    v_after_first = current_version(spark, root)
    assert v_after_first == 1
    # second file: an update for event 1 (newer ts) + a new event
    spark.createDataFrame(
        [
            (1, base + dt.timedelta(minutes=5), 7, "a", 9.0, "{}"),
            (3, base + dt.timedelta(minutes=1), 8, "b", 2.0, "{}"),
        ],
        EVENTS_DDL,
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    assert current_version(spark, root) == 2
    latest = {
        r["event_id"]: r["value"] for r in read_versioned(spark, root).collect()
    }
    assert latest == {1: 9.0, 2: 5.0, 3: 2.0}
    # time travel: batch-1 state intact
    v1 = {r["event_id"]: r["value"] for r in read_versioned(spark, root, 1).collect()}
    assert v1 == {1: 1.0, 2: 5.0}
    # zone maps maintained per partition
    m = versions(spark, root)[-1]
    assert m["stats"]["a"]["value"] == [9.0, 9.0]
    assert m["stats"]["b"]["value"] == [2.0, 5.0]
    # replay: wipe the checkpoint -> both files redeliver; content
    # converges (keyed idempotence), history just grows versions
    import shutil

    shutil.rmtree(ck)
    run()
    assert current_version(spark, root) > 2
    again = {
        r["event_id"]: r["value"] for r in read_versioned(spark, root).collect()
    }
    assert again == latest
