"""REST upsert sink tests (R8-R10 over HTTP, no network): a local stub
captures POST batches and scripts failures, exercising batching, retry,
auth headers, pre-flight ping, and key extraction.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from custom_python_etl_data_connector_keerthana2k4_tech_spark.sources.rest import RestSourceError
from custom_python_etl_data_connector_keerthana2k4_tech_spark.sources.rest_sink import (
    register_rest_sink,
    safe_post,
)


class _SinkState:
    def __init__(self):
        self.batches: list[list[dict]] = []  # parsed ndjson bodies
        self.pings = 0
        self.fail_first: list[int] = []  # status codes to inject
        self.headers: list[dict] = []
        self.idem_keys: list[str] = []  # Idempotency-Key of EVERY attempt
        self.lock = threading.Lock()


def _make_handler(state: _SinkState):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):
            pass

        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(n)
            with state.lock:
                if self.path == "/ping":
                    state.pings += 1
                    self.send_response(200)
                    self.end_headers()
                    return
                state.idem_keys.append(self.headers.get("Idempotency-Key"))
                if state.fail_first:
                    self.send_response(state.fail_first.pop(0))
                    self.end_headers()
                    return
                state.headers.append(
                    {"api_key": self.headers.get("X-OTX-API-KEY")}
                )
                state.batches.append(
                    [json.loads(line) for line in body.decode().splitlines()]
                )
            self.send_response(200)
            self.end_headers()

    return Handler


@pytest.fixture()
def sink_server():
    state = _SinkState()
    server = ThreadingHTTPServer(("127.0.0.1", 0), _make_handler(state))
    threading.Thread(target=server.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{server.server_address[1]}", state
    server.shutdown()


def test_safe_post_retries_5xx(sink_server):
    base, state = sink_server
    state.fail_first = [500, 503]
    sleeps: list[float] = []
    safe_post(base + "/upsert", b'{"k":1}', backoff_initial_s=1.0, sleep=sleeps.append)
    assert sleeps == [1.0, 2.0]  # x2 exponential (etl_connector.py:55,62)
    assert len(state.batches) == 1


def test_safe_post_terminal_4xx(sink_server):
    base, state = sink_server
    state.fail_first = [403]
    with pytest.raises(RestSourceError, match="HTTP 403"):
        safe_post(base + "/upsert", b"x", sleep=lambda s: None)


def test_write_batches_and_keys(spark, sink_server):
    """20-record batching (R9), key extraction (R8), auth header (R2),
    pre-flight ping (R10) — one pass through the writer."""
    base, state = sink_server
    register_rest_sink(spark)
    df = spark.range(45).selectExpr(
        "concat('p-', id) AS pulse_id", "id AS indicator_count"
    ).coalesce(1)
    (
        df.write.format("rest_upsert")
        .option("base_url", base)
        .option("api_key", "sekrit")
        .option("backoff_initial_s", "0.01")
        .mode("append")
        .save()
    )
    assert state.pings == 1
    sizes = sorted(len(b) for b in state.batches)
    assert sizes == [5, 20, 20]  # two full flushes + remainder (R9 final flush)
    all_rows = [r for b in state.batches for r in b]
    assert len(all_rows) == 45
    assert {r["key"] for r in all_rows} == {f"p-{i}" for i in range(45)}
    assert all_rows[0]["doc"]["indicator_count"] is not None
    assert all(h["api_key"] == "sekrit" for h in state.headers)


def test_write_fails_without_ping(spark):
    register_rest_sink(spark)
    df = spark.range(1).selectExpr("'x' AS pulse_id")
    with pytest.raises(Exception, match="pre-flight ping failed"):
        (
            df.write.format("rest_upsert")
            .option("base_url", "http://127.0.0.1:1")  # nothing listens
            .option("timeout_s", "0.2")
            .mode("append")
            .save()
        )


def test_write_retries_transient_5xx(spark, sink_server):
    base, state = sink_server
    register_rest_sink(spark)
    state.fail_first = [500]  # first batch POST fails once, then succeeds
    df = spark.range(3).selectExpr("concat('p-', id) AS pulse_id").coalesce(1)
    (
        df.write.format("rest_upsert")
        .option("base_url", base)
        .option("backoff_initial_s", "0.01")
        .mode("append")
        .save()
    )
    assert [len(b) for b in state.batches] == [3]

def test_write_dead_letters_terminal_failures(spark, sink_server, tmp_path):
    """Per-record sink fault tolerance as a frame (etl_connector.py:182-191):
    with dead_letter_dir, a terminally-failing batch is quarantined as
    JSONL (error-stamped) and the run COMPLETES; surviving batches post."""
    base, state = sink_server
    register_rest_sink(spark)
    dl = str(tmp_path / "dead")
    state.fail_first = [404]  # first batch POST fails terminally
    df = spark.range(45).selectExpr("concat('p-', id) AS pulse_id").coalesce(1)
    (
        df.write.format("rest_upsert")
        .option("base_url", base)
        .option("backoff_initial_s", "0.01")
        .option("dead_letter_dir", dl)
        .mode("append")
        .save()
    )
    posted = [r["key"] for b in state.batches for r in b]
    dead = spark.read.json(dl)
    assert dead.count() == 20  # the failed 20-record batch, captured whole
    assert set(posted) | {r["key"] for r in dead.collect()} == {
        f"p-{i}" for i in range(45)
    }
    assert dead.filter("__error is null").count() == 0  # every row stamped


def test_write_without_dead_letter_still_raises(spark, sink_server, tmp_path):
    base, state = sink_server
    register_rest_sink(spark)
    state.fail_first = [404]
    df = spark.range(3).selectExpr("concat('p-', id) AS pulse_id").coalesce(1)
    with pytest.raises(Exception, match="records failed"):
        (
            df.write.format("rest_upsert")
            .option("base_url", base)
            .option("backoff_initial_s", "0.01")
            .mode("append")
            .save()
        )


def test_idempotency_key_stable_across_retries(spark, sink_server):
    """Every POST carries a content-hash Idempotency-Key: a retried batch
    (transient 5xx) re-sends the SAME key so a deduping server applies it
    once; distinct batches carry distinct keys."""
    base, state = sink_server
    register_rest_sink(spark)
    state.fail_first = [500]  # first attempt of the first batch fails
    df = spark.range(25).selectExpr("concat('p-', id) AS pulse_id").coalesce(1)
    (
        df.write.format("rest_upsert")
        .option("base_url", base)
        .option("backoff_initial_s", "0.01")
        .mode("append")
        .save()
    )
    # 25 rows -> two batches (20 + 5); first batch attempted twice
    assert len(state.idem_keys) == 3
    assert all(k for k in state.idem_keys)  # present on every attempt
    assert state.idem_keys[0] == state.idem_keys[1]  # retry reuses the key
    assert state.idem_keys[2] != state.idem_keys[0]  # next batch differs


def test_sink_registers_once_per_application(spark, monkeypatch):
    from pyspark.sql.datasource import DataSourceRegistration

    calls = []
    real = DataSourceRegistration.register

    def counted(self, source):
        calls.append(source)
        real(self, source)

    monkeypatch.setattr(DataSourceRegistration, "register", counted)
    for _ in range(3):
        register_rest_sink(spark)
    assert len(calls) <= 1  # 0 when an earlier test already registered it


def test_registered_sink_unpickles_without_the_package(spark, tmp_path):
    """After registration the sink pickles by value, together with the
    REST source module whose client and retry loop it uses, so a plain
    interpreter without the package on its path can load it."""
    import os
    import subprocess
    import sys

    from pyspark import cloudpickle

    from custom_python_etl_data_connector_keerthana2k4_tech_spark.sources.rest_sink import (
        RestUpsertDataSource,
    )

    register_rest_sink(spark)
    blob = cloudpickle.dumps(RestUpsertDataSource)
    pkg = RestUpsertDataSource.__module__.split(".")[0]
    script = (
        "import importlib.util, pickle, sys\n"
        f"assert importlib.util.find_spec({pkg!r}) is None\n"
        "cls = pickle.loads(sys.stdin.buffer.read())\n"
        "print(cls.name())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script], input=blob, cwd=tmp_path, env=env,
        capture_output=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr.decode()
    assert out.stdout.decode().strip() == "rest_upsert"
