"""Cursor/next-token pagination for the REST source (sources/rest.py
CursorRestReader / CursorRestStreamReader): chain walking + termination,
single-partition-by-protocol planning, streaming offsets over opaque
tokens, checkpoint replay, and append-only tail pickup — all against a
local http.server stub (no network), mirroring tests/test_rest_source.py.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pytest

from custom_python_etl_data_connector_keerthana2k4_tech_spark.sources.rest import (
    CursorRestReader,
    CursorRestStreamReader,
    _CursorChain,
)


class _CursorState:
    def __init__(self):
        # cursor token ("" = chain head) -> {"results": [...], "next": tok|None}
        self.chain: dict[str, dict] = {}
        self.requests: list[str] = []
        self.lock = threading.Lock()


def _make_handler(state: _CursorState):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):
            pass

        def do_GET(self):
            q = parse_qs(urlparse(self.path).query)
            cursor = q.get("cursor", [""])[0]
            with state.lock:
                state.requests.append(cursor)
                payload = state.chain.get(cursor, {"results": [], "next": None})
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(json.dumps(payload).encode())

    return Handler


@pytest.fixture()
def cursor_server():
    state = _CursorState()
    server = ThreadingHTTPServer(("127.0.0.1", 0), _make_handler(state))
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    yield f"http://127.0.0.1:{server.server_address[1]}", state
    server.shutdown()


def _item(i):
    return {"id": i}


def _opts(base_url, **kw):
    opts = {
        "base_url": base_url,
        "endpoint": "/feed",
        "pagination": "cursor",
        "per_page": "3",
        "max_retries": "2",
        "backoff_initial_s": "0.01",
    }
    opts.update({k: str(v) for k, v in kw.items()})
    return opts


def test_cursor_chain_walk_and_termination(cursor_server):
    base, state = cursor_server
    state.chain[""] = {"results": [_item(0), _item(1), _item(2)], "next": "t1"}
    state.chain["t1"] = {"results": [_item(3), _item(4), _item(5)], "next": "t2"}
    state.chain["t2"] = {"results": [_item(6)], "next": None}
    r = CursorRestReader(_opts(base))
    assert len(r.partitions()) == 1  # sequential by protocol
    rows = list(r.read(_CursorChain()))
    got = [json.loads(item)["id"] for _, _, item in rows]
    assert got == [0, 1, 2, 3, 4, 5, 6]
    seqs = sorted({seq for seq, _, _ in rows})
    assert seqs == [1, 2, 3]
    assert state.requests == ["", "t1", "t2"]  # each token fetched once


def test_cursor_max_pages_caps_runaway_chain(cursor_server):
    base, state = cursor_server
    # a cycle: t -> t forever
    state.chain[""] = {"results": [_item(0), _item(1), _item(2)], "next": "t"}
    state.chain["t"] = {"results": [_item(9), _item(9), _item(9)], "next": "t"}
    r = CursorRestReader(_opts(base, max_pages=4))
    rows = list(r.read(_CursorChain()))
    assert len(rows) == 12  # 4 pages and no more


def test_cursor_stream_offsets_replay_and_tail_growth(cursor_server):
    base, state = cursor_server
    state.chain[""] = {"results": [_item(0), _item(1), _item(2)], "next": "t1"}
    state.chain["t1"] = {"results": [_item(3)], "next": None}  # tail, short
    r = CursorRestStreamReader(_opts(base, pages_per_batch=5))
    start = r.initialOffset()
    rows1, end1 = r._poll(start)
    assert [json.loads(i)["id"] for _, _, i in rows1] == [0, 1, 2, 3]
    assert end1 == {"cursor": "t1", "seq": 2, "pos": 1}  # parked on the tail
    # replay [start, end1) must reproduce the same batch (checkpoint recovery)
    replay = list(r.readBetweenOffsets(start, end1))
    assert replay == rows1
    # append to the tail page: next batch emits ONLY the new item
    state.chain["t1"] = {"results": [_item(3), _item(4)], "next": None}
    rows2, end2 = r._poll(end1)
    assert [json.loads(i)["id"] for _, _, i in rows2] == [4]
    assert end2 == {"cursor": "t1", "seq": 2, "pos": 2}
    # tail later gains a next token: the chain resumes forward
    state.chain["t1"] = {"results": [_item(3), _item(4)], "next": "t2"}
    state.chain["t2"] = {"results": [_item(5)], "next": None}
    rows3, end3 = r._poll(end2)
    assert [json.loads(i)["id"] for _, _, i in rows3] == [5]
    assert end3 == {"cursor": "t2", "seq": 3, "pos": 1}


def test_cursor_batch_via_spark_format(spark, cursor_server):
    base, state = cursor_server
    state.chain[""] = {"results": [_item(0), _item(1), _item(2)], "next": "t1"}
    state.chain["t1"] = {"results": [_item(3), _item(4)], "next": None}
    from pyspark.sql import types as T

    from custom_python_etl_data_connector_keerthana2k4_tech_spark.sources.rest import pulses_df

    schema = T.StructType([T.StructField("id", T.LongType())])
    df = pulses_df(spark, base, schema, endpoint="/feed", pagination="cursor", per_page="3")
    rows = df.collect()
    assert len(rows) == 5
    assert sorted(r.raw.id for r in rows) == [0, 1, 2, 3, 4]
