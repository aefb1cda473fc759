"""Seeded OTX-shaped pulse feed for the ``etl_ingest`` workload.

``make_feed`` builds every page the stub will serve, already serialized, so
one seed always yields byte-identical pages and the same 429 schedule.
``expected_state`` is the last-write-wins table the pipeline must converge
to, computed from the generated records alone (never from engine output).

``FeedServer`` serves the feed over HTTP on localhost with a bounded pool of
handler threads. Batch ``b`` lives under ``/b<b>``; the engine's REST reader
appends its default ``/pulses/subscribed?limit=..&page=..`` to that base.
"""

from __future__ import annotations

import json
import random
import threading
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlparse

PER_PAGE = 50
# Fixed shares of the injected record kinds: each batch holds exactly
# round(share * records) of each, at seeded positions, so every seed gives
# the engine the same amount of work.
SHARE_NO_PULSE_INFO = 0.06  # top-level id only: pulse_id comes from `id`
SHARE_NO_ID = 0.04  # neither id: keyless insert fallback, appended per batch
SHARE_DUPLICATE = 0.06  # in-batch duplicate of an earlier key, other `modified`
SHARE_NON_OBJECT = 0.02  # a JSON scalar or list: skipped as invalid
# Shares of all (batch, page) pairs, at least one pair each:
SHARE_429_ONCE = 0.03  # pairs whose first request gets a 429
SHARE_429_TWICE = 0.02  # pairs whose first two requests get a 429


@dataclass
class Feed:
    """Pages per batch (serialized) plus what the pipeline must report."""

    pages: list[list[bytes]]  # pages[b][p - 1] is page p of batch b
    records: list[list[object]]  # items per batch in source order
    throttled: frozenset  # {(batch, page, attempt)} answered with 429


def _iso(rng: random.Random) -> str:
    day = rng.randrange(365)
    sec = rng.randrange(86400)
    return time.strftime(
        "%Y-%m-%dT%H:%M:%S", time.gmtime(1704067200 + day * 86400 + sec)
    )


def _indicators(rng: random.Random) -> list[dict]:
    return [
        {"indicator": f"10.{rng.randrange(256)}.{rng.randrange(256)}.{i}", "type": "IPv4"}
        for i in range(rng.randrange(4))
    ]


def _full(rng: random.Random, key: int, modified: str) -> dict:
    return {
        "id": f"top-{key}",
        "name": f"pulse {key}",
        "created": "2024-01-01T00:00:00",
        "modified": modified,
        "indicator_count": rng.randrange(50),
        "pulse_info": {
            "id": f"pi-{key:06d}",
            "name": f"campaign {key} rev {rng.randrange(1000)}",
            "created": "2024-01-01T00:00:00",
            "modified": modified,
        },
        "tags": [f"t{rng.randrange(20)}"],
        "indicators": _indicators(rng),
    }


def make_feed(seed: int, n_batches: int, pages_per_batch: int) -> Feed:
    """Generate ``n_batches`` batches of ``pages_per_batch`` pages. The last
    page of each batch is short, so the reader also stops on a short page.
    Keys repeat across batches (the key space is ~60 % of all records), so
    later batches overwrite earlier rows."""
    rng = random.Random(seed)
    n_records = pages_per_batch * PER_PAGE - PER_PAGE // 3
    key_space = max(1, int(0.6 * n_batches * n_records))
    shares = {"non_object": SHARE_NON_OBJECT, "no_id": SHARE_NO_ID,
              "no_pulse_info": SHARE_NO_PULSE_INFO, "duplicate": SHARE_DUPLICATE}
    pages, records = [], []
    for b in range(n_batches):
        kinds = [k for k, share in shares.items() for _ in range(round(share * n_records))]
        kinds += ["full"] * (n_records - len(kinds))
        rng.shuffle(kinds)
        # a duplicate needs an earlier key: the batch opens with a full record
        first = kinds.index("full")
        kinds[0], kinds[first] = kinds[first], kinds[0]
        items: list[object] = []
        used: dict[int, int] = {}  # key -> index in items of its last copy
        id_only_used: set[int] = set()
        for i, kind in enumerate(kinds):
            modified = _iso(rng)
            if kind == "non_object":
                items.append(rng.choice(["not-a-pulse", 7, [1, 2]]))
            elif kind == "no_id":
                items.append({"name": f"orphan {b}-{i}", "indicator_count": i % 5,
                              "tags": [], "indicators": []})
            elif kind == "no_pulse_info":
                key = rng.randrange(key_space)
                while key in id_only_used:
                    key = (key + 1) % key_space
                id_only_used.add(key)
                items.append({"id": f"raw-{key:06d}", "name": f"raw {key}",
                              "modified": modified, "indicator_count": key % 7,
                              "tags": [], "indicators": []})
            elif kind == "duplicate":
                key = rng.choice(sorted(used))
                items.append(_full(rng, key, f"{modified[:-2]}{i % 60:02d}"))
                used[key] = len(items) - 1
            else:
                key = rng.randrange(key_space)
                items.append(_full(rng, key, modified))
                used[key] = len(items) - 1
        records.append(items)
        pages.append([
            json.dumps({"results": items[p * PER_PAGE : (p + 1) * PER_PAGE]},
                       sort_keys=True).encode()
            for p in range(pages_per_batch)
        ])
    pairs = [(b, p) for b in range(n_batches) for p in range(1, pages_per_batch + 1)]
    n_once = max(1, round(SHARE_429_ONCE * len(pairs)))
    n_twice = max(1, round(SHARE_429_TWICE * len(pairs)))
    hit = rng.sample(pairs, min(len(pairs), n_once + n_twice))
    throttled = {(b, p, 0) for b, p in hit}
    throttled |= {(b, p, 1) for b, p in hit[n_once:]}
    return Feed(pages=pages, records=records, throttled=frozenset(throttled))


def _pulse_id(item: dict) -> str | None:
    info = item.get("pulse_info") or {}
    return info.get("id") or item.get("id") or None


# The engine's documented semantics (``sources.rest.pulses_df``): a
# non-object item parses to a NULL ``raw`` payload, fails R7 validation and
# is skipped. What it does instead: Spark 4's ``from_json`` turns the item
# into a struct of NULLs, which passes validation and lands as a keyless
# row. The check accepts either outcome and reports the second by name, so
# the deviation shows in every run and a fix does not read as a failure.
DEVIATION = "non-object items upserted as keyless rows, not skipped as invalid"


def batch_counts(items: list[object], deviation: bool = False) -> dict:
    """``run_batch``'s counters for one batch: every non-object item is
    skipped as invalid, or, with ``deviation``, upserted (``DEVIATION``)."""
    skipped = 0 if deviation else sum(not isinstance(it, dict) for it in items)
    return {
        "records_seen": len(items),
        "records_upserted": len(items) - skipped,
        "records_skipped_invalid": skipped,
    }


def expected_state(
    feed: Feed, n_batches: int | None = None, deviation: bool = False
) -> tuple[dict, int]:
    """(keyed rows, keyless row count) after upserting the first
    ``n_batches`` batches in order. A later batch wins a key outright; within
    a batch the record with the latest ``modified`` wins, then the later
    source position. Non-object items are skipped, or, with ``deviation``,
    land as keyless rows. Keyed rows map pulse_id -> (pulse_name,
    pulse_modified, indicator_count, batch)."""
    keyed: dict[str, tuple] = {}
    keyless = 0
    for b, items in enumerate(feed.records[:n_batches]):
        winners: dict[str, tuple] = {}
        for pos, it in enumerate(items):
            if not isinstance(it, dict):
                keyless += deviation
                continue
            pid = _pulse_id(it)
            if pid is None:
                keyless += 1
                continue
            info = it.get("pulse_info") or {}
            rank = (info.get("modified") or "", pos)
            if pid not in winners or rank > winners[pid][0]:
                winners[pid] = (rank, (info.get("name"), info.get("modified"),
                                       it.get("indicator_count"), b))
        keyed.update({k: v[1] for k, v in winners.items()})
    return keyed, keyless


@dataclass
class FeedStats:
    """What the stub saw: every request, 200s per (batch, page), 429s sent,
    and the time handlers spent serving."""

    requests: int = 0
    retries: int = 0
    busy_s: float = 0.0
    fetches: Counter = field(default_factory=Counter)  # (batch, page) -> 200s
    attempts: Counter = field(default_factory=Counter)  # (batch, page) -> requests


def _make_handler(server: "FeedServer"):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):
            pass

        def do_GET(self):
            t0 = time.perf_counter()
            url = urlparse(self.path)
            batch = int(url.path.split("/")[1][1:])
            page = int(parse_qs(url.query).get("page", ["1"])[0])
            with server.lock:
                stats = server.stats
                attempt = stats.attempts[(batch, page)]
                stats.attempts[(batch, page)] += 1
                stats.requests += 1
                throttle = (batch, page, attempt) in server.feed.throttled
                if throttle:
                    stats.retries += 1
                else:
                    stats.fetches[(batch, page)] += 1
            if throttle:
                self.send_response(429)
                self.send_header("Retry-After", "0")
                self.send_header("Content-Length", "0")
                self.end_headers()
            else:
                pages = server.feed.pages[batch]
                body = pages[page - 1] if page <= len(pages) else b'{"results": []}'
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            with server.lock:
                server.stats.busy_s += time.perf_counter() - t0

    return Handler


class FeedServer(HTTPServer):
    """Serves a ``Feed`` on 127.0.0.1 with at most ``workers`` handler
    threads. ``reset()`` starts a new stats window, and with it a new 429
    schedule pass, since attempts are counted per window."""

    def __init__(self, feed: Feed, workers: int):
        self.feed = feed
        self.lock = threading.Lock()
        self.stats = FeedStats()
        self._pool = ThreadPoolExecutor(max_workers=workers)
        super().__init__(("127.0.0.1", 0), _make_handler(self))
        self._thread = threading.Thread(target=self.serve_forever, daemon=True)

    def base_url(self, batch: int) -> str:
        return f"http://127.0.0.1:{self.server_address[1]}/b{batch}"

    def reset(self) -> FeedStats:
        with self.lock:
            old, self.stats = self.stats, FeedStats()
        return old

    def process_request(self, request, client_address):
        self._pool.submit(self._serve_one, request, client_address)

    def _serve_one(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self.shutdown()
        self._thread.join()
        self._pool.shutdown(wait=True)
        self.server_close()
