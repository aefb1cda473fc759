"""Keyed idempotent REST sink as a Spark Python Data Source writer
(SURVEY §2.1 R8-R10 over HTTP; the write-side dual of sources/rest.py).

Reference behaviors reproduced (citations into /root/reference/etl_connector.py):

- R8 keyed idempotent upsert: each record POSTs to ``{base_url}{endpoint}``
  as an upsert-by-key document (:167-191). The wire contract is
  "POST /upsert with {key, doc} replaces-or-inserts" — the HTTP analog of
  ``replace_one({key: k}, doc, upsert=True)`` (:181).
- R8 per-record fault tolerance: a failed record is captured, not fatal;
  the commit message carries per-partition error counts (:182-183 swallow
  semantics, surfaced as metrics instead of silence).
- R9 micro-batching: records buffer and flush every ``batch_size`` (default
  20, the reference's ``main(batch_size=20)`` :206) as one JSON-lines POST.
- R10 connectivity probe: the writer pings ``{base_url}/ping`` once on the
  driver before launching tasks; abort-fast on failure (:212-217).
- R3 retry machine: every POST goes through the reader's
  backoff/429/5xx/transport retry loop (:53-85): ``safe_post`` and
  ``safe_get`` share ``sources.rest.retry_request``, and the writer sends
  through the same ``RestClient`` (option parsing + auth headers).

Scale design: one POST per ``batch_size`` records per partition (the
reference pays one round-trip PER DOCUMENT, :181-187); ``min_interval_s``
throttles per-partition request rate so N executors cannot hammer one API.
Exactly-once comes from the TARGET's keyed idempotence, not transactions:
replayed tasks re-upsert the same keys and converge — the same mechanism
as the parquet/Mongo upsert sinks (SURVEY §7 hard part e).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid
from collections.abc import Iterator

from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceWriter, WriterCommitMessage

from custom_python_etl_data_connector_keerthana2k4_tech_spark.sources.rest import (
    RestClient,
    RestSourceError,
    retry_request,
)


class UpsertCommit(WriterCommitMessage):
    def __init__(self, n_posted: int, n_failed: int):
        self.n_posted = n_posted
        self.n_failed = n_failed


def safe_post(
    url: str,
    body: bytes,
    headers: dict | None = None,
    timeout_s: float = 30.0,
    max_retries: int = 5,
    backoff_initial_s: float = 1.0,
    backoff_multiplier: float = 2.0,
    sleep=time.sleep,
) -> bytes:
    """POST through the shared R3 loop (sources.rest.retry_request)."""
    return retry_request(
        "POST", url, None, body, headers, timeout_s, max_retries,
        backoff_initial_s, backoff_multiplier, sleep,
    )


class RestUpsertWriter(DataSourceWriter):
    def __init__(self, options: dict, schema: T.StructType):
        self.client = RestClient(options)
        self.endpoint = options.get("endpoint", "/upsert")
        self.key_col = options.get("key", "pulse_id")
        if self.key_col not in schema.names:
            raise RestSourceError(
                f"key column {self.key_col!r} not in schema {schema.names}"
            )
        self.batch_size = int(options.get("batch_size", 20))
        self.dead_letter_dir = options.get("dead_letter_dir", "")

    def _flush(self, buf: list[dict]) -> int:
        """POST one JSON-lines batch; returns failures (per-record capture,
        R8's swallow-and-log :182-183 surfaced as counts)."""
        if not buf:
            return 0
        body = "\n".join(json.dumps(d, sort_keys=True, default=str) for d in buf)
        # Deterministic Idempotency-Key per batch (content hash): the R3 loop
        # retries after transport errors/5xx that the server may already have
        # applied; a server that dedups on the key turns the sink's
        # at-least-once POSTs into effectively-once — every retry of THIS
        # batch carries the same key, different batches never collide.
        idem_key = hashlib.md5(body.encode()).hexdigest()
        try:
            self.client.request(
                self.endpoint,
                body=body.encode(),
                headers={
                    "Content-Type": "application/x-ndjson",
                    "Idempotency-Key": idem_key,
                },
            )
            return 0
        except RestSourceError as e:
            self._quarantine(buf, str(e))
            return len(buf)

    def _quarantine(self, buf: list[dict], err: str) -> None:
        """Reference per-record fault tolerance (etl_connector.py:182-191:
        log-and-continue) as a FRAME: failed records append to
        ``dead_letter_dir`` as JSON lines, each stamped with the error —
        readable back with spark.read.json for replay. Without the option
        the failure still surfaces in the commit counts (and commit()
        raises), so silent loss is impossible either way."""
        if not self.dead_letter_dir:
            return
        os.makedirs(self.dead_letter_dir, exist_ok=True)
        fn = os.path.join(self.dead_letter_dir, f"dead-{uuid.uuid4().hex}.jsonl")
        with open(fn, "w") as f:
            for d in buf:
                f.write(
                    json.dumps({**d, "__error": err}, sort_keys=True, default=str)
                    + "\n"
                )

    def write(self, iterator: Iterator) -> UpsertCommit:
        """Executor-side: buffer ``batch_size`` docs, flush as one POST
        (R9, :206,229-237 — vs the reference's one round-trip per doc)."""
        n_rows = n_failed = 0
        buf: list[dict] = []
        for row in iterator:
            n_rows += 1
            d = row.asDict(recursive=True)
            buf.append({"key": d.get(self.key_col), "doc": d})
            if len(buf) >= self.batch_size:
                n_failed += self._flush(buf)
                buf = []
                self.client.pause()
        n_failed += self._flush(buf)
        return UpsertCommit(n_rows - n_failed, n_failed)

    def commit(self, messages) -> None:
        total = sum(m.n_posted for m in messages if m)
        failed = sum(m.n_failed for m in messages if m)
        if failed and not self.dead_letter_dir:
            raise RestSourceError(
                f"rest_upsert: {failed} records failed across partitions "
                f"({total} posted)"
            )
        # with a dead-letter dir the failures are quarantined frames, so the
        # run continues — the reference's swallow-and-log (:182-191), minus
        # the silence

    def abort(self, messages) -> None:  # target converges on retry (idempotent)
        pass


class RestUpsertDataSource(DataSource):
    """``df.write.format("rest_upsert")`` — options: base_url (required),
    endpoint, key, api_key, user_agent, batch_size, timeout_s, max_retries,
    backoff_initial_s, backoff_multiplier, min_interval_s, skip_ping,
    dead_letter_dir (quarantine failed batches as JSONL and keep going)."""

    @classmethod
    def name(cls) -> str:
        return "rest_upsert"

    def writer(self, schema: T.StructType, overwrite: bool) -> RestUpsertWriter:
        writer = RestUpsertWriter(dict(self.options), schema)
        if self.options.get("skip_ping", "false").lower() != "true":
            # R10 pre-flight (etl_connector.py:212-217): abort before any
            # task launches if the sink is unreachable.
            try:
                writer.client.request("/ping", body=b"", max_retries=1)
            except RestSourceError as e:
                raise RestSourceError(f"sink pre-flight ping failed: {e}") from e
        return writer


def register_rest_sink(spark) -> None:
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.session import ship_package

    ship_package(spark)
    spark.dataSource.register(RestUpsertDataSource)
