"""Paginated authenticated REST source as a Spark Python Data Source
(SURVEY §2.1 R1-R5; §7 M3).

Reference behaviors reproduced (citations into /root/reference/etl_connector.py):

- R1 paginated scan: ``GET {base_url}/pulses/subscribed?limit&page`` yielding
  one record per item (:88-127) -> ``RestReader.read`` over page-range
  partitions.
- R2 authenticated session: ``X-OTX-API-KEY`` + ``User-Agent`` headers on
  every request (:49-50) -> ``RestClient.request``, which every reader and
  the sink (sources/rest_sink.py) call.
- R3 retry/backoff/rate-limit: exponential backoff x2, honors ``429
  Retry-After``, retries 5xx and transport errors, raises on other 4xx, max
  5 attempts (:53-85) -> ``retry_request``, one loop for GET and POST, runs
  *inside* the partition read and composes with Spark task retries.
- R4 response normalization: ``results`` -> ``pulses`` -> body; dict ->
  first list value; bail on non-list (:100-117) -> ``normalize_payload``.
- R5 pagination termination: empty page, short page, ``max_pages`` cap
  (:96,103-105,123-126) -> partition planning caps pages; each partition
  stops early at an empty/short page within its range.

Scale design: ``partitions()`` enumerates page ranges so a cluster reads
pages in parallel, but the default ``pages_per_partition`` is coarse and a
``min_interval_s`` per-request sleep provides politeness — N executors
hammering one API is the failure mode the reference's serial loop avoided
(SURVEY §7 hard part c). Rows come out as raw JSON strings (one per item):
at 100 TB you keep the open payload as a string column and project with
``from_json`` (SURVEY §7 hard part d), never full-inference per run.

The wire format is OTX-shaped but nothing here is OTX-specific: any
limit/page-paginated JSON API works (``endpoint`` option).
"""

from __future__ import annotations

import json
import sys
import time
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Iterator, Sequence

from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)


class RestSourceError(RuntimeError):
    """Terminal REST failure (non-retryable status or retries exhausted)."""


def retry_request(
    method: str,
    url: str,
    params: dict | None = None,
    body: bytes | None = None,
    headers: dict | None = None,
    timeout_s: float = 30.0,
    max_retries: int = 5,
    backoff_initial_s: float = 1.0,
    backoff_multiplier: float = 2.0,
    sleep=time.sleep,
) -> bytes:
    """The reference's retry state machine (etl_connector.py:53-85), the one
    loop behind every GET and POST of the REST source and sink.

    - transport errors: sleep backoff, retry (:59-63)
    - 200: return body (:65-66)
    - 429: honor ``Retry-After`` seconds if present, else backoff (:67-74)
    - 5xx: sleep backoff, retry (:75-80)
    - other 4xx: raise immediately (:83)
    - after ``max_retries`` attempts: raise (:85)

    Backoff multiplies by ``backoff_multiplier`` after every failed attempt.
    stdlib-only (urllib) so executors need no extra deps.
    """
    if params:
        url += "?" + urllib.parse.urlencode(params)
    backoff = backoff_initial_s
    last_err: Exception | None = None
    for _attempt in range(max_retries):
        req = urllib.request.Request(url, data=body, headers=headers or {}, method=method)
        try:
            with urllib.request.urlopen(req, timeout=timeout_s) as resp:
                return resp.read()
        except urllib.error.HTTPError as e:
            if e.code == 429:
                retry_after = e.headers.get("Retry-After")
                try:
                    wait = float(retry_after) if retry_after is not None else backoff
                except ValueError:
                    wait = backoff
                sleep(wait)
            elif 500 <= e.code < 600:
                sleep(backoff)
            else:
                raise RestSourceError(f"{method} {url} failed with HTTP {e.code}") from e
            last_err = e
        except urllib.error.URLError as e:
            sleep(backoff)
            last_err = e
        backoff *= backoff_multiplier
    raise RestSourceError(f"{method} {url} failed after {max_retries} attempts") from last_err


def safe_get(
    url: str,
    params: dict | None = None,
    headers: dict | None = None,
    timeout_s: float = 30.0,
    max_retries: int = 5,
    backoff_initial_s: float = 1.0,
    backoff_multiplier: float = 2.0,
    sleep=time.sleep,
) -> bytes:
    """GET through :func:`retry_request`."""
    return retry_request(
        "GET", url, params, None, headers, timeout_s, max_retries,
        backoff_initial_s, backoff_multiplier, sleep,
    )


class RestClient:
    """Connection settings, parsed once from the data source options
    (base_url, api_key, user_agent, timeout_s, max_retries,
    backoff_initial_s, backoff_multiplier, min_interval_s), and the one
    method every reader and the sink send requests through. Plain
    attributes only, so it pickles to executors inside a reader/writer."""

    def __init__(self, options: dict):
        self.base_url = options.get("base_url", "").rstrip("/")
        if not self.base_url:
            raise RestSourceError("base_url option is required")
        self.api_key = options.get("api_key", "")
        self.user_agent = options.get("user_agent", "spark-rest-connector/1.0")
        self.timeout_s = float(options.get("timeout_s", 30.0))
        self.max_retries = int(options.get("max_retries", 5))
        self.backoff_initial_s = float(options.get("backoff_initial_s", 1.0))
        self.backoff_multiplier = float(options.get("backoff_multiplier", 2.0))
        self.min_interval_s = float(options.get("min_interval_s", 0.0))

    def request(self, path: str, params: dict | None = None, body: bytes | None = None,
                headers: dict | None = None, max_retries: int | None = None) -> bytes:
        """GET ``base_url + path`` (POST when ``body`` is given) with the R2
        auth headers (etl_connector.py:49-50) through the R3 loop."""
        hdrs = {"User-Agent": self.user_agent, **(headers or {})}
        if self.api_key:
            hdrs["X-OTX-API-KEY"] = self.api_key
        return retry_request(
            "GET" if body is None else "POST", self.base_url + path, params, body,
            hdrs, self.timeout_s,
            self.max_retries if max_retries is None else max_retries,
            self.backoff_initial_s, self.backoff_multiplier,
        )

    def pause(self) -> None:
        """Politeness gap between consecutive requests (``min_interval_s``)."""
        if self.min_interval_s > 0:
            time.sleep(self.min_interval_s)


def normalize_payload(body: bytes | str | dict) -> list:
    """Coalesce the page payload shape (etl_connector.py:100-117).

    ``results`` -> ``pulses`` -> whole body; if still a dict, take its first
    list value; return [] for anything non-list (the reference logs and
    stops, :115-117).
    """
    data = json.loads(body) if isinstance(body, (bytes, str)) else body
    items = None
    if isinstance(data, dict):
        items = data.get("results") or data.get("pulses") or data
    else:
        items = data
    if isinstance(items, dict):
        items = next((v for v in items.values() if isinstance(v, list)), None)
    return items if isinstance(items, list) else []


class _PageRange(InputPartition):
    def __init__(self, start_page: int, end_page: int):
        self.start_page = start_page  # inclusive, 1-based
        self.end_page = end_page  # inclusive


#: Output schema: one row per fetched item; the open-content payload stays a
#: raw JSON string (project with from_json downstream — SURVEY §7 hard part d).
REST_SCHEMA = T.StructType(
    [
        T.StructField("page", T.IntegerType()),
        T.StructField("position", T.IntegerType()),
        T.StructField("item", T.StringType()),
    ]
)


class RestReader(DataSourceReader):
    _index = "page"  # the offset field that numbers a page of the chain

    def __init__(self, options: dict):
        self.client = RestClient(options)
        self.endpoint = options.get("endpoint", "/pulses/subscribed")
        self.per_page = int(options.get("per_page", 50))
        self.max_pages = int(options.get("max_pages", 100))
        self.pages_per_partition = int(options.get("pages_per_partition", 10))

    def partitions(self) -> Sequence[InputPartition]:
        """Page ranges (R5 planning): [1..max_pages] in coarse chunks."""
        step = max(1, self.pages_per_partition)
        return [
            _PageRange(start, min(start + step - 1, self.max_pages))
            for start in range(1, self.max_pages + 1, step)
        ]

    def _first(self) -> dict:
        return {"page": 1, "pos": 0}

    def _page(self, off: dict) -> tuple[list, dict | None]:
        """The items of the page ``off`` points at, and the next page's
        offset — None when this empty or short page ends the feed (R5,
        etl_connector.py:103-105,123-126)."""
        page = int(off["page"])
        body = self.client.request(
            self.endpoint, params={"limit": self.per_page, "page": page}
        )
        items = normalize_payload(body)
        full = len(items) >= self.per_page
        return items, ({"page": page + 1, "pos": 0} if full else None)

    def _walk(self, start: dict, n_pages: int, stop_at: dict | None = None):
        """Walk the page chain from offset ``start`` for at most ``n_pages``
        pages; return the ``(page, position, item)`` rows and the end offset.
        An offset ``{_index: i, "pos": k, ...}`` means the items before
        ``k`` of page ``i`` are emitted. The chain's tail keeps the offset
        ON its page at its current length, so items appended later are read
        next time without re-emitting; ``stop_at`` replays [start, stop_at)
        exactly."""
        off, rows = dict(start), []
        for _ in range(n_pages):
            items, nxt = self._page(off)
            i = int(off[self._index])
            last = stop_at is not None and i == int(stop_at[self._index])
            hi = min(len(items), int(stop_at["pos"])) if last else len(items)
            rows += [
                (i, p, json.dumps(items[p], sort_keys=True))
                for p in range(int(off["pos"]), hi)
            ]
            if last:
                return rows, dict(stop_at)
            if nxt is None:
                return rows, {**off, "pos": len(items)}
            off = nxt
            self.client.pause()
        return rows, off

    def read(self, partition: _PageRange) -> Iterator[tuple]:
        """Fetch this partition's page range. Runs on an executor."""
        start = {"page": partition.start_page, "pos": 0}
        rows, _ = self._walk(start, partition.end_page - partition.start_page + 1)
        return iter(rows)


class _CursorChain(InputPartition):
    """The whole cursor chain — one partition by protocol (below)."""

    def __init__(self):
        super().__init__(0)


class CursorRestReader(RestReader):
    """Cursor/next-token pagination (``pagination=cursor``): each response
    carries the opaque token for the NEXT page (``next_field`` option,
    default ``next``), so the chain is sequential BY PROTOCOL — no page
    number exists to range-partition on. The honest Spark shape is one
    walker per feed: ``partitions()`` returns a single partition (matching
    the reference's polite single-client loop, etl_connector.py:88-127),
    parallelism comes from unioning many feeds/endpoints, and everything
    downstream of the scan is distributed as usual. ``max_pages`` caps a
    runaway chain; termination is ``next`` falsy (cursor APIs signal the
    end explicitly, not via short pages).

    Output rows are ``(page, position, item)`` where ``page`` is the
    1-based index along the chain."""

    _index = "seq"

    def __init__(self, options: dict):
        super().__init__(options)
        self.next_field = options.get("next_field", "next")
        self.cursor_param = options.get("cursor_param", "cursor")
        self.start_cursor = options.get("start_cursor", "")

    def partitions(self) -> Sequence[InputPartition]:
        return [_CursorChain()]

    def _first(self) -> dict:
        return {"cursor": self.start_cursor, "seq": 1, "pos": 0}

    def _page(self, off: dict) -> tuple[list, dict | None]:
        params = {"limit": self.per_page}
        if off["cursor"]:
            params[self.cursor_param] = off["cursor"]
        data = json.loads(self.client.request(self.endpoint, params=params))
        nxt = data.get(self.next_field) if isinstance(data, dict) else None
        items = normalize_payload(data)
        if not (isinstance(nxt, str) and nxt):
            return items, None
        return items, {"cursor": nxt, "seq": int(off["seq"]) + 1, "pos": 0}

    def read(self, partition: _CursorChain) -> Iterator[tuple]:
        rows, _ = self._walk(self._first(), self.max_pages)
        return iter(rows)


class RestSimpleStreamReader(SimpleDataSourceStreamReader):
    """Continuous mode of R1-R5: poll the paginated endpoint as a
    Structured Streaming source (``spark.readStream.format("paginated_rest")``).

    Offset = ``{"page": p, "pos": k}``: everything before item ``k`` of page
    ``p`` has been emitted. Full pages advance the page cursor; a short page
    leaves the cursor ON that page at its current length, so items appended
    later are picked up by the next micro-batch without re-emitting earlier
    ones — exactly-once for append-only page feeds (the OTX "pulses since"
    shape), checkpoint-recoverable via ``readBetweenOffsets`` replay.

    The reader polls serially on the driver (SimpleDataSourceStreamReader's
    prefetch model), which is exactly the reference's polite single-client
    behavior (etl_connector.py:88-127) — appropriate for a rate-limited API,
    while the heavy transform/sink work downstream stays distributed.
    ``pages_per_batch`` bounds each micro-batch (R5's max_pages analog).
    """

    _reader = RestReader

    def __init__(self, options: dict):
        self._r = self._reader(options)  # option parsing + page chain walk
        self.pages_per_batch = int(options.get("pages_per_batch", 10))

    def initialOffset(self) -> dict:
        return self._r._first()

    def _poll(self, start: dict, stop_at: dict | None = None):
        return self._r._walk(start, self.pages_per_batch, stop_at)

    def read(self, start: dict):
        rows, end = self._poll(start)
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict):
        rows, _ = self._poll(start, stop_at=end)
        return iter(rows)


class CursorRestStreamReader(RestSimpleStreamReader):
    """Streaming mode of cursor pagination. Offset = ``{"cursor": c,
    "seq": s, "pos": k}``: the cursor that fetches chain page ``s``, of
    which the first ``k`` items are already emitted. A page with a next
    token advances the cursor; the chain tail (``next`` absent) keeps the
    offset ON that page at its current length, so items appended to the
    tail later are picked up without re-emitting — the same append-only
    exactly-once contract as RestSimpleStreamReader, with
    ``readBetweenOffsets`` replaying [start, end) for checkpoint
    recovery (valid while the feed keeps serving the stored tokens)."""

    _reader = CursorRestReader


class RestDataSource(DataSource):
    """``spark.read.format("paginated_rest")`` — see module docstring.

    Options: base_url (required), endpoint, api_key, user_agent, per_page,
    max_pages, pages_per_partition, timeout_s, max_retries,
    backoff_initial_s, backoff_multiplier, min_interval_s; streaming adds
    pages_per_batch (micro-batch page budget). ``pagination=cursor``
    switches both batch and streaming to next-token chains (options
    cursor_param, next_field, start_cursor).
    """

    @classmethod
    def name(cls) -> str:
        return "paginated_rest"

    def schema(self) -> T.StructType:
        return REST_SCHEMA

    def reader(self, schema: T.StructType) -> DataSourceReader:
        if self.options.get("pagination", "page") == "cursor":
            return CursorRestReader(self.options)
        return RestReader(self.options)

    def simpleStreamReader(self, schema: T.StructType) -> SimpleDataSourceStreamReader:
        if self.options.get("pagination", "page") == "cursor":
            return CursorRestStreamReader(self.options)
        return RestSimpleStreamReader(self.options)


def register_rest_source(spark: SparkSession) -> None:
    """Register the format once per application (ships the package to
    Python workers first).

    The module also pickles by value: the streaming source runner does not
    see ``ship_package``'s zip, and this module's top-level imports are
    stdlib and pyspark only, so its by-value pickle is self-contained."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.session import (
        app_once,
        ship_package,
    )

    def register() -> None:
        ship_package(spark)
        cloudpickle.register_pickle_by_value(sys.modules[__name__])
        spark.dataSource.register(RestDataSource)

    app_once(spark, "rest_source", register)


def project_raw(items: DataFrame, schema: T.StructType) -> DataFrame:
    """Project the source's raw JSON ``item`` column into a ``raw`` struct
    column — the input shape of pipeline.transform_pulses, for batch and
    streaming frames alike. Items that are not a JSON object (unparseable
    text, or a scalar/array such as ``"not-a-pulse"``, ``7`` or ``[1, 2]``)
    become NULL ``raw`` and then fail R7 validation, reproducing the
    reference's log-and-skip semantics. ``from_json`` alone would turn a
    non-object into a struct of NULLs that lands as a keyless row, so
    ``raw`` is gated on ``json_object_keys``, which is NULL for anything
    but an object."""
    return items.select(
        F.when(
            F.json_object_keys("item").isNotNull(), F.from_json("item", schema)
        ).alias("raw")
    )


def pulses_df(
    spark: SparkSession,
    base_url: str,
    schema: T.StructType,
    api_key: str = "",
    **options,
) -> DataFrame:
    """Read the REST source as a ``raw`` struct column (:func:`project_raw`)."""
    register_rest_source(spark)
    reader = spark.read.format("paginated_rest").options(
        base_url=base_url, api_key=api_key, **options
    )
    return project_raw(reader.load(), schema)
