"""Tests of the benchmark's own code (no Spark needed):

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import threading
import urllib.error
import urllib.request

import otxgen
import pytest
import spans


def test_same_seed_same_pages_and_429_schedule():
    a = otxgen.make_feed(7, 3, 4)
    b = otxgen.make_feed(7, 3, 4)
    assert a.pages == b.pages
    assert a.throttled == b.throttled
    c = otxgen.make_feed(8, 3, 4)
    assert c.pages != a.pages


def test_feed_shape():
    feed = otxgen.make_feed(3, 2, 5)
    for pages in feed.pages:
        sizes = [len(json.loads(p)["results"]) for p in pages]
        assert sizes[:-1] == [otxgen.PER_PAGE] * (len(sizes) - 1)
        assert 0 < sizes[-1] < otxgen.PER_PAGE
    items = [it for batch in feed.records for it in batch]
    assert any(not isinstance(it, dict) for it in items)
    assert any(isinstance(it, dict) and "pulse_info" not in it and "id" in it for it in items)
    assert any(isinstance(it, dict) and "pulse_info" not in it and "id" not in it
               for it in items)


def test_fixed_shares_for_every_seed():
    def kinds(feed):
        items = [it for batch in feed.records for it in batch]
        return (sum(not isinstance(it, dict) for it in items),
                sum(isinstance(it, dict) and "id" not in it for it in items),
                sum(isinstance(it, dict) and "id" in it and "pulse_info" not in it
                    for it in items),
                len(feed.throttled))

    assert len({kinds(otxgen.make_feed(seed, 2, 12)) for seed in range(20)}) == 1


def test_expected_state_last_write_wins():
    def full(key, modified, name):
        return {"id": "top", "indicator_count": 1,
                "pulse_info": {"id": key, "name": name, "modified": modified}}

    feed = otxgen.Feed(pages=[[], []], throttled=frozenset(), records=[
        [full("k1", "2024-01-02", "new"), full("k1", "2024-01-01", "old"),
         full("k2", "2024-01-01", "a"), full("k2", "2024-01-01", "b"),
         {"id": "r1", "indicator_count": 3}, {"name": "orphan"}, 7],
        [full("k2", "2023-01-01", "later batch"), "x"],
    ])
    keyed, keyless = otxgen.expected_state(feed, 1)
    assert keyed == {"k1": ("new", "2024-01-02", 1, 0), "k2": ("b", "2024-01-01", 1, 0),
                     "r1": (None, None, 3, 0)}
    assert keyless == 1  # the orphan; the non-object item 7 is skipped
    keyed, keyless = otxgen.expected_state(feed)
    assert keyed["k2"] == ("later batch", "2023-01-01", 1, 1)
    assert keyless == 1
    # the engine's known deviation: non-object items land as keyless rows
    assert otxgen.expected_state(feed, deviation=True) == (keyed, 3)


def test_batch_counts_skip_non_objects():
    items = [{"id": "a"}, 7, {"name": "orphan"}, [1, 2]]
    assert otxgen.batch_counts(items) == {
        "records_seen": 4, "records_upserted": 2, "records_skipped_invalid": 2}
    assert otxgen.batch_counts(items, deviation=True) == {
        "records_seen": 4, "records_upserted": 4, "records_skipped_invalid": 0}


def _get(url: str) -> int:
    try:
        with urllib.request.urlopen(url, timeout=10) as resp:
            resp.read()
            return resp.status
    except urllib.error.HTTPError as e:
        return e.code


def test_fetches_per_page_counted_per_batch_and_page():
    feed = otxgen.make_feed(1, 2, 3)
    feed.throttled = frozenset({(1, 2, 0)})
    with otxgen.FeedServer(feed, workers=2) as server:
        url = server.base_url
        for b, page in [(0, 1), (0, 1), (0, 2), (1, 1), (1, 1), (1, 1)]:
            assert _get(f"{url(b)}/pulses/subscribed?limit=50&page={page}") == 200
        assert _get(f"{url(1)}/pulses/subscribed?limit=50&page=2") == 429
        assert _get(f"{url(1)}/pulses/subscribed?limit=50&page=2") == 200
        stats = server.reset()
        assert dict(stats.fetches) == {(0, 1): 2, (0, 2): 1, (1, 1): 3, (1, 2): 1}
        assert stats.requests == 8 and stats.retries == 1
        # a new window replays the 429 schedule
        assert _get(f"{url(1)}/pulses/subscribed?limit=50&page=2") == 429
        assert server.reset().retries == 1


def _span(sid, start, end, parent=None):
    return spans.Span(sid, f"s{sid}", "x", None, parent, start, end)


def test_self_time_nested():
    tree = [_span(1, 0.0, 10.0), _span(2, 1.0, 4.0, 1), _span(3, 2.0, 3.0, 2),
            _span(4, 5.0, 6.0, 1)]
    assert spans.self_times(tree) == pytest.approx({1: 6.0, 2: 2.0, 3: 1.0, 4: 1.0})


def test_self_time_overlapping_children_counted_once():
    # two run_jobs threads under one parent: [1, 5] and [3, 8] cover 7 s
    tree = [_span(1, 0.0, 10.0), _span(2, 1.0, 5.0, 1), _span(3, 3.0, 8.0, 1),
            _span(4, 9.5, 12.0, 1)]  # a child outliving its parent is clipped
    assert spans.self_times(tree)[1] == pytest.approx(10.0 - 7.0 - 0.5)


class _FakeContext:
    """Spark's thread-local job properties, without Spark."""

    def __init__(self):
        self.local = threading.local()

    def _props(self):
        if not hasattr(self.local, "props"):
            self.local.props = {}
        return self.local.props

    def getLocalProperty(self, key):
        return self._props().get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self._props().pop(key, None)
        else:
            self._props()[key] = value

    def setJobGroup(self, group, desc, interruptOnCancel=False):
        self._props().update({"spark.jobGroup.id": group, "spark.job.description": desc})


class _FakeCounter:
    def count(self, group):
        return {"jobs": 1, "group": group}


def test_tracer_parents_groups_and_pool_threads():
    sc = _FakeContext()
    tracer = spans.Tracer(sc, _FakeCounter())
    tracer.enabled = True
    tracer.op = "op#1"
    sc.setJobGroup("outer", "caller's group")

    def pool_thread(props):
        sc._props().update(props)  # what run_jobs' inheritable target copies
        with tracer.span("leg", "store.mutate"):
            pass

    with tracer.span("verb", "store.mutate") as verb:
        with tracer.span("inner", "genstore.cas"):
            pass
        workers = [threading.Thread(target=pool_thread, args=(dict(sc._props()),))
                   for _ in range(2)]
        for w in workers:
            w.start()
        for w in workers:
            w.join(timeout=10)
        assert not any(w.is_alive() for w in workers)
    assert sc.getLocalProperty("spark.jobGroup.id") == "outer"
    by_name = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s)
    assert by_name["inner"][0].parent == verb.sid
    assert [s.parent for s in by_name["leg"]] == [verb.sid, verb.sid]
    groups = {s.counts["group"] for s in tracer.spans}
    assert len(groups) == len(tracer.spans)  # one job group per span
    assert {s.op for s in tracer.spans} == {"op#1"}


def test_disabled_wrapper_passes_through():
    tracer = spans.Tracer()
    wrapped = tracer.wrap(lambda x: x + 1, "upsert", "f")
    assert wrapped(1) == 2 and tracer.spans == []
    tracer.enabled = True
    assert wrapped(2) == 3 and [s.layer for s in tracer.spans] == ["upsert"]
    assert tracer.wrap(wrapped, "upsert", "f") is wrapped


def test_benchmark_json_matches_the_harness():
    import run

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_typical_drops_the_slowest_quarter():
    import run

    assert run.typical([5.0]) == 5.0
    assert run.typical([3.0, 1.0]) == 1.0
    assert run.typical([2.0, 9.0, 1.0]) == 1.5
    assert run.typical([4.0, 1.0, 2.0, 3.0, 50.0]) == 2.0
