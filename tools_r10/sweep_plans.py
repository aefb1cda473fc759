"""Full-surface plan sweep: NORMALIZED .explain('formatted') for every
declared query, plus a per-query operator census (round-9 VERDICT #6 —
the standing regression guard for accidental plan changes in the
mid-tier that per-query spot checks miss).

Usage:
    python tools_r10/sweep_plans.py snapshot   # write plans/r10/sweep/*.txt
                                               # + plans/r10/sweep_summary.json
    python tools_r10/sweep_plans.py diff       # re-dump to a temp dir and
                                               # diff against the snapshot

Normalization strips everything that legitimately varies run to run —
expression ids (#123), plan ids, subquery ids, temp directory paths,
createDataFrame RDD ids, AQE result-id counters, the session-wide
numbering of lambda variables — so a non-empty diff means the PLAN
changed (new Exchange, join strategy flip, lost PushedFilters), not that
a scratch directory got a new name or other queries were built first.

The summary counts, per query: Exchange, BroadcastExchange,
SortMergeJoin, ShuffledHashJoin, BroadcastHashJoin, BroadcastNestedLoop,
CartesianProduct, BatchEvalPython* (UDFs and UDTFs), ArrowEvalPython,
MapInArrow/Pandas, Window, Scan parquet. Diffs of these counts are the
headline regression signal (e.g. "q210: 2 Exchange -> 3");
tests/test_plans.py checks the committed summary in the default profile.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SWEEP_DIR = os.path.join(REPO, "plans", "r10", "sweep")
SUMMARY = os.path.join(REPO, "plans", "r10", "sweep_summary.json")

_NORM = [
    (re.compile(r"#\d+L?"), "#ID"),                      # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\[id=#?\d+\]"), "[id=N]"),
    (re.compile(r"subquery#?\d+"), "subqueryN"),
    (re.compile(r"Subquery subqueryN, \[id=N\]"), "Subquery subqueryN"),
    (re.compile(r"exprId=\d+"), "exprId=N"),
    (re.compile(r"/tmp/[^\s,\]\)]+"), "/tmp/PATH"),
    (re.compile(r"file:/[^\s,\]\)]+"), "file:/PATH"),
    (re.compile(r"MapPartitionsRDD\[\d+\]"), "MapPartitionsRDD[N]"),
    (re.compile(r"ExistingRDD\[\d+\]"), "ExistingRDD[N]"),
    (re.compile(r"Statistics\([^)]*\)"), "Statistics(N)"),
    (re.compile(r"result_id=\d+"), "result_id=N"),
    (re.compile(r"cachedrdd-\d+"), "cachedrdd-N"),
    (re.compile(r"InMemoryTableScan[^\n]*"), "InMemoryTableScan [NORM]"),
]

_OPS = [
    ("exchange", re.compile(r"^\s*[^(]*\bExchange\b")),
    ("broadcast_exchange", re.compile(r"\bBroadcastExchange\b")),
    ("sort_merge_join", re.compile(r"\bSortMergeJoin\b")),
    ("shuffled_hash_join", re.compile(r"\bShuffledHashJoin\b")),
    ("broadcast_hash_join", re.compile(r"\bBroadcastHashJoin\b")),
    ("broadcast_nested_loop", re.compile(r"\bBroadcastNestedLoopJoin\b")),
    ("cartesian", re.compile(r"\bCartesianProduct\b")),
    ("batch_eval_python", re.compile(r"\bBatchEvalPython\w*")),
    ("arrow_eval_python", re.compile(r"\bArrowEvalPython\b")),
    ("map_in_arrow_pandas", re.compile(r"\b(MapInArrow|MapInPandas|FlatMapGroupsInPandas|PythonMapInArrow)\b")),
    ("window", re.compile(r"\bWindow\b")),
    ("scan_parquet", re.compile(r"\bScan parquet\b")),
]


_LAMBDA_VAR = re.compile(r"\blambda ([A-Za-z]\w*?)_(\d+)\b")


def normalize(text: str) -> str:
    for rx, sub in _NORM:
        text = rx.sub(sub, text)
    # Spark numbers lambda variables per session (x_340 after 339 others),
    # so renumber them by first appearance in this plan.
    seen: dict[str, int] = {}
    return _LAMBDA_VAR.sub(
        lambda m: f"lambda {m[1]}_{seen.setdefault(m[0], len(seen) + 1)}", text
    )


def census(text: str) -> dict[str, int]:
    out = {}
    for key, rx in _OPS:
        n = sum(1 for line in text.splitlines() if rx.search(line))
        if n:
            out[key] = n
    return out


def dump_all(out_dir: str) -> dict[str, dict]:
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans import registry
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="plan-sweep")
    qs = registry.queries()
    os.makedirs(out_dir, exist_ok=True)
    summary: dict[str, dict] = {}
    for name in sorted(qs):
        spark.sparkContext.setJobDescription(f"sweep:{name}")
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        text = normalize(buf.getvalue())
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(text)
        summary[name] = census(text)
        print(name, "ok", flush=True)
    return summary


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "snapshot"
    if mode == "snapshot":
        summary = dump_all(SWEEP_DIR)
        with open(SUMMARY, "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
        print(f"snapshot: {len(summary)} plans -> {SWEEP_DIR}")
        return
    if mode != "diff":
        raise SystemExit(f"unknown mode {mode!r} (snapshot|diff)")
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.session import scratch_dir

    tmp = scratch_dir("plan_sweep_diff_")
    summary = dump_all(tmp)
    with open(SUMMARY) as f:
        old = json.load(f)
    drift = []
    for name in sorted(set(old) | set(summary)):
        if old.get(name) != summary.get(name):
            drift.append((name, old.get(name), summary.get(name)))
        else:
            snap = os.path.join(SWEEP_DIR, f"{name}.txt")
            cur = os.path.join(tmp, f"{name}.txt")
            if os.path.exists(snap) and os.path.exists(cur):
                with open(snap) as a, open(cur) as b:
                    if a.read() != b.read():
                        drift.append((name, "text-diff", "text-diff"))
    if not drift:
        print(f"OK: {len(summary)} plans match the committed snapshot")
        return
    for name, o, n in drift:
        print(f"DRIFT {name}: {o} -> {n}")
    raise SystemExit(1)


if __name__ == "__main__":
    main()
