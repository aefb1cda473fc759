"""Time a handful of declared queries with the bench methodology
(noop sink, min over N runs) without running the whole suite.

Usage: SPARK_GRAFT_BENCH_RUNS=5 python tools_r10/quick_time.py q401_pinned_pair_rrf [...]
Prints one JSON line {name: min_seconds}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans import registry
from custom_python_etl_data_connector_keerthana2k4_tech_spark.session import get_spark


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))
    spark = get_spark(app_name="quick-time")
    qs = registry.queries()
    # same warmup as bench.py
    _force(qs["q01_pricing_summary"](spark, sf_dir))
    import pandas as _pd  # noqa: F401

    _force(spark.range(32).mapInPandas(lambda it: it, schema="id long"))
    out = {}
    for name in names:
        best = float("inf")
        for _ in range(n_runs):
            spark.sparkContext.setJobDescription(f"qt:{name}")
            t0 = time.perf_counter()
            _force(qs[name](spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
