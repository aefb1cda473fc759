"""The benchmark's workloads: which ops each runs and how each op's output
is checked.

An op is one registry query (construct + plan + execute, the result
collected to the driver) or one ingest batch (REST scan -> ``run_batch``).
The seed only permutes the order of the registry ops, so the engine always
receives the same inputs.
"""

from __future__ import annotations

import datetime as dt
import importlib.util
import os


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.path.join(ROOT, "perfbench", "data", "sf0.01")


# The query_mix ops, one per engine cost profile:
# q16 (approximate distinct: execution-bound relational),
# q37 (Arrow Python UDF: the Python boundary),
# q117 (triangle count: three hash joins on co-purchase edges, shuffle-bound),
# q402 (postings + IVF-PQ store lifecycle with a drift audit: construction and
#   the index stores).
# An iterative fit such as q136 (k-means) would add a fifth profile, but its
# ~12 s per run (cold pass plus three timed passes) does not fit the time
# all of the benchmark's runs share; q402's own fits are cached per session.
QUERY_MIX = (16, 37, 117, 402)

# Oracle-less ops are checked against their row count on the bundled data.
ROW_COUNTS = {"q16_distinct_approx": 3}

# Seconds budgeted per pass of each workload on a 4-core host; the window
# runs as many whole passes as fit in --seconds. Passes take 4-5.5 s
# (etl_ingest) and 6-9 s (query_mix) there, the longer ones right after the
# warm pass, while the JVM's JIT still compiles the hot paths.
NOMINAL_PASS_S = {"etl_ingest": 5.5, "query_mix": 7.0}

# etl_ingest: batches per pass and pages (of 50 records) per batch.
ETL_BATCHES = 2
ETL_PAGES = 12
ETL_RUN_TS = dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc)


def registry_ops(names: list[str]) -> list[str]:
    """Registry names of the query_mix ops."""
    by_number = {int(n[1:].split("_", 1)[0]): n for n in names}
    return [by_number[q] for q in QUERY_MIX]


def load_oracle_helpers():
    """The test suite's DuckDB runner and result canonicalization
    (``tests/test_oracle.py``), so the benchmark checks outputs exactly as
    the oracle tests do."""
    path = os.path.join(ROOT, "tests", "test_oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class RegistryChecker:
    """Expected output per op: the DuckDB oracle result, or a row count."""

    def __init__(self, names: list[str]):
        import duckdb

        from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans import registry

        self._oracle = load_oracle_helpers()
        self.expected = {}
        con = duckdb.connect()
        try:
            # Only the tables the ops read are bundled; DuckDB binds a view
            # to its file when the view is created.
            for f in sorted(os.listdir(SF_DIR)):
                t = f.removesuffix(".parquet")
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{f}'")
            for name in names:
                if name in ROW_COUNTS:
                    self.expected[name] = ROW_COUNTS[name]
                else:
                    sql = registry.oracle_of(name)
                    self.expected[name] = self._oracle._oracle_df(con, SF_DIR, sql)
        finally:
            con.close()

    def check(self, name: str, pdf) -> str | None:
        """None if ``pdf`` is right, else what is wrong."""
        want = self.expected[name]
        if isinstance(want, int):
            return None if len(pdf) == want else f"{name}: {len(pdf)} rows, want {want}"
        try:
            self._oracle._assert_match(name, pdf, want)
        except AssertionError as e:
            return str(e).splitlines()[0]
        return None


def registry_op(spark, fn, tracer, name: str):
    """Run one registry query: construct, plan, execute (collect to the
    driver). Returns (result pandas frame, the DataFrame)."""
    with tracer.span(name, "construct"):
        df = fn(spark, SF_DIR)
    with tracer.span(name, "plan"):
        df._jdf.queryExecution().executedPlan()
    with tracer.span(name, "execute"):
        pdf = df.toPandas()
    return pdf, df


def ingest_op(spark, server, batch: int, target: str, tracer) -> dict:
    """Ingest one batch from the stub into ``target``; returns the
    ``run_batch`` counters."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.config import PipelineConfig
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.otx_fixture import RAW_PULSE_SCHEMA
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.pipeline import run_batch
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.sources.rest import pulses_df

    cfg = PipelineConfig(api_key="perfbench", base_url=server.base_url(batch))
    with tracer.span(f"batch{batch}", "construct"):
        raw = pulses_df(
            spark, server.base_url(batch), RAW_PULSE_SCHEMA, api_key=cfg.api_key,
            per_page=50, max_pages=ETL_PAGES, backoff_initial_s=0.0,
        )
    with tracer.span(f"batch{batch}", "execute"):
        return run_batch(spark, raw, cfg, target,
                         run_ts=ETL_RUN_TS + dt.timedelta(hours=batch))


def check_target(spark, target: str, expected: tuple[dict, int]) -> str | None:
    """Compare an ingest target with the generator's last-write-wins state."""
    keyed, keyless = expected
    rows = (
        spark.read.parquet(target)
        .selectExpr("pulse_id", "pulse_name", "pulse_modified", "indicator_count",
                    "CAST(ingestion_timestamp AS LONG) AS ts")
        .collect()
    )
    got_keyless = sum(r.pulse_id is None for r in rows)
    if got_keyless != keyless:
        return f"target: {got_keyless} keyless rows, want {keyless}"
    got = {}
    for r in rows:
        if r.pulse_id is None:
            continue
        if r.pulse_id in got:
            return f"target: duplicate key {r.pulse_id}"
        batch = (r.ts - int(ETL_RUN_TS.timestamp())) // 3600
        got[r.pulse_id] = (r.pulse_name, r.pulse_modified, r.indicator_count, batch)
    if got != keyed:
        diff = list(set(got.items()) ^ set(keyed.items()))[:3]
        return f"target: {len(got)} keyed rows vs {len(keyed)} expected; e.g. {diff}"
    return None
