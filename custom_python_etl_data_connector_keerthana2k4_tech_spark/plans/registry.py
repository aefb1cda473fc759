"""Query registry backing the driver contract (__spark_entry__.py).

Every declared operator (SURVEY §2.3) registers here as
``name -> (spark_fn, oracle_sql | None)``. ``spark_fn(spark, sf_dir)``
returns a DataFrame; the oracle is equivalent ANSI SQL DuckDB runs over the
same parquet tables. Column names and double rounding are aligned on both
sides so the driver's order-insensitive value-hash matches (FIXTURES.md §3).

Queries without an oracle (approximate / ML-backed ops) register
``oracle=None`` and get the driver's weaker rows-only check; each of those is
covered by a pytest asserting its semantics against an exact method instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def query(
    name: str, oracle: "str | Callable[[], str] | None" = None
) -> Callable[[QueryFn], QueryFn]:
    """Register a declared query and (optionally) its DuckDB oracle SQL.

    ``oracle`` may be a LAZY zero-arg callable resolved at
    ``oracle_sql()`` time — for oracles that share another query's SQL
    or build from CTE helpers that aren't final until every plans module
    has registered (q401 and q403 reuse q391's full-replay SQL). Lazy oracles
    keep registration free of import-order coupling: no module needs to
    mutate the registry post-hoc or re-enter ``_ensure_loaded`` while
    its own import is still in flight."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    for name in list(_ORACLES):
        oracle_of(name)  # resolve lazy entries, cache the SQL text
    return dict(_ORACLES)


def oracle_of(name: str) -> str:
    """Resolve ONE registered oracle to SQL text. Lazy oracle callables
    that share another query's SQL should call this (not
    ``oracle_sql()``, which would re-enter their own resolution)."""
    _ensure_loaded()
    val = _ORACLES[name]
    if callable(val):
        _ORACLES[name] = val = val()
    return val


_LOADED = False


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.relational  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.llm_ops  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.extensions  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round2  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round3  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round4  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round5  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round6  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round7  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round8  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round9  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round10  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round11  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round12  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round13  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round14  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round15  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round16  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round17  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round18  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round19  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round20  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round21  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round22  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round23  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round24  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round25  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round26  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round27  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round28  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round29  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round30  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round31  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round32  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round33  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round34  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round35  # noqa: F401
    import custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round36  # noqa: F401

    _LOADED = True
