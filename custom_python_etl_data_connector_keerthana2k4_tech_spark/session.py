"""SparkSession factory (SURVEY §7 M0) and the per-application scope.

Replaces the reference's import-time side effects (etl_connector.py:23-50:
client/session construction at module import) with an explicit factory.

Configs are chosen for determinism (UTC timestamps so results hash-match a
DuckDB oracle) and for scale (AQE for runtime re-planning / skew joins,
shuffle partitions sized to cores locally — on a real cluster this would be
set to ~2-3x total executor cores or left to AQE coalescing).

The scope is everything that lives as long as one Spark application or one
driver process: ``app_once`` is the one build-once memo (the shipped
package, trained vector-search parameters, the shared read-only index
stores, persisted frames), and ``scratch_dir`` is the one source of scratch
directories, all under one per-process root that is removed at exit.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
import zipfile

from pyspark.sql import SparkSession

_DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")

_LOCK = threading.Lock()
_MEMO: dict = {}  # (applicationId, key) -> [per-key lock, value]
_UNBUILT = object()
_ROOT_PREFIX = "spark-graft-"
_root: str | None = None


def app_once(spark: SparkSession, key, build):
    """``build()``'s value, built once per (Spark application, ``key``).

    A lock per key makes concurrent callers (``run_jobs`` threads) wait for
    the one build instead of racing a duplicate; a build that raises leaves
    the key unbuilt. The first call from a new application drops every
    other application's entries: their session is gone, so their values
    are dead weight."""
    app = spark.sparkContext.applicationId
    with _LOCK:
        for k in [k for k in _MEMO if k[0] != app]:
            del _MEMO[k]
        slot = _MEMO.setdefault((app, key), [threading.Lock(), _UNBUILT])
    with slot[0]:
        if slot[1] is _UNBUILT:
            slot[1] = build()
        return slot[1]


def scratch_dir(tag: str) -> str:
    """A new directory named ``<tag>...`` under this process's scratch root
    ``<tmp>/spark-graft-<pid>@<host>``. The root is made on first use, so
    it follows ``TMPDIR`` as set then, and one exit handler removes it.
    Making it also removes sibling roots whose process is provably dead
    (a killed driver never ran its exit handler)."""
    global _root
    with _LOCK:
        if _root is None:
            _root = _make_root()
    return tempfile.mkdtemp(prefix=tag, dir=_root)


def _make_root() -> str:
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.genstore import (
        _holder_stale,
        _host,
    )

    tmp = tempfile.gettempdir()
    for name in os.listdir(tmp):
        if name.startswith(_ROOT_PREFIX) and _holder_stale(name[len(_ROOT_PREFIX):]):
            shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)
    root = os.path.join(tmp, f"{_ROOT_PREFIX}{os.getpid()}@{_host()}")
    os.makedirs(root, exist_ok=True)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on Spark's Python workers.

    Worker processes do NOT inherit the driver script's sys.path, so any
    pickled closure that references package modules (mapInPandas / UDF
    stages) would fail with ModuleNotFoundError when the driver runs from a
    different cwd. Shipping a zip via addPyFile fixes local and cluster
    mode alike — the standard 'ship your package to executors' pattern.
    Once per application; the zip lives in the scratch root.
    """

    def ship() -> None:
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        pkg_name = os.path.basename(pkg_dir)
        zip_path = os.path.join(scratch_dir(f"{pkg_name}_"), f"{pkg_name}.zip")
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(root, fn)
                    rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
        spark.sparkContext.addPyFile(zip_path)

    app_once(spark, "ship_package", ship)


def session_conf(master: str, shuffle_partitions: int | None = None) -> dict[str, str]:
    """The settings ``get_spark`` starts a session with on ``master``.

    On a ``local[...]`` master, Python workers run :mod:`worker_daemon` from
    the driver's own package copy and talk to the JVM over Unix sockets
    (no loopback-TCP delayed-ACK stall). Executors on other masters cannot
    see the driver's path, so they keep Spark's defaults."""
    conf = {
        "spark.master": master,
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or _DEFAULT_SHUFFLE_PARTITIONS),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    }
    if master != "local" and not master.startswith("local["):
        return conf
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # `python -m` puts the JVM's cwd first on the daemon's sys.path, so a
    # different copy of the package there would shadow this one.
    shadow = os.path.join(os.getcwd(), os.path.basename(pkg_dir))
    if not os.path.exists(shadow) or os.path.samefile(shadow, pkg_dir):
        conf["spark.python.daemon.module"] = f"{__package__}.worker_daemon"
        conf["spark.executorEnv.PYTHONPATH"] = os.path.dirname(pkg_dir)
    # Spark names a socket "<dir>/.<uuid4>.sock"; AF_UNIX paths end at 107 bytes.
    sock_dir = tempfile.gettempdir()
    if len(os.fsencode(sock_dir)) <= 64:
        conf["spark.python.unix.domain.socket.enabled"] = "true"
        conf["spark.python.unix.domain.socket.dir"] = sock_dir
    return conf


def get_spark(
    app_name: str = "custom_python_etl_data_connector_keerthana2k4_tech_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a cluster, ``master`` comes from spark-submit; locally defaults to
    ``local[$SPARK_GRAFT_CPUS]``.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    if master is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    builder = SparkSession.builder.appName(app_name)
    for key, value in session_conf(master, shuffle_partitions).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Stopping removes the context's Unix socket files; one still running
    # when the driver exits would leave them in the temp dir.
    atexit.register(spark.sparkContext.stop)
    return spark
