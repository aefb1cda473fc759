"""The per-application scope in ``session.py``: ``app_once`` builds each
key once per Spark application and forgets finished applications;
``scratch_dir`` hands out directories under one per-process root that is
removed at exit and sweeps the roots of dead drivers."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import textwrap
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

from custom_python_etl_data_connector_keerthana2k4_tech_spark import session
from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.genstore import _host
from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.extensions import materialize_once

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _app(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_concurrent_callers_share_one_build(monkeypatch):
    monkeypatch.setattr(session, "_MEMO", {})
    builds = []
    start = threading.Barrier(8, timeout=30)

    def build():
        builds.append(1)
        time.sleep(0.05)  # hold the key while the other callers arrive
        return object()

    def caller(_):
        start.wait()
        return session.app_once(_app("app-threads"), "k", build)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            got = list(pool.map(caller, range(8), timeout=60))
    finally:
        sys.setswitchinterval(interval)
    assert len(builds) == 1
    assert all(v is got[0] for v in got)


def test_new_application_drops_the_old_applications_entries(monkeypatch):
    monkeypatch.setattr(session, "_MEMO", {})
    first, second = _app("app-1"), _app("app-2")
    assert session.app_once(first, "x", lambda: 1) == 1
    assert session.app_once(first, "y", lambda: 2) == 2
    assert session.app_once(first, "x", lambda: 99) == 1  # built once
    assert session.app_once(second, "x", lambda: 3) == 3
    assert set(session._MEMO) == {("app-2", "x")}


def test_materialize_once_shares_one_frame_per_plan(spark, monkeypatch):
    monkeypatch.setattr(session, "_MEMO", {})
    a = spark.range(40).selectExpr("id % 7 AS k").groupBy("k").count()
    b = spark.range(40).selectExpr("id % 7 AS k").groupBy("k").count()
    assert a is not b
    try:
        first = materialize_once(a)
        assert materialize_once(b) is first
        persisted = [k for (_, k) in session._MEMO if k[0] == "persist"]
        assert len(persisted) == 1
        assert first.storageLevel.useMemory or first.storageLevel.useDisk
    finally:
        a.unpersist()


def test_first_scratch_dir_sweeps_only_provably_dead_roots(tmp_path, monkeypatch):
    exited = subprocess.Popen([sys.executable, "-c", "pass"])
    exited.wait()
    dead = tmp_path / f"spark-graft-{exited.pid}@{_host()}"
    live = tmp_path / f"spark-graft-{os.getppid()}@{_host()}"
    foreign = tmp_path / f"spark-graft-{exited.pid}@another-host"
    for d in (dead, live, foreign):
        (d / "store").mkdir(parents=True)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(session, "_root", None)

    made = session.scratch_dir("probe_")

    assert not dead.exists()
    assert live.exists() and foreign.exists()
    own = tmp_path / f"spark-graft-{os.getpid()}@{_host()}"
    assert os.path.dirname(made) == str(own)
    assert os.path.basename(made).startswith("probe_")


def test_driver_exit_removes_the_stores_it_made(tmp_path, sf_dir):
    driver = textwrap.dedent(f"""
        import os, sys
        sys.path.insert(0, {REPO!r})
        from custom_python_etl_data_connector_keerthana2k4_tech_spark import session
        from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans import registry
        spark = session.get_spark(master="local[2]", shuffle_partitions=4)
        registry.queries()["q402_reconcile_drift_audit"](spark, {sf_dir!r}).collect()
        print("SCRATCH", " ".join(sorted(os.listdir(session._root))))
    """)
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", driver], env=env, cwd=str(tmp_path),
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    made = out.stdout.split("SCRATCH", 1)[1].split()
    assert sum(n.startswith("q402_audit") for n in made) == 2  # the store pair
    left = [n for n in os.listdir(tmp_path) if n.startswith("spark-graft-")]
    assert left == []
    stores = [d for d, _, _ in os.walk(tmp_path) if os.path.basename(d).startswith("q402_audit")]
    assert stores == []
