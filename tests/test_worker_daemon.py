"""The engine's Python worker daemon (``worker_daemon.py``) and its wiring in
``session.session_conf``: zip directories are re-read only when the archive
changed, local sessions run their tasks on the daemon over Unix sockets,
and other masters keep Spark's defaults."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from custom_python_etl_data_connector_keerthana2k4_tech_spark import worker_daemon
from custom_python_etl_data_connector_keerthana2k4_tech_spark.session import session_conf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, value: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("wd_probe_mod.py", f"VALUE = {value!r}\n")


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the daemon patches CPython < 3.13 only")
def test_zip_rewritten_in_place_is_reread(tmp_path, monkeypatch):
    archive = tmp_path / "probe.zip"
    _write_zip(archive, "old")
    rereads = []

    def counted(self):
        if self.archive == str(archive):
            rereads.append(self.archive)
        real(self)

    real = worker_daemon._reread
    monkeypatch.setattr(worker_daemon, "_reread", counted)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches)
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, "wd_probe_mod", raising=False)

    assert importlib.import_module("wd_probe_mod").VALUE == "old"
    importlib.invalidate_caches()  # first call stamps the archive
    importlib.invalidate_caches()  # unchanged: no second read
    assert rereads == [str(archive)]

    inode = os.stat(archive).st_ino
    _write_zip(archive, "new content")  # same path, same inode, new directory
    assert os.stat(archive).st_ino == inode
    importlib.invalidate_caches()
    del sys.modules["wd_probe_mod"]
    assert importlib.import_module("wd_probe_mod").VALUE == "new content"
    assert rereads == [str(archive)] * 2


_SESSION_SCRIPT = textwrap.dedent(
    """
    import json, os, sys
    sys.path.insert(0, {repo!r})
    from pyspark import SparkContext
    from pyspark.sql import functions as F
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.session import get_spark

    def probe(_):
        import sys, zipimport
        code = getattr(zipimport.zipimporter.invalidate_caches, "__code__", None)
        return json.dumps([sys.version_info[:2], code and code.co_filename])

    spark = get_spark(app_name="worker-daemon-probe", master="local[1]", shuffle_partitions=1)
    row = spark.range(1).select(F.udf(probe)("id").alias("p")).first()
    live = [f for _, _, fs in os.walk(os.environ["TMPDIR"]) for f in fs if f.endswith(".sock")]
    print("RESULT " + json.dumps({{"probe": json.loads(row.p), "live": live}}), flush=True)
    if {stop}:
        gateway = SparkContext._gateway
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    """
)


@pytest.fixture(scope="module", params=["stop", "exit"])
def outside_session(request, tmp_path_factory):
    """A session started by a driver whose cwd is outside the repository,
    then stopped, or left running until the driver exits; returns what its
    Python UDF showed and the socket files live then and left after."""
    cwd = tmp_path_factory.mktemp("outside_cwd")
    tmp = cwd / "tmp"
    tmp.mkdir()
    env = dict(
        os.environ,
        TMPDIR=str(tmp),
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options '-Djava.io.tmpdir={tmp}' pyspark-shell",
    )
    script = _SESSION_SCRIPT.format(repo=REPO, stop=request.param == "stop")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    out = json.loads(lines[-1][len("RESULT "):])
    out["left"] = [str(p) for p in tmp.rglob("*.sock")]
    return out


def test_udf_from_outside_cwd_runs_on_the_engine_daemon(outside_session):
    version, filename = outside_session["probe"]
    if tuple(version) < (3, 13):
        assert filename == worker_daemon.__file__
    else:
        assert filename != worker_daemon.__file__


def test_driver_leaves_no_socket_file(outside_session):
    assert outside_session["live"], "the session used no Unix domain socket"
    assert outside_session["left"] == []


def test_non_local_masters_keep_sparks_worker_defaults():
    local = session_conf("local[2]")
    assert local["spark.python.daemon.module"] == worker_daemon.__name__
    assert local["spark.executorEnv.PYTHONPATH"] == REPO
    assert local["spark.python.unix.domain.socket.enabled"] == "true"
    for master in ("spark://head:7077", "yarn", "k8s://https://api:6443", "local-cluster[2,1,1024]"):
        conf = session_conf(master)
        assert conf["spark.master"] == master
        assert not any(k.startswith(("spark.python.", "spark.executorEnv.")) for k in conf)


def test_local_master_falls_back_where_the_daemon_cannot_start(tmp_path, monkeypatch):
    # another copy of the package in the cwd would shadow the driver's
    (tmp_path / worker_daemon.__name__.split(".")[0]).mkdir()
    monkeypatch.chdir(tmp_path)
    assert "spark.python.daemon.module" not in session_conf("local[2]")
    # a socket path under this temp dir would not fit AF_UNIX
    monkeypatch.setattr("tempfile.gettempdir", lambda: str(tmp_path / ("d" * 60)))
    assert "spark.python.unix.domain.socket.enabled" not in session_conf("local[2]")
