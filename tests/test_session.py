"""Session factory defaults."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest

from pyspark_ml_features_spark import session
from pyspark_ml_features_spark.session import default_driver_memory


def test_driver_memory_is_half_the_host_capped_at_16g(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    mib = int(default_driver_memory().removesuffix("m"))
    try:
        with open("/proc/meminfo") as fh:
            total_kib = next(int(ln.split()[1]) for ln in fh
                             if ln.startswith("MemTotal:"))
    except OSError:
        total_kib = 64 * 2 ** 20
    assert mib == min(16 * 1024, total_kib // 2048)


def test_explicit_driver_memory_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"


class _Builder:
    """Records what get_spark configures; starts no SparkContext."""

    def __init__(self):
        self.confs = {}

    def appName(self, name):
        return self

    def master(self, master):
        return self.config("spark.master", master)

    def config(self, key, value):
        self.confs[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(confs=self.confs,
                               sparkContext=SimpleNamespace(setLogLevel=lambda level: None))


def _built_confs(monkeypatch, master):
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=_Builder()))
    return session.get_spark(master=master).confs


@pytest.mark.parametrize("master", [None, "local", "local[2]", "local[*]"])
def test_local_masters_start_workers_from_the_engine_module(monkeypatch, master):
    confs = _built_confs(monkeypatch, master)
    assert confs["spark.python.worker.module"] == "pyspark_ml_features_spark.worker"
    root = confs["spark.executorEnv.PYTHONPATH"]
    assert os.path.isfile(os.path.join(root, "pyspark_ml_features_spark", "worker.py"))


@pytest.mark.parametrize("master", ["spark://host:7077", "yarn", "k8s://https://host:443",
                                    "local-cluster[2,1,1024]"])
def test_other_masters_keep_the_pyspark_worker(monkeypatch, master):
    confs = _built_confs(monkeypatch, master)
    assert confs["spark.master"] == master
    assert "spark.python.worker.module" not in confs
    assert "spark.executorEnv.PYTHONPATH" not in confs


def _commands_sent(monkeypatch, fn):
    """Every Py4J command string fn() sends to the JVM."""
    from py4j.clientserver import ClientServerConnection

    sent = []
    send = ClientServerConnection.send_command

    def record(self, command, *args, **kwargs):
        sent.append(command)
        return send(self, command, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", record)
        fn()
    return sent


def test_query_build_sends_no_call_site_traffic(spark, monkeypatch):
    from pyspark.errors import utils

    from pyspark_ml_features_spark import registry
    from tests.conftest import SMOKE_SF_DIR

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    d36 = registry.all_queries()["d36_tpch_q3_shipping_priority"]

    def build_origins():
        sent = _commands_sent(monkeypatch, lambda: d36.fn(spark, SMOKE_SF_DIR))
        return sum("PySparkCurrentOrigin" in c for c in sent), len(sent)

    # PySpark latches the setting per process on its first decorated call;
    # unlatch it so this build reads it from the session
    monkeypatch.setattr(utils, "_enable_debugging_cache", None)
    origins, total = build_origins()
    assert total > 0 and origins == 0, f"{origins} of {total} commands set call sites"
    # positive control: with debugging on, the same build sends them
    monkeypatch.setattr(utils, "_enable_debugging_cache", True)
    origins, _ = build_origins()
    assert origins > 0


def test_tune_session_sets_only_what_differs(spark, monkeypatch):
    session.tune_session(spark)
    sent = _commands_sent(monkeypatch, lambda: session.tune_session(spark))
    assert not [c for c in sent if "\nset\n" in c], "a tuned session was set again"
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        session.tune_session(spark)
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
