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


class _StubClient:
    """A gateway client with no JVM: every view name is a class in its own
    package and every class attribute a method. It records what it sent."""

    def __init__(self, package):
        self.package = package
        self.gateway_property = SimpleNamespace(pool={})
        self.converters = []
        self.sent = []

    def send_command(self, command):
        from py4j import protocol

        self.sent.append(command)
        kind, name = command.split("\n")[1:3]
        if kind == "u":
            return protocol.SUCCESS_CLASS + f"{self.package}.{name}"
        return protocol.SUCCESS + protocol.METHOD_TYPE


def test_jvm_lookups_are_memoized_per_gateway(monkeypatch):
    from py4j.java_gateway import JavaClass, JavaMember, JVMView

    monkeypatch.setattr(session, "_jvm_lookups", {})
    wrapped = (JVMView.__getattr__, JavaClass.__getattr__)
    session._memoize_jvm_lookups()
    assert (JVMView.__getattr__, JavaClass.__getattr__) == wrapped, \
        "a second install must leave the wrappers as they are"
    for client in (_StubClient("a"), _StubClient("b")):
        view = JVMView(client, "jvm", id="rj")
        cls = view.functions
        assert isinstance(cls, JavaClass)
        assert cls._fqn == f"{client.package}.functions", \
            "a lookup was served another gateway's class"
        member = cls.col
        assert isinstance(member, JavaMember) and member.gateway_client is client
        # a new view object with the same id shares the client's entries
        assert JVMView(client, "jvm", id="rj").functions is cls
        assert cls.col is member
        assert len(client.sent) == 2, client.sent
        JVMView(client, "jvm", id="rj2").functions
        assert len(client.sent) == 3, "another view must look up afresh"


def test_package_lookups_still_reach_the_jvm(spark, monkeypatch):
    from py4j.java_gateway import JavaPackage

    jvm = spark.sparkContext._jvm
    for _ in range(2):
        found = []
        sent = _commands_sent(monkeypatch, lambda: found.append(jvm.java.lang))
        assert isinstance(found[0], JavaPackage)
        assert len([c for c in sent if c.startswith("r\n")]) == 2, \
            "a package lookup must not be memoized"


def test_warm_query_build_sends_no_reflection_command(spark, monkeypatch):
    """Every F.* call and PySpark helper resolves its JVM class and method
    through the memo, so once a query has been built, building it again
    looks nothing up: the perfbench workloads' queries at sf0.001."""
    import json

    from pyspark_ml_features_spark import registry
    from tests.conftest import SMOKE_SF_DIR

    spec = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                        "perfbench", "spec.json")
    with open(spec) as fh:
        workloads = json.load(fh)["workloads"]
    qs = registry.all_queries()
    names = [n for w in ("relational", "curation") for n in workloads[w]["queries"]]
    assert len(names) == 9

    def build_all():
        for name in names:
            qs[name].fn(spark, SMOKE_SF_DIR)

    build_all()
    sent = _commands_sent(monkeypatch, build_all)
    lookups = [c for c in sent if c.startswith("r\n")]
    assert sent and not lookups, f"{len(lookups)} of {len(sent)} commands: {lookups[:5]}"
