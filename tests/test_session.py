"""Session factory defaults."""

from __future__ import annotations

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
