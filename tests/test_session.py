"""Host-derived session defaults: tmpfs scratch only with room to
spill, and a driver heap sized from physical memory."""

from types import SimpleNamespace

import pytest
from pyspark.sql import SparkSession

from medcat_spark import session


@pytest.mark.parametrize("free, expected", [
    (64 << 20, "/tmp"),                          # a container's 64 MB shm
    (16 << 30, "/dev/shm/spark-local"),
])
def test_local_dir_uses_tmpfs_only_with_free_space(monkeypatch, free,
                                                   expected):
    monkeypatch.delenv("SPARK_LOCAL_DIR", raising=False)
    monkeypatch.setattr(session.os.path, "isdir", lambda p: True)
    monkeypatch.setattr(session.os, "access", lambda p, mode: True)
    monkeypatch.setattr(session.os, "statvfs", lambda p: SimpleNamespace(
        f_bavail=free // 4096, f_frsize=4096))
    assert session._default_local_dir() == expected
    monkeypatch.setenv("SPARK_LOCAL_DIR", "/scratch/spark")
    assert session._default_local_dir() == "/scratch/spark"


@pytest.mark.parametrize("phys, heap", [
    (16 << 30, "8192m"),                         # half of the host
    (256 << 30, "49152m"),                       # capped at 48g
])
def test_driver_memory_is_half_of_host_capped(monkeypatch, phys, heap):
    sysconf = {"SC_PHYS_PAGES": phys // 4096, "SC_PAGE_SIZE": 4096}
    monkeypatch.setattr(session.os, "sysconf", sysconf.__getitem__)
    # the conf get_spark hands to the builder, without starting a JVM
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: dict(self._options))
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert session.get_spark("conf")["spark.driver.memory"] == heap
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert session.get_spark("conf")["spark.driver.memory"] == "3g"


@pytest.mark.parametrize("heap, want", [
    ("32g", "8192m"),                            # capped at half the host
    ("2g", "2g"),                                # under the cap: as asked
])
def test_fixed_heap_is_capped_at_the_host_default(monkeypatch, heap, want):
    sysconf = {"SC_PHYS_PAGES": (16 << 30) // 4096, "SC_PAGE_SIZE": 4096}
    monkeypatch.setattr(session.os, "sysconf", sysconf.__getitem__)
    monkeypatch.setenv("ARROW_DEFAULT_MEMORY_POOL", session.os.environ.get(
        "ARROW_DEFAULT_MEMORY_POOL", "mimalloc"))
    assert session.fixed_heap_conf(heap) == {
        "spark.driver.memory": want,
        "spark.driver.extraJavaOptions": f"-Xms{want} -XX:+AlwaysPreTouch"}
