"""The default driver heap must fit the host it starts on (Spark-free)."""

from __future__ import annotations

import os

from bento_spark.session import default_driver_mem


def _gib(mem: str) -> int:
    assert mem.endswith("g"), mem
    return int(mem[:-1])


def test_default_heap_fits_this_host():
    with open("/proc/meminfo") as f:
        total_kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    heap = _gib(default_driver_mem())
    assert 1 <= heap <= 24
    # -Xms = -Xmx: the whole heap is committed up front, so it must leave
    # the other half of the host for the Python workers and the OS
    assert heap * 1024 * 1024 <= max(total_kib // 2, 1024 * 1024)


def test_default_heap_scales_with_meminfo(tmp_path):
    def heap_for(total_kib: int) -> str:
        p = tmp_path / "meminfo"
        p.write_text(f"MemTotal:       {total_kib} kB\nMemFree:        1 kB\n")
        return default_driver_mem(str(p))

    gib = 1024 * 1024
    assert heap_for(15 * gib) == "7g"
    assert heap_for(256 * gib) == "24g"
    assert heap_for(gib) == "1g"
    assert default_driver_mem(str(tmp_path / "absent")) == "24g"


def test_env_override_wins(monkeypatch):
    import bento_spark.session as session

    captured = {}

    class _Builder:
        def appName(self, _):  # noqa: N802 — mirrors the pyspark builder
            return self

        def master(self, _):
            return self

        def config(self, k, v):
            captured[k] = v
            return self

        def getOrCreate(self):  # noqa: N802
            return None

    monkeypatch.setattr(session.SparkSession, "builder", _Builder())
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    session.get_spark(master="local[1]")
    assert captured["spark.driver.memory"] == "2g"
    assert "-Xms2g" in captured["spark.driver.extraJavaOptions"]
    session.get_spark(master="local[1]", extra_conf={"spark.driver.memory": "3g"})
    assert captured["spark.driver.memory"] == "3g"
    assert os.environ["SPARK_GRAFT_DRIVER_MEM"] == "2g"
