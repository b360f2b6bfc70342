"""Driver-heap default of get_spark: checked without starting a JVM."""

from __future__ import annotations

import os
from types import SimpleNamespace

from web_crawler_spark import session

_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _bytes(size: str) -> int:
    size = size.strip().lower()
    return int(size[:-1]) * _UNITS[size[-1]] if size[-1] in _UNITS else int(size)


class _Builder:
    """Records the configs get_spark sets, in place of SparkSession.builder."""

    def __init__(self):
        self.conf = {}

    def master(self, _):
        return self

    def appName(self, _):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))


def _requested_heap(monkeypatch) -> str:
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    session.get_spark(cores=1)
    return builder.conf["spark.driver.memory"]


def test_default_heap_fits_the_machine(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    heap = _bytes(_requested_heap(monkeypatch))
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert 0 < heap <= phys // 4
    assert heap <= 48 << 30
    assert _requested_heap(monkeypatch) == session.driver_memory()


def _fake_machine(monkeypatch, ram: int, cgroup_limit: int | None):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    pages = {"SC_PHYS_PAGES": ram // 4096, "SC_PAGE_SIZE": 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
    monkeypatch.setattr(session, "_cgroup_memory_limit", lambda: cgroup_limit)


def test_default_heap_rule(monkeypatch):
    _fake_machine(monkeypatch, 16 << 30, None)
    assert session.driver_memory() == "4096m"
    _fake_machine(monkeypatch, 16 << 30, 2 << 30)  # the lower cgroup limit wins
    assert session.driver_memory() == "512m"
    _fake_machine(monkeypatch, 16 << 30, 9223372036854771712)  # v1 "no limit"
    assert session.driver_memory() == "4096m"
    _fake_machine(monkeypatch, 4 << 40, None)  # a large driver node keeps 48g
    assert session.driver_memory() == "49152m"


def _cgroup_tree(tmp_path, proc_cgroup: str, files: dict[str, str]) -> str:
    (tmp_path / "proc/self").mkdir(parents=True)
    (tmp_path / "proc/self/cgroup").write_text(proc_cgroup)
    for rel, text in files.items():
        (tmp_path / "sys/fs/cgroup" / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / "sys/fs/cgroup" / rel).write_text(text + "\n")
    return str(tmp_path)


def test_cgroup_memory_limit_v1_and_v2(tmp_path):
    v1 = "4:memory:/jobs/a\n3:cpu,cpuacct:/jobs/a\n0::/\n"
    root = _cgroup_tree(
        tmp_path / "v1",
        v1,
        {"memory/jobs/a/memory.limit_in_bytes": str(3 << 30),
         "memory/memory.limit_in_bytes": "9223372036854771712"},
    )
    assert session._cgroup_memory_limit(root) == 3 << 30
    root = _cgroup_tree(tmp_path / "v2", "0::/jobs/b\n", {"jobs/b/memory.max": str(5 << 30)})
    assert session._cgroup_memory_limit(root) == 5 << 30
    root = _cgroup_tree(tmp_path / "v2max", "0::/jobs/c\n", {"jobs/c/memory.max": "max"})
    assert session._cgroup_memory_limit(root) is None
    root = _cgroup_tree(tmp_path / "nons", "0::/jobs/d\n", {"memory.max": str(6 << 30)})
    assert session._cgroup_memory_limit(root) == 6 << 30  # namespaced: path hidden
    assert session._cgroup_memory_limit(str(tmp_path / "absent")) is None


def test_env_override_wins_unchanged(monkeypatch):
    for value in ("7g", "123456m", "64g"):
        monkeypatch.setenv("SPARK_DRIVER_MEM", value)
        assert _requested_heap(monkeypatch) == value
