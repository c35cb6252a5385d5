"""Local-session defaults fit the host: with the sizing env vars unset,
``get_spark`` asks for the cores this process may run on and a driver heap
inside the physical RAM. Checked on a recording builder, so no JVM starts."""

from __future__ import annotations

import os

from consumer_loans_analysis_spark import session


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder`` and for the session it
    returns; records the master URL and the configs."""

    def __init__(self):
        self.master_url = None
        self.conf = {}
        self.sparkContext = self

    def setLogLevel(self, level):
        pass

    def appName(self, name):
        return self

    def master(self, url):
        self.master_url = url
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self


def _build(monkeypatch, **env):
    for key in ("SPARK_MASTER", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"):
        monkeypatch.delenv(key, raising=False)
    for key, value in env.items():
        monkeypatch.setenv(key, value)
    builder = _RecordingBuilder()
    monkeypatch.setattr(session.SparkSession, "builder", builder)
    session.get_spark()
    return builder


def _mb(heap: str) -> int:
    units = {"m": 1, "g": 1 << 10}
    return int(heap[:-1]) * units[heap[-1]]


def test_local_defaults_fit_the_host(monkeypatch):
    b = _build(monkeypatch)
    assert b.master_url == f"local[{len(os.sched_getaffinity(0))}]"
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    heap_mb = _mb(b.conf["spark.driver.memory"])
    assert heap_mb == min(16 << 10, ram_mb // 2)
    assert 0 < heap_mb < ram_mb


def test_local_sizing_env_overrides_defaults(monkeypatch):
    b = _build(monkeypatch, SPARK_GRAFT_CPUS="3", SPARK_GRAFT_DRIVER_MEM="2g")
    assert b.master_url == "local[3]"
    assert b.conf["spark.driver.memory"] == "2g"


def test_dataframe_debugging_off_by_default(monkeypatch):
    """Per-call origin capture is off: it costs about 10 py4j round-trips
    per PySpark API call. ``extra_configs`` can still turn it back on."""
    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert _build(monkeypatch).conf[key] == "false"
    builder = _RecordingBuilder()
    monkeypatch.setattr(session.SparkSession, "builder", builder)
    session.get_spark(extra_configs={key: "true"})
    assert builder.conf[key] == "true"


def test_top_k_falls_back_to_a_sort_for_large_k(monkeypatch):
    """``orderBy(...).limit(k)`` keeps its top-k plan only up to a bounded
    k; beyond it a spilling sort runs instead of a 2k-slot buffer."""
    conf = _build(monkeypatch).conf
    assert int(conf["spark.sql.execution.topKSortFallbackThreshold"]) <= 100_000


def test_codegen_cache_holds_the_loans_working_set(monkeypatch):
    """The generated-code cache is sized well above one loans pass's 112
    entries; Spark's default of 100 evicts them every pass."""
    entries = int(_build(monkeypatch).conf["spark.sql.codegen.cache.maxEntries"])
    assert entries >= 4 * 112
