"""get_spark's configuration, checked on a recording builder so no
second SparkSession starts."""

from __future__ import annotations

from types import SimpleNamespace

from hash_db_spark import session


class _RecordingBuilder:
    def __init__(self):
        self.conf: dict[str, str] = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def test_explicit_driver_memory_skips_the_default(monkeypatch):
    """SPARK_DRIVER_MEMORY wins without computing the default, so a
    non-numeric SPARK_GRAFT_CPUS (local[*]) no longer raises."""

    def no_default(cpus):
        raise AssertionError("default driver memory computed")

    monkeypatch.setattr(
        session, "SparkSession", SimpleNamespace(builder=_RecordingBuilder())
    )
    monkeypatch.setattr(session, "_default_driver_memory", no_default)
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "*")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    conf = session.get_spark(shuffle_partitions=8)
    assert conf["master"] == "local[*]"
    assert conf["spark.driver.memory"] == "3g"


def test_live_session_uses_one_mib_pages(spark):
    """Every hash aggregate, hash-join build and broadcast relation
    allocates at least one Tungsten page; the session sizes that page at
    1 MiB, not from the heap."""
    memory = spark.sparkContext._jsc.sc().env().memoryManager()
    assert memory.pageSizeBytes() == 1 << 20


def test_extra_conf_overrides_the_page_size(monkeypatch):
    monkeypatch.setattr(
        session, "SparkSession", SimpleNamespace(builder=_RecordingBuilder())
    )
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert session.get_spark()["spark.buffer.pageSize"] == "1m"
    monkeypatch.setattr(
        session, "SparkSession", SimpleNamespace(builder=_RecordingBuilder())
    )
    conf = session.get_spark(extra_conf={"spark.buffer.pageSize": "4m"})
    assert conf["spark.buffer.pageSize"] == "4m"
