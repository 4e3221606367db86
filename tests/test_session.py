"""``session.get_spark``'s defaults, read off the builder it configures
(no JVM starts: the builder is replaced by a recorder)."""

import os

import pytest

from powerpoint_context_extractor_spark import session


class _Recorder:
    def __init__(self):
        self.conf = {}
        self.sparkContext = self

    def master(self, master):
        self.conf["master"] = master
        return self

    def appName(self, _name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self

    def setLogLevel(self, _level):
        pass


def _conf(monkeypatch, **kwargs) -> dict:
    rec = _Recorder()
    monkeypatch.setattr(session.SparkSession, "builder", rec)
    session.get_spark(driver_memory="1g", **kwargs)
    return rec.conf


@pytest.mark.parametrize("master, slots", [
    ("local[4]", 4),
    ("local[4,2]", 4),                    # N slots, F task failures
    ("local[*]", len(os.sched_getaffinity(0))),
    ("local[*,3]", len(os.sched_getaffinity(0))),
    ("spark://host:7077", 32),
])
def test_default_shuffle_partitions_are_the_masters_task_slots(
        monkeypatch, master, slots):
    conf = _conf(monkeypatch, master=master)
    assert conf["spark.sql.shuffle.partitions"] == str(slots)
    conf = _conf(monkeypatch, master=master, shuffle_partitions=3)
    assert conf["spark.sql.shuffle.partitions"] == "3"


def test_arrow_batch_bounds_are_the_module_constants(monkeypatch):
    conf = _conf(monkeypatch, master="local[2]")
    assert conf["spark.sql.execution.arrow.maxRecordsPerBatch"] == str(
        session.DEFAULT_ARROW_BATCH)
    assert conf["spark.sql.execution.arrow.maxBytesPerBatch"] == (
        session.DEFAULT_ARROW_BYTES)


def test_python_workers_fork_from_the_package_daemon(monkeypatch):
    conf = _conf(monkeypatch, master="local[2]")
    assert conf["spark.python.daemon.module"] == (
        "powerpoint_context_extractor_spark.daemon")
    # a caller's extra_conf overrides it, as it does any conf
    conf = _conf(monkeypatch, master="local[2]", extra_conf={
        "spark.python.daemon.module": "pyspark.daemon"})
    assert conf["spark.python.daemon.module"] == "pyspark.daemon"
