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


# The young generation's start in MiB: YOUNG_PER_SLOT (96 MiB) per task
# slot, by master ...
_YOUNG_BY_SLOTS = {
    "local[4]": 384,
    "local[8,2]": 768,
    "local[*]": 96 * len(os.sched_getaffinity(0)),
    "local[64]": 6144,
    "spark://host:7077": 3072,            # 32 slots
}
# ... and its bound, a third of the heap, by heap string
_THIRD_OF_HEAP = {"2g": 682, "8gb": 2730, "8192m": 2730, "48G": 16384,
                  "1g": 341}


@pytest.mark.parametrize("master", sorted(_YOUNG_BY_SLOTS))
@pytest.mark.parametrize("heap", sorted(_THIRD_OF_HEAP))
def test_young_generation_is_sized_by_task_slots(monkeypatch, master, heap):
    most = min(_THIRD_OF_HEAP[heap], 4096)          # YOUNG_CAP
    young = min(_YOUNG_BY_SLOTS[master], most)
    assert session._gc_opts(heap, master) == (
        f"-XX:+UseParallelGC -XX:NewSize={young}m -XX:MaxNewSize={most}m")
    rec = _Recorder()
    monkeypatch.setattr(session.SparkSession, "builder", rec)
    session.get_spark(master=master, driver_memory=heap)
    assert rec.conf["spark.driver.extraJavaOptions"] == (
        session._gc_opts(heap, master))


def test_young_generation_of_the_live_session(spark):
    """The test session (8g heap, local[4]) runs ParallelGC with a young
    generation that starts at 384 MiB and may grow to a third of the
    heap. The JVM's memory pools agree: eden plus the one survivor pool
    (the to-space is no pool) is at most that third, and at least two
    thirds of the start (ParallelGC's survivor spaces are at most a
    third of the young generation, MinSurvivorRatio=3, and it does not
    shrink below the start)."""
    jvm = spark.sparkContext._jvm
    mgmt = jvm.java.lang.management.ManagementFactory
    young, most = 384 << 20, 2730 << 20
    hotspot = mgmt.getPlatformMXBean(jvm.java.lang.Class.forName(
        "com.sun.management.HotSpotDiagnosticMXBean"))
    assert int(hotspot.getVMOption("NewSize").getValue()) == young
    assert int(hotspot.getVMOption("MaxNewSize").getValue()) == most
    pools = {p.getName(): p.getUsage() for p in mgmt.getMemoryPoolMXBeans()}
    eden, survivor = pools["PS Eden Space"], pools["PS Survivor Space"]
    assert eden.getMax() + survivor.getMax() <= most
    assert 2 * young // 3 <= (
        eden.getCommitted() + survivor.getCommitted()) <= most
