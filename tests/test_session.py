"""Session defaults that depend on the host."""

from types import SimpleNamespace

from konlspark import session
from konlspark.session import _default_driver_memory


def test_driver_memory_default_fits_the_host(tmp_path):
    def host(text):
        path = tmp_path / "meminfo"
        path.write_text(text)
        return _default_driver_memory(str(path))

    def total(kib):
        return f"MemTotal:       {kib} kB\nMemFree:        1024 kB\n"

    # half of MemTotal in whole GiB, between 1g and 24g
    assert host(total(16_089_912)) == "7g"  # a 15 GiB host
    assert host(total(128 << 20)) == "24g"
    assert host(total(1 << 20)) == "1g"
    assert host("MemFree: 1 kB\n") == "24g"
    assert _default_driver_memory(str(tmp_path / "missing")) == "24g"


class _Builder:
    """Records what ``get_spark`` asks of ``SparkSession.builder``."""

    def __init__(self):
        self.conf = {}

    def master(self, url):
        self.conf["master"] = url
        return self

    def appName(self, name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(
            sparkContext=SimpleNamespace(setLogLevel=lambda level: None))


def test_cores_default_fits_the_host(monkeypatch):
    """Without ``cores`` or SPARK_GRAFT_CPUS the session gets one task
    slot per CPU this process may run on; the small-input floors are
    set as constants."""
    def conf(**kwargs):
        builder = _Builder()
        monkeypatch.setattr(session, "SparkSession",
                            SimpleNamespace(builder=builder))
        session.get_spark(driver_memory="1g", **kwargs)
        return builder.conf

    monkeypatch.setattr(session.os, "sched_getaffinity",
                        lambda pid: {0, 1, 2})
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert conf()["master"] == "local[3]"
    assert conf(cores=5)["master"] == "local[5]"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    assert conf()["master"] == "local[2]"
    assert conf(cores=5)["master"] == "local[5]"
    floors = conf()
    assert floors["spark.sql.files.openCostInBytes"] == str(64 * 1024)
    assert floors["spark.sql.adaptive.coalescePartitions"
                  ".minPartitionSize"] == "256k"
    assert "spark.sql.files.minPartitionNum" not in floors
