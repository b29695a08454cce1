"""get_spark's JVM posture survives caller overrides: the -Xms pin
follows the effective driver memory (or SPARK_GRAFT_XMS) and the
codegen class cache stays raised, whatever extra_conf adds.  Runs on a
recording builder, so no JVM starts."""

from types import SimpleNamespace

import pytest

from sparkall_spark import session


class _RecordingBuilder:
    def __init__(self):
        self.conf: dict[str, str] = {}

    def master(self, value):
        return self.config("spark.master", value)

    def appName(self, value):
        return self.config("spark.app.name", value)

    def config(self, key, value):
        self.conf[key] = value  # last write wins, as in SparkSession.Builder
        return self

    def getOrCreate(self):
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))


@pytest.fixture
def built(monkeypatch):
    for var in ("SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_XMS", "SPARK_GRAFT_LOCAL_DIR"):
        monkeypatch.delenv(var, raising=False)
    builder = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))

    def build(**kwargs):
        session.get_spark(master="local[2]", **kwargs)
        return builder.conf

    return build, monkeypatch


def _xms(conf):
    return [o for o in conf["spark.driver.extraJavaOptions"].split() if o.startswith("-Xms")]


@pytest.mark.parametrize("extra_conf, driver_mem", [
    (None, "16g"),
    ({"spark.sql.shuffle.partitions": "2"}, "16g"),
    ({"spark.driver.memory": "4g"}, "4g"),
    ({"spark.driver.memory": "4g", "spark.ui.enabled": "true"}, "4g"),
])
def test_xms_pin_and_codegen_cache_survive_extra_conf(built, extra_conf, driver_mem):
    build, _ = built
    conf = build(extra_conf=extra_conf)
    assert conf["spark.driver.memory"] == driver_mem
    assert _xms(conf) == [f"-Xms{driver_mem}"]
    assert conf["spark.sql.codegen.cache.maxEntries"] == "2000"


def test_env_driver_memory_sizes_the_pin_unless_extra_conf_overrides(built):
    build, monkeypatch = built
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "6g")
    assert _xms(build()) == ["-Xms6g"]
    assert _xms(build(extra_conf={"spark.driver.memory": "3g"})) == ["-Xms3g"]


@pytest.mark.parametrize("extra_conf", [None, {"spark.driver.memory": "4g"}])
def test_spark_graft_xms_overrides_the_pin(built, extra_conf):
    build, monkeypatch = built
    monkeypatch.setenv("SPARK_GRAFT_XMS", "2g")
    conf = build(extra_conf=extra_conf)
    assert _xms(conf) == ["-Xms2g"]
    assert conf["spark.sql.codegen.cache.maxEntries"] == "2000"
