"""Session defaults: host-sized cores, one driver heap size, and errors
that still carry their class with DataFrame call-site capture off."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException

from oblate_spark.session import default_cores, default_heap, session_conf


def test_default_cores_env_then_affinity(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cores() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_cores() == len(os.sched_getaffinity(0))


def test_driver_memory_extra_conf_then_env_then_default(monkeypatch):
    """One heap size feeds both -Xmx (spark.driver.memory) and -Xms: a
    smaller heap passed through extra_conf must not leave -Xms at the
    env/default size (the JVM refuses to start). Checked on the conf
    dict, without starting a JVM."""

    def heap(extra=None):
        conf = session_conf(8, extra)
        xms = [o for o in conf["spark.driver.extraJavaOptions"].split() if o.startswith("-Xms")]
        assert xms == [f"-Xms{conf['spark.driver.memory']}"]
        return conf["spark.driver.memory"]

    small = {"spark.driver.memory": "1g"}
    monkeypatch.delenv("OBLATE_SPARK_DRIVER_MEM", raising=False)
    assert heap() == default_heap()
    assert heap(small) == "1g"
    monkeypatch.setenv("OBLATE_SPARK_DRIVER_MEM", "3g")
    assert heap() == "3g"
    assert heap(small) == "1g"


def test_default_heap_is_half_the_host_at_most_12g(monkeypatch):
    """Without an explicit heap the session takes half the physical
    memory, capped at 12g; checked on the conf dict."""

    def on_host(gib):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": (gib << 30) // 4096}
        monkeypatch.setattr(os, "sysconf", pages.__getitem__)
        return session_conf(8)["spark.driver.memory"]

    monkeypatch.delenv("OBLATE_SPARK_DRIVER_MEM", raising=False)
    assert on_host(15) == "7680m"
    assert on_host(24) == "12288m"
    assert on_host(256) == "12288m"


def test_analysis_error_surfaces_without_call_site_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    df = spark.range(3).withColumnRenamed("id", "present")
    with pytest.raises(AnalysisException) as exc:
        df.select("missing_col").collect()
    assert exc.value.getCondition().startswith("UNRESOLVED_COLUMN"), exc.value.getCondition()
    assert "missing_col" in str(exc.value)
