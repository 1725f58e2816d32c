"""Session defaults: host-sized cores, one driver heap size, and errors
that still carry their class with DataFrame call-site capture off."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException

from oblate_spark.session import default_cores, session_conf


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
    assert heap() == "12g"
    assert heap(small) == "1g"
    monkeypatch.setenv("OBLATE_SPARK_DRIVER_MEM", "3g")
    assert heap() == "3g"
    assert heap(small) == "1g"


def test_analysis_error_surfaces_without_call_site_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    df = spark.range(3).withColumnRenamed("id", "present")
    with pytest.raises(AnalysisException) as exc:
        df.select("missing_col").collect()
    assert exc.value.getCondition().startswith("UNRESOLVED_COLUMN"), exc.value.getCondition()
    assert "missing_col" in str(exc.value)
