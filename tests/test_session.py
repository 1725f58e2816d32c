"""Session defaults: host-sized cores, and errors that still carry their
class with DataFrame call-site capture off."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException

from oblate_spark.session import default_cores


def test_default_cores_env_then_affinity(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cores() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_cores() == len(os.sched_getaffinity(0))


def test_analysis_error_surfaces_without_call_site_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    df = spark.range(3).withColumnRenamed("id", "present")
    with pytest.raises(AnalysisException) as exc:
        df.select("missing_col").collect()
    assert exc.value.getCondition().startswith("UNRESOLVED_COLUMN"), exc.value.getCondition()
    assert "missing_col" in str(exc.value)
