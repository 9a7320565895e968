"""Shared Spark fixtures for the test suite.

One session-scoped local[4] SparkSession; tiny deterministic frames
mirroring the reference fixtures (FIXTURES.md F1-F5).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from traval_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # get_spark's 48g driver-memory default is sized for a large host; a
    # test JVM allowed that much heap outgrows a small machine's RAM and is
    # OOM-killed mid-suite (SPARK_DRIVER_MEM still overrides)
    s = get_spark(
        app_name="traval-spark-tests", master="local[4]", shuffle_partitions=4,
        extra_conf={
            "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "4g")},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def make_series_df(spark, values, start="2020-01-01", freq="D", sid="s1",
                   comments=None, ts=None):
    """Long-frame builder: values may contain np.nan (-> NULL row present)."""
    vals = np.asarray(values, dtype=float)
    idx = ts if ts is not None else pd.date_range(start, freq=freq,
                                                  periods=len(vals))
    data = {"series_id": sid, "ts": pd.DatetimeIndex(idx), "value": vals}
    if comments is not None:
        data["comment"] = comments
    return spark.createDataFrame(pd.DataFrame(data))


@pytest.fixture()
def daily10(spark):
    """The reference's canonical micro-series: 10 daily points, 0..9
    (tests/test_006_rulelib.py:10-12)."""
    return make_series_df(spark, np.arange(10))
