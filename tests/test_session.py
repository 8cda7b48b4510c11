"""Session defaults: sizing follows the host it runs on, and call-site
capture is off."""

from __future__ import annotations

import os

import pytest


def test_default_driver_heap_fits_host(spark):
    if os.environ.get("SPARK_DRIVER_MEM"):
        pytest.skip("heap set explicitly by SPARK_DRIVER_MEM")
    util = spark.sparkContext._jvm.org.apache.spark.network.util
    heap = util.JavaUtils.byteStringAsBytes(spark.conf.get("spark.driver.memory"))
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < heap <= host


def test_running_session_keeps_its_settings(spark):
    """A second ``get_spark`` (what an in-process job call makes) returns
    the running session without resetting its runtime settings to the
    builder's defaults; only ``extra_conf`` applies."""
    from acoustic_feature_extractor_spark.session import get_spark

    key, skew = "spark.sql.shuffle.partitions", "spark.sql.adaptive.skewJoin.enabled"
    prev = {k: spark.conf.get(k) for k in (key, skew)}
    try:
        # an odd count no builder default produces (those are even)
        spark.conf.set(key, "7")
        assert get_spark(cores=1) is spark
        assert spark.conf.get(key) == "7"
        get_spark(extra_conf={skew: "false"})
        assert spark.conf.get(skew) == "false" and spark.conf.get(key) == "7"
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_call_site_capture_off(spark):
    """The suite's session runs with PySpark's per-call Python call-site
    capture off: building a plan makes no ``PySparkCurrentOrigin``
    round trips."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
