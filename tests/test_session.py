"""Session sizing follows the host it runs on."""

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
