"""Session factory defaults that depend on the host."""

from __future__ import annotations

import os

import pytest


def test_driver_memory_default_fits_host(spark):
    """Without a SPARK_DRIVER_MEM override, the driver heap is sized from
    the host and never exceeds its physical memory."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        pytest.skip("SPARK_DRIVER_MEM overrides the default")
    got = spark.sparkContext.getConf().get("spark.driver.memory")
    to_bytes = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < to_bytes.byteStringAsBytes(got) <= phys
