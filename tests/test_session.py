"""The session factory's defaults fit the machine it runs on."""

from __future__ import annotations

import os


def test_driver_heap_fits_physical_memory(spark):
    """The driver heap — configured and actual — is no more than the
    machine's physical memory (the default is half of it;
    EEL_DRIVER_MEM overrides)."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    jvm = spark.sparkContext._jvm
    conf = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.driver.memory"))
    assert conf <= phys
    assert jvm.java.lang.Runtime.getRuntime().maxMemory() <= phys
