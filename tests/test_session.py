"""Session sizing: the driver heap the default session asks for must fit the
host, or the JVM grows past physical memory and the OS kills it mid-run."""

from __future__ import annotations

import os

import pytest


def test_default_driver_heap_fits_host(spark):
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        pytest.skip("an explicit SPARK_GRAFT_DRIVER_MEM is the caller's choice")
    heap = spark.sparkContext.getConf().get("spark.driver.memory")
    assert heap.endswith("m"), heap
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert int(heap[:-1]) <= min(48 * 1024, phys_mb // 2)
