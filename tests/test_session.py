"""Session factory defaults."""

import os

from iceberg_geospatial_api_server_spark.session import default_driver_memory

GIB = 2**30


def test_default_driver_memory_is_half_of_ram_within_bounds():
    assert default_driver_memory(16 * GIB) == "8g"
    assert default_driver_memory(15.7 * GIB) == "7g"
    assert default_driver_memory(3 * GIB) == "1g"  # floor
    assert default_driver_memory(512 * 2**20) == "1g"
    assert default_driver_memory(256 * GIB) == "32g"  # ceiling


def test_default_driver_memory_reads_this_host():
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert default_driver_memory() == default_driver_memory(phys)


def test_session_uses_variable_or_host_default(spark):
    want = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want
