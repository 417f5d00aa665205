"""Session construction: the driver's initial-heap pin."""

from __future__ import annotations

import os

from low_latency_time_series_database_tsdb_for_market_data_spark.session import (
    initial_heap_option,
)


def test_initial_heap_capped_at_driver_memory():
    # an -Xms above the driver memory (-Xmx) stops the JVM at start
    assert initial_heap_option("4g") == "-Xms4g"
    assert initial_heap_option("24g") == "-Xms8g"
    assert initial_heap_option("2048") == "-Xms2048m"  # bare number = MiB


def test_session_uses_capped_initial_heap(spark):
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
    opts = spark.sparkContext.getConf().get("spark.driver.extraJavaOptions")
    assert [o for o in opts.split() if o.startswith("-Xms")] == [
        initial_heap_option(mem)
    ]
