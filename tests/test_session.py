"""Engine session settings that must reach the JVM, not just the conf."""

from __future__ import annotations

import os

import pytest

from pdf_etl_engine_spark import session


def _field(obj, name):
    cls = obj.getClass()
    while cls is not None:
        try:
            f = cls.getDeclaredField(name)
        except Exception:  # noqa: BLE001 — py4j wraps NoSuchFieldException
            cls = cls.getSuperclass()
            continue
        f.setAccessible(True)
        return f.get(obj)
    raise AttributeError(name)


def test_codegen_cache_size_reaches_the_jvm(spark):
    """``spark.sql.codegen.cache.maxEntries`` is static: it only counts
    if the JVM's codegen cache was built with it. Spark's default (100
    entries in 4 LRU segments) overflows on a few dozen plans and the
    process then recompiles on every pass."""
    want = int(session.CODEGEN_CACHE_MAX_ENTRIES)
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) == want
    spark.range(3).selectExpr("id * 2 AS x").collect()  # cache is built
    codegen = spark.sparkContext._jvm.org.apache.spark.sql.catalyst
    gen = getattr(codegen.expressions.codegen, "CodeGenerator$")
    cache = _field(_field(getattr(gen, "MODULE$").cache(), "cache"), "localCache")
    assert _field(cache, "maxWeight") == want


@pytest.mark.skipif(
    "SPARK_GRAFT_DRIVER_MEMORY" in os.environ, reason="deployment heap override set"
)
def test_driver_heap_fits_physical_memory(spark):
    """In local mode the driver JVM runs every task, with the Python
    workers beside it; a heap larger than the host lets Spark's unified
    memory plan for memory that is not there."""
    assert spark.conf.get("spark.driver.memory") == session.default_driver_memory()
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    heap_max = mf.getMemoryMXBean().getHeapMemoryUsage().getMax()
    assert 0 < heap_max <= phys
