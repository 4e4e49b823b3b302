"""Engine session settings that must reach the JVM, not just the conf."""

from __future__ import annotations

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
