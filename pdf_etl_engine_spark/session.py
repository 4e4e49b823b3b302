"""SparkSession factory.

Local test profile runs on ``local[$SPARK_GRAFT_CPUS]`` (default all
cores); the config block is written so the same code lands well on a
real multi-executor cluster:

* AQE on — runtime shuffle-partition coalescing, skew-join splitting,
  and dynamic broadcast-join conversion replace hand-tuned partition
  counts at 100 TB.
* ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; on
  a cluster you'd raise it (≈2-3× total cores) and let AQE coalesce.
* Arrow on — every unavoidable Python boundary (the extractor UDF, U1)
  moves columnar batches, not pickled rows.
* Session timezone pinned to UTC so event-time semantics (windows,
  date_trunc, as-of joins) are deployment-independent — the reference
  also works in UTC (`/root/reference/main.py:729` utcnow()).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
CODEGEN_CACHE_MAX_ENTRIES = "2000"


def default_driver_memory() -> str:
    """Half of physical memory, capped at 16g: the heap must leave room
    for the Python workers beside the JVM, or unified memory plans for
    more than the host has."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16 * 1024, phys // 2**21)}m"


def get_spark(
    app_name: str = "pdf-etl-engine-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the SparkSession with the engine's config."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Scan-split sizing: the testdata parquet is single-row-group,
        # so a scan is one task no matter the split size — keep the
        # 128 MB default (right for real >128 MB cluster files too);
        # override via SPARK_GRAFT_MAX_PARTITION_BYTES if needed.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "134217728"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        # Heap sizing: in local mode the driver JVM IS the executor,
        # and PySpark's 1g default starves the task threads (the sf1
        # parity sweep OOMed building a ~250 MB broadcast hash
        # relation). Only effective for the process's FIRST session; a
        # live JVM keeps its -Xmx.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", default_driver_memory()),
        )
        .config("spark.driver.maxResultSize", "4g")
        # Compiled whole-stage code cache: Spark's default 100 entries
        # (4 LRU segments of 25) overflow on a mix of a few dozen
        # distinct plans; from then on every pass recompiles ~25
        # classes and runs 1.3-1.8x slower for the life of the JVM
        # (perfbench/README.md, "Codegen cache"). A static conf, read
        # once when the JVM's codegen cache is built.
        .config(
            "spark.sql.codegen.cache.maxEntries", CODEGEN_CACHE_MAX_ENTRIES
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate silently returns an EXISTING session with its old
    # configs; re-apply the runtime-settable SQL confs so callers get
    # what they asked for either way.
    runtime = dict(extra_conf or {})
    runtime["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    )
    for k, v in runtime.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a live session — builder value applies
    return spark
