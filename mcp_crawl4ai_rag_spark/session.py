"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point but parameterized so local
tests run on local[*]:

- AQE on (runtime coalescing, skew-join splitting).
- Arrow on (all our Python UDFs are pandas UDFs / mapInPandas).
- shuffle.partitions sized to cores locally; on a real cluster this is
  overridden to ~2-3x total cores by the submitter.
- spark.python.daemon.module = ``worker_daemon``: every Python task
  starts with ``importlib.invalidate_caches()``, which on CPython 3.11
  makes each zipimporter re-read its whole archive; Spark's pyspark.zip,
  py4j zip and spark-core jar cost about 0.25 s per task that way. The
  daemon skips the zipimporters of the archives that were on its
  ``sys.path`` at startup (they cannot change while it lives) and
  invalidates every other finder as CPython does, so archives added
  later with ``addPyFile`` are still re-read. The package must be
  importable where the daemon starts (the driver's working directory or
  ``PYTHONPATH``), or every Python stage fails.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _local_dir() -> str:
    """Prefer tmpfs for shuffle/spill files in local mode — measured 2x
    end-to-end on this container vs the block device (32 concurrent
    shuffle writers thrash the disk). On a real cluster this is the
    node-local SSD configured by the cluster manager."""
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        return os.path.join(shm, "spark-local")
    return os.path.join(os.environ.get("TMPDIR", "/tmp"), "spark-local")


def get_spark(
    app_name: str = "mcp-crawl4ai-rag-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.local.dir", _local_dir())
        .config("spark.python.daemon.module", "mcp_crawl4ai_rag_spark.worker_daemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
