"""SparkSession factory with the settings the pipeline relies on.

Arrow on (vectorized pandas UDFs), AQE on (runtime shuffle coalescing +
skew-join splitting for the verification join), UTC session timezone,
shuffle partitions sized for the local sandbox but overridable for a real
cluster via ``spark-submit --conf``.
"""

from __future__ import annotations

import os
import sys

import pandas as pd
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "vdf-spark-dedup",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.memory", driver_mem)  # local mode: the only heap
        .config("spark.driver.maxResultSize", "8g")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # default 10000-row Arrow batches are pathological for ~8KB docs
        # (80MB pandas string batches; measured 9x slowdown end-to-end) —
        # ~1k rows keeps UDF batches in the single-digit-MB range
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "1024"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def skip_unchanged_zip_rereads() -> None:
    """Make ``importlib.invalidate_caches()`` re-read a zip archive's
    directory only when the archive changed since its last read.

    pyspark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``pyspark.worker_util.setup_spark_files``). Before
    Python 3.12 (gh-103200 made it lazy) each cached ``zipimporter`` then
    re-reads its whole archive directory: in a pyspark 4.1.2 worker that
    is ``pyspark.zip`` (1,328 entries) once for each of its 12 cached
    subpackage importers plus the spark-core jar (5,359) and py4j's zip
    twice each, 0.12-0.29 CPU-s per task. Here the stock method runs only
    when the archive's ``(st_mtime_ns, st_size)`` differs from its value
    at the last read, or the archive cannot be stat'ed; an unchanged
    archive's importers adopt the directory that read cached. A changed
    archive (a ``--py-files`` zip replaced in place) is re-read as
    before; directory finders are untouched. Installed once per process
    at package import, so a Python worker has it from the first engine
    UDF it unpickles."""
    import zipimport

    # before 3.10 zipimporter has no invalidate_caches: nothing re-reads
    stock = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if stock is None or sys.version_info >= (3, 12) or hasattr(stock, "stock"):
        return
    directories = zipimport._zip_directory_cache
    read_stamps: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return stock(self)
        stamp = (st.st_mtime_ns, st.st_size)
        files = directories.get(self.archive)
        if files is not None and read_stamps.get(self.archive) == stamp:
            self._files = files
            return
        stock(self)  # stat'ed first: a change during the read shows next time
        read_stamps[self.archive] = stamp

    invalidate_caches.stock = stock
    zipimport.zipimporter.invalidate_caches = invalidate_caches


skip_unchanged_zip_rereads()


def warm_python_workers(spark: SparkSession, slots: int | None = None) -> None:
    """Spawn + warm the reusable Python UDF workers (numpy/pandas imports)
    with one trivial pandas-UDF job across all task slots.

    On a real cluster this happens per-executor in parallel at constant
    cost; in local mode on this sandbox the N workers' first imports are
    serialized by the host's page-fault cost and would otherwise be billed
    to the first UDF stage — session setup, not job throughput. Call once
    after get_spark when benchmarking (workers are reused afterwards,
    spark.python.worker.reuse defaults true). The warm UDF references this
    module, so each warmed worker imports the engine and with it
    ``skip_unchanged_zip_rereads`` before its first engine task."""
    from pyspark.sql import functions as F

    if slots is None:
        slots = spark.sparkContext.defaultParallelism

    @F.pandas_udf("integer")
    def _warm(s: pd.Series) -> pd.Series:
        import numpy as np  # noqa: F401  (touch the heavy imports)

        skip_unchanged_zip_rereads()  # pickled by reference: imports the engine
        return pd.Series([0] * len(s), dtype="int32")

    n = max(slots * 4, 8)
    spark.range(0, n * 10, 1, n).select(F.sum(_warm(F.col("id")))).first()
