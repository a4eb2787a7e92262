"""SparkSession factory with scale-aware defaults.

Mirrors the role of Flink's ``TableEnvironment`` settings / ``ExecutionConfigOptions``
(reference: flink-table/flink-table-api-java/src/main/java/org/apache/flink/table/api/config/
ExecutionConfigOptions.java) — but all tuning is expressed as Spark confs so Catalyst/AQE
do the work at runtime.

Scale notes (100 TB target):
- AQE on: runtime coalescing, skew-join splitting, dynamic join strategy switch.
- ``spark.sql.shuffle.partitions`` is a *local-mode* default here; on a real cluster
  AQE's ``advisoryPartitionSizeInBytes`` governs post-shuffle sizing, so the static
  number only seeds the initial stage.
- Broadcast threshold mirrors the reference's 10 MB TPC-DS setting
  (flink-end-to-end-tests/flink-tpcds-test/.../TpcdsTestProgram.java:136) — kept at
  Spark's default 10 MB.
- Arrow enabled: every pandas-UDF custom operator ships columnar batches, not rows.
- Session timezone pinned UTC so event-time semantics are stable across engines.
- ``spark.python.daemon.module`` starts the Python workers from ``_pydaemon``:
  PySpark's own daemon, except that on CPython < 3.12 a worker task's
  ``importlib.invalidate_caches()`` no longer re-reads the directory of an
  unchanged ``pyspark.zip`` once per zipimporter (16-18 reads per task; the
  eager re-read is gh-103200, made lazy in 3.12). On 3.12+ it changes nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """The driver heap for this host: 40% of physical memory in whole GiB,
    at least 1g and at most 48g (6g on a 15 GiB host). A local-mode JVM
    grows toward its -Xmx, so a heap near the host's size gets the process
    OOM-killed in a long session."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48, max(1, int(phys * 0.4) >> 30))}g"


def get_spark(
    app_name: str = "flink_1_12_0_src_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "flink_1_12_0_src_spark._pydaemon")
        # events.parquet stores TIMESTAMP(NANOS); Spark reads it as raw INT64 and
        # catalog.table() converts to micros (DuckDB truncates NS → µs identically).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
