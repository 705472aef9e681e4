"""SparkSession factory with scale-oriented defaults.

Single place where shuffle/AQE/Arrow/JIT/case-mapping knobs are set for
tests, bench.py and library callers. spark-submit starts the driver JVM
before any Python runs, so a short local submit passes its own ``--conf
spark.driver.defaultJavaOptions=-XX:TieredStopAtLevel=1``. Designed for a
real multi-executor cluster; without one, ``master`` defaults to local[N].
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# lower() takes the JVM's case mapping (see build_spark). For non-ASCII
# strings that is String.toLowerCase() in the JVM's default locale, which
# maps I to dotless ı under tr or az and so changes MinHash sketch text:
# every JVM runs in en_US.
EN_US = "-Duser.language=en -Duser.country=US"
LOWER_CONF = {
    "spark.sql.icu.caseMappings.enabled": "false",
    "spark.executor.defaultJavaOptions": EN_US,
}


def build_spark(
    app_name: str = "entity-resolution-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """The driver JVM (``local[N]``: also the executor) runs C1 only. C2 cost
    ~40 % of a 1,000-entity run's CPU; at 5,000 C1 still used less CPU, with
    wall ~5 % longer. For longer runs put ``-XX:TieredStopAtLevel=4`` in
    ``spark.driver.extraJavaOptions``: it comes after this default.

    ``lower()`` skips ICU4J: the first ``lower()`` of a process initializes
    it for ~2 s while the other task threads wait on a monitor, and that
    stall fell on blocking's sketch job and train. ``extra_conf`` can turn
    it back on."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # local[N] -> N; on a real cluster callers pass an explicit value
        # sized to executors*cores (or rely on AQE coalescing below).
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if n in ("", "*") else int(n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing + skew-join splitting (hot blocking keys)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow is the only Python<->JVM data path we use
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # deterministic timestamps in parquet round-trips
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # C1-only JIT: C2 recompiling Spark's planner buys nothing on short runs.
        # C1-only caps the code cache at 48 MB, which back-to-back runs in one
        # session reach (the JIT then flushes code, or stops when full); 240m
        # is the tiered default.
        .config("spark.driver.defaultJavaOptions",
                f"-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m {EN_US}")
        .config(map=LOWER_CONF)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
