"""SparkSession factory with scale-aware defaults.

Defaults are chosen for the 100 TB design point but parameterized so tests run
on local[N]:
 - AQE on (runtime re-plan, skew-join splitting for relational stages)
 - Arrow on, with a small maxRecordsPerBatch because extraction rows are fat
   (multi-MB OCR strings; SURVEY.md §4 physical notes)
 - shuffle partitions sized to cores locally; on a real cluster this is set per
   job from input size / target partition bytes.
 - driver heap sized to the host (SPARK_DRIVER_MEMORY overrides it).
 - spark.python.sql.dataFrameDebugging.enabled=false: with it on, every
   `F.*`/`Column` call made while building a plan also makes ~5
   driver-to-JVM calls to record its Python file:line as the expression's
   origin. Dropped: that file:line in a DataFrame analysis error's query
   context (the error class and message stay). PySpark reads the value once
   per process, at the first such call, so it is set when the session is
   built; extra_conf can turn it back on.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MAX_DRIVER_GB = 16
# per-call Python origin capture for DataFrame/Column calls (module docstring)
DATAFRAME_DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


def driver_memory() -> str:
    """spark.driver.memory: $SPARK_DRIVER_MEMORY, else half the host's
    physical memory in whole GiB (at least 1, at most 16). In local mode
    the driver JVM is also every executor and shares the host with the
    Python workers, so a fixed 16g would promise more heap than a
    small host has."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    try:
        host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return f"{_MAX_DRIVER_GB}g"
    return f"{max(1, min(_MAX_DRIVER_GB, host // 2**31))}g"


def get_spark(
    app_name: str = "index_search_monorepo_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # the reference's Solr field names are case-sensitive dict keys
        # (e.g. both 'Vtitle' and 'vtitle' exist, ht_indexer_config.py:29-90)
        .config("spark.sql.caseSensitive", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # fat string rows: keep broadcast threshold default (10 MB) for
        # dims. Fat-row parquet scans should ALSO cap the vectorized
        # reader's batch (spark.sql.parquet.columnarReaderBatchSize — its
        # on-heap column vectors are invisible to the memory manager);
        # that is per-corpus, so callers set it via extra_conf (bench
        # workers use 16, matching the synthetic corpora's row groups).
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config(DATAFRAME_DEBUGGING, "false")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        # keep stdout/stderr free of \r-progress frames: bench.py's artifact
        # protocol is line-oriented JSON and the driver captures raw output
        .config("spark.ui.showConsoleProgress", "false")
        # local-mode perf: the driver JVM is the executor. Throughput-first
        # GC (Parallel) beats G1's low-pause goal for batch string churn at
        # high thread counts; overridable for experiments.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_DRIVER_EXTRA_JAVA_OPTS",
                "-Djava.net.preferIPv6Addresses=false -XX:+UseParallelGC",
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
