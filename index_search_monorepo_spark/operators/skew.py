"""O13 — explicit skew handling (north rule: salted repartitioning for
oversized many-page volumes), and the package's one placement and
storage-level policy.

The reference has none (one doc = one queue message regardless of page count;
SURVEY.md §4 O13); AQE's skew-join splitting cannot split a single fat row of
UDF work, so we place rows deliberately:

 - `salted_repartition` spreads docs uniformly by xxhash64(doc_id, 0) so
   co-occurring fat rows do not pile into one partition; the partition
   count comes from scan file metadata — never from a driver-side pre-scan
   job.
 - `spread_small_scan` is the one spread before compute-heavy narrow work.
 - `persist` is the one cache call: every operator that pins a shared
   frame goes through it. Cached frames live until the session owner's
   `spark.catalog.clearCache()` (operators return lazy frames, so no
   operator can know when its caller is done with them).
 - the heavy path for 2000-page volumes lives in
   extraction.with_ocr_skew_aware (explode → distribute → reassemble).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Parquet bytes per shuffle partition. Post-decompression row width is
# typically 2-4x the on-disk bytes, so 64 MB on disk keeps a partition of
# span text comfortably inside an executor-core's working memory.
TARGET_BYTES_PER_PARTITION = 64 << 20
# salted_repartition's partition-count clamp
MIN_PARTITIONS = 8
MAX_PARTITIONS = 100_000
_STAT_SAMPLE_FILES = 64


def _estimated_input_bytes(df: DataFrame) -> int | None:
    """Total input size from file METADATA only (no job, no scan). For
    many-file inputs, stats a sample of files and extrapolates — py4j
    round-trips per file are the only cost, so the sample is capped."""
    files = df.inputFiles()
    if not files:
        return None
    sc = df.sparkSession.sparkContext
    jvm = sc._jvm
    hconf = sc._jsc.hadoopConfiguration()
    sample = files[:_STAT_SAMPLE_FILES]
    total = 0
    for f in sample:
        p = jvm.org.apache.hadoop.fs.Path(f)
        fs = p.getFileSystem(hconf)
        total += fs.getFileStatus(p).getLen()
    return int(total * len(files) / len(sample))


def persist(df: DataFrame) -> DataFrame:
    """Pin a frame that several consumers read, MEMORY_AND_DISK (spills
    under pressure instead of recomputing). Released by the session
    owner's `spark.catalog.clearCache()`."""
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def spread_small_scan(df: DataFrame, key: str | None = "doc_id") -> DataFrame:
    """Repartition a few-split source before compute-heavy narrow work
    (pandas UDFs, hash chains). A dimension table written as one parquet
    file scans as ONE split, so everything downstream of it runs on one
    core regardless of cluster size — a serial stage that caps N->4N
    scaling (Amdahl) long before data volume matters. Partition count
    = spark.sql.shuffle.partitions, i.e. sized to the cluster. Returns
    `df` itself when it skips, so a caller can tell whether it spread.

    Skips when the input already has >= that many splits (a many-file
    corpus is balanced by its scan). The split count is asked only of a
    plan without AQE: asking an AdaptiveSparkPlanExec (any frame holding
    an exchange or a cache) for its partitions runs its query stages —
    Spark jobs at plan-build time — so such a frame is spread without
    asking. A streaming frame is returned unchanged: it has no executed
    plan to ask, and streaming callers keep to pure expressions.

    When `key` names an existing column the spread hashes a DETERMINISTIC
    derived key (pmod(xxhash64(key), 100*n) — far more distinct values
    than partitions so the hash spreads evenly) instead of round-robin:
    round-robin pays a local sort of its input per task
    (spark.sql.execution.sortBeforeRepartition, the SPARK-23207
    retry-determinism guard) that the deterministic key makes unnecessary
    — measured 0.35 s -> 0.26 s on a 50k-doc spread (r6) — and is the
    retry-safe form the round-robin sort exists to approximate. Falls
    back to round-robin when the key column is absent.

    xxhash64(NULL) is the hash seed, so NULL keys would all land in ONE
    partition; a NULL key hashes a seeded per-row rand(0) instead
    (deterministic for a given input split order;
    monotonically_increasing_id would do the same but is refused in a
    streaming query, which a static frame joined to a stream becomes
    part of). Non-null keys keep their hash. Catalyst
    counts rand as nondeterministic, so a filter above the spread now
    stops at the Project computing it — still below the exchange, but
    no longer pushed into the parquet scan."""
    if df.isStreaming:
        return df
    spark = df.sparkSession
    try:
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n = spark.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().executedPlan()
    adaptive = plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec"
    if not adaptive and df.rdd.getNumPartitions() >= n:
        return df
    if key and key in df.columns:
        k = F.col(key)
        h = F.when(k.isNull(), F.xxhash64(F.rand(0)))
        return df.repartition(
            n, F.pmod(h.otherwise(F.xxhash64(k)), F.lit(100 * n))
        )
    return df.repartition(n)


def salted_repartition(
    df: DataFrame,
    skip_if_scan_parallel: bool = False,
) -> DataFrame:
    """Repartition by a salted hash of doc_id so co-occurring fat rows spread
    uniformly across partitions.

    Partition count: input file bytes / TARGET_BYTES_PER_PARTITION (file
    METADATA only — the previous design ran a sum(size(spans)) pre-pass,
    i.e. a full extra scan before the real job; at 100 TB that is a
    100 TB-wide job spent on a partition count), else
    spark.sql.shuffle.partitions; clamped to [MIN_PARTITIONS,
    MAX_PARTITIONS].

    With skip_if_scan_parallel=True the shuffle is elided when the source
    already provides at least spark.sql.shuffle.partitions splits: shuffling
    the full spans payload (every page of text through disk + serialization)
    costs ~25% of extraction wall time at 32 cores, and buys nothing when
    the scan is already balanced (many-file corpus). The shuffle is for
    few-file / skewed-file inputs, not a toll every run pays."""
    spark = df.sparkSession
    try:
        default_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        default_parts = spark.sparkContext.defaultParallelism
    if skip_if_scan_parallel:
        if df.rdd.getNumPartitions() >= default_parts:
            return df
    total_bytes = _estimated_input_bytes(df)
    if total_bytes is None:
        n_parts = default_parts
    else:
        n_parts = total_bytes // TARGET_BYTES_PER_PARTITION + 1
    n_parts = max(MIN_PARTITIONS, min(MAX_PARTITIONS, n_parts))
    return df.repartition(n_parts, F.xxhash64(F.col("doc_id"), F.lit(0)))


def key_skew_report(
    df: DataFrame,
    key_col: str,
    target_rows: int,
    top_k: int = 20,
) -> DataFrame:
    """(key, cnt, share_pmille, n_salts) for the top_k hottest join/agg
    keys — the diagnosis half of the skew loop (salted_repartition and
    AQE skew-join are the treatment; you only reach for them after a
    report like this names the keys). n_salts = ceil(cnt / target_rows)
    is the salt fan-out that brings every hot key back under
    target_rows rows per task — feed it to a salt column
    (pmod(xxhash64(row), n_salts)) on the fat side and replicate the
    slim side n_salts ways.

    Plan: ONE map-side-combined groupBy over the key (the wordcount
    shape — the exchange carries distinct keys once per upstream
    partition), a one-row broadcast total, TakeOrderedAndProject for
    the top_k. Integer-exact (per-mille DIV, ceil via (c + t - 1) DIV
    t) so the report is engine-replayable."""
    if target_rows < 1:
        raise ValueError(f"target_rows must be >= 1, got {target_rows}")
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    cnt = (
        df.select(F.col(key_col).alias("key"))
        .groupBy("key")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    tot = cnt.agg(F.sum("cnt").cast("long").alias("_tot"))
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "cnt",
            F.expr("CAST(cnt * 1000 DIV _tot AS BIGINT)").alias(
                "share_pmille"
            ),
            F.expr(
                f"CAST((cnt + {target_rows} - 1) DIV {target_rows}"
                " AS BIGINT)"
            ).alias("n_salts"),
        )
        .orderBy(F.desc("cnt"), F.asc("key"))
        .limit(top_k)
    )


def skew_report_oracle_sql(
    source_sql: str,
    key_sql: str,
    target_rows: int,
    top_k: int = 20,
    prefix: str = "skw_",
) -> str:
    """DuckDB CTE chain mirroring key_skew_report; exposes {prefix}out:
    (key, cnt, share_pmille, n_salts)."""
    if target_rows < 1:
        raise ValueError(f"target_rows must be >= 1, got {target_rows}")
    return f"""
    {prefix}cnt AS (
      SELECT {key_sql} AS key, CAST(count(*) AS BIGINT) AS cnt
      FROM {source_sql} GROUP BY 1
    ),
    {prefix}tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM {prefix}cnt
    ),
    {prefix}out AS (
      SELECT key, cnt,
             CAST(cnt * 1000 // t.tot AS BIGINT) AS share_pmille,
             CAST((cnt + {target_rows} - 1) // {target_rows} AS BIGINT)
               AS n_salts
      FROM {prefix}cnt, {prefix}tot t
      ORDER BY cnt DESC, key LIMIT {top_k}
    )"""
