"""Traced run: per-layer self times and Spark's own plan metrics.

Self time of a layer = wall time of the cumulative pipeline prefix that ends
in that layer minus the prefix before it. Every prefix is built after the
caches are cleared and materialised through its own QueryExecution
(`toRdd().count()`: every row and column computed, as the noop sink does),
then its executed plan is walked -- AQE query stages, cached relations and
all -- for Exchange and ArrowEvalPython metrics. The prefixes mirror
the composition in `plans/pipeline.extract_documents`; each step calls the
module's public function.

Layers a workload does not exercise report 0.
"""

from __future__ import annotations

import inspect
import json
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from index_search_monorepo_spark.functions.marc import extract_allfields
from index_search_monorepo_spark.operators.catalog import catalog_item_metadata
from index_search_monorepo_spark.operators.checkpoint import pending_only, with_bucket
from index_search_monorepo_spark.operators.enrichment import with_mysql_fields
from index_search_monorepo_spark.operators.errors import split_errors
from index_search_monorepo_spark.operators.extraction import (
    with_extracted_spans,
    with_mets_fields,
    with_ocr_skew_aware,
)
from index_search_monorepo_spark.operators.skew import (
    salted_repartition,
    spread_small_scan,
)
from index_search_monorepo_spark.plans.pipeline import (
    extract_documents,
    load_corpus,
    run_extraction_job,
)
from index_search_monorepo_spark.streaming.incremental import incremental_extraction

import harness as H

MB = 2**20
HTML_UDF = "_clean_html_batch"  # operators/extraction, wraps functions/html
MARC_UDF = "extract_allfields"  # functions/marc
STREAM_DOCS_PER_FILE = 8  # landing shards; max_files_per_trigger=8 per batch
N_BUCKETS = inspect.signature(run_extraction_job).parameters["n_buckets"].default

# name -> unit of every per-layer metric, as BENCHMARK.json lists them
UNITS = {
    m["name"]: m["unit"]
    for m in json.loads((Path(__file__).resolve().parents[1] / "BENCHMARK.json").read_text())[
        "per_layer"
    ]
}


# ------------------------------------------------------------ plan metrics


@dataclass
class PlanStats:
    shuffle_bytes: int = 0
    # python UDF name -> summed ArrowEvalPython metrics
    python: dict[str, dict[str, int]] = field(default_factory=dict)

    def udf(self, name: str, metric: str) -> int:
        return self.python.get(name, {}).get(metric, 0)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _metrics(node) -> dict[str, int]:
    out, it = {}, node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def walk_plan(spark: SparkSession, plan) -> PlanStats:
    """Sum Exchange and ArrowEvalPython metrics over an executed plan,
    descending into AQE's final plan, query stages and the plans behind
    cached relations (each cached plan once)."""
    ident = spark.sparkContext._jvm.System.identityHashCode
    stats, todo, seen = PlanStats(), [plan], set()
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        m = _metrics(node)
        if cls == "ShuffleExchangeExec":
            stats.shuffle_bytes += m.get("shuffleBytesWritten", 0)
        elif cls == "ArrowEvalPythonExec":
            for udf in _seq(node.udfs()):
                agg = stats.python.setdefault(udf.name(), {})
                for k, v in m.items():
                    agg[k] = agg.get(k, 0) + v
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        elif cls == "ReusedExchangeExec":
            continue  # its metrics live on the exchange it reuses
        elif cls == "InMemoryTableScanExec":
            cached = node.relation().cachedPlan()
            if ident(cached) not in seen:
                seen.add(ident(cached))
                todo.append(cached)
        else:
            todo.extend(_seq(node.children()))
    return stats


def materialize(spark: SparkSession, build) -> tuple[float, PlanStats]:
    """Cache-cold: clear caches, build the frame (its persists register
    now), run it through its own QueryExecution and walk the plan."""
    H.cache_cold(spark)
    t0 = time.perf_counter()
    qe = build()._jdf.queryExecution()
    qe.toRdd().count()
    wall = time.perf_counter() - t0
    return wall, walk_plan(spark, qe.executedPlan())


class StageWindow:
    """Stage-level task metrics (AppStatusStore, kept with the UI off) for
    the stages that ran inside the `with` block -- used where the package
    runs the job itself (run_extraction_job's write)."""

    FIELDS = ("diskBytesSpilled", "executorRunTime")

    def __init__(self, spark: SparkSession) -> None:
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.totals = dict.fromkeys(self.FIELDS, 0)

    def _stages(self) -> dict:
        s = self.store
        defaults = [getattr(s, f"stageList$default${i}")() for i in range(2, 6)]
        return {(d.stageId(), d.attemptId()): d for d in _seq(s.stageList(None, *defaults))}

    def __enter__(self) -> "StageWindow":
        self._before = set(self._stages())
        return self

    def __exit__(self, *exc) -> None:
        t0 = time.perf_counter()
        for key, d in self._stages().items():
            if key not in self._before:
                for f in self.FIELDS:
                    self.totals[f] += getattr(d, f)()
        self.read_s = time.perf_counter() - t0


# ------------------------------------------------------------ prefixes


def _spans(tables: dict[str, DataFrame]) -> DataFrame:
    return tables["documents_spans"].unionByName(tables["documents_spans_bad"])


def _doc_prefix(spark: SparkSession, path: str, upto: str) -> DataFrame:
    """The fact-side chain of extract_documents, cut after `upto`."""
    tables = load_corpus(spark, path)
    df = _spans(tables)
    if upto == "scan":
        return df
    df, _ = split_errors(df)
    if upto == "errors":
        return df
    df = salted_repartition(df, skip_if_scan_parallel=True)
    if upto == "skew":
        return df
    df = with_ocr_skew_aware(df, page_threshold=H.PAGE_THRESHOLD)
    df = df.withColumn("span_count", F.size("spans")).drop("spans")
    if upto == "ocr":
        return df
    return with_mysql_fields(
        df,
        tables["rights_current"],
        tables["holdings_htitem_htmember"],
        tables["mb_coll_item"],
        tables["mb_collection"],
    )


def _catalog_prefix(spark: SparkSession, path: str, upto: str) -> DataFrame:
    cat = spread_small_scan(load_corpus(spark, path)["catalog"], key=None)
    if upto == "scan":
        return cat
    cat = cat.withColumn("allfields", extract_allfields(F.col("fullrecord")))
    return catalog_item_metadata(cat, extra_passthrough=("allfields",))


def _mets_prefix(spark: SparkSession, path: str, upto: str) -> DataFrame:
    mets = load_corpus(spark, path)["mets_meta"]
    return mets if upto == "scan" else with_mets_fields(mets)


def _partition_skew(spark: SparkSession, build) -> float:
    H.cache_cold(spark)
    df = build()
    parts = df.rdd.getNumPartitions()
    counts = [
        r["count"]
        for r in df.groupBy(F.spark_partition_id().alias("p")).count().collect()
    ]
    total = sum(counts)
    return max(counts) / (total / parts) if total else 0.0


# ------------------------------------------------------------ traced run


def trace(spark, workload, corpus, work: Path, start_s: float) -> tuple[dict, bool]:
    """All per-layer metrics for one workload. Returns (metrics, ok)."""
    vals = dict.fromkeys(UNITS, 0.0)
    vals["session.start_s"] = start_s
    vals["extraction.big_path_docs"] = corpus.big_docs
    path = str(corpus.path)
    ok = True

    # the one end-to-end call of the traced run; its only tracing cost is the
    # status-store read after it returns
    with StageWindow(spark) as window:
        job = H.run_job(spark, workload, corpus, work / "out-traced")
    ok &= job.ok
    vals["trace.docs_per_s_untraced"] = job.docs_per_s
    vals["trace.docs_per_s_traced"] = job.completed / (job.wall_s + window.read_s)
    vals["trace.overhead_frac"] = window.read_s / (job.wall_s + window.read_s)
    vals["errors.error_rows"] = job.detail["error_rows"]
    vals["pipeline.leaked_rdds"] = job.leaked_rdds
    # Amdahl fit T(n) = s + p/n: p is the job's summed task time, s the wall
    # time those tasks do not cover on CORES slots
    p = window.totals["executorRunTime"] / 1e3
    vals["pipeline.parallel_s"] = p
    vals["pipeline.serial_s"] = job.wall_s - p / H.CORES

    def doc(upto):
        return materialize(spark, lambda: _doc_prefix(spark, path, upto))

    t_scan, _ = doc("scan")
    t_err, _ = doc("errors")
    vals["errors.split_s"] = t_err - t_scan

    if workload.entry == "spans":
        t_out, st = materialize(
            spark, lambda: with_extracted_spans(_doc_prefix(spark, path, "errors"))
            .select("doc_id", "extracted_spans"),
        )
        vals["extraction.span_seq_s"] = t_out - t_err
        vals["html.python_s"] = st.udf(HTML_UDF, "pythonTotalTime") / 1e3
        # 0 once the warm-up passes have spawned the workers
        vals["html.boot_s"] = st.udf(HTML_UDF, "pythonBootTime") / 1e3
        vals["html.arrow_mb_sent"] = st.udf(HTML_UDF, "pythonDataSent") / MB
        vals["html.arrow_mb_received"] = st.udf(HTML_UDF, "pythonDataReceived") / MB
        ok &= _incremental(spark, corpus, work, vals)
        return vals, ok

    t_skew, st_skew = doc("skew")
    vals["skew.repartition_s"] = t_skew - t_err
    vals["skew.partition_rows_max_over_mean"] = _partition_skew(
        spark, lambda: _doc_prefix(spark, path, "skew")
    )
    t_ocr, st_ocr = doc("ocr")
    vals["extraction.ocr_s"] = t_ocr - t_skew
    vals["extraction.shuffle_mb"] = (st_ocr.shuffle_bytes - st_skew.shuffle_bytes) / MB
    t_enr, st_enr = doc("enrichment")
    vals["enrichment.mysql_fields_s"] = t_enr - t_ocr
    vals["enrichment.shuffle_mb"] = (st_enr.shuffle_bytes - st_ocr.shuffle_bytes) / MB

    t_cat, _ = materialize(spark, lambda: _catalog_prefix(spark, path, "scan"))
    t_items, st_items = materialize(spark, lambda: _catalog_prefix(spark, path, "items"))
    vals["marc.allfields_s"] = t_items - t_cat
    vals["marc.python_s"] = st_items.udf(MARC_UDF, "pythonTotalTime") / 1e3
    vals["marc.arrow_mb_sent"] = st_items.udf(MARC_UDF, "pythonDataSent") / MB
    t_mscan, _ = materialize(spark, lambda: _mets_prefix(spark, path, "scan"))
    t_mets, st_mets = materialize(spark, lambda: _mets_prefix(spark, path, "fields"))
    vals["extraction.mets_fields_s"] = t_mets - t_mscan

    t_full, st_full = materialize(
        spark, lambda: extract_documents(spark, load_corpus(spark, path))[0]
    )
    # the three input branches run as concurrent stages: the join adds what
    # the full frame takes beyond the slowest of them
    vals["assemble.join_s"] = t_full - max(t_enr, t_items, t_mets)
    vals["assemble.shuffle_mb"] = (
        st_full.shuffle_bytes - st_enr.shuffle_bytes - st_items.shuffle_bytes
        - st_mets.shuffle_bytes
    ) / MB

    # checkpoint: the traced job above wrote out-traced
    out = work / "out-traced"
    vals["checkpoint.run_checkpointed_s"] = job.wall_s - t_full
    vals["checkpoint.spill_mb"] = window.totals["diskBytesSpilled"] / MB
    vals["checkpoint.write_mb_per_input_mb"] = H.dir_bytes(out / "data") / corpus.input_bytes
    spans_per_bucket = [r["span_count"] for r in json.loads(Path(job.detail["manifest"]).read_text())]
    vals["checkpoint.bucket_spans_max_over_mean"] = max(spans_per_bucket) / statistics.mean(spans_per_bucket)
    # the resume check a re-run pays on a finished output: manifest read and
    # the anti-join, materialised, beyond the extract_documents prefix
    t_pending, _ = materialize(
        spark,
        lambda: pending_only(
            with_bucket(
                extract_documents(spark, load_corpus(spark, path))[0], N_BUCKETS, doc_id_col="id"
            ),
            spark,
            str(out),
        ),
    )
    vals["checkpoint.pending_only_s"] = t_pending - t_full
    return vals, ok


def _incremental(spark: SparkSession, corpus, work: Path, vals: dict) -> bool:
    """Drain a landing directory of small shards with the production
    max_files_per_trigger=8 and availableNow; durations from the query's
    own progress reports."""
    landing, out = work / "landing", work / "stream-out"
    landing.mkdir(parents=True)
    table = pq.read_table(corpus.path / "documents_spans.parquet", columns=["doc_id", "spans"])
    for i in range(0, table.num_rows, STREAM_DOCS_PER_FILE):
        pq.write_table(table.slice(i, STREAM_DOCS_PER_FILE), landing / f"part-{i:08d}.parquet")
    pq.write_table(
        pq.read_table(corpus.path / "documents_spans_bad.parquet"), landing / "part-bad.parquet"
    )
    H.cache_cold(spark)
    q = incremental_extraction(spark, str(landing), str(out))
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    vals["incremental.batches"] = len(progress)
    vals["incremental.add_batch_s"] = sum(p["durationMs"].get("addBatch", 0) for p in progress) / 1e3
    vals["incremental.log_commit_s"] = sum(
        p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0)
        for p in progress
    ) / 1e3
    n_out = spark.read.parquet(str(out / "extracted")).count()
    n_err = spark.read.parquet(str(out / "errors")).count()
    return n_out == corpus.n_clean and n_err == corpus.n_poison
