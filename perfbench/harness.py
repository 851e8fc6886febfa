"""Session, corpus, memory sampling and the two timed entry-point calls.

Everything here is benchmark-side: it drives the package's public entry
points (`session.get_spark`, `sources.synthetic.generate_corpus`,
`plans.pipeline.*`) and checks their outputs against the pure-Python
oracles in `oracle.reference_oracle`. No package code is changed.
"""

from __future__ import annotations

import inspect
import os
import random
import shutil
import subprocess
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from index_search_monorepo_spark.oracle.reference_oracle import (
    oracle_extracted_spans,
    oracle_ocr,
)
from index_search_monorepo_spark.plans.pipeline import (
    extract_documents,
    extract_span_sequences,
    load_corpus,
    run_extraction_job,
)
from index_search_monorepo_spark.session import get_spark
from index_search_monorepo_spark.sources.synthetic import generate_corpus

# Host fit: one local[N] slot per CPU this process may run on, a driver heap
# well below the 15 GB host (the session default is 16g), and the vectorized
# reader batch the repo's own bench workers use for fat-row span parquet.
CORES = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "4g"
READER_BATCH_ROWS = "16"
N_POISON = 5
ORACLE_SAMPLE_DOCS = 4
PAGE_THRESHOLD = inspect.signature(extract_documents).parameters[
    "page_threshold"
].default


@dataclass(frozen=True)
class Workload:
    name: str
    entry: str  # "job" (run_extraction_job) or "spans" (extract_span_sequences)
    n_docs: int
    shape: dict = field(default_factory=dict)  # generate_corpus span kwargs
    warm_passes: int = 1  # untimed passes over the corpus, charged to setup_s


WORKLOADS = {
    w.name: w
    for w in (
        # the production entry. Pages 200-300 keep the default shape's mean
        # (~250) but not its spread: at 128 docs, the 2% tail of 2000-page
        # volumes moved a corpus's span total by +-18% from seed to seed and
        # the 5-500 range alone by +-6%, and docs_per_s moved with them
        Workload("solr_write", "job", 128, dict(min_pages=200, max_pages=300, skew_fraction=0.0)),
        # four full 64-doc shards, so the unrepartitioned scan fills four
        # cores; narrow page range, as above.
        # After one warm-up pass the first timed job still ran ~15% slower
        # (5 of 5 seeds), so this cheap workload warms twice.
        Workload(
            "span_seq", "spans", 256,
            dict(min_pages=100, max_pages=150, skew_fraction=0.0), warm_passes=2,
        ),
    )
}


def spark_env(root: Path, work: Path) -> None:
    """Environment the Spark JVM and its Python workers inherit. Must run
    before the first SparkSession: the Arrow-UDF workers import the package
    from PYTHONPATH, and every scratch file stays under `work`."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(root) + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_DRIVER_EXTRA_JAVA_OPTS"] = (
        "-Djava.net.preferIPv6Addresses=false -XX:+UseParallelGC "
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )


def start_session(work: Path) -> SparkSession:
    spark = get_spark(
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.sql.parquet.columnarReaderBatchSize": READER_BATCH_ROWS,
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark: SparkSession) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit. Closing the gateway's stdin is how PySpark tells the JVM to go."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def persistent_rdds(spark: SparkSession) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def cache_cold(spark: SparkSession) -> None:
    """Drop every Spark data cache; refuse to time a run that still holds a
    persisted RDD afterwards."""
    spark.catalog.clearCache()
    left = persistent_rdds(spark)
    if left:
        raise RuntimeError(f"{left} persistent RDDs survive clearCache()")


# ---------------------------------------------------------------- corpus


@dataclass
class Corpus:
    path: Path
    n_clean: int
    n_poison: int
    span_total: int
    big_docs: int
    input_bytes: int
    sample: list[dict]  # seeded sample of clean docs, with their spans


def make_corpus(dest: Path, workload: Workload, seed: int) -> Corpus:
    """generate_corpus in this process (chunk_docs >= n_docs: no pool), then
    read back with pyarrow what the checks need."""
    n = workload.n_docs
    generate_corpus(
        dest, n_docs=n, n_poison=N_POISON, seed=seed, chunk_docs=n, **workload.shape
    )
    table = pq.read_table(dest / "documents_spans.parquet", columns=["doc_id", "spans"])
    lengths = pc.list_value_length(table["spans"])
    idx = sorted(random.Random(seed).sample(range(table.num_rows), ORACLE_SAMPLE_DOCS))
    return Corpus(
        path=dest,
        n_clean=table.num_rows,
        n_poison=pq.read_metadata(dest / "documents_spans_bad.parquet").num_rows,
        span_total=pc.sum(lengths).as_py(),
        big_docs=pc.sum(pc.greater(lengths, PAGE_THRESHOLD)).as_py(),
        input_bytes=dir_bytes(dest),
        sample=table.take(idx).to_pylist(),
    )


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


# ---------------------------------------------------------------- memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of this process's descendants (the Spark JVM and its
    Python workers), sampled every INTERVAL seconds; the process tree is
    re-listed every RESCAN seconds. Both are kept coarse because the
    sampler shares the driver's interpreter lock with the py4j calls that
    plan each job. `reset()` starts a new high-water mark."""

    INTERVAL = 0.1
    RESCAN = 1.0

    def __init__(self) -> None:
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        me, pids, listed = os.getpid(), [], float("-inf")
        while not self._stop.wait(self.INTERVAL):
            if time.monotonic() - listed >= self.RESCAN:
                pids, listed = descendants(me), time.monotonic()
            total = sum(_rss_bytes(p) for p in pids)
            with self._lock:
                self._peak = max(self._peak, total)

    def reset(self) -> None:
        with self._lock:
            self._peak = 0

    def peak_mb(self) -> float:
        with self._lock:
            return self._peak / 2**20


# ---------------------------------------------------------------- jobs


@dataclass
class JobResult:
    wall_s: float
    attempted: int
    completed: int  # output rows + error rows
    ok: bool
    leaked_rdds: int
    detail: dict = field(default_factory=dict)

    @property
    def docs_per_s(self) -> float:
        return self.completed / self.wall_s


def run_job(spark: SparkSession, workload: Workload, corpus: Corpus, out: Path) -> JobResult:
    """One cache-cold call of the workload's entry point, timed, then its
    outputs checked (outside the timed region)."""
    if workload.entry == "job":
        return _solr_write(spark, corpus, out)
    return _span_seq(spark, corpus)


def _solr_write(spark: SparkSession, corpus: Corpus, out: Path) -> JobResult:
    shutil.rmtree(out, ignore_errors=True)
    cache_cold(spark)
    t0 = time.perf_counter()
    m = run_extraction_job(spark, str(corpus.path), str(out))
    wall = time.perf_counter() - t0
    leaked = persistent_rdds(spark)
    n_err = spark.read.parquet(str(out / "errors")).count()
    ok = (
        m["n_docs"] == corpus.n_clean
        and n_err == corpus.n_poison
        and m["span_count"] == corpus.span_total
    )
    return JobResult(
        wall, corpus.n_clean + corpus.n_poison, m["n_docs"] + n_err, ok, leaked,
        {"manifest": m["manifest"], "error_rows": n_err},
    )


def _span_seq(spark: SparkSession, corpus: Corpus) -> JobResult:
    cache_cold(spark)
    obs_out, obs_err = Observation("spans_out"), Observation("spans_err")
    t0 = time.perf_counter()
    out, errors = extract_span_sequences(spark, load_corpus(spark, str(corpus.path)))
    out.observe(
        obs_out, F.count(F.lit(1)).alias("rows"),
        F.sum(F.size("extracted_spans")).alias("spans"),
    ).write.format("noop").mode("overwrite").save()
    errors.observe(obs_err, F.count(F.lit(1)).alias("rows")).write.format(
        "noop"
    ).mode("overwrite").save()
    wall = time.perf_counter() - t0
    leaked = persistent_rdds(spark)
    got, err = obs_out.get, obs_err.get
    ok = (
        got["rows"] == corpus.n_clean
        and err["rows"] == corpus.n_poison
        and got["spans"] == corpus.span_total
    )
    return JobResult(
        wall, corpus.n_clean + corpus.n_poison, got["rows"] + err["rows"], ok,
        leaked, {"error_rows": err["rows"]},
    )


def oracle_check(spark: SparkSession, workload: Workload, corpus: Corpus, out: Path) -> bool:
    """Span-sequence equality on the seeded sample: `ocr` of the written
    documents against oracle_ocr (solr_write, plus the written row count),
    `extracted_spans` against oracle_extracted_spans (span_seq)."""
    ids = [d["doc_id"] for d in corpus.sample]
    if workload.entry == "job":
        data = spark.read.parquet(str(out / "data"))
        rows = data.filter(F.col("id").isin(ids)).select("id", "ocr").collect()
        got = {r["id"]: r["ocr"] for r in rows}
        want = {d["doc_id"]: oracle_ocr(d["spans"]) for d in corpus.sample}
        # the manifest's n_docs, checked on every job, against what was written
        return got == want and data.count() == corpus.n_clean
    out_df, _ = extract_span_sequences(spark, load_corpus(spark, str(corpus.path)))
    rows = out_df.filter(F.col("doc_id").isin(ids)).collect()
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["extracted_spans"]]
        for r in rows
    }
    want = {d["doc_id"]: oracle_extracted_spans(d["spans"]) for d in corpus.sample}
    return got == want
