#!/usr/bin/env python
"""Extra benchmarks for the optimization rounds (guide §1.4 noop-sink
isolation). NOT part of the driver contract — bench.py stays frozen.

Modes:
  python bench_extra.py time [q1,q2,...]      # warmup + best-of-N per query
  python bench_extra.py plans OUTDIR [qs]     # dump .explain("formatted")
  python bench_extra.py ab NAME_A NAME_B      # interleaved A/B of two
                                              # queries (same JVM), best-of
  python bench_extra.py calls [K] [SEED]      # K run_extraction_job calls
                                              # (default 3, seed 14) in one
                                              # session: per call wall time,
                                              # Spark jobs, Py4J round trips;
                                              # the last call's jobs listed
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS,
     BENCH_EXTRA_RUNS (default 3).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("BENCH_EXTRA_RUNS", "3"))

DEFAULT_QS = (
    "ocr_concat,span_sequence,allfields_concat,pricing_summary,"
    "regional_customers,topk_orders_per_cust,event_sequence_concat,"
    "windowed_counts,dedup_minhash,dedup_lsh_pairs,similarity_topk,"
    "lang_id,doc_fingerprint"
)


def _mat(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _get_spark():
    from index_search_monorepo_spark.session import get_spark

    return get_spark(app_name="bench_extra")


def _queries():
    import __spark_entry__ as entry

    return entry.queries()


def cmd_time(qnames: list[str]) -> None:
    spark = _get_spark()
    qmap = _queries()
    out: dict[str, dict] = {}
    for name in qnames:
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        df = qmap[name](spark, SF_DIR)
        _mat(df)  # warmup
        samples = []
        for _ in range(RUNS):
            t0 = time.time()
            _mat(df)
            samples.append(round(time.time() - t0, 3))
        out[name] = {"best": min(samples), "samples": samples}
        print(f"{name}: best={min(samples)} samples={samples}", flush=True)
    print(
        "BENCH_EXTRA "
        + json.dumps({"sf_dir": SF_DIR, "runs": RUNS, "queries": out})
    )
    spark.stop()


def cmd_plans(outdir: str, qnames: list[str], suffix: str) -> None:
    spark = _get_spark()
    qmap = _queries()
    od = Path(outdir)
    od.mkdir(parents=True, exist_ok=True)
    for name in qnames:
        df = qmap[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        (od / f"{name}_{suffix}.txt").write_text(plan)
        print(f"wrote {od / f'{name}_{suffix}.txt'}", flush=True)
    spark.stop()


def cmd_ab(names: list[str]) -> None:
    """Interleaved A/B of two (or more) registered queries in ONE JVM:
    warmup each, then alternate timed runs so ambient load drift hits
    both variants equally. Best-of per variant is the estimator."""
    spark = _get_spark()
    qmap = _queries()
    dfs = {n: qmap[n](spark, SF_DIR) for n in names}
    for n in names:
        _mat(dfs[n])  # warmups
    samples: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(RUNS):
        for n in names:
            t0 = time.time()
            _mat(dfs[n])
            samples[n].append(round(time.time() - t0, 3))
    for n in names:
        print(f"{n}: best={min(samples[n])} samples={samples[n]}")
    print("BENCH_EXTRA_AB " + json.dumps({"sf_dir": SF_DIR, "samples": samples}))
    spark.stop()


def _py_site() -> str:
    """Innermost package frame on the Python stack, as `module.py:line fn`."""
    pkg = str(REPO / "index_search_monorepo_spark") + os.sep
    f = sys._getframe(2)
    while f is not None and not f.f_code.co_filename.startswith(pkg):
        f = f.f_back
    if f is None:
        return "?"
    rel = os.path.relpath(f.f_code.co_filename, pkg)
    return f"{rel}:{f.f_lineno} {f.f_code.co_name}"


def cmd_calls(k: int, seed: int) -> None:
    """The fixed cost of the extraction job, call by call. The corpus has
    perfbench's solr_write shape (128 docs, 200-300 pages, 5 poison). Each
    call's Spark jobs are those of a job group set around it; its Py4J round
    trips are counted by wrapping the gateway client's send_command. A job
    is attributed to the Py4J call in flight at its submission, named by the
    package frame that made that call."""
    import shutil
    import tempfile

    from index_search_monorepo_spark.plans.pipeline import run_extraction_job
    from index_search_monorepo_spark.sources.synthetic import generate_corpus

    n_docs = 128
    tmp = Path(tempfile.mkdtemp(prefix="bench_extra_calls-"))
    spark = None
    try:
        corpus = generate_corpus(
            tmp / "corpus", n_docs=n_docs, n_poison=5, seed=seed,
            chunk_docs=n_docs, min_pages=200, max_pages=300, skew_fraction=0.0,
        )
        spark = _get_spark()
        sc = spark.sparkContext
        client = sc._gateway._gateway_client
        send = client.send_command
        calls: list[tuple[float, float, str]] = []

        def counted(*args, **kwargs):
            t0 = time.time()
            try:
                return send(*args, **kwargs)
            finally:
                calls.append((t0, time.time(), _py_site()))

        for i in range(k):
            group = f"bench_extra_calls_{i}"
            sc.setJobGroup(group, group)
            calls.clear()
            client.send_command = counted
            t0 = time.perf_counter()
            try:
                run_extraction_job(spark, str(corpus), str(tmp / f"out{i}"))
            finally:
                wall = time.perf_counter() - t0
                del client.send_command  # the class's method again
                sc._jsc.clearJobGroup()
            jobs = sorted(sc.statusTracker().getJobIdsForGroup(group))
            print(
                f"call {i}: wall_s={wall:.2f} spark_jobs={len(jobs)} "
                f"py4j_calls={len(calls)}",
                flush=True,
            )
        store = sc._jsc.sc().statusStore()
        print("last call's jobs: id tasks duration_s kind call_site")
        for j in jobs:
            d = store.job(j)
            # AQE runs each broadcast build and each query stage as a job
            tags = d.jobTags().mkString()
            kind = "broadcast" if "broadcast exchange" in tags else "stage"
            start = d.submissionTime().get().getTime() / 1000
            end = d.completionTime().get().getTime() / 1000
            # the job ran inside the longest Py4J call spanning its submission
            # (clock ticks are 1 ms on the JVM side)
            spans = [c for c in calls if c[0] - 1e-3 <= start <= c[1] + 1e-3]
            site = max(spans, key=lambda c: c[1] - c[0])[2] if spans else "?"
            print(f"  {j} {d.numTasks()} {end - start:.3f} {kind} {site}")
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    if mode == "time":
        qs = (sys.argv[2] if len(sys.argv) > 2 else DEFAULT_QS).split(",")
        cmd_time([q for q in qs if q])
    elif mode == "plans":
        outdir = sys.argv[2]
        qs = (sys.argv[3] if len(sys.argv) > 3 else DEFAULT_QS).split(",")
        suffix = sys.argv[4] if len(sys.argv) > 4 else "before"
        cmd_plans(outdir, [q for q in qs if q], suffix)
    elif mode == "ab":
        cmd_ab(sys.argv[2].split(","))
    elif mode == "calls":
        cmd_calls(
            int(sys.argv[2]) if len(sys.argv) > 2 else 3,
            int(sys.argv[3]) if len(sys.argv) > 3 else 14,
        )
    else:
        raise SystemExit(f"unknown mode {mode}")
