"""Extraction benchmark: one closed-loop client, cache-cold, JIT-warm.

    python3 perfbench/run.py --workload solr_write --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's corpus from --seed
(sources/synthetic.generate_corpus, in this process), starts a host-fitted
local[<nproc>] session and warms it with untimed passes (session start +
warm-up = setup_s), then calls the workload's entry point back to back for
--seconds, one job at a time, clearing Spark's caches before each call.
Every job's outputs are checked (document conservation, error-sink count,
span totals) and the first job's against the pure-Python oracles on a
seeded sample. The last stdout line is the JSON result; the line before it
carries the detail (per-job samples, corpus generation time, failed_frac,
leaked RDDs).

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(layers.py). Scratch files live in .perfbench_work/ and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path.cwd()
sys.path.insert(0, str(ROOT))  # the package, from the checkout being measured

import harness as H  # noqa: E402

# a job is still started while the deadline has not passed; this many at least
MIN_JOBS = 2


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def log(obj: dict) -> None:
    print(json.dumps(obj, sort_keys=True), flush=True)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    args = parse_args(argv)
    workload = H.WORKLOADS.get(args.workload)
    if workload is None:
        raise SystemExit(f"unknown workload {args.workload!r}; have {sorted(H.WORKLOADS)}")
    work = ROOT / ".perfbench_work" / f"{workload.name}-{os.getpid()}"
    H.spark_env(ROOT, work)
    tempfile.tempdir = None  # re-read TMPDIR
    try:
        return _run(workload, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run's directory is still there
            pass


def _run(workload, args, work: Path) -> int:
    t0 = time.perf_counter()
    corpus = H.make_corpus(work / "corpus", workload, args.seed)
    corpus_s = time.perf_counter() - t0

    with H.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = H.start_session(work)
        start_s = time.perf_counter() - t0
        try:
            for i in range(workload.warm_passes):
                if not H.run_job(spark, workload, corpus, work / f"out-warm{i}").ok:
                    raise RuntimeError("warm-up pass failed its output checks")
            setup_s = time.perf_counter() - t0
            if args.trace:
                return _traced(spark, workload, corpus, work, start_s)
            jobs, peaks = _timed(spark, workload, corpus, work, rss, args.seconds)
        finally:
            H.stop_session(spark)

    attempted = sum(j.attempted for j in jobs)
    failed = sum(j.attempted - (j.completed if j.ok else 0) for j in jobs)
    rates = [j.docs_per_s if j.ok else 0.0 for j in jobs]
    log({
        "workload": workload.name, "seed": args.seed, "samples": len(jobs),
        "docs_per_s_all": rates, "peak_rss_mb_all": peaks,
        "failed_frac": {"value": failed / attempted, "unit": "ratio"},
        "corpus_s": corpus_s, "session_start_s": start_s,
        "leaked_rdds_per_call": max(j.leaked_rdds for j in jobs),
        "corpus": {"docs": corpus.n_clean, "poison": corpus.n_poison,
                   "spans": corpus.span_total, "mb": corpus.input_bytes / 2**20},
    })
    log({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "docs_per_s": metric(statistics.median(rates), "docs/s"),
            "setup_s": metric(setup_s, "s"),
            "peak_rss_mb": metric(statistics.median(peaks), "MB"),
        },
    })
    return 0


def _timed(spark, workload, corpus, work: Path, rss, seconds: float):
    """Closed loop, one client: the next job starts when the previous one
    and its checks are done."""
    jobs, peaks = [], []
    deadline = time.perf_counter() + seconds
    while len(jobs) < MIN_JOBS or time.perf_counter() < deadline:
        out = work / f"out-{len(jobs)}"
        rss.reset()
        try:
            job = H.run_job(spark, workload, corpus, out)
            if not jobs:
                job.ok &= H.oracle_check(spark, workload, corpus, out)
        except Exception:  # a failed job counts all its documents as failed
            traceback.print_exc()
            job = H.JobResult(float("inf"), corpus.n_clean + corpus.n_poison, 0, False, 0)
        peaks.append(rss.peak_mb())
        jobs.append(job)
        shutil.rmtree(out, ignore_errors=True)
    return jobs, peaks


def _traced(spark, workload, corpus, work: Path, start_s: float) -> int:
    import layers as L

    vals, ok = L.trace(spark, workload, corpus, work, start_s)
    attempted = corpus.n_clean + corpus.n_poison
    log({
        "correct": bool(ok),
        "attempted": attempted,
        "failed": 0 if ok else attempted,
        "metrics": {k: metric(v, L.UNITS[k]) for k, v in vals.items()},
    })
    return 0


if __name__ == "__main__":
    sys.exit(main())
