"""North-rule deployment surface: spark-submit --py-files runs the
extraction job end-to-end with the library resolved from the zip archive
(driver + executors), from a cwd where the repo package is NOT importable.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]


def _spark_submit() -> str | None:
    cand = shutil.which("spark-submit")
    if cand:
        return cand
    import pyspark

    bin_path = Path(pyspark.__file__).parent / "bin" / "spark-submit"
    return str(bin_path) if bin_path.exists() else None


def test_job_session_turns_off_dataframe_debugging():
    """spark-submit runs build the session from the job's own builder, so
    it must carry the conf that get_spark sets."""
    sys.path.insert(0, str(REPO))
    from index_search_monorepo_spark.session import DATAFRAME_DEBUGGING
    from jobs.extract_job import session_builder

    assert session_builder()._options[DATAFRAME_DEBUGGING] == "false"


@pytest.mark.slow
def test_spark_submit_pyfiles(tmp_path):
    submit = _spark_submit()
    if submit is None:
        pytest.skip("spark-submit not available")

    sys.path.insert(0, str(REPO))
    from index_search_monorepo_spark.sources.synthetic import generate_corpus
    from jobs.make_pyfiles import build

    corpus = generate_corpus(
        tmp_path / "corpus", n_docs=12, n_poison=1, min_pages=2, max_pages=6
    )
    zip_path = build(tmp_path / "dist")

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            submit,
            "--master", "local[4]",
            "--py-files", str(zip_path),
            "--conf", "spark.ui.enabled=false",
            str(REPO / "jobs" / "extract_job.py"),
            "--corpus-dir", str(corpus),
            "--output-dir", str(tmp_path / "out"),
            "--n-buckets", "4",
            "--shuffle-partitions", "4",
            "--publish-table", str(tmp_path / "table"),
        ],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),  # repo not importable from here except via the zip
        timeout=600,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    metrics = json.loads(
        next(ln for ln in proc.stdout.splitlines() if ln.startswith("{"))
    )
    assert metrics["mode"] == "batch" and metrics["n_docs"] == 12
    assert (tmp_path / "out" / "_checkpoints").exists()
    assert metrics["snapshot_version"] == 1
    assert (tmp_path / "table" / "_snapshots" / "v-000001.json").exists()
