"""End-to-end: assembled §1.3 documents, checkpointed run, resume anti-join,
salted repartition."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from index_search_monorepo_spark.operators.assemble import OUTPUT_FIELD_ORDER
from index_search_monorepo_spark.operators.checkpoint import MANIFEST_DIR
from index_search_monorepo_spark.operators.skew import salted_repartition
from index_search_monorepo_spark.plans.pipeline import (
    extract_documents,
    run_extraction_job,
)
from index_search_monorepo_spark.oracle.reference_oracle import oracle_ocr


def test_assembled_documents(spark, tables):
    docs, errors = extract_documents(spark, tables, page_threshold=20)
    assert errors.count() == tables["documents_spans_bad"].count()
    rows = {r["id"]: r for r in docs.collect()}
    assert len(rows) == tables["documents_spans"].count()
    # schema = §1.3 field order + metrics col
    assert docs.columns == OUTPUT_FIELD_ORDER + ["span_count"]
    assert "ht_id" not in docs.columns  # popped (:181)
    assert "fullrecord" not in docs.columns  # popped (:166)
    # ocr matches oracle for every doc
    spans = {
        r["doc_id"]: [s.asDict() for s in r["spans"]]
        for r in tables["documents_spans"].collect()
    }
    for d, r in rows.items():
        assert r["ocr"] == oracle_ocr(spans[d]), d
        assert r["vol_id"] == d
        assert r["allfields"] is not None
        assert r["coll_id"] is not None


def test_checkpointed_run_and_resume(spark, tables, corpus_dir, tmp_path):
    out_dir = str(tmp_path / "out")
    m1 = run_extraction_job(spark, corpus_dir, out_dir, n_buckets=8)
    assert m1["n_docs"] == tables["documents_spans"].count()
    assert m1["span_count"] > 0
    files = list((Path(out_dir) / MANIFEST_DIR).glob("*.json"))
    assert files
    manifest = json.loads(files[0].read_text())
    assert all(r["status"] == "completed" for r in manifest)
    assert all(r["input_snapshot_id"].startswith("corpus:") for r in manifest)
    # output readable + partitioned by bucket
    written = spark.read.parquet(f"{out_dir}/data")
    assert written.count() == m1["n_docs"]
    # resume: everything already completed -> zero new docs
    m2 = run_extraction_job(spark, corpus_dir, out_dir, n_buckets=8)
    assert m2["n_docs"] == 0
    # errors appended twice (two runs)
    errs = spark.read.parquet(f"{out_dir}/errors")
    assert errs.count() == 2 * tables["documents_spans_bad"].count()


def test_checkpointed_run_caches_nothing_and_manifest_recounts(
    spark, corpus_dir, tmp_path
):
    """The job is one write over an uncached plan: no persistent RDD
    survives it, and the manifest's per-bucket (n_docs, span_count),
    observed during the write, equal a recount of the written data."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    # other tests' localCheckpoints stay registered past clearCache()
    spark.catalog.clearCache()
    before = set(persistent().keySet())
    out_dir = str(tmp_path / "out")
    m = run_extraction_job(spark, corpus_dir, out_dir, n_buckets=6)
    assert set(persistent().keySet()) == before
    manifest = json.loads(Path(m["manifest"]).read_text())
    recount = {
        r["bucket"]: (r["n_docs"], r["span_count"])
        for r in spark.read.parquet(f"{out_dir}/data")
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"), F.sum("span_count").alias("span_count"))
        .collect()
    }
    assert {r["bucket"]: (r["n_docs"], r["span_count"]) for r in manifest} == recount
    assert len(manifest) == m["buckets"] == len(recount) > 1


def test_run_extraction_job_rejects_bad_n_buckets(spark, corpus_dir, tmp_path):
    out_dir = tmp_path / "out"
    for n in (0, -3):
        with pytest.raises(ValueError, match="n_buckets"):
            run_extraction_job(spark, corpus_dir, str(out_dir), n_buckets=n)
    assert not out_dir.exists()  # refused before the error-sink append


def test_salted_repartition_balances_pages(spark, tables, monkeypatch):
    # sizing must come from file metadata / parameters, never a pre-scan
    # job on the input (VERDICT r01 #4): fail the test if any driver-side
    # collect fires while building the plan.
    from pyspark.sql import DataFrame

    def _boom(self):  # pragma: no cover - should never run
        raise AssertionError("salted_repartition ran a driver-side pre-pass")

    monkeypatch.setattr(DataFrame, "collect", _boom)
    df = salted_repartition(tables["documents_spans"], min_partitions=4)
    monkeypatch.undo()
    sizes = (
        df.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.sum(F.size("spans")).alias("w"))
        .collect()
    )
    assert len(sizes) >= 4
    total = sum(r["w"] for r in sizes)
    assert total == tables["documents_spans"].select(
        F.sum(F.size("spans"))
    ).collect()[0][0]


def test_salted_repartition_explicit_count(spark, tables):
    df = salted_repartition(tables["documents_spans"], num_partitions=6, min_partitions=2)
    assert df.rdd.getNumPartitions() == 6


def test_spread_small_scan_null_keys_spread(spark):
    """NULL keys must not share one hash (xxhash64(NULL) is the seed):
    they spread over several partitions, and a non-null key keeps the
    partition of its plain xxhash64 spread."""
    from index_search_monorepo_spark.operators.skew import spread_small_scan

    df = spark.range(400).select(
        F.when(F.col("id") % 4 == 0, F.col("id").cast("string")).alias("k"),
        "id",
    ).coalesce(1)
    parts = spread_small_scan(df, key="k").select(
        "k", "id", F.spark_partition_id().alias("p")
    ).collect()
    assert len(parts) == 400
    assert len({r["p"] for r in parts if r["k"] is None}) > 1
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    plain = df.repartition(
        n, F.pmod(F.xxhash64("k"), F.lit(100 * n))
    ).select("k", F.spark_partition_id().alias("p"))
    want = {r["k"]: r["p"] for r in plain.collect() if r["k"] is not None}
    assert {r["k"]: r["p"] for r in parts if r["k"] is not None} == want


class TestKeySkewReport:
    def test_hand_exact_and_salt_math(self, spark):
        rows = [(k,) for k in ["hot"] * 95 + ["warm"] * 10 + ["cold"] * 2]
        df = spark.createDataFrame(rows, "k string")
        from index_search_monorepo_spark.operators.skew import (
            key_skew_report,
        )

        got = {
            r["key"]: (r["cnt"], r["share_pmille"], r["n_salts"])
            for r in key_skew_report(df, "k", target_rows=10).collect()
        }
        # 107 rows total: hot 95/107 = 887 pmille, ceil(95/10) = 10 salts
        assert got["hot"] == (95, 887, 10)
        assert got["warm"] == (10, 93, 1)
        assert got["cold"] == (2, 18, 1)

    def test_top_k_order_and_duckdb_parity(self, spark):
        import duckdb

        from index_search_monorepo_spark.operators.skew import (
            key_skew_report,
            skew_report_oracle_sql,
        )

        ev = spark.read.parquet(
            "/root/testdata/sf0.001/events.parquet"
        )
        got = [
            tuple(r)
            for r in key_skew_report(
                ev, "user_id", target_rows=25, top_k=5
            ).collect()
        ]
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT user_id FROM read_parquet("
            "'/root/testdata/sf0.001/events.parquet')"
        )
        cte = skew_report_oracle_sql("events", "user_id", 25, 5)
        want = con.execute(
            f"WITH {cte.lstrip()} SELECT key, cnt, share_pmille,"
            f" n_salts FROM skw_out"
        ).fetchall()
        assert got == want  # including the (cnt DESC, key) order

    def test_plan_shape(self, spark):
        from index_search_monorepo_spark.operators.skew import (
            key_skew_report,
        )

        ev = spark.read.parquet(
            "/root/testdata/sf0.001/events.parquet"
        )
        plan = (
            key_skew_report(ev, "user_id", target_rows=25)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "HashAggregate" in plan
        assert "TakeOrderedAndProject" in plan

    def test_validation(self, spark):
        from index_search_monorepo_spark.operators.skew import (
            key_skew_report,
        )

        df = spark.createDataFrame([("a",)], "k string")
        import pytest

        with pytest.raises(ValueError):
            key_skew_report(df, "k", target_rows=0)
        with pytest.raises(ValueError):
            key_skew_report(df, "k", target_rows=5, top_k=0)


def test_publish_snapshot_versions_extraction_output(spark, tables, tmp_path):
    """extract → publish v1 → re-extract a subset → publish v2 → the diff
    is exactly the re-extracted set and v1 still reads the originals."""
    from pyspark.sql import functions as F

    from index_search_monorepo_spark.operators import snapshots as S
    from index_search_monorepo_spark.plans.pipeline import (
        extract_documents,
        publish_snapshot,
    )

    docs, _ = extract_documents(spark, tables, include_poison=False)
    docs = docs.select("id", "ocr", "span_count")
    tdir = str(tmp_path / "corpus_table")
    m1 = publish_snapshot(spark, docs, tdir)
    assert m1["version"] == 1
    n = docs.count()

    # simulate a re-OCR of a deterministic subset
    redo = docs.filter(F.crc32(F.col("id")) % 5 == 0).withColumn(
        "ocr", F.concat(F.col("ocr"), F.lit(" [reocr]"))
    )
    n_redo = redo.count()
    assert 0 < n_redo < n
    m2 = publish_snapshot(spark, redo, tdir)
    assert m2["version"] == 2 and m2["n_carried"] >= 0

    v2 = S.read_snapshot(spark, tdir)
    assert v2.count() == n  # upserts only, no inserts
    assert v2.filter(F.col("ocr").endswith("[reocr]")).count() == n_redo
    v1 = S.read_snapshot(spark, tdir, version=1)
    assert v1.filter(F.col("ocr").endswith("[reocr]")).count() == 0

    changed = S.snapshot_diff_keys(spark, tdir, 1, 2)
    got = {r["id"] for r in changed.collect()}
    want = {r["id"] for r in redo.select("id").collect()}
    assert got == want
