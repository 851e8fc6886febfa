"""Structured-Streaming incremental mode (SURVEY.md §2.8, R1-R6)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from index_search_monorepo_spark.operators.errors import split_errors
from index_search_monorepo_spark.operators.extraction import with_extracted_spans
from index_search_monorepo_spark.streaming.incremental import (
    SPANS_SCHEMA_TS,
    incremental_extraction,
    read_spans_stream,
    windowed_ingest_metrics,
)


def _land_in_files(spark, corpus_dir, land_dir, n_files=4):
    src = spark.read.parquet(f"{corpus_dir}/documents_spans.parquet").unionByName(
        spark.read.parquet(f"{corpus_dir}/documents_spans_bad.parquet")
    )
    src.repartition(n_files).write.mode("overwrite").parquet(str(land_dir))
    return src


def test_incremental_matches_batch(spark, corpus_dir, tmp_path):
    land = tmp_path / "landed"
    out = tmp_path / "out"
    src = _land_in_files(spark, corpus_dir, land)

    incremental_extraction(
        spark, str(land), str(out), max_files_per_trigger=1, await_termination=True
    )

    got = spark.read.parquet(str(out / "extracted"))
    clean, errors = split_errors(src)
    want = with_extracted_spans(clean).select("doc_id", "extracted_spans")

    assert got.count() == want.count()
    # span-sequence equality per doc across the two modes
    g = got.select("doc_id", F.to_json("extracted_spans").alias("j"))
    w = want.select("doc_id", F.to_json("extracted_spans").alias("j"))
    assert g.exceptAll(w).count() == 0 and w.exceptAll(g).count() == 0

    # R2: poisoned docs landed in the error sink, not the output
    err = spark.read.parquet(str(out / "errors"))
    assert err.count() == errors.count()
    assert set(err.columns) >= {"service_name", "error_message", "ht_id"}


def test_poll_loop_picks_up_late_files(spark, corpus_dir, tmp_path):
    """R6 — processingTime poll loop (document_retriever_service's blocking
    consume): the query stays up on a cadence and ingests files that land
    AFTER it started; the caller stops it."""
    import shutil
    import time

    land = tmp_path / "landed"
    stage = tmp_path / "stage"
    out = tmp_path / "out"
    _land_in_files(spark, corpus_dir, stage, n_files=2)
    land.mkdir()
    files = sorted(p for p in stage.glob("*.parquet"))
    assert len(files) == 2
    shutil.copy(files[0], land / files[0].name)

    q = incremental_extraction(
        spark, str(land), str(out), poll_interval="1 seconds"
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            try:
                n1 = spark.read.parquet(str(out / "extracted")).count()
                if n1 > 0:
                    break
            except Exception:
                pass
            time.sleep(0.5)
        assert n1 > 0
        # second file lands while the query is live -> next poll ingests it
        shutil.copy(files[1], land / files[1].name)
        bad = spark.read.parquet(f"{corpus_dir}/documents_spans_bad.parquet").count()
        total = spark.read.parquet(str(stage)).count() - bad
        while time.time() < deadline:
            n2 = spark.read.parquet(str(out / "extracted")).count()
            if n2 >= total:
                break
            time.sleep(0.5)
        assert n2 >= total
    finally:
        q.stop()


def test_incremental_resume_is_idempotent(spark, corpus_dir, tmp_path):
    """Re-running availableNow over the same checkpoint adds nothing; new
    files are picked up incrementally (R5 resume semantics)."""
    land = tmp_path / "landed"
    out = tmp_path / "out"
    _land_in_files(spark, corpus_dir, land, n_files=2)

    incremental_extraction(spark, str(land), str(out))
    n1 = spark.read.parquet(str(out / "extracted")).count()
    incremental_extraction(spark, str(land), str(out))  # no new files
    assert spark.read.parquet(str(out / "extracted")).count() == n1

    # land one more file -> only the delta is processed
    extra = spark.read.parquet(str(land)).limit(5).withColumn(
        "doc_id", F.concat(F.lit("resume."), F.col("doc_id"))
    )
    extra.coalesce(1).write.mode("append").parquet(str(land))
    incremental_extraction(spark, str(land), str(out))
    n2 = spark.read.parquet(str(out / "extracted")).count()
    assert n2 == n1 + 5


def test_windowed_ingest_metrics(spark, tmp_path):
    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (
            f"doc{i}",
            [("txt", f"page {i}", f"TXT{i:08d}", 1), ("img", "", f"IMG{i:08d}", 1)],
            base + dt.timedelta(seconds=40 * i),
        )
        for i in range(6)
    ]
    src_dir = tmp_path / "ts_landed"
    spark.createDataFrame(rows, SPANS_SCHEMA_TS).coalesce(1).write.parquet(
        str(src_dir)
    )

    stream = read_spans_stream(spark, str(src_dir), with_ts=True)
    q = (
        windowed_ingest_metrics(stream, window="1 minute", watermark="0 seconds")
        .writeStream.format("memory")
        .queryName("ingest_metrics")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["window_start"].minute: (r["n_docs"], r["n_spans"], r["n_txt_spans"])
        for r in spark.sql("SELECT * FROM ingest_metrics").collect()
    }
    # 6 docs at 40s spacing -> event times 0,40,80,120,160,200s; 1-min tumbling
    # windows hold minute0={0,40}, minute1={80}, minute2={120,160},
    # minute3={200}. In append mode only windows strictly before the final
    # watermark (max event time 200s with 0s delay) emit: minutes 0,1,2.
    assert got == {0: (2, 4, 2), 1: (1, 2, 1), 2: (2, 4, 2)}


def test_streaming_hll_sketch_parity(spark, tmp_path):
    """The sketch family is streaming-legal as-is: hll_sketch is ONE
    groupBy(bucket).max — a commutative/idempotent aggregation Spark can
    maintain incrementally (complete mode). A drained stream's register
    vector must equal the batch build over the same rows."""
    from index_search_monorepo_spark.operators import sketches as SK

    src = str(tmp_path / "hll_land")
    rows = [(i, f"tok{i % 37} tok{i % 11}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    toks = stream.select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    q = (
        SK.hll_sketch(toks, "tok", p=6)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("hll_stream")
        .option(
            "checkpointLocation", str(tmp_path / "hll_ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        map(tuple, spark.sql("SELECT bucket, r FROM hll_stream").collect())
    )
    want = sorted(
        map(
            tuple,
            SK.hll_sketch(
                df.select(F.explode(F.split("text", " ")).alias("tok")),
                "tok",
                p=6,
            ).collect(),
        )
    )
    assert got == want


def test_streaming_lsh_dedup_cross_batch(spark, tmp_path):
    """Online LSH: a near-duplicate arriving in a LATER micro-batch is
    flagged against the batch-1 original (keyed bucket state crosses
    batches); fresh docs claim their own buckets. Streaming dup pairs are
    a subset of batch LSH candidate pairs on the same corpus (same bucket
    spec)."""
    import shutil

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from index_search_monorepo_spark.operators.dedup import (
        lsh_candidate_pairs,
    )
    from index_search_monorepo_spark.streaming.incremental import (
        fold_lsh_verdicts,
        streaming_lsh_dedup,
    )

    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("text_concat", StringType()),
            StructField("ingest_ts", LongType()),
        ]
    )
    base = (
        "the quick brown fox jumps over the lazy dog near the old river "
        "bank while seven wizards brew strong coffee at dawn every single "
        "day of the long cold winter season in the northern mountain town"
    )
    variant = base.replace("coffee", "tea")  # near-dup: one word differs
    fresh = (
        "completely different subject matter entirely unrelated words "
        "about database systems query optimization and distributed "
        "shuffle exchange partitioning strategies for analytical engines"
    )
    b1 = [("docA", base, 100), ("docB", fresh, 101)]
    b2 = [("docC", variant, 200), ("docC2", base, 201)]
    land = tmp_path / "docs"
    land.mkdir()
    for i, batch in enumerate((b1, b2)):
        stage = tmp_path / f"stage{i}"
        spark.createDataFrame(batch, schema).coalesce(1).write.parquet(str(stage))
        shutil.copy(next(stage.glob("*.parquet")), land / f"b{i}.parquet")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(land))
    )
    q = (
        streaming_lsh_dedup(stream)
        .writeStream.format("memory")
        .queryName("lsh_verdicts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    verdicts = spark.sql("SELECT * FROM lsh_verdicts")
    folded = {r["doc_id"]: r for r in fold_lsh_verdicts(verdicts).collect()}
    assert set(folded) == {"docA", "docB", "docC", "docC2"}
    # batch-1 docs claimed their own buckets
    assert not folded["docA"]["is_dup"] and not folded["docB"]["is_dup"]
    # exact copy in batch 2 collides on EVERY band with docA
    assert folded["docC2"]["is_dup"] and folded["docC2"]["dup_of"] == "docA"
    # one-word variant collides on at least one band -> near-dup of docA
    assert folded["docC"]["is_dup"] and folded["docC"]["dup_of"] == "docA"
    # parity: every streaming dup pair is a batch LSH candidate pair
    corpus = spark.createDataFrame(b1 + b2, schema)
    batch_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(corpus, text_col="text_concat").collect()
    }
    for doc, row in folded.items():
        if row["is_dup"]:
            pair = tuple(sorted((doc, row["dup_of"])))
            assert pair in batch_pairs


def test_streaming_lsh_dedup_against_static_index(spark, tmp_path):
    """Stream-static bridge: with the persisted corpus bucket index
    (dedup.lsh_band_index) passed in, a stream doc duplicating a DAY-0
    CORPUS doc is flagged against the corpus claimer (which never
    entered the stream), a fresh stream doc claims its buckets via
    state, and a later copy of the fresh doc flags against the stream
    claimer — batch and stream verdicts share one bucket spec."""
    import shutil

    import pandas as pd
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from index_search_monorepo_spark.operators.dedup import lsh_band_index
    from index_search_monorepo_spark.streaming.incremental import (
        fold_lsh_verdicts,
        streaming_lsh_dedup,
    )

    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("text_concat", StringType()),
            StructField("ingest_ts", LongType()),
        ]
    )
    corpus_text = (
        "the quick brown fox jumps over the lazy dog near the old river "
        "bank while seven wizards brew strong coffee at dawn every single "
        "day of the long cold winter season in the northern mountain town"
    )
    fresh_text = (
        "completely different subject matter entirely unrelated words "
        "about database systems query optimization and distributed "
        "shuffle exchange partitioning strategies for analytical engines"
    )
    index = lsh_band_index(
        spark.createDataFrame(
            pd.DataFrame(
                {"doc_id": ["corpus0"], "text": [corpus_text]}
            )
        )
    )
    b1 = [("s_copy", corpus_text, 100), ("s_new", fresh_text, 101)]
    b2 = [("s_new_copy", fresh_text, 200)]
    land = tmp_path / "docs"
    land.mkdir()
    for i, batch in enumerate((b1, b2)):
        stage = tmp_path / f"stage{i}"
        spark.createDataFrame(batch, schema).coalesce(1).write.parquet(
            str(stage)
        )
        shutil.copy(next(stage.glob("*.parquet")), land / f"b{i}.parquet")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(land))
    )
    q = (
        streaming_lsh_dedup(stream, index=index)
        .writeStream.format("memory")
        .queryName("lsh_verdicts_idx")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    folded = {
        r["doc_id"]: r
        for r in fold_lsh_verdicts(
            spark.sql("SELECT * FROM lsh_verdicts_idx")
        ).collect()
    }
    assert set(folded) == {"s_copy", "s_new", "s_new_copy"}
    # duplicate of a corpus doc flags against the index claimer — a doc
    # that never appeared on the stream
    assert folded["s_copy"]["is_dup"]
    assert folded["s_copy"]["dup_of"] == "corpus0"
    # fresh doc claims its (index-absent) buckets through state
    assert not folded["s_new"]["is_dup"]
    # later copy of the fresh doc flags against the STREAM claimer
    assert folded["s_new_copy"]["is_dup"]
    assert folded["s_new_copy"]["dup_of"] == "s_new"


def test_streaming_lsh_within_batch_determinism(spark, tmp_path):
    """Two copies in the SAME micro-batch: the (ts, doc_id)-first row wins
    the bucket deterministically."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from index_search_monorepo_spark.streaming.incremental import (
        fold_lsh_verdicts,
        streaming_lsh_dedup,
    )

    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("text_concat", StringType()),
            StructField("ingest_ts", LongType()),
        ]
    )
    text = (
        "identical content rows landing in one micro batch must choose "
        "one deterministic winner by timestamp then id ordering rules"
    )
    land = tmp_path / "docs"
    land.mkdir()
    spark.createDataFrame(
        [("z_late", text, 5), ("a_early", text, 3)], schema
    ).coalesce(1).write.parquet(str(tmp_path / "stage"))
    import shutil

    shutil.copy(
        next((tmp_path / "stage").glob("*.parquet")), land / "b0.parquet"
    )
    stream = spark.readStream.schema(schema).parquet(str(land))
    q = (
        streaming_lsh_dedup(stream)
        .writeStream.format("memory")
        .queryName("lsh_verdicts2")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    folded = {
        r["doc_id"]: r
        for r in fold_lsh_verdicts(
            spark.sql("SELECT * FROM lsh_verdicts2")
        ).collect()
    }
    assert not folded["a_early"]["is_dup"]
    assert folded["z_late"]["is_dup"] and folded["z_late"]["dup_of"] == "a_early"


def test_streaming_lsh_state_ttl_expires(spark, tmp_path):
    """TTL-bounded bucket state: after the processing-time timeout fires,
    a re-arrival of the same content claims the bucket fresh (the
    dropDuplicatesWithinWatermark trade restated for LSH state)."""
    import shutil
    import time

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from index_search_monorepo_spark.streaming.incremental import (
        fold_lsh_verdicts,
        streaming_lsh_dedup,
    )

    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("text_concat", StringType()),
            StructField("ingest_ts", LongType()),
        ]
    )
    text = (
        "bucket state must expire after the processing time timeout so a "
        "late duplicate is readmitted as the new first claimer of it all"
    )
    land = tmp_path / "docs"
    land.mkdir()
    spark.createDataFrame([("orig", text, 1)], schema).coalesce(1).write.parquet(
        str(tmp_path / "s0")
    )
    shutil.copy(next((tmp_path / "s0").glob("*.parquet")), land / "b0.parquet")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = (
            streaming_lsh_dedup(
                spark.readStream.schema(schema).parquet(str(land)),
                state_ttl_ms=1,
            )
            .writeStream.format("memory")
            .queryName("lsh_ttl")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 seconds")
            .start()
        )
        return q

    q = run_once()
    try:
        # batch 1 lands; then let the 1 ms TTL pass a few trigger cycles so
        # the timeout batch evicts the bucket state
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql("SELECT count(*) c FROM lsh_ttl").collect()[0]["c"] > 0:
                break
            time.sleep(1)
        time.sleep(4)  # > TTL + trigger interval: state eviction batches run
        spark.createDataFrame(
            [("late_copy", text, 99)], schema
        ).coalesce(1).write.parquet(str(tmp_path / "s1"))
        shutil.copy(
            next((tmp_path / "s1").glob("*.parquet")), land / "b1.parquet"
        )
        deadline = time.time() + 60
        while time.time() < deadline:
            n = spark.sql(
                "SELECT count(*) c FROM lsh_ttl WHERE doc_id = 'late_copy'"
            ).collect()[0]["c"]
            if n > 0:
                break
            time.sleep(1)
    finally:
        q.stop()
    folded = {
        r["doc_id"]: r
        for r in fold_lsh_verdicts(spark.sql("SELECT * FROM lsh_ttl")).collect()
    }
    assert "late_copy" in folded, "second batch never processed"
    # the original's buckets expired -> the late copy claims fresh
    assert not folded["late_copy"]["is_dup"]


def test_streaming_funnel_parity(spark, tmp_path):
    """The funnel fold is streaming-legal as-is: funnel_steps is ONE
    groupBy(user).agg over sort_array(collect_list(...)) + a pure
    post-projection — Spark maintains the list aggregation
    incrementally (complete mode) and the fold re-projects per emit.
    A drained two-file stream's per-user depths/timestamps must equal
    the batch funnel over the same rows — events arriving across
    micro-batches in arbitrary order land identically because order
    rides in the sorted array, never in arrival order."""
    import datetime as dt

    from index_search_monorepo_spark.operators import funnel as FN

    src = str(tmp_path / "fn_land")
    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (i, base + dt.timedelta(minutes=(i * 7) % 90), i % 9,
         ["view", "click", "purchase", "error"][(i * 5) % 4], 1.0)
        for i in range(120)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string, value double"
    )
    # two files so the drain really runs multiple micro-batches, with
    # the LATER file carrying chronologically EARLIER events
    df.where("event_id >= 60").write.mode("overwrite").parquet(src)
    df.where("event_id < 60").write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        FN.funnel_steps(stream, ["view", "click", "purchase"])
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("funnel_stream")
        .option("checkpointLocation", str(tmp_path / "fn_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        map(tuple, spark.sql("SELECT * FROM funnel_stream").collect())
    )
    want = sorted(
        map(
            tuple,
            FN.funnel_steps(df, ["view", "click", "purchase"]).collect(),
        )
    )
    assert got == want and len(want) == 9
