"""Structured-Streaming incremental mode (SURVEY.md §2.8).

The reference's streaming substrate is RabbitMQ with at-least-once delivery,
manual acks, a dead-letter exchange, and producer backpressure
(queue_consumer.py:61-144, queue_manager.py:68-125,
full_text_search_retriever_service.py:390-397). It has no event time, no
watermarks, no windows. The Spark rebuild maps:

  R1 at-least-once + ack   -> checkpointed foreachBatch; the batch write is
                              idempotent (overwrite by batch id dir), so
                              replay after failure converges (exactly-once
                              file-sink effect)
  R2 dead-letter queue     -> split_errors(): failing documents become rows
                              of an `errors` parquet sink, never a job abort
  R3 backpressure cap      -> maxFilesPerTrigger on the file source
  R4 prefetch=batch_size   -> trigger(availableNow=True) / processingTime
  R5 tracktable resume     -> the streaming checkpoint dir itself (source
                              offsets) — batch mode keeps the per-partition
                              manifest (operators/checkpoint.py)
  R6 poll-until-work loop  -> trigger(processingTime=...)

New vs the reference (net-new Spark capability, not a port): event-time
tumbling windows with watermarked late-data handling over the ingest stream,
used for the span-count monitoring metrics the reference logs per document
(full_text_document_generator.py:155-180), and a keyed-state near-duplicate
filter over the stream's MinHash bands (`streaming_lsh_dedup`).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from index_search_monorepo_spark.operators.errors import split_errors
from index_search_monorepo_spark.operators.extraction import with_extracted_spans

SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

SPANS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(SPAN_STRUCT)),
    ]
)

# optional ingest-time column for the watermarked metrics stream
SPANS_SCHEMA_TS = StructType(
    SPANS_SCHEMA.fields + [StructField("ingest_ts", TimestampType())]
)


def read_spans_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int = 8,
    with_ts: bool = False,
) -> DataFrame:
    """File-source stream over landed spans parquet; maxFilesPerTrigger is
    the backpressure knob standing in for the reference's 200k-message queue
    cap (queue_connection.py:8-21)."""
    return (
        spark.readStream.schema(SPANS_SCHEMA_TS if with_ts else SPANS_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_dir)
    )


def incremental_extraction(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    max_files_per_trigger: int = 8,
    await_termination: bool = True,
    poll_interval: str | None = None,
) -> StreamingQuery:
    """Incremental span extraction: new spans files -> extracted span
    sequences + error sink, exactly-once via the streaming checkpoint.

    Output layout under `output_dir`:
      extracted/   (doc_id, extracted_spans) parquet, appended per batch
      errors/      R2 dead-letter rows (error envelope, F15)
      _stream_checkpoint/   source offsets + batch commit log

    poll_interval=None (default) drains what exists and stops
    (trigger(availableNow)); an interval string like '1 seconds' is the R6
    poll-until-work loop (document_retriever_service's blocking consume
    loop): the query keeps polling the landing directory on that cadence
    and picks up files that arrive later — the caller stops it. With a poll
    interval, await_termination is ignored (the query never self-ends).
    """
    out = Path(output_dir)
    stream = read_spans_stream(spark, input_dir, max_files_per_trigger)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # idempotent on batch replay: each micro-batch owns its own
        # subdirectory and overwrites it, so a batch re-run after a crash
        # between write and commit converges (the R1 'ack' analog).
        # persist: the clean and error branches are two consumers of the
        # same micro-batch — uncached, each write re-reads the source
        # files (guide §5; r6)
        batch_df.persist()
        try:
            clean, errors = split_errors(batch_df)
            extracted = with_extracted_spans(clean).select(
                "doc_id", "extracted_spans"
            )
            extracted.write.mode("overwrite").parquet(
                str(out / "extracted" / f"batch_id={batch_id}")
            )
            errors.write.mode("overwrite").parquet(
                str(out / "errors" / f"batch_id={batch_id}")
            )
        finally:
            batch_df.unpersist()

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", str(out / "_stream_checkpoint")
    )
    if poll_interval is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=poll_interval)
    q = writer.start()
    if await_termination and poll_interval is None:
        q.awaitTermination()
    return q


def windowed_ingest_metrics(
    stream: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Event-time tumbling-window ingest metrics with late-data handling —
    per window: docs, total spans, txt spans (the reference logs these per
    document synchronously; here they are a windowed streaming aggregate)."""
    return (
        stream.withWatermark("ingest_ts", watermark)
        .groupBy(F.window("ingest_ts", window).alias("w"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size("spans")).alias("n_spans"),
            F.sum(
                F.size(F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("txt")))
            ).alias("n_txt_spans"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_docs",
            "n_spans",
            "n_txt_spans",
        )
    )


# ------------------------------------------------------- streaming LSH --

LSH_VERDICT_SCHEMA = StructType(
    [
        StructField("band_no", IntegerType()),
        StructField("bucket", StringType()),
        StructField("doc_id", StringType()),
        StructField("first_doc_id", StringType()),
    ]
)

_LSH_CLAIM_STATE = StructType([StructField("first_doc_id", StringType())])


def streaming_lsh_bands(
    stream: DataFrame,
    text_col: str = "text_concat",
    id_col: str = "doc_id",
    ts_col: str = "ingest_ts",
    k: int | None = None,
    band_size: int = 2,
    n: int = 4,
) -> DataFrame:
    """MinHash banding legal on a streaming DataFrame: a thin delegation
    to the ONE batch bucket spec (operators/dedup.lsh_bands, whose
    spread leaves a streaming frame unchanged — pure expressions, no
    repartition) so a bucket claimed
    by the stream is THE SAME bucket batch LSH / the persisted band
    index (lsh_band_index) would land the document in — streaming
    verdicts, batch candidate pairs, and incremental-index verdicts are
    all directly comparable."""
    from index_search_monorepo_spark.operators.dedup import MINHASH_K, lsh_bands

    k = k or MINHASH_K
    src = stream.select(
        F.col(id_col).alias("doc_id"),
        F.col(ts_col).alias("ts"),
        F.col(text_col),
    )
    return lsh_bands(src, text_col, k, band_size, n, keep=("ts",)).select(
        "band_no", "bucket", "doc_id", "ts"
    )


def streaming_lsh_dedup(
    stream: DataFrame,
    text_col: str = "text_concat",
    id_col: str = "doc_id",
    ts_col: str = "ingest_ts",
    k: int | None = None,
    band_size: int = 2,
    n: int = 4,
    state_ttl_ms: int | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """Online MinHash-LSH near-duplicate detection across micro-batches.

    The streaming counterpart of operators/dedup.lsh_candidate_pairs: each
    arriving document's signature is banded (streaming_lsh_bands, same
    bucket spec as batch); keyed state per (band_no, bucket) remembers the
    FIRST document that ever claimed the bucket. The operator emits one
    verdict row per (document, band): ``first_doc_id`` is the claimer — a
    later near-duplicate sees ``first_doc_id != doc_id`` on every colliding
    band, across batch boundaries. Fold to document grain per micro-batch
    with :func:`fold_lsh_verdicts` inside foreachBatch (all of one
    document's band rows land in its own micro-batch, so the per-batch
    fold is complete — no second stateful operator needed).

    Scale/state: state is ONE short string per distinct occupied bucket —
    the same cardinality the batch LSH join shuffles, amortized over the
    stream's lifetime. Unbounded ingest needs the TTL: ``state_ttl_ms``
    arms a processing-time timeout that forgets buckets idle longer than
    the TTL (the dropDuplicatesWithinWatermark trade restated: a
    duplicate arriving after its bucket expired is re-admitted; batch
    dedup C1/C8 remains the exactness backstop). Leave it None for
    drain-mode (availableNow) runs, which must not schedule timeout
    cleanup batches.

    Within-batch determinism: rows in one bucket group are processed in
    (ts, doc_id) order, so the first-arrival winner is stable under
    partition/batch nondeterminism. Errors stay rows; an empty shingle set
    (text shorter than the shingle width) still produces a signature
    (md5 of empty min = NULL sigs fold to a shared bucket), and such docs
    collide only with other sub-shingle docs — filter upstream when that
    is noise.

    ``index`` bridges batch and stream: pass the persisted corpus bucket
    index (operators/dedup.lsh_band_index — same bucket spec through the
    shared lsh_bands builder) and the stream dedups against the WHOLE
    day-0 corpus as well as its own history. Mechanics: a stream-static
    LEFT join of the band rows to the index (stateless, legal before the
    stateful operator; re-planned per micro-batch, so the index is read
    with ordinary pushdown — a parquet table works at any size). A bucket
    present in the index is owned by its corpus claimer forever: the join
    re-asserts it every batch, so durability does NOT depend on keyed
    state, and a TTL-expired bucket re-admits only stream-vs-stream
    claims — corpus dups stay caught. Buckets absent from the index fall
    through to the first-claimer state exactly as before.
    """
    import pandas as pd

    bands = streaming_lsh_bands(
        stream, text_col, id_col, ts_col, k=k, band_size=band_size, n=n
    )
    if index is not None:
        bands = bands.join(
            index.select(
                "band_no",
                "bucket",
                F.col("first_doc_id").cast("string").alias("idx_first"),
            ),
            ["band_no", "bucket"],
            "left",
        )
    else:
        bands = bands.withColumn("idx_first", F.lit(None).cast("string"))

    def claim(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        first = state.get[0] if state.exists else None
        frames = [pdf for pdf in pdfs if len(pdf)]
        if not frames:
            if first is not None and state_ttl_ms is not None:
                state.setTimeoutDuration(state_ttl_ms)
            return
        rows = pd.concat(frames, ignore_index=True).sort_values(
            ["ts", "doc_id"], kind="mergesort"
        )
        if first is None:
            # corpus index claimer (same for every row of the group) wins
            # the bucket before any stream doc can
            idx_hits = rows["idx_first"].dropna()
            if len(idx_hits):
                first = idx_hits.iloc[0]
        firsts = []
        for doc in rows["doc_id"]:
            if first is None:
                first = doc
            firsts.append(first)
        state.update((first,))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        yield pd.DataFrame(
            {
                "band_no": int(key[0]),
                "bucket": key[1],
                "doc_id": rows["doc_id"].to_numpy(),
                "first_doc_id": firsts,
            }
        )

    return bands.groupBy("band_no", "bucket").applyInPandasWithState(
        claim,
        outputStructType=LSH_VERDICT_SCHEMA,
        stateStructType=_LSH_CLAIM_STATE,
        outputMode="append",
        timeoutConf=(
            "ProcessingTimeTimeout" if state_ttl_ms is not None else "NoTimeout"
        ),
    )


def fold_lsh_verdicts(verdicts: DataFrame) -> DataFrame:
    """Document-grain fold of streaming LSH band verdicts (run as a BATCH
    op inside foreachBatch, or over the sunk verdict table): a document is
    a near-duplicate when ANY of its bands was first claimed by a
    different document; ``dup_of`` is the lexicographically smallest such
    claimer (deterministic canonical choice, matching batch
    dedup_filtered_corpus's keep-min convention)."""
    return (
        verdicts.groupBy("doc_id")
        .agg(
            F.min(
                F.when(
                    F.col("first_doc_id") != F.col("doc_id"),
                    F.col("first_doc_id"),
                )
            ).alias("dup_of"),
            F.count("*").cast("long").alias("n_bands"),
        )
        .withColumn("is_dup", F.col("dup_of").isNotNull())
    )
