"""Overlapping-window document chunking (operators/packing.py): hand-
derived geometry, coverage/overlap/reconstruction invariants, chunk-grain
consistency, DuckDB fragment parity, plan shape, and validation."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from index_search_monorepo_spark.operators import packing as PK

_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"


def _doc(n: int) -> str:
    return " ".join(f"w{i}" for i in range(n))


def _corpus(spark):
    # lengths straddle every geometry branch for size=4, overlap=1
    # (stride 3): empty, short, exactly size, size+1 (minimal tail),
    # exact multi-chunk fits, and a long doc
    rows = [(i, _doc(n)) for i, n in enumerate([0, 1, 3, 4, 5, 7, 10, 11, 23])]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestGeometry:
    def test_hand_derived_example(self, spark):
        # 10 tokens, size 4, stride 3 -> chunks [0:4], [3:7], [6:10]
        df = spark.createDataFrame([(0, _doc(10))], "doc_id long, text string")
        r = PK.with_chunks(df, size=4, overlap=1).collect()[0]
        assert r["n_chunks"] == 3
        assert r["chunks"] == ["w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9"]

    def test_coverage_overlap_reconstruction(self, spark):
        size, overlap = 4, 1
        out = PK.with_chunks(_corpus(spark), size=size, overlap=overlap)
        for r in out.collect():
            toks = [t for t in r["text"].split(" ") if t]
            chunks = [c.split(" ") if c else [] for c in r["chunks"]]
            if not toks:
                assert r["n_chunks"] == 0 and chunks == []
                continue
            # every chunk within size; all but the last exactly size
            assert all(len(c) <= size for c in chunks)
            assert all(len(c) == size for c in chunks[:-1])
            # the tail is never shorter than overlap+1
            assert len(chunks[-1]) >= min(len(toks), overlap + 1)
            # consecutive chunks share exactly `overlap` tokens
            for a, b in zip(chunks, chunks[1:]):
                assert a[-overlap:] == b[:overlap]
            # dropping each later chunk's first `overlap` tokens
            # reconstructs the original token stream exactly
            rebuilt = list(chunks[0])
            for c in chunks[1:]:
                rebuilt.extend(c[overlap:])
            assert rebuilt == toks

    def test_zero_overlap_partitions_exactly(self, spark):
        out = PK.with_chunks(_corpus(spark), size=5, overlap=0)
        for r in out.collect():
            toks = [t for t in r["text"].split(" ") if t]
            rebuilt = [t for c in r["chunks"] for t in c.split(" ") if t]
            assert rebuilt == toks

    def test_validation(self, spark):
        df = _corpus(spark)
        with pytest.raises(ValueError, match="overlap"):
            PK.with_chunks(df, size=4, overlap=4)
        with pytest.raises(ValueError, match="positive"):
            PK.with_chunks(df, size=0, overlap=0)
        with pytest.raises(ValueError, match="overwrite"):
            PK.with_chunks(df.withColumn("chunks", F.lit("x")))


class TestOraclesAndPlan:
    def test_duckdb_fragment_parity(self, spark):
        size, overlap = 4, 1
        fr = PK.chunk_oracle_fragments("t", size=size, overlap=overlap)
        stride = size - overlap
        spark_rows = {}
        for r in PK.with_chunks(
            _corpus(spark), size=size, overlap=overlap
        ).collect():
            n = len([t for t in r["text"].split(" ") if t])
            last = (
                0
                if r["n_chunks"] == 0
                else n - (r["n_chunks"] - 1) * stride
            )
            spark_rows[r["doc_id"]] = (r["n_chunks"], r["chunks"], last)
        con = duckdb.connect()
        for doc_id, (_n, text) in enumerate(
            (i, _doc(n)) for i, n in enumerate([0, 1, 3, 4, 5, 7, 10, 11, 23])
        ):
            row = con.execute(
                f"SELECT CAST({fr['n_chunks']} AS BIGINT),"
                f" {fr['chunk0_md5']}, {fr['last_tokens']}"
                f" FROM (SELECT {_TOKS} AS t FROM (SELECT ? AS text))",
                [text],
            ).fetchone()
            n_chunks, chunks, last = spark_rows[doc_id]
            exp_md5 = (
                con.execute("SELECT md5(?)", [chunks[0]]).fetchone()[0]
                if chunks
                else ""
            )
            assert row == (n_chunks, exp_md5, last), doc_id

    def test_with_chunks_no_shuffle_no_python(self, spark):
        plan = (
            PK.with_chunks(_corpus(spark))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan, plan
        assert "EvalPython" not in plan, plan


class TestChunkedRetrieval:
    """The retrieval-corpus composition the chunker exists for: chunk the
    documents, build the inverted index at CHUNK grain (operators/postings),
    query through it, and land on the chunk — not just the document —
    holding the passage. At 100 TB this is the RAG indexing shape: the
    index rows stay bounded by chunk size regardless of document length."""

    def _chunk_index(self, spark):
        from index_search_monorepo_spark.operators import postings as PS

        filler = " ".join(f"w{i % 17}" for i in range(90))
        needle = "zebra quantum walrus"
        planted = (
            " ".join(f"w{i % 17}" for i in range(40))
            + f" {needle} "
            + " ".join(f"w{i % 17}" for i in range(40))
        )
        docs = spark.createDataFrame(
            [(0, filler), (1, planted), (2, filler)],
            "doc_id long, text string",
        )
        chunks = PK.with_chunks(docs, size=16, overlap=4).select(
            "doc_id", F.posexplode("chunks").alias("chunk_no", "chunk_text")
        ).select(
            (F.col("doc_id") * 1000 + F.col("chunk_no")).alias("chunk_id"),
            "doc_id",
            "chunk_no",
            "chunk_text",
        )
        idx = PS.build_postings(
            chunks, text_col="chunk_text", doc_col="chunk_id"
        )
        return chunks, idx

    def test_bm25_lands_on_the_planted_chunk(self, spark):
        from index_search_monorepo_spark.operators import postings as PS

        chunks, idx = self._chunk_index(spark)
        top = (
            PS.bm25_via_postings(idx, ["zebra", "quantum"])
            .orderBy(F.desc("bm25_e6"), F.asc("doc_id"))
            .limit(1)
            .collect()[0]
        )
        hit = chunks.filter(F.col("chunk_id") == top["doc_id"]).collect()[0]
        assert hit["doc_id"] == 1
        assert "zebra quantum walrus" in hit["chunk_text"]

    def test_index_matches_chunk_scan(self, spark):
        from index_search_monorepo_spark.operators import postings as PS

        chunks, idx = self._chunk_index(spark)
        via_index = sorted(
            r["doc_id"]
            for r in PS.conjunctive_query(idx, ["zebra", "walrus"]).collect()
        )
        via_scan = sorted(
            r["chunk_id"]
            for r in chunks.filter(
                F.col("chunk_text").contains("zebra")
                & F.col("chunk_text").contains("walrus")
            ).collect()
        )
        assert via_index == via_scan and via_index
