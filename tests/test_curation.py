"""Round-2 curation-operator guarantees beyond the contract oracle checks:
ANN recall vs brute force, stop-shingle cap boundedness, bucket-blocked
near-dup recall on planted copies, and the single-tokenize-pass plan shape
for textstats (CLAUDE.md lesson #1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from index_search_monorepo_spark.operators import dedup as D
from index_search_monorepo_spark.operators import similarity as SIM
from index_search_monorepo_spark.operators import textstats as TS

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _planted_emb(spark):
    emb = _emb(spark)
    dup = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    return emb.unionByName(dup)


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )


def _cached_rdds(spark, build):
    """Rows of the frame `build()` returns, the number of persistent RDDs
    building and collecting it adds, and whether the session owner's
    clearCache() releases them all."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    # other tests' localCheckpoints stay registered past clearCache()
    spark.catalog.clearCache()
    before = set(persistent().keySet())
    rows = build().collect()
    added = set(persistent().keySet()) - before
    spark.catalog.clearCache()
    return rows, len(added), set(persistent().keySet()) == before


class TestLshTopk:
    def test_recall_vs_brute_force(self, spark):
        """VERDICT r01 #4 acceptance: multi-band sign-LSH top-1 must find the
        brute-force top-1 for >= 90% of queries on the testdata."""
        emb = _planted_emb(spark)
        qids = list(range(10))
        exact = {
            r["query_id"]: r["neighbor_id"]
            for r in SIM.cosine_topk(emb, query_ids=qids, k=1).collect()
        }
        approx = {
            r["query_id"]: r["neighbor_id"]
            for r in SIM.lsh_topk(emb, query_ids=qids, k=1).collect()
        }
        hits = sum(1 for q in qids if approx.get(q) == exact[q])
        assert hits >= 0.9 * len(qids), (hits, exact, approx)

    def test_planted_exact_copies_always_candidates(self, spark):
        """An exact copy shares every band bucket, so top-1 sim == 1.0."""
        emb = _planted_emb(spark)
        out = {
            r["query_id"]: (r["neighbor_id"], r["sim"])
            for r in SIM.lsh_topk(
                emb, query_ids=[100000, 100001, 100002], k=1
            ).collect()
        }
        for q, (n, sim) in out.items():
            assert n == q - 100000
            assert sim == 1.0


class TestIvfTopk:
    CENTS = list(range(16))

    def test_exhaustive_probe_equals_brute_force(self, spark):
        """nprobe = n_cells probes every cell -> IVF degenerates to exact
        brute force (same rows, same ranks, same sims)."""
        emb = _emb(spark)
        qids = list(range(10))
        exact = sorted(
            tuple(r) for r in SIM.cosine_topk(emb, query_ids=qids, k=3).collect()
        )
        ivf = sorted(
            tuple(r)
            for r in SIM.ivf_topk(
                emb, self.CENTS, query_ids=qids, k=3, nprobe=len(self.CENTS)
            ).collect()
        )
        assert ivf == exact

    def test_recall_at_nprobe2(self, spark):
        """The contract configuration (16 cells, nprobe=2) must find the
        brute-force top-1 for >= 80% of queries on the testdata."""
        emb = _emb(spark)
        qids = list(range(10))
        exact = {
            r["query_id"]: r["neighbor_id"]
            for r in SIM.cosine_topk(emb, query_ids=qids, k=1).collect()
        }
        approx = {
            r["query_id"]: r["neighbor_id"]
            for r in SIM.ivf_topk(
                emb, self.CENTS, query_ids=qids, k=1, nprobe=2
            ).collect()
        }
        hits = sum(1 for q in qids if approx.get(q) == exact[q])
        assert hits >= 0.8 * len(qids), (hits, exact, approx)

    def test_cells_partition_the_corpus(self, spark):
        """Every vector lands in exactly one cell (stats sum to corpus
        size), so IVF candidates need no dedup shuffle."""
        emb = _emb(spark)
        stats = SIM.ivf_cell_stats(emb, self.CENTS).collect()
        assert sum(r["n_vecs"] for r in stats) == emb.count()

    def test_assignment_is_map_side(self, spark):
        """Corpus assignment must not shuffle the corpus: the only exchange
        in the plan is the one-row codebook aggregation (broadcast side)."""
        emb = _emb(spark)
        code = SIM.ivf_codebook(emb, self.CENTS)
        plan = (
            SIM.ivf_assign(emb, code)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastNestedLoopJoin" in plan
        n_exchange = plan.count("Exchange")
        assert n_exchange <= 2, plan  # codebook partial+final agg only


class TestCosineNearDupPairs:
    def test_bucket_blocking_finds_planted_copies(self, spark):
        """Default blocking is the LSH bucket (no label column needed)."""
        emb = _planted_emb(spark).drop("label")
        pairs = {
            (r["vec_a"], r["vec_b"])
            for r in SIM.cosine_near_dup_pairs(emb, threshold_e6=999999).collect()
        }
        for i in range(10):
            assert (i, i + 100000) in pairs


class TestNgramJaccardCap:
    def test_hot_shingle_capped_pairs_bounded(self, spark):
        """A boilerplate tail shared by every doc must NOT explode the
        candidate set when the cap is on; planted exact dupes survive."""
        docs = _docs(spark).filter(F.col("doc_id") < 60)
        small = docs.filter(F.col("doc_id") < 20)
        corpus = docs.unionByName(
            small.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
        ).select(
            "doc_id", F.concat("text", F.lit(" the same hot tail phrase")).alias("text")
        )
        capped = D.ngram_candidate_pairs(
            corpus, min_intersection=1, max_df=10
        )
        rows = capped.collect()
        # tail shingles (df=80) are dropped -> pairs come only from real
        # shingle overlap, not the 80*79/2 all-pairs of the hot key
        assert len(rows) < 80 * 79 / 2 / 4
        dup_pairs = {
            (r["doc_a"], r["doc_b"]) for r in rows if r["doc_b"] >= 1000000
        }
        for i in range(20):
            assert (i, i + 1000000) in dup_pairs

    def test_default_cap_is_on(self):
        import inspect

        assert inspect.signature(D.ngram_candidate_pairs).parameters[
            "max_df"
        ].default == 1000
        assert inspect.signature(D.near_duplicate_pairs_jaccard).parameters[
            "max_df"
        ].default == 1000


class TestDuplicateClusters:
    def test_chain_collapses_to_one_cluster(self, spark):
        """A 6-node chain (worst case for plain hash-to-min) must converge
        to a single cluster via the group-min shortcut rounds."""
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(5)], "doc_a LONG, doc_b LONG"
        )
        out = D.duplicate_clusters(pairs).collect()
        assert {r["cluster_id"] for r in out} == {0}
        assert sorted(r["doc_id"] for r in out) == [0, 1, 2, 3, 4, 5]
        assert [r["doc_id"] for r in out if r["is_canonical"]] == [0]

    def test_disjoint_components_stay_disjoint(self, spark):
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 21), (21, 20)],
            "doc_a LONG, doc_b LONG",
        )
        out = {r["doc_id"]: r["cluster_id"] for r in D.duplicate_clusters(pairs).collect()}
        assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}

    def test_one_call_leaves_one_checkpoint(self, spark):
        """Each round's localCheckpoint is released once the next one is
        materialized: a multi-round call leaves only the checkpoint its
        lazy result reads, and that result still reads correctly."""
        persistent = spark.sparkContext._jsc.getPersistentRDDs
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(11)], "doc_a LONG, doc_b LONG"
        )
        before = set(persistent().keySet())
        out = D.duplicate_clusters(pairs)
        # ids, not a size delta: the context cleaner may free earlier
        # tests' unreferenced checkpoints during the call
        assert len(set(persistent().keySet()) - before) == 1
        assert {r["cluster_id"] for r in out.collect()} == {0}

    def test_exactly_one_canonical_per_cluster(self, spark):
        docs = _docs(spark).filter(F.col("doc_id") < 50)
        planted = docs.unionByName(
            docs.filter(F.col("doc_id") < 10).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
        pairs = D.simhash_near_dup_pairs(planted)
        out = D.duplicate_clusters(pairs)
        per_cluster = (
            out.groupBy("cluster_id")
            .agg(
                F.sum(F.col("is_canonical").cast("int")).alias("n_canon"),
                F.min("doc_id").alias("min_doc"),
            )
            .collect()
        )
        for r in per_cluster:
            assert r["n_canon"] == 1
            assert r["min_doc"] == r["cluster_id"]


class TestTextstatsSinglePass:
    def test_tokenize_bound_once(self, spark):
        """The optimized plan must contain exactly ONE split() of the text
        column per operator (VERDICT r01 #6: the old plan re-tokenized up to
        5x per row)."""
        docs = _docs(spark)
        for op in (
            TS.with_quality_score,
            TS.with_token_count,
            TS.with_quality_signals,
            # r3 merged one-pass variants: combining two families must NOT
            # reintroduce a second tokenize
            TS.with_quality,
            TS.with_lang_id_full,
            TS.with_token_stats,
        ):
            plan = (
                op(docs)._jdf.queryExecution().optimizedPlan().toString()
            )
            assert plan.count("split(") == 1, (op.__name__, plan)
        # the merged lang op also binds lower() once
        plan = (
            TS.with_lang_id_full(docs)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert plan.count("lower(") == 1, plan


class TestScaleGuards:
    """Round-3 scale-footnote closures (VERDICT r02 wrong #2-#4)."""

    def test_topk_rejects_all_pairs_mode(self, spark):
        import pytest

        emb = _emb(spark)
        with pytest.raises(ValueError, match="query_ids=None"):
            SIM.cosine_topk(emb)
        with pytest.raises(ValueError, match="query_ids=None"):
            SIM.lsh_topk(emb)
        with pytest.raises(ValueError, match="query_ids=None"):
            SIM.ivf_topk(emb, centroid_ids=[0, 1])

    def test_topk_all_pairs_explicit_opt_in(self, spark):
        emb = _emb(spark).filter(F.col("vec_id") < 6)
        out = SIM.cosine_topk(emb, k=1, allow_all_queries=True).collect()
        assert len(out) == 6  # one top-1 row per corpus vector

    def test_sign_bucket_short_embeddings(self, spark):
        """ADVICE r02: dims shorter than n_bands*band_bits must not throw
        under ANSI element_at — missing coordinates contribute bit 0, so
        the high bands collapse to bucket 0 instead of failing."""
        rows = [(1, [1.0] * 4), (2, [-1.0] * 4)]
        emb = spark.createDataFrame(
            rows, "vec_id int, embedding array<double>"
        )
        out = {
            (r["vid"], r["band_no"]): r["bucket_id"]
            for r in SIM._banded(emb, 3, 8, "vec_id", "embedding").collect()
        }
        # band 0 sees coords 1-8 (only 4 exist): vec 1 -> 0b1111 = 15
        assert out[(1, 0)] == 15 and out[(2, 0)] == 0
        # bands 1-2 read fully out-of-range coords -> bucket 0, no error
        assert out[(1, 1)] == 0 and out[(1, 2)] == 0

    def test_group_expansion_matches_self_join(self, spark):
        """via='group' (opt-in alternative to the via='join' default: one
        band-frame pass, in-bucket pair expansion) must emit exactly the
        pair set of the via='join' equality self-join."""
        docs = _docs(spark)
        g = {
            (r["doc_a"], r["doc_b"])
            for r in D.lsh_candidate_pairs(docs, via="group").collect()
        }
        j = {
            (r["doc_a"], r["doc_b"])
            for r in D.lsh_candidate_pairs(docs, via="join").collect()
        }
        assert g == j and all(a < b for a, b in g)

    def test_cache_registry_release(self, spark):
        """LSH pairs cache exactly one frame (the bands), and the session
        owner's clearCache() releases it."""
        _, n_cached, released = _cached_rdds(
            spark, lambda: D.lsh_candidate_pairs(_docs(spark).limit(50))
        )
        assert n_cached == 1
        assert released

    def test_capped_jaccard_persists_only_precap(self, spark):
        _, n_cached, released = _cached_rdds(
            spark,
            lambda: D.near_duplicate_pairs_jaccard(
                _docs(spark).limit(50), max_df=20
            ),
        )
        # exactly ONE cached frame (the pre-cap shingles), not two
        assert n_cached == 1
        assert released

    def test_drop_duplicates_auto_still_broadcasts_small_drop_set(self, spark):
        """With broadcast='auto' (no forced hint) a small drop set must
        still end up broadcast at runtime (AQE), so the corpus side never
        shuffles; and the result must equal the forced-broadcast path."""
        docs = _docs(spark).limit(100)
        clusters = spark.createDataFrame(
            [(1, 1, True), (2, 1, False), (3, 1, False)],
            "doc_id long, cluster_id long, is_canonical boolean",
        )
        auto = D.drop_duplicates_by_cluster(docs, clusters)
        forced = D.drop_duplicates_by_cluster(docs, clusters, broadcast=True)
        assert auto.count() == forced.count() == 98
        auto.collect()  # materialize so AQE finalizes the plan
        plan = auto._jdf.queryExecution().executedPlan().toString()
        # the adaptive plan prints the pre-AQE recipe under '== Initial
        # Plan ==' — only the finalized section above it is what ran
        final = plan.split("== Initial Plan ==")[0]
        assert "isFinalPlan=true" in final, plan
        assert "BroadcastHashJoin" in final, plan
        assert "SortMergeJoin" not in final, plan


class TestSimhashBandingExactness:
    def test_banded_pairs_equal_brute_force_at_hamming_2(self, spark):
        """The pigeonhole claim (dedup.simhash_near_dup_pairs docstring):
        with 4 bands and max_hamming=2 < 4, banding loses NO pairs — the
        banded equality join must return exactly the brute-force pair set.
        Verified on a corpus with planted near-identical texts."""
        base = _docs(spark).limit(80)
        # plant near-dups: truncate 1 token off copies of the first 15 docs
        mutated = (
            base.filter(F.col("doc_id") < 15)
            .selectExpr(
                "doc_id + 500000 AS doc_id",
                "substring(text, 1, length(text) - 8) AS text",
            )
        )
        corpus = base.unionByName(mutated)
        banded = {
            (r["doc_a"], r["doc_b"])
            for r in D.simhash_near_dup_pairs(corpus).collect()
        }
        # brute force: all-pairs hamming over the simhash column
        sh = D.with_simhash(corpus)
        a = sh.selectExpr("doc_id AS doc_a", "simhash AS sim_a")
        b = sh.selectExpr("doc_id AS doc_b", "simhash AS sim_b")
        brute = {
            (r["doc_a"], r["doc_b"])
            for r in a.join(b, F.col("doc_a") < F.col("doc_b"))
            .filter(
                F.bit_count(
                    F.col("sim_a").bitwiseXOR(F.col("sim_b"))
                )
                <= 2
            )
            .collect()
        }
        assert banded == brute
        assert len(brute) >= 5  # the planted mutants actually collide


class TestRepetition:
    """Gopher-style repetition signals: exact integer values on hand
    corpora, preserved input columns, and the two-split plan bound once."""

    def test_values(self, spark):
        rows = [
            (0, "unique words only here today"),
            (1, "a b\na b\na b\nc d"),
            (2, "foo bar foo bar foo bar baz"),
            (3, ""),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: r.asDict()
            for r in TS.with_repetition(df).collect()
        }
        assert out[0]["repetition_band"] == "ok"
        assert out[0]["dup_2gram_pmille"] == 0
        # 4 non-blank lines, 2 distinct -> 500 pmille; chars 3+3+3+3 vs 3+3
        assert out[1]["n_lines"] == 4
        assert out[1]["dup_line_pmille"] == 500
        assert out[1]["dup_line_char_pmille"] == 500
        assert out[1]["repetition_band"] == "repetitive"
        # 6 2-grams, 3 distinct ("foo bar","bar foo","bar baz") -> 500
        assert out[2]["dup_2gram_pmille"] == 500
        assert out[2]["dup_3gram_pmille"] == 400
        assert out[2]["repetition_band"] == "repetitive"
        # empty text: all zero denominators stay 0, band ok
        assert out[3]["n_lines"] == 0 and out[3]["repetition_band"] == "ok"

    def test_preserves_columns_and_plan(self, spark):
        df = spark.createDataFrame(
            [(1, "x", "a a a a")], "doc_id long, extra string, text string"
        )
        out = TS.with_repetition(df)
        row = out.collect()[0]
        assert row["extra"] == "x" and row["text"] == "a a a a"
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        # two tokenizations only (lines + words), each bound once
        assert plan.count("split(") == 2, plan
        phys = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in phys and "EvalPython" not in phys


class TestDecontaminate:
    def test_planted_overlap(self, spark):
        docs = _docs(spark)
        # benchmark = full text of every 97th doc: those docs must flag
        bench = docs.filter(F.col("doc_id") % 97 == 0).select("text")
        out = D.decontaminate(docs, bench, n=8)
        rows = {r["doc_id"]: r for r in out.collect()}
        assert len(rows) == docs.count()  # corpus grain, zero-filled
        for did in rows:
            if did % 97 == 0:
                assert rows[did]["contaminated"], did
                assert rows[did]["n_contaminated_shingles"] >= 1
        n_flagged = sum(1 for r in rows.values() if r["contaminated"])
        # word-salad corpus: 8-gram chance collisions are rare, so the
        # flagged set stays near the planted set
        n_planted = sum(1 for d in rows if d % 97 == 0)
        assert n_flagged <= n_planted + 3

    def test_empty_benchmark(self, spark):
        docs = _docs(spark)
        bench = docs.filter(F.lit(False)).select("text")
        out = D.decontaminate(docs, bench)
        assert out.filter(F.col("contaminated")).count() == 0
        assert out.count() == docs.count()

    def test_hits_only_grain_matches_doc_grain(self, spark):
        """hits_only=True (r6: the join-back-free grain the
        doc_fingerprint entry left-joins) must agree with the doc-grain
        default after the caller's coalesce — same matched docs, same
        counts, zero elsewhere — and spread=False must not change
        values."""
        docs = _docs(spark)
        bench = docs.filter(F.col("doc_id") % 97 == 0).select("text")
        doc_grain = {
            r["doc_id"]: r
            for r in D.decontaminate(docs, bench, n=8).collect()
        }
        hits = {
            r["doc_id"]: r["n_contaminated_shingles"]
            for r in D.decontaminate(
                docs, bench, n=8, hits_only=True, spread=False
            ).collect()
        }
        assert set(hits) == {
            d for d, r in doc_grain.items() if r["contaminated"]
        }
        for did, r in doc_grain.items():
            assert hits.get(did, 0) == r["n_contaminated_shingles"], did

    def test_hits_only_refuses_min_hits(self, spark):
        docs = _docs(spark)
        bench = docs.filter(F.col("doc_id") % 97 == 0).select("text")
        with pytest.raises(ValueError, match="min_hits=2"):
            D.decontaminate(docs, bench, min_hits=2, hits_only=True)

    def test_corpus_never_shuffles_on_benchmark_join(self, spark):
        """With a small benchmark the corpus-side shingle explode must hit
        a broadcast join (no Exchange on the corpus shingle frame before
        the join)."""
        docs = _docs(spark)
        bench = docs.filter(F.col("doc_id") < 3).select("text")
        out = D.decontaminate(docs, bench, broadcast_benchmark=True)
        out.count()  # materialize so AQE finalizes
        plan = out._jdf.queryExecution().executedPlan().toString()
        head = plan.split("== Initial Plan ==")[0]
        assert "BroadcastHashJoin" in head, head


class TestShingleBinding:
    def test_tokenize_bound_once(self, spark):
        """word_shingles_expr binds the split+filter ONCE (element_at/
        transform/array idiom): the n element_at refs inside the HOF lambda
        get no CSE, so an unbound tokenizer runs ~(n+2)x per row (r4 A/B:
        2.4x slower at sf0.1)."""
        docs = _docs(spark)
        plan = (
            docs.select(D.word_shingles_expr(F.col("text"), 4).alias("sh"))
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert plan.count("split(") == 1, plan


class TestKeepGuard:
    def test_keep_collision_raises(self, spark):
        import pytest as _pt
        docs = _docs(spark).withColumn("n_chars", F.lit(1))
        with _pt.raises(ValueError, match="n_chars"):
            TS.with_quality(docs, keep=("n_chars",))
        with _pt.raises(ValueError, match="n_tokens"):
            TS.with_token_stats(
                docs.withColumn("n_tokens", F.lit(1)), keep=("n_tokens",)
            )


class TestLineDedup:
    """Cross-document line-level dedup (CCNet/RefinedWeb-style): frequent
    trimmed lines counted per distinct document, stripped with order and
    whitespace-only lines preserved; broadcast and join strategies agree."""

    def _frame(self, spark):
        rows = [
            (0, "COMMON HEADER\nalpha beta\n\nCOMMON FOOTER"),
            (1, "COMMON HEADER\ngamma delta\nCOMMON FOOTER"),
            (2, "  COMMON HEADER  \nepsilon\nunique footer 2"),
            # header repeated twice WITHIN one doc: counts once for doc 3
            (3, "COMMON HEADER\nCOMMON HEADER\nzeta"),
            (4, "totally unique\n   \nlines only"),
        ]
        return spark.createDataFrame(rows, ["doc_id", "text"])

    def test_frequent_lines_counts_distinct_docs(self, spark):
        freq = {
            r["line"]: r["n_docs"]
            for r in D.frequent_lines(
                self._frame(spark), min_docs=2
            ).collect()
        }
        assert freq == {"COMMON HEADER": 4, "COMMON FOOTER": 2}

    def test_strip_broadcast(self, spark):
        out = {
            r["doc_id"]: (r["text_cleaned"], r["n_lines_dropped"])
            for r in D.strip_frequent_lines(
                self._frame(spark), min_docs=2
            ).collect()
        }
        # trimmed-match drops the padded header in doc 2; blank and
        # whitespace-only lines survive; doc order preserved
        assert out[0] == ("alpha beta\n", 2)
        assert out[1] == ("gamma delta", 2)
        assert out[2] == ("epsilon\nunique footer 2", 1)
        assert out[3] == ("zeta", 2)
        assert out[4] == ("totally unique\n   \nlines only", 0)

    def test_join_strategy_matches_broadcast(self, spark):
        df = self._frame(spark)
        a = {
            (r["doc_id"], r["text_cleaned"], r["n_lines_dropped"])
            for r in D.strip_frequent_lines(df, min_docs=2).collect()
        }
        b = {
            (r["doc_id"], r["text_cleaned"], r["n_lines_dropped"])
            for r in D.strip_frequent_lines(
                df, min_docs=2, strategy="join"
            ).collect()
        }
        assert a == b

    def test_doc_losing_all_lines_kept_empty(self, spark):
        df = spark.createDataFrame(
            [(0, "X"), (1, "X"), (2, "X")], ["doc_id", "text"]
        )
        for strategy in ("broadcast", "join"):
            out = {
                r["doc_id"]: (r["text_cleaned"], r["n_lines_dropped"])
                for r in D.strip_frequent_lines(
                    df, min_docs=2, strategy=strategy
                ).collect()
            }
            assert out == {i: ("", 1) for i in range(3)}, strategy

    def test_max_frequent_guard_raises(self, spark):
        import pytest
        from py4j.protocol import Py4JJavaError

        df = self._frame(spark)
        with pytest.raises(Exception) as exc:
            D.strip_frequent_lines(df, min_docs=2, max_frequent=1).collect()
        assert "max_frequent" in str(exc.value)

    def test_precomputed_frequent_frame(self, spark):
        df = self._frame(spark)
        freq = D.frequent_lines(df, min_docs=2)
        out = {
            r["doc_id"]: r["n_lines_dropped"]
            for r in D.strip_frequent_lines(df, frequent=freq).collect()
        }
        assert out == {0: 2, 1: 2, 2: 1, 3: 2, 4: 0}

    def test_broadcast_plan_shape(self, spark):
        """The 100 TB pin: the strip pass must not shuffle the corpus —
        exactly ONE hashpartitioning Exchange (the distinct-line count),
        and the frequent set arrives via a broadcast exchange."""
        plan = D.strip_frequent_lines(
            _docs(spark), min_docs=2
        )._jdf.queryExecution().executedPlan().toString()
        import re

        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
        assert "BroadcastExchange" in plan or "BroadcastNestedLoop" in plan


class TestDuplicatePassages:
    """Passage-level exact-substring dedup (Lee et al. ExactSubstr as
    positional k-gram evidence): planted shared passages are found with
    exact word extents, short docs contribute nothing, and the DuckDB
    mirror agrees row-for-row."""

    K = 5

    def _frame(self, spark):
        shared = "alpha beta gamma delta epsilon zeta eta"  # 7 words
        rows = [
            (0, "u0a u0b u0c " + shared + " t0a t0b"),
            (1, "v1a " + shared + " w1a w1b w1c w1d"),
            # two distinct docs share a DIFFERENT 5-word run
            (2, "p2a p2b one two three four five q2"),
            (3, "one two three four five r3a r3b r3c"),
            # short doc (< k words) and a unique doc
            (4, "tiny doc"),
            (5, "fully unique words nothing shared here at all"),
        ]
        return spark.createDataFrame(rows, ["doc_id", "text"])

    def test_planted_passages_exact_extents(self, spark):
        rows, n_cached, released = _cached_rdds(
            spark, lambda: D.duplicate_passages(self._frame(spark), k=self.K)
        )
        # one cached frame (the positional k-grams), released by clearCache
        assert n_cached == 1
        assert released
        out = {
            (r["doc_id"]): (r["start_word"], r["end_word"], r["n_words"])
            for r in rows
        }
        # doc 0: shared run occupies words 3..9 (7 words)
        assert out[0] == (3, 9, 7)
        # doc 1: words 1..7
        assert out[1] == (1, 7, 7)
        # docs 2/3: the exact 5-word run
        assert out[2] == (2, 6, 5)
        assert out[3] == (0, 4, 5)
        assert 4 not in out and 5 not in out

    def test_within_doc_repeat_not_flagged(self, spark):
        df = spark.createDataFrame(
            [(0, "a b c d e a b c d e"), (1, "x y z w v u t s")],
            ["doc_id", "text"],
        )
        assert D.duplicate_passages(df, k=5).count() == 0

    def test_duckdb_parity(self, spark):
        import duckdb as dd

        k = self.K
        srows = sorted(
            tuple(r) for r in D.duplicate_passages(
                self._frame(spark), k=k
            ).collect()
        )
        con = dd.connect()
        vals = ", ".join(
            "(%d, '%s')" % (i, t)
            for i, t in [
                (r["doc_id"], r["text"])
                for r in self._frame(spark).collect()
            ]
        )
        orows = sorted(
            tuple(r)
            for r in con.execute(f"""
        WITH docs(doc_id, text) AS (VALUES {vals}),
        toks AS (SELECT doc_id,
                 list_filter(string_split_regex(text,
                   '[ \t\n\r\f]+'), x -> x <> '') AS t
                 FROM docs),
        g AS (SELECT doc_id, i - 1 AS pos,
                     md5(array_to_string(t[i:i+{k}-1], ' ')) AS h
              FROM toks,
                   unnest(generate_series(1, greatest(len(t) - {k} + 1, 0)))
                     AS u(i)),
        hot AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM g)
                GROUP BY h HAVING count(*) >= 2),
        m AS (SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM hot)),
        isl AS (SELECT doc_id, pos,
                       CASE WHEN lag(pos) OVER w IS NULL
                              OR pos - lag(pos) OVER w > {k}
                            THEN 1 ELSE 0 END AS ng
                FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        grp AS (SELECT *, sum(ng) OVER (PARTITION BY doc_id ORDER BY pos)
                            AS grp_id FROM isl)
        SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_word,
               CAST(max(pos) + {k} - 1 AS BIGINT) AS end_word,
               CAST(max(pos) + {k} - min(pos) AS BIGINT) AS n_words
        FROM grp GROUP BY doc_id, grp_id
        """).fetchall()
        )
        assert srows == orows

    def test_shuffles_are_keyed_only(self, spark):
        """No cartesian/NLJ anywhere: the only joins are on the shingle
        hash equality key."""
        plan = (
            D.duplicate_passages(self._frame(spark), k=self.K)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


class TestPassageLineWrapRecall:
    def test_same_passage_different_wrap_points_matches(self, spark):
        """OCR pages arrive as newline-joined text; a space-only
        split would glue 'end\\nstart' into one token and two wrappings
        of the same passage would never match (review finding)."""
        body = " ".join(f"p{i}" for i in range(10))
        a = body[:20] + "\n" + body[20:]          # wrapped early
        b = body[:35] + "\n" + body[35:]          # wrapped late
        docs = spark.createDataFrame(
            [(0, f"ua ub {a}"), (1, f"vc {b} vd")], ["doc_id", "text"]
        )
        out = {
            r["doc_id"]: (r["start_word"], r["end_word"])
            for r in D.duplicate_passages(docs, k=8).collect()
        }
        assert out[0] == (2, 11)
        assert out[1] == (1, 10)


class TestKmeansTrainer:
    def test_lazy_and_collected_modes_identical(self, spark):
        """collect_each_iter only truncates lineage — the trained codebook
        must be bit-identical (coords are 6 dp-rounded, so the driver
        round-trip is exact)."""
        emb = _emb(spark)
        a = SIM.kmeans_codebook(
            emb, init_ids=list(range(8)), iters=2, collect_each_iter=True
        ).collect()[0]["cents"]
        b = SIM.kmeans_codebook(
            emb, init_ids=list(range(8)), iters=2, collect_each_iter=False
        ).collect()[0]["cents"]
        assert [(c["cell"], list(c["c_vec"])) for c in a] == [
            (c["cell"], list(c["c_vec"])) for c in b
        ]

    def test_training_improves_cohesion(self, spark):
        """Lloyd's must not worsen the objective: mean cosine of each
        vector to its assigned centroid rises (or holds) vs the untrained
        id-codebook."""
        emb = _emb(spark)
        ids = list(range(8))

        def mean_assigned_sim(cb):
            a = SIM.ivf_assign(emb, cb)
            cents = cb.select(F.explode("cents").alias("c")).select(
                F.col("c.cell").alias("cell"), F.col("c.c_vec").alias("c_vec")
            )
            return (
                a.join(F.broadcast(cents), "cell")
                .select(
                    SIM.cosine_expr(F.col("vec"), F.col("c_vec")).alias("s")
                )
                .agg(F.avg("s"))
                .collect()[0][0]
            )

        before = mean_assigned_sim(SIM.ivf_codebook(emb, ids))
        after = mean_assigned_sim(SIM.kmeans_codebook(emb, ids, iters=2))
        assert after >= before - 1e-9, (before, after)

    def test_empty_cell_keeps_previous_centroid(self, spark):
        """A centroid no vector picks survives the iteration unchanged
        (deterministic; the SQL oracle mirrors with a left-join
        coalesce)."""
        emb = spark.createDataFrame(
            [(i, [1.0, 0.01 * i]) for i in range(4)],
            ["vec_id", "embedding"],
        )
        cb = SIM._literal_codebook(
            spark, [(0, [1.0, 0.0]), (9, [-1.0, 0.0])]
        )
        out = SIM.kmeans_iterate(emb, cb).collect()[0]["cents"]
        cells = {c["cell"]: list(c["c_vec"]) for c in out}
        assert set(cells) == {0, 9}
        assert cells[9] == [-1.0, 0.0]            # kept verbatim
        assert cells[0] == [1.0, 0.015]           # mean of 0..0.03, 6 dp

    def test_cell_stats_cover_corpus(self, spark):
        emb = _emb(spark)
        rows = SIM.kmeans_cell_stats(emb, init_ids=list(range(8))).collect()
        assert len(rows) == 8
        assert sum(r["km_n_vecs"] for r in rows) == emb.count()
        assert all(len(r["c_md5"]) == 32 for r in rows)


class TestSemanticDedup:
    """SemDedup composition (similarity.semantic_dedup): k-means cells as
    semantic blocking -> in-cell cosine pairs -> components -> keep one."""

    EMB = [
        # group A near [1,0,0,0]: 1~2 are near-dups, 3 is distinct
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9995, 0.0316, 0.0, 0.0]),
        (3, [0.8, 0.6, 0.0, 0.0]),
        # group B near [0,1,0,0]: 10~11 near-dups
        (10, [0.0, 1.0, 0.0, 0.0]),
        (11, [0.0316, 0.9995, 0.0, 0.0]),
        (12, [0.0, 0.7, 0.7, 0.0]),
    ]

    def _emb(self, spark):
        return spark.createDataFrame(
            self.EMB, "vec_id long, embedding array<double>"
        )

    def test_keeps_one_per_semantic_cluster(self, spark):
        from index_search_monorepo_spark.operators.similarity import (
            semantic_dedup,
        )

        kept, clusters = semantic_dedup(
            self._emb(spark), init_ids=[1, 10], iters=2, threshold_e6=990000
        )
        assert sorted(r["vec_id"] for r in kept.collect()) == [1, 3, 10, 12]
        cl = {r["doc_id"]: r["cluster_id"] for r in clusters.collect()}
        assert cl == {1: 1, 2: 1, 10: 10, 11: 10}

    def test_cell_fanout_guard(self, spark):
        import pytest as _pytest

        from index_search_monorepo_spark.operators.similarity import (
            semantic_dedup,
        )

        with _pytest.raises(ValueError, match="max_cell_rows"):
            semantic_dedup(
                self._emb(spark), init_ids=[1, 10], max_cell_rows=2
            )


def test_adaptive_quality_threshold_per_group(spark):
    """Per-group quantile cutoffs: each language gets its OWN threshold
    (an absolute cutoff would drop all of the short-scored language);
    verdicts match the independent Python histogram mirror."""
    import pandas as pd

    from index_search_monorepo_spark.operators.sketches import (
        hist_quantile_py,
        hist_sketch_py,
    )

    # lang A scores cluster high (600..790), lang B low (100..290)
    rows = [("a%d" % i, "A", 600 + i * 10) for i in range(20)]
    rows += [("b%d" % i, "B", 100 + i * 10) for i in range(20)]
    pdf = pd.DataFrame(rows, columns=["doc_id", "lang", "score"])
    df = spark.createDataFrame(pdf)
    out = TS.with_adaptive_quality(
        df, "score", "lang", q_pmille=250, lo=0, hi=1024, n_buckets=64
    ).toPandas()
    for lang in ("A", "B"):
        vals = pdf[pdf["lang"] == lang]["score"].tolist()
        expect = hist_quantile_py(
            hist_sketch_py(vals, 0, 1024, 64), 250, 0, 1024, 64
        )
        sub = out[out["lang"] == lang]
        assert (sub["adpt_thr"] == expect).all()
        assert (
            (sub["score"] >= expect).astype(int)
            == sub["adpt_keep"].astype(int)
        ).all()
    # each group keeps most of itself: per-group cutoffs, not global
    kept = out[out["adpt_keep"] == 1]
    assert (kept["lang"] == "B").sum() >= 14  # global p25 would keep ~0 of B
    assert (kept["lang"] == "A").sum() >= 14
    # filter wrapper drops exactly the flagged rows
    n_kept = TS.adaptive_quality_filter(
        df, "score", "lang", q_pmille=250, lo=0, hi=1024, n_buckets=64
    ).count()
    assert n_kept == len(kept)


def test_adaptive_quality_null_group_quarantined(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {"doc_id": ["x", "y"], "lang": ["A", None], "score": [500, 500]}
    )
    out = TS.with_adaptive_quality(
        spark.createDataFrame(pdf), "score", "lang"
    ).toPandas()
    row = out[out["doc_id"] == "y"].iloc[0]
    assert pd.isna(row["adpt_thr"]) and row["adpt_keep"] == 0


def test_elect_canonicals_keeps_best_copy(spark):
    """Quality-aware election: the highest-scoring cluster member wins
    (ties -> min doc_id); docs without a score rank last; output is a
    drop-in for drop_duplicates_by_cluster."""
    import pandas as pd

    from index_search_monorepo_spark.operators import dedup as D

    clusters = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 5, 9, 20, 21],
                "cluster_id": [1, 1, 1, 20, 20],
                "is_canonical": [True, False, False, True, False],
            }
        )
    )
    scores = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 5, 20, 21], "n_chars": [10, 900, 7, 7]})
    )
    out = D.elect_canonicals(clusters, scores, "n_chars")
    got = {r["doc_id"]: r for r in out.collect()}
    # cluster 1: doc 5 has the best score (doc 9 unscored -> last)
    assert got[5]["is_canonical"] and not got[1]["is_canonical"]
    assert not got[9]["is_canonical"]
    # cluster 20: tie on score -> min doc_id
    assert got[20]["is_canonical"] and not got[21]["is_canonical"]
    # composes with the drop step: keeps untouched docs + elected winners
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 5, 9, 20, 21, 99], "text": ["x"] * 6})
    )
    kept = {
        r["doc_id"]
        for r in D.drop_duplicates_by_cluster(docs, out).collect()
    }
    assert kept == {5, 20, 99}


def test_incremental_lsh_dedup_against_index(spark):
    """Daily-delta dedup without rescanning the corpus: a delta copy of a
    day-0 doc flags against the index; a fresh doc claims new buckets
    (returned as index_delta); within-delta copies resolve to the
    delta's min id; bucket spec matches batch LSH exactly."""
    import pandas as pd

    from index_search_monorepo_spark.operators import dedup as D

    base_text = (
        "the quick brown fox jumps over the lazy dog near the old river "
        "bank while seven wizards brew strong coffee at dawn every day"
    )
    fresh_text = (
        "entirely different content about distributed query engines and "
        "partition pruning strategies for columnar analytical storage"
    )
    third_text = (
        "yet another unrelated document discussing garden vegetables "
        "tomato cucumber pumpkin squash and late season frost protection"
    )
    day0 = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["a1", "a2"],
                      "text": [base_text, fresh_text]})
    )
    index = D.lsh_band_index(day0)
    n_idx = index.count()
    assert n_idx > 0
    delta = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": ["b_copy", "b_new", "b_new_copy"],
                "text": [base_text, third_text, third_text],
            }
        )
    )
    verdicts, index_delta = D.incremental_lsh_dedup(delta, index)
    got = {r["doc_id"]: r for r in verdicts.collect()}
    # copy of a corpus doc -> dup of the index claimer, across the index
    assert got["b_copy"]["is_dup"] and got["b_copy"]["dup_of"] == "a1"
    # within-delta pair on fresh buckets -> min doc_id claims
    assert not got["b_new"]["is_dup"]
    assert got["b_new_copy"]["is_dup"]
    assert got["b_new_copy"]["dup_of"] == "b_new"
    # index_delta: only buckets the delta claimed first, claimed by b_new
    nd = index_delta.collect()
    assert len(nd) > 0
    assert all(r["first_doc_id"] == "b_new" for r in nd)
    # no overlap with existing index buckets
    assert index_delta.join(
        index, ["band_no", "bucket"], "inner"
    ).count() == 0
    # merged index dedups a re-arrival of the delta's fresh doc
    merged = index.unionByName(index_delta)
    v2, d2 = D.incremental_lsh_dedup(
        spark.createDataFrame(
            pd.DataFrame({"doc_id": ["c_copy"], "text": [third_text]})
        ),
        merged,
    )
    row = v2.collect()[0]
    assert row["is_dup"] and row["dup_of"] == "b_new"
    assert d2.count() == 0
