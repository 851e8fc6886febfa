"""Sequence packing + deterministic sampling: exact bookkeeping on a hand
shard, shard balance/determinism, engine parity of the hash key, and the
one-shuffle plan shape."""

from __future__ import annotations

import duckdb

from pyspark.sql import functions as F

from index_search_monorepo_spark.operators import packing as P

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )


class TestPackSequences:
    def test_exact_bookkeeping_single_shard(self, spark):
        # one shard so the stream order is just doc_id; budget 10
        rows = [(0, 4), (1, 4), (2, 5), (3, 10), (4, 0), (5, 25)]
        df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
        out = {
            r["doc_id"]: r.asDict()
            for r in P.pack_sequences(
                df, budget=10, n_shards=1
            ).collect()
        }
        # cum_prev: 0,4,8,13,23,23
        assert (out[0]["seq_id"], out[0]["seq_offset"]) == (0, 0)
        assert out[0]["crosses_boundary"] == 0
        assert (out[1]["seq_id"], out[1]["seq_offset"]) == (0, 4)
        assert out[1]["n_seqs_spanned"] == 1
        # doc 2: starts at 8, ends at 12 -> spans seqs 0..1
        assert (out[2]["seq_id"], out[2]["crosses_boundary"]) == (0, 1)
        assert out[2]["n_seqs_spanned"] == 2
        # doc 3: starts at 13, ends at 22 -> seqs 1..2
        assert (out[3]["seq_id"], out[3]["seq_offset"]) == (1, 3)
        assert out[3]["n_seqs_spanned"] == 2
        # zero-token doc: stays where the stream is, spans 1
        assert (out[4]["seq_id"], out[4]["n_seqs_spanned"]) == (2, 1)
        assert out[4]["crosses_boundary"] == 0
        # doc 5: 25 tokens from offset 23 -> seqs 2..4
        assert out[5]["n_seqs_spanned"] == 3

    def test_shard_balance_and_determinism(self, spark):
        docs = _docs(spark).withColumn(
            "n_tokens", F.size(F.split("text", " ")).cast("long")
        )
        a = P.pack_sequences(docs, n_shards=8).select(
            "doc_id", "shard", "seq_id", "seq_offset"
        )
        b = P.pack_sequences(docs, n_shards=8).select(
            "doc_id", "shard", "seq_id", "seq_offset"
        )
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
        per_shard = {
            r["shard"]: r["cnt"]
            for r in a.groupBy("shard").agg(F.count("*").alias("cnt")).collect()
        }
        assert len(per_shard) == 8
        n = sum(per_shard.values())
        assert max(per_shard.values()) < n / 8 * 2  # hash-uniform-ish

    def test_single_shuffle_plan(self, spark):
        docs = _docs(spark).withColumn("n_tokens", F.lit(5).cast("long"))
        out = P.pack_sequences(docs, n_shards=4)
        plan = out._jdf.queryExecution().executedPlan().toString()
        head = plan.split("== Initial Plan ==")[0]
        assert head.count("Exchange") == 1, head
        assert "EvalPython" not in head


class TestHashSample:
    def test_rate_and_independence(self, spark):
        docs = _docs(spark)
        n = docs.count()
        s100 = docs.filter(
            P.hash_sample_pmille(F.col("doc_id"), 100)
        ).count()
        # 10% +- generous tolerance on a small corpus
        assert 0.03 * n < s100 < 0.2 * n
        a = {
            r["doc_id"]
            for r in docs.filter(
                P.hash_sample_pmille(F.col("doc_id"), 500, salt="a")
            ).collect()
        }
        b = {
            r["doc_id"]
            for r in docs.filter(
                P.hash_sample_pmille(F.col("doc_id"), 500, salt="b")
            ).collect()
        }
        assert a != b  # different salts -> different subsets

    def test_duckdb_parity(self, spark):
        """The md5 hex fold must match bit-for-bit across engines — the
        property the driver-gate hash of sampling/shard columns rests on."""
        df = spark.createDataFrame(
            [(i,) for i in range(200)], "doc_id long"
        ).select(
            "doc_id", P.hash_key_expr(F.col("doc_id"), "pack").alias("h")
        )
        got = {r["doc_id"]: r["h"] for r in df.collect()}
        con = duckdb.connect()
        sql = P.hash_key_sql("doc_id", "pack")
        exp = dict(
            con.execute(
                f"SELECT doc_id, {sql} FROM (SELECT unnest(range(200))"
                " AS doc_id)"
            ).fetchall()
        )
        assert got == exp

    def test_collision_guard(self, spark):
        df = spark.createDataFrame(
            [(1, 5, 0)], "doc_id long, n_tokens long, shard long"
        )
        import pytest as _pt
        with _pt.raises(ValueError, match="shard"):
            P.pack_sequences(df)


class TestStratifiedSample:
    def test_exact_count_and_determinism(self, spark):
        rows = [(i, chr(ord("a") + i % 3)) for i in range(60)]
        df = spark.createDataFrame(rows, "k long, s string")
        got1 = sorted(
            (r["s"], r["k"])
            for r in P.stratified_sample(df, "s", 5, "k").collect()
        )
        got2 = sorted(
            (r["s"], r["k"])
            for r in P.stratified_sample(
                df.repartition(7), "s", 5, "k"
            ).collect()
        )
        assert got1 == got2  # partitioning-invariant
        from collections import Counter

        per = Counter(s for s, _ in got1)
        assert per == {"a": 5, "b": 5, "c": 5}
        # different salts give different samples
        got3 = sorted(
            (r["s"], r["k"])
            for r in P.stratified_sample(df, "s", 5, "k", salt="other")
            .collect()
        )
        assert got1 != got3

    def test_small_stratum_fully_kept(self, spark):
        rows = [(1, "x"), (2, "x"), (3, "y")]
        df = spark.createDataFrame(rows, "k long, s string")
        got = sorted(
            (r["s"], r["k"])
            for r in P.stratified_sample(df, "s", 10, "k").collect()
        )
        assert got == [("x", 1), ("x", 2), ("y", 3)]

    def test_duckdb_parity_summary(self, spark):
        part = spark.read.parquet(f"{SF_DIR}/part.parquet").select(
            "p_name",
            F.upper(F.substring("p_name", 1, 1)).alias("letter"),
        )
        sampled = P.stratified_sample(part, "letter", 3, "p_name")
        got = sorted(
            map(
                tuple,
                P.stratified_sample_summary(
                    sampled, "letter", "p_name"
                ).collect(),
            )
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW part AS SELECT p_name FROM "
            f"read_parquet('{SF_DIR}/part.parquet')"
        )
        cte = P.stratified_sample_oracle_sql(
            "part", "upper(substr(p_name, 1, 1))", "p_name", 3
        )
        want = sorted(
            con.execute(
                f"WITH {cte.lstrip()} SELECT stratum, samp_n, samp_md5"
                f" FROM strat_out"
            ).fetchall()
        )
        assert got == want

    def test_validation(self, spark):
        df = spark.createDataFrame([(1, "a")], "k long, s string")
        import pytest

        with pytest.raises(ValueError):
            P.stratified_sample(df, "s", 0, "k")


class TestFfdBinPacking:
    def test_hand_exact_single_shard(self, spark):
        # size 10, tokens sorted desc [7,5,4,3,2]:
        #   7 -> bin0(7); 5 -> bin1(5); 4 -> bin1(9); 3 -> bin0(10);
        #   2 -> no fit -> bin2(2)
        rows = [(0, 3), (1, 7), (2, 5), (3, 4), (4, 2)]
        df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
        out = {
            r["doc_id"]: (r["bin_id"], r["bin_oversize"])
            for r in P.pack_bins_ffd(df, size=10, n_shards=1).collect()
        }
        assert out == {1: (0, False), 2: (1, False), 3: (1, False),
                       0: (0, False), 4: (2, False)}

    def test_oversize_gets_own_flagged_bin(self, spark):
        rows = [(0, 15), (1, 6), (2, 6)]
        df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
        out = {
            r["doc_id"]: (r["bin_id"], r["bin_oversize"])
            for r in P.pack_bins_ffd(df, size=10, n_shards=1).collect()
        }
        assert out[0] == (0, True)
        assert out[1] == (1, False) and out[2] == (2, False)

    def test_invariants_and_mirror_equality(self, spark):
        rows = [(i, (i * 37) % 90 + 1) for i in range(200)]
        df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
        size, n_shards = 64, 4
        got = P.pack_bins_ffd(df, size=size, n_shards=n_shards).collect()
        # every doc exactly once
        assert sorted(r["doc_id"] for r in got) == list(range(200))
        # per-bin fill <= size except flagged oversize singleton bins
        fills: dict[tuple, int] = {}
        members: dict[tuple, int] = {}
        for r in got:
            k = (r["shard"], r["bin_id"])
            fills[k] = fills.get(k, 0) + r["n_tokens"]
            members[k] = members.get(k, 0) + 1
            if r["bin_oversize"]:
                assert r["n_tokens"] > size
        for r in got:
            k = (r["shard"], r["bin_id"])
            if r["bin_oversize"]:
                assert members[k] == 1
            else:
                assert fills[k] <= size
        # the independent Python mirror agrees per shard, doc for doc
        by_shard: dict[int, list] = {}
        for r in got:
            by_shard.setdefault(r["shard"], []).append(r)
        for shard, rs in by_shard.items():
            mirror = {
                doc: (b, o)
                for doc, b, o in P.ffd_pack_py(
                    [(r["n_tokens"], r["doc_id"]) for r in rs], size
                )
            }
            for r in rs:
                assert mirror[r["doc_id"]] == (
                    r["bin_id"], r["bin_oversize"]
                ), (shard, r["doc_id"])

    def test_partition_layout_invariance(self, spark):
        rows = [(i, (i * 13) % 40 + 1) for i in range(120)]
        df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
        a = sorted(
            (r["doc_id"], r["shard"], r["bin_id"])
            for r in P.pack_bins_ffd(df, size=32, n_shards=3).collect()
        )
        b = sorted(
            (r["doc_id"], r["shard"], r["bin_id"])
            for r in P.pack_bins_ffd(
                df.repartition(17), size=32, n_shards=3
            ).collect()
        )
        assert a == b

    def test_single_shuffle_one_python_stage(self, spark):
        rows = [(i, i % 9 + 1) for i in range(50)]
        df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
        plan = (
            P.pack_bins_ffd(df, size=16, n_shards=2)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        head = plan.split("== Initial Plan ==")[0]
        assert head.count("Exchange") == 1, head
        assert head.count("FlatMapGroupsInPandas") == 1, head


def test_group_split_leakage_safe(spark):
    """All members of a group land in the SAME split; folds are a function
    of (group, salt) only; permilles validate."""
    import pandas as pd
    import pytest

    from index_search_monorepo_spark.operators import packing as PK

    pdf = pd.DataFrame(
        {
            "doc_id": range(200),
            "grp": [f"domain{i % 23}.example" for i in range(200)],
        }
    )
    df = spark.createDataFrame(pdf)
    out = PK.with_group_split(df, "grp").toPandas()
    # leakage safety: one split per group, regardless of doc_id
    per_group = out.groupby("grp")["split"].nunique()
    assert (per_group == 1).all()
    per_group_fold = out.groupby("grp")["split_fold"].nunique()
    assert (per_group_fold == 1).all()
    assert set(out["split"]).issubset({"train", "val", "test"})
    # deterministic across calls and independent across salts
    out2 = PK.with_group_split(df, "grp").toPandas()
    assert (out["split_fold"].to_numpy() == out2["split_fold"].to_numpy()).all()
    redraw = PK.with_group_split(df, "grp", salt="split2").toPandas()
    assert (out["split_fold"].to_numpy() != redraw["split_fold"].to_numpy()).any()
    with pytest.raises(ValueError, match="sum to 1000"):
        PK.with_group_split(df, "grp", splits=(("a", 500), ("b", 400)))
    with pytest.raises(ValueError, match="duplicate split names"):
        PK.with_group_split(df, "grp", splits=(("a", 500), ("a", 500)))


def test_group_split_duckdb_parity(spark):
    import duckdb
    import pandas as pd

    from index_search_monorepo_spark.operators import packing as PK

    pdf = pd.DataFrame(
        {"doc_id": range(60), "grp": [f"g{i % 11}" for i in range(60)]}
    )
    splits = (("train", 900), ("heldout", 100))
    got = (
        PK.with_group_split(spark.createDataFrame(pdf), "grp", splits=splits)
        .orderBy("doc_id")
        .toPandas()[["doc_id", "split_fold", "split"]]
    )
    fold_sql, case_sql = PK.group_split_sql("grp", splits=splits)
    con = duckdb.connect()
    con.register("t", pdf)
    oracle = con.execute(
        f"SELECT doc_id, {fold_sql} AS split_fold, {case_sql} AS split "
        f"FROM t ORDER BY doc_id"
    ).df()
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), oracle, check_dtype=False
    )


class TestNegativeSamples:
    def test_contract_properties(self, spark):
        import pytest
        docs = _docs(spark)
        out = P.negative_samples(docs, k=3, n_buckets=64).collect()
        ids = {r["doc_id"] for r in docs.collect()}
        per = {}
        for r in out:
            assert r["neg_id"] != r["doc_id"]          # never self
            assert r["neg_id"] in ids                  # a real corpus doc
            assert 1 <= r["neg_ord"] <= 3
            per.setdefault(r["doc_id"], set()).add(r["neg_ord"])
        assert all(len(v) <= 3 for v in per.values())
        # nearly every anchor gets its full k (only self-rep collisions drop)
        assert sum(len(v) == 3 for v in per.values()) >= 0.9 * len(ids)
        with pytest.raises(ValueError):
            P.negative_samples(docs, k=0)
        with pytest.raises(ValueError):
            P.negative_samples(docs, n_buckets=64, stride=128)

    def test_deterministic_across_runs(self, spark):
        docs = _docs(spark)
        a = {tuple(r) for r in P.negative_samples(docs, k=2).collect()}
        b = {tuple(r) for r in P.negative_samples(
            docs.repartition(7), k=2).collect()}
        assert a == b  # layout-independent

    def test_duckdb_parity(self, spark):
        got = {
            (r["doc_id"], r["neg_ord"]): r["neg_id"]
            for r in P.negative_samples(
                _docs(spark), k=3, n_buckets=64
            ).collect()
        }
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM"
            f" read_parquet('{SF_DIR}/documents.parquet')"
        )
        cte = P.negatives_oracle_sql("documents", "doc_id", k=3, n_buckets=64)
        want = {
            (a, o): n
            for a, o, n in con.execute(
                f"WITH {cte.lstrip()} SELECT anchor_id, neg_ord, neg_id"
                " FROM neg_tbl"
            ).fetchall()
        }
        assert got == want
        # different salts give different negatives (independent samples)
        other = {
            (r["doc_id"], r["neg_ord"]): r["neg_id"]
            for r in P.negative_samples(
                _docs(spark), k=3, n_buckets=64, salt="neg2"
            ).collect()
        }
        assert other != got

    def test_no_cartesian_broadcast_plan(self, spark):
        plan = (
            P.negative_samples(_docs(spark), k=3, n_buckets=64)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan  # rep table broadcast by hint
