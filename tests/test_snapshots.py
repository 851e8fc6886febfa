"""Snapshot-table (Iceberg-semantics stand-in) tests: copy-on-write merge,
time travel, manifest pruning, GC, incremental diff."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from index_search_monorepo_spark.operators import snapshots as S


def _base(spark, n=200):
    return spark.range(n).select(
        F.col("id").alias("k"),
        F.concat(F.lit("name-"), F.col("id")).alias("name"),
        (F.col("id") * 7 % 100).alias("val"),
    )


@pytest.fixture()
def table(spark, tmp_path):
    tdir = tmp_path / "tbl"
    S.create_table(_base(spark), tdir, key_col="k", n_files=8)
    return tdir


class TestCreateRead:
    def test_roundtrip(self, spark, table):
        got = S.read_snapshot(spark, table)
        assert got.count() == 200
        assert sorted(got.columns) == ["k", "name", "val"]
        row = got.filter(F.col("k") == 42).collect()[0]
        assert row["name"] == "name-42"

    def test_manifest_footer_stats(self, spark, table):
        m = S.load_manifest(table)
        assert m["version"] == 1
        assert len(m["files"]) >= 2
        assert sum(f["n_rows"] for f in m["files"]) == 200
        # range partitioning => disjoint, covering ranges
        spans = sorted((f["min"], f["max"]) for f in m["files"])
        for (lo1, hi1), (lo2, _) in zip(spans, spans[1:]):
            assert hi1 < lo2
        assert spans[0][0] == 0 and spans[-1][1] == 199

    def test_create_twice_refuses(self, spark, table):
        with pytest.raises(FileExistsError):
            S.create_table(_base(spark), table, key_col="k")


class TestMerge:
    def test_upsert_and_insert(self, spark, table):
        updates = spark.range(5).select(
            (F.col("id") * 3).alias("k"),  # keys 0,3,6,9,12 -> updates
            F.lit("UPDATED").alias("name"),
            F.lit(-1).cast("long").alias("val"),
        ).unionByName(
            spark.range(2).select(
                (F.col("id") + 1000).alias("k"),  # 1000,1001 -> inserts
                F.lit("NEW").alias("name"),
                F.lit(0).cast("long").alias("val"),
            )
        )
        m2 = S.merge_upsert(spark, table, updates, n_files=2)
        assert m2["version"] == 2 and m2["parent"] == 1
        v2 = S.read_snapshot(spark, table)
        assert v2.count() == 202
        assert v2.filter(F.col("name") == "UPDATED").count() == 5
        assert v2.filter(F.col("k") >= 1000).count() == 2
        # unchanged row survives byte-identical
        assert v2.filter(F.col("k") == 42).collect()[0]["name"] == "name-42"

    def test_copy_on_write_carries_untouched_files(self, spark, table):
        m1 = S.load_manifest(table)
        # touch only the lowest key -> exactly one data file is touched
        upd = spark.createDataFrame([(0, "X", 0)], schema="k long, name string, val long")
        m2 = S.merge_upsert(spark, table, upd, n_files=1)
        names1 = {f["file"] for f in m1["files"]}
        names2 = {f["file"] for f in m2["files"]}
        carried = names1 & names2
        assert len(carried) == len(names1) - 1  # all but the touched file
        assert m2["n_carried"] == len(carried)

    def test_delete_keys(self, spark, table):
        dels = spark.createDataFrame([(10,), (11,), (1234,)], schema="k long")
        S.merge_upsert(
            spark, table, _base(spark, 0), delete_keys=dels, n_files=1
        )
        v2 = S.read_snapshot(spark, table)
        assert v2.count() == 198
        assert v2.filter(F.col("k").isin(10, 11)).count() == 0

    def test_delete_beats_upsert_same_key(self, spark, table):
        upd = spark.createDataFrame([(5, "Z", 0)], schema="k long, name string, val long")
        dels = spark.createDataFrame([(5,)], schema="k long")
        S.merge_upsert(spark, table, upd, delete_keys=dels, n_files=1)
        assert S.read_snapshot(spark, table).filter(F.col("k") == 5).count() == 0

    def test_time_travel_v1_unchanged(self, spark, table):
        upd = spark.createDataFrame([(0, "X", 0)], schema="k long, name string, val long")
        S.merge_upsert(spark, table, upd, n_files=1)
        v1 = S.read_snapshot(spark, table, version=1)
        assert v1.count() == 200
        assert v1.filter(F.col("k") == 0).collect()[0]["name"] == "name-0"


class TestPruningAndGC:
    def test_probe_reads_fewer_files(self, spark, table):
        files = S.load_manifest(table)["files"]
        assert len(S._prune_files(files, (40, 60))) < len(files)
        got = S.read_snapshot(spark, table, key_between=(40, 60))
        assert got.count() == 21
        assert got.agg(F.min("k"), F.max("k")).collect()[0] == (40, 60)

    def test_expire_gc(self, spark, table):
        upd = spark.createDataFrame([(0, "X", 0)], schema="k long, name string, val long")
        S.merge_upsert(spark, table, upd, n_files=1)
        deleted = S.expire_snapshots(table, keep_last=1)
        assert deleted  # v1's touched file is gone
        # current still reads fine
        assert S.read_snapshot(spark, table).count() == 200
        # v1 manifest is gone
        with pytest.raises(FileNotFoundError):
            S.load_manifest(table, 1)


class TestDiff:
    def test_incremental_diff(self, spark, table):
        upd = spark.createDataFrame(
            [(3, "U", 0), (2000, "N", 0)], schema="k long, name string, val long"
        )
        dels = spark.createDataFrame([(7,)], schema="k long")
        S.merge_upsert(spark, table, upd, delete_keys=dels, n_files=1)
        diff = {
            r["k"]: r["change"]
            for r in S.snapshot_diff_keys(spark, table, 1, 2).collect()
        }
        assert diff[3] == "updated"
        assert diff[2000] == "added"
        assert diff[7] == "removed"
        # carried rows never appear; rewritten-but-identical survivors drop out
        assert all(k in (3, 2000, 7) for k in diff)


class TestSchemaEvolution:
    def test_add_column_merge(self, spark, table):
        upd = spark.createDataFrame(
            [(10, "U", 0, "en")], schema="k long, name string, val long, lang string"
        )
        S.merge_upsert(spark, table, upd, n_files=1)
        v2 = S.read_snapshot(spark, table)
        assert "lang" in v2.columns
        assert v2.filter(F.col("k") == 10).collect()[0]["lang"] == "en"
        # carried rows (files untouched by the merge) null-fill
        assert v2.filter(F.col("lang").isNull()).count() == 199
        # time travel: v1 keeps the old schema
        assert "lang" not in S.read_snapshot(spark, table, version=1).columns

    def test_missing_column_in_updates_null_fills(self, spark, table):
        upd = spark.createDataFrame([(10, "U")], schema="k long, name string")
        S.merge_upsert(spark, table, upd, n_files=1)
        v2 = S.read_snapshot(spark, table)
        row = v2.filter(F.col("k") == 10).collect()[0]
        assert row["val"] is None and row["name"] == "U"
        # same-file survivors keep their val
        assert v2.filter(F.col("val").isNotNull()).count() == 199

    def test_diff_across_mixed_schema_generations(self, spark, table):
        # v2 adds `lang` (touches the file holding k=10); v3 touches a
        # DIFFERENT key range, so diff(2,3)'s unshared v2-side files mix
        # a pre-evolution carried file with nothing evolved, while
        # diff(1,2) mixes generations on the b side. Without mergeSchema
        # in snapshot_diff_keys._read, Spark can take one footer's
        # schema and silently drop `lang` from the content hash.
        upd2 = spark.createDataFrame(
            [(10, "U", 0, "en")],
            schema="k long, name string, val long, lang string",
        )
        S.merge_upsert(spark, table, upd2, n_files=1)
        upd3 = spark.createDataFrame(
            [(190, "W", 1, "fr")],
            schema="k long, name string, val long, lang string",
        )
        S.merge_upsert(spark, table, upd3, n_files=1)
        d12 = {
            r["k"]: r["change"]
            for r in S.snapshot_diff_keys(spark, table, 1, 2).collect()
        }
        assert d12[10] == "updated"
        # rewritten survivors of the touched file hash as unchanged even
        # though the b side carries the new (null-filled) column
        assert set(d12) == {10}
        d23 = {
            r["k"]: r["change"]
            for r in S.snapshot_diff_keys(spark, table, 2, 3).collect()
        }
        assert d23[190] == "updated"
        assert set(d23) == {190}


class TestCompaction:
    def test_compact_preserves_content_and_reduces_files(self, spark, table):
        # fragment the table: three single-key merges, each writing its
        # own small file
        for k in (10, 50, 150):
            upd = spark.createDataFrame(
                [(k, f"U{k}", 0)], schema="k long, name string, val long"
            )
            S.merge_upsert(spark, table, upd, n_files=1)
        before = S.load_manifest(table)
        v_before = before["version"]
        got = S.compact_table(spark, table, small_rows=40, n_files=1)
        assert got["version"] == v_before + 1
        assert len(got["files"]) < len(before["files"])
        # content identical: the incremental diff across the compaction
        # is empty, and full reads agree row for row
        assert (
            S.snapshot_diff_keys(spark, table, v_before, got["version"])
            .count()
            == 0
        )
        a = sorted(
            tuple(r)
            for r in S.read_snapshot(spark, table, version=v_before)
            .select("k", "name", "val")
            .collect()
        )
        b = sorted(
            tuple(r)
            for r in S.read_snapshot(spark, table)
            .select("k", "name", "val")
            .collect()
        )
        assert a == b
        # time travel to the pre-compaction version still works
        assert S.read_snapshot(spark, table, version=1).count() == 200

    def test_default_sizing_targets_threshold_rows(self, spark, tmp_path):
        # 6 files x 50 rows, threshold 120 -> total 300 small rows ->
        # floor(300/120) = 2 output files of ~150 rows, both >= threshold
        tdir = tmp_path / "tbl2"
        S.create_table(_base(spark, 300), tdir, key_col="k", n_files=6)
        m = S.compact_table(spark, tdir, small_rows=120)
        assert len(m["files"]) == 2
        assert all(f["n_rows"] >= 120 for f in m["files"])
        assert sum(f["n_rows"] for f in m["files"]) == 300
        # outputs are not immediately re-eligible
        assert S.compact_table(spark, tdir, small_rows=120)["version"] == (
            m["version"]
        )

    def test_compact_noop_below_two_small_files(self, spark, table):
        m0 = S.load_manifest(table)
        m1 = S.compact_table(spark, table, small_rows=2)
        assert m1["version"] == m0["version"]
        assert [f["file"] for f in m1["files"]] == [
            f["file"] for f in m0["files"]
        ]
