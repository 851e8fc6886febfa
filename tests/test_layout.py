"""Z-order layout: hand-exact Morton interleave, DuckDB parity of
zvalue/quantize, pure-codegen plan shape, and the actual pruning
evidence — a 2-D box predicate touches strictly fewer files under
z-order than under the natural ingest order or a single-column sort."""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from index_search_monorepo_spark.operators import layout as LY

SF_DIR = "/root/testdata/sf0.001"


def _events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id",
        "user_id",
        F.expr("CAST(round(value * 10000, 0) AS BIGINT)").alias("value_e4"),
    )


class TestZvalue:
    def test_hand_exact_interleave(self, spark):
        # x=0b10 (j=0), y=0b01 (j=1), bits=2:
        # x bit1 -> pos 2 (4); y bit0 -> pos 1 (2) => z = 6
        df = spark.createDataFrame([(2, 1)], "x long, y long")
        z = df.select(
            LY.zvalue_expr([F.col("x"), F.col("y")], bits=2).alias("z")
        ).collect()[0]["z"]
        assert z == 6

    def test_zero_and_max(self, spark):
        df = spark.createDataFrame([(0, 0), (3, 3)], "x long, y long")
        zs = sorted(
            r["z"]
            for r in df.select(
                LY.zvalue_expr([F.col("x"), F.col("y")], bits=2).alias("z")
            ).collect()
        )
        assert zs == [0, 15]

    def test_duckdb_parity(self, spark):
        ev = _events(spark)
        qv = LY.quantize_expr("value_e4", 0, 3_300_000, 4)
        got = sorted(
            r["z"]
            for r in ev.select(
                LY.zvalue_expr([qv, F.col("user_id")], bits=4).alias("z")
            ).collect()
        )
        con = duckdb.connect()
        qv_sql = LY.quantize_sql("value_e4", 0, 3_300_000, 4)
        z_sql = LY.zvalue_sql([qv_sql, "user_id"], bits=4)
        want = sorted(
            r[0]
            for r in con.execute(
                f"SELECT {z_sql} AS z FROM (SELECT user_id,"
                f" CAST(round(value * 10000, 0) AS BIGINT) AS value_e4"
                f" FROM read_parquet('{SF_DIR}/events.parquet'))"
            ).fetchall()
        )
        assert got == want

    def test_pure_codegen_no_python_no_exchange(self, spark):
        ev = _events(spark)
        plan = (
            ev.select(
                LY.zvalue_expr(
                    [
                        LY.quantize_expr("value_e4", 0, 3_300_000, 8),
                        F.col("user_id"),
                    ],
                    bits=8,
                ).alias("z")
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan
        assert "EvalPython" not in plan
        # whole-stage codegen renders as "*(n)" stage markers
        assert "*(1) Project" in plan

    def test_validation(self, spark):
        with pytest.raises(ValueError):
            LY.zvalue_expr([F.col("x")], bits=4)
        with pytest.raises(ValueError):
            LY.zvalue_expr([F.col("x"), F.col("y")], bits=32)
        with pytest.raises(ValueError):
            LY.quantize_sql("v", 10, 10, 4)


def _files_touched(ranges: list[dict], box: dict[str, tuple[int, int]]) -> int:
    """Files a conjunctive box predicate must read: those whose [min, max]
    intersects the box on every predicate column (the parquet reader's
    pruning rule)."""
    return sum(
        all(not (rec[c][1] < lo or rec[c][0] > hi) for c, (lo, hi) in box.items())
        for rec in ranges
    )


class TestPruning:
    def _write(self, df, path):
        df.write.mode("overwrite").parquet(path)
        return LY.file_minmax(path, ["value_e4", "user_id"])

    def test_box_predicate_touches_fewer_files(self, spark, tmp_path):
        ev = _events(spark)
        n_files = 16
        z = LY.zvalue_expr(
            [LY.quantize_expr("value_e4", 0, 3_300_000, 4), F.col("user_id")],
            bits=4,
        )
        natural = ev.repartitionByRange(
            n_files, F.col("event_id")
        ).sortWithinPartitions("event_id")
        valsorted = ev.repartitionByRange(
            n_files, F.col("value_e4")
        ).sortWithinPartitions("value_e4")
        zordered = LY.zorder_layout(ev, z, n_files)

        r_nat = self._write(natural, str(tmp_path / "nat"))
        r_val = self._write(valsorted, str(tmp_path / "val"))
        r_z = self._write(zordered, str(tmp_path / "z"))

        # box selective on BOTH dims: natural ingest order prunes
        # nothing; z-order must beat it
        box = {"value_e4": (0, 825_000), "user_id": (3, 4)}
        t_nat = _files_touched(r_nat, box)
        t_z = _files_touched(r_z, box)
        assert t_nat == len(r_nat)  # time order is blind to both dims
        assert t_z < t_nat

        # predicate on the NON-sorted dim only: a single-column sort
        # prunes nothing, z-order still prunes
        box_user = {"user_id": (3, 4)}
        t_val = _files_touched(r_val, box_user)
        t_z_user = _files_touched(r_z, box_user)
        assert t_val == len(r_val)
        assert t_z_user < t_val

        # and the single-column sort keeps its own dim advantage;
        # z-order trades SOME of it for the other dims, but must stay
        # well under full scan on a value-selective box
        box_val = {"value_e4": (0, 412_000)}
        assert _files_touched(r_z, box_val) < len(r_z)

    def test_layout_preserves_rows(self, spark, tmp_path):
        ev = _events(spark)
        z = LY.zvalue_expr(
            [LY.quantize_expr("value_e4", 0, 3_300_000, 4), F.col("user_id")],
            bits=4,
        )
        LY.zorder_layout(ev, z, 8).write.mode("overwrite").parquet(
            str(tmp_path / "zz")
        )
        back = spark.read.parquet(str(tmp_path / "zz"))
        assert back.count() == ev.count()
        got = sorted(r["event_id"] for r in back.select("event_id").collect())
        want = sorted(r["event_id"] for r in ev.select("event_id").collect())
        assert got == want
