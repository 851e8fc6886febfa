"""Data-quality expectations: single-pass compile, NULL semantics, DuckDB parity."""

import os

import duckdb
import pandas as pd
import pytest

from index_search_monorepo_spark.operators import expectations as EXP

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

CHECKS = [
    {"rule_id": "qty_nn", "kind": "completeness", "column": "qty",
     "min_permille": 900},
    {"rule_id": "name_uniq", "kind": "uniqueness", "column": "name",
     "min_permille": 1000},
    {"rule_id": "pk", "kind": "key_unique", "columns": ["grp", "name"]},
    {"rule_id": "nrows", "kind": "row_count", "min_rows": 2, "max_rows": 100},
    {"rule_id": "qty_rng", "kind": "bounds", "column": "qty", "lo": 0, "hi": 50},
    {"rule_id": "flag_dom", "kind": "in_set", "column": "flag",
     "values": ["A", "N", "R"]},
    {"rule_id": "name_fmt", "kind": "pattern", "column": "name",
     "regex": "^[a-z]+_[0-9]+$", "min_permille": 500},
]


def _pdf():
    return pd.DataFrame(
        {
            "grp": ["g1", "g1", "g1", "g2", "g2", "g2", "g2"],
            "name": ["aa_1", "bb_2", "bb_2", "cc_3", None, "UPPER", "dd_4"],
            "qty": [1.0, 5.0, None, 99.0, 7.0, 3.0, 3.0],
            "flag": ["A", "N", "R", "X", None, "A", "A"],
        }
    )


@pytest.fixture(scope="module")
def frame(spark):
    return spark.createDataFrame(_pdf())


def _rows(df):
    return {r["rule_id"]: r.asDict() for r in df.collect()}


def test_rule_grain_global(frame):
    out = EXP.check_constraints(frame, CHECKS)
    assert out.columns == [
        "rule_id", "kind", "column", "observed", "target_lo", "target_hi", "ok",
    ]
    r = _rows(out)
    assert len(r) == len(CHECKS)
    # completeness: 6 of 7 qty non-null -> 857 permille, below 900
    assert r["qty_nn"]["observed"] == 857 and r["qty_nn"]["ok"] == 0
    # uniqueness among non-null names: 6 non-null, 5 distinct -> 833
    assert r["name_uniq"]["observed"] == 833 and r["name_uniq"]["ok"] == 0
    # key (grp,name): one exact dup row (g1,bb_2) -> 1 extra
    assert r["pk"]["observed"] == 1 and r["pk"]["ok"] == 0
    assert r["nrows"]["observed"] == 7 and r["nrows"]["ok"] == 1
    # bounds: 99 out of [0,50]; NULL ignored
    assert r["qty_rng"]["observed"] == 1 and r["qty_rng"]["ok"] == 0
    # in_set: 'X' violates; NULL ignored
    assert r["flag_dom"]["observed"] == 1 and r["flag_dom"]["ok"] == 0
    # pattern: 5 of 6 non-null match -> 833 >= 500
    assert r["name_fmt"]["observed"] == 833 and r["name_fmt"]["ok"] == 1


def test_null_key_parts_are_duplicates(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"a": [None, None, "x"], "b": [None, None, "y"]})
    )
    out = EXP.check_constraints(
        df, [{"rule_id": "k", "kind": "key_unique", "columns": ["a", "b"]}]
    )
    row = out.collect()[0]
    # two all-NULL keys are the SAME key -> 1 extra row, not excluded rows
    assert row["observed"] == 1 and row["ok"] == 0


def test_group_mode_duckdb_parity(frame):
    out = (
        EXP.check_constraints(frame, CHECKS, group_cols=["grp"], as_columns=True)
        .orderBy("grp")
        .toPandas()
    )
    items = ",\n".join(EXP.checks_select_sql(CHECKS))
    con = duckdb.connect()
    con.register("t", _pdf())
    oracle = con.execute(
        f"SELECT grp, {items} FROM t GROUP BY grp ORDER BY grp"
    ).df()
    assert list(out.columns) == list(oracle.columns)
    pd.testing.assert_frame_equal(
        out.reset_index(drop=True),
        oracle.reset_index(drop=True),
        check_dtype=False,
    )


def test_rule_grain_duckdb_parity_global(frame):
    out = (
        EXP.check_constraints(frame, CHECKS)
        .orderBy("rule_id")
        .toPandas()[["rule_id", "observed", "ok"]]
    )
    items = ",\n".join(EXP.checks_select_sql(CHECKS))
    con = duckdb.connect()
    con.register("t", _pdf())
    wide = con.execute(f"SELECT {items} FROM t").df().iloc[0]
    oracle = pd.DataFrame(
        sorted(
            (c["rule_id"], int(wide[f"{c['rule_id']}_obs"]),
             int(wide[f"{c['rule_id']}_ok"]))
            for c in CHECKS
        ),
        columns=["rule_id", "observed", "ok"],
    )
    pd.testing.assert_frame_equal(
        out.reset_index(drop=True), oracle, check_dtype=False
    )


def test_single_scan_plan(spark):
    """All rules compile into ONE pass: exactly one scan, zero joins."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    out = EXP.check_constraints(
        li,
        [
            {"rule_id": "qn", "kind": "completeness", "column": "l_quantity"},
            {"rule_id": "pu", "kind": "uniqueness", "column": "l_partkey",
             "min_permille": 1},
            {"rule_id": "rf", "kind": "in_set", "column": "l_returnflag",
             "values": ["A", "N", "R"]},
            {"rule_id": "qb", "kind": "bounds", "column": "l_orderkey",
             "lo": 0, "hi": 2**62},
        ],
        group_cols=["l_linestatus"],
        as_columns=True,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert out.count() > 0


def test_validation_errors():
    import pyspark.sql  # noqa: F401  (no session needed for validation)

    with pytest.raises(ValueError, match="rule_id"):
        EXP._norm_check({"rule_id": "bad-id", "kind": "row_count"})
    with pytest.raises(ValueError, match="unknown check kind"):
        EXP._norm_check({"rule_id": "x", "kind": "nope"})
    with pytest.raises(ValueError, match="requires 'column'"):
        EXP._norm_check({"rule_id": "x", "kind": "completeness"})
    with pytest.raises(ValueError, match="min_permille"):
        EXP._norm_check(
            {"rule_id": "x", "kind": "completeness", "column": "c",
             "min_permille": 1500}
        )
    with pytest.raises(ValueError, match="non-empty 'values'"):
        EXP._norm_check({"rule_id": "x", "kind": "in_set", "column": "c",
                         "values": []})


def test_extra_aggs_single_pass(spark):
    """A rollup and its checks share ONE aggregation: one scan, no join;
    extra agg columns come first."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    from pyspark.sql import functions as F

    out = EXP.check_constraints(
        li,
        [
            {"rule_id": "qn", "kind": "completeness", "column": "l_quantity"},
            {"rule_id": "pu", "kind": "uniqueness", "column": "l_partkey",
             "min_permille": 1},
        ],
        group_cols=["l_returnflag"],
        as_columns=True,
        extra_aggs=[F.count("*").cast("long").alias("n_rows")],
    )
    assert out.columns == [
        "l_returnflag", "n_rows", "qn_obs", "qn_ok", "pu_obs", "pu_ok",
    ]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    rows = {r["l_returnflag"]: r for r in out.collect()}
    totals = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag").agg(
            F.count("*").alias("n")
        ).collect()
    }
    assert {k: v["n_rows"] for k, v in rows.items()} == totals
    with pytest.raises(ValueError, match="extra_aggs requires"):
        EXP.check_constraints(
            li, [{"rule_id": "x", "kind": "row_count"}],
            extra_aggs=[F.count("*").alias("n")],
        )
