"""Product quantization: encode exactness vs an independent numpy
mirror, DuckDB oracle parity for the seed model, Lloyd training
reducing reconstruction error, zero-shuffle encode plan, and
validation."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from pyspark.sql import functions as F

from index_search_monorepo_spark.operators import pq as PQ

SF_DIR = "/root/testdata/sf0.001"
DIM = 64
M = 4
DSUB = DIM // M
SEEDS = [3, 17, 101, 404]


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _mirror_codes(vecs: dict[int, list[float]], seeds: list[int]):
    """Independent per-subspace argmin (6 dp distances, lowest code on
    ties) — NOT a transliteration of the Spark expressions."""
    seed_mat = [
        np.round(np.array(vecs[s], dtype=np.float64), 6)
        for s in sorted(seeds)
    ]
    out = {}
    for vid, v in vecs.items():
        va = np.array(v, dtype=np.float64)
        codes = []
        for j in range(M):
            lo, hi = j * DSUB, (j + 1) * DSUB
            best = None
            for code, sv in enumerate(seed_mat):
                d2 = round(float(((va[lo:hi] - sv[lo:hi]) ** 2).sum()), 6)
                if best is None or d2 < best[0]:
                    best = (d2, code)
            codes.append(best[1])
        out[vid] = codes
    return out


def _reconstruction_error(codes, emb, model) -> float:
    """Mean squared quantization error: each vector against the
    concatenation of its codes' centroids."""
    books = model.collect()[0]["books"]
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    errs = []
    for r in codes.collect():
        rec = np.concatenate([books[j][c] for j, c in enumerate(r["codes"])])
        errs.append(float(((vecs[r["vid"]] - rec) ** 2).sum()))
    return sum(errs) / len(errs)


class TestEncode:
    def test_matches_numpy_mirror(self, spark):
        emb = _emb(spark)
        model = PQ.pq_seed_books(emb, M, DIM, SEEDS)
        got = {
            r["vid"]: list(r["codes"])
            for r in PQ.pq_encode(emb, model, M, DIM).collect()
        }
        vecs = {
            r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in emb.collect()
        }
        want = _mirror_codes(vecs, SEEDS)
        assert got == want

    def test_duckdb_oracle_parity(self, spark):
        emb = _emb(spark)
        model = PQ.pq_seed_books(emb, M, DIM, SEEDS)
        got = sorted(
            (r["vid"], j, c)
            for r in PQ.pq_encode(emb, model, M, DIM).collect()
            for j, c in enumerate(r["codes"])
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW embeddings AS SELECT vec_id, embedding FROM "
            f"read_parquet('{SF_DIR}/embeddings.parquet')"
        )
        cte = PQ.pq_codes_oracle_ctes(M, DIM, SEEDS)
        want = sorted(
            map(
                tuple,
                con.execute(
                    f"WITH {cte.lstrip()} SELECT vid, sub, code"
                    f" FROM pq_codes"
                ).fetchall(),
            )
        )
        assert got == want

    def test_encode_zero_corpus_shuffle(self, spark):
        emb = _emb(spark)
        model = PQ.pq_seed_books(emb, M, DIM, SEEDS)
        plan = (
            PQ.pq_encode(emb, model, M, DIM)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastNestedLoopJoin" in plan
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line:
                raise AssertionError(f"corpus shuffled: {line}")

    def test_validation(self, spark):
        emb = _emb(spark)
        with pytest.raises(ValueError):
            PQ.pq_seed_books(emb, 3, DIM, SEEDS)  # 64 % 3 != 0
        with pytest.raises(ValueError):
            PQ.pq_seed_books(emb, M, DIM, [])
        with pytest.raises(ValueError):
            PQ.pq_seed_books(emb, M, DIM, [3, 999999])


class TestTrainAndAdc:
    def test_training_reduces_reconstruction_error(self, spark):
        emb = _emb(spark)
        seed_model = PQ.pq_seed_books(emb, M, DIM, SEEDS)
        seed_codes = PQ.pq_encode(emb, seed_model, M, DIM)
        e0 = _reconstruction_error(seed_codes, emb, seed_model)
        trained = PQ.pq_train(emb, M, DIM, SEEDS, iters=2)
        tr_codes = PQ.pq_encode(emb, trained, M, DIM)
        e1 = _reconstruction_error(tr_codes, emb, trained)
        assert e1 <= e0 + 1e-9
        assert e1 < e0  # on real data Lloyd strictly improves
