"""Product quantization (pq_codebooks / pq_encode / pq_topk): encode
parity vs a pure-Python reference, ADC-distance correctness, planted
exact-duplicate retrieval, IVF+PQ composite shape, validation, and the
plan gates. The full-pipeline DuckDB hash parity lives in
test_oracle_parity.py (key sim_topk_pq)."""

from __future__ import annotations

import numpy as np
import pytest
from conftest import SF_DIR

from flink_audit_sessions_example_spark.operators.similarity import (
    ivf_probe_candidates,
    pq_codebooks,
    pq_codebooks_trained,
    pq_encode,
    pq_topk,
)
from flink_audit_sessions_example_spark.sources import load_table

M, NCODES, K = 8, 16, 10


def _emb(spark):
    return load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )


def _py_encode(vec, codebooks):
    m = len(codebooks)
    sub = len(codebooks[0][0])
    out = []
    for j in range(m):
        dists = [
            sum(
                (float(vec[j * sub + i]) - c[i]) ** 2
                for i in range(sub)
            )
            for c in codebooks[j]
        ]
        out.append(int(np.argmin(dists)))  # first minimal index
    return out


def test_encode_matches_python_reference(spark):
    emb = _emb(spark)
    cbs = pq_codebooks(emb, m=M, n_codes=NCODES)
    assert len(cbs) == M and len(cbs[0]) == NCODES and len(cbs[0][0]) == 8
    got = {
        r.vec_id: list(r.pq_codes)
        for r in pq_encode(emb, cbs).collect()
    }
    rows = {r.vec_id: list(r.embedding) for r in emb.collect()}
    assert set(got) == set(rows)
    for vid in list(rows)[:50]:
        assert got[vid] == _py_encode(rows[vid], cbs), vid
    assert all(0 <= c < NCODES for codes in got.values() for c in codes)


def test_adc_distance_matches_python(spark):
    """adist(query, neighbor) must equal the sum over subspaces of the
    squared distance from the query subvector to the NEIGHBOR'S CODE
    centroid — the asymmetric-distance definition."""
    emb = _emb(spark)
    cbs = pq_codebooks(emb, m=M, n_codes=NCODES)
    codes = pq_encode(emb, cbs)
    queries = emb.where("vec_id = 0")
    got = {
        r.neighbor_id: r.adist
        for r in pq_topk(codes, queries, cbs, k=5).collect()
    }
    rows = {r.vec_id: list(r.embedding) for r in emb.collect()}
    code_map = {r.vec_id: list(r.pq_codes) for r in codes.collect()}
    q = rows[0]
    sub = len(cbs[0][0])
    for nid, adist in got.items():
        expect = sum(
            sum(
                (float(q[j * sub + i]) - cbs[j][code_map[nid][j]][i]) ** 2
                for i in range(sub)
            )
            for j in range(M)
        )
        # the operator rounds adist to 6dp for the driver hash — compare
        # at that granularity
        assert adist == pytest.approx(expect, abs=1e-6), nid


def test_planted_exact_duplicate_ranks_first(spark):
    """A corpus vector identical to the query shares its codes exactly,
    so its ADC distance is the query's own quantization error — the
    minimum possible — and it must rank 1."""
    import pyspark.sql.functions as F

    emb = _emb(spark)
    dup = emb.where("vec_id = 3").select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(dup)
    cbs = pq_codebooks(corpus, m=M, n_codes=NCODES)
    codes = pq_encode(corpus, cbs)
    out = pq_topk(
        codes, corpus.where("vec_id = 3"), cbs, k=3
    ).collect()
    assert out[0].neighbor_id == 100003 and out[0].rank == 1


def test_ivf_pq_composite_and_plan(spark):
    """The FAISS-IVFPQ topology from existing parts: coarse probe lists
    cut candidates, ADC ranks them. Results must be the ADC ranking
    RESTRICTED to the candidate set; the per-pair search arithmetic
    stays JVM-side (the Arrow stages are encode, IVF assignment and
    the tiny query-side LUT — never the pair stream)."""
    emb = load_table(spark, SF_DIR, "embeddings", spread=False).select(
        "vec_id", "embedding"
    )
    queries = emb.where("vec_id % 50 = 0")
    cbs = pq_codebooks(emb, m=M, n_codes=NCODES)
    codes = pq_encode(emb, cbs)
    cands = ivf_probe_candidates(
        emb, queries, n_centroids=16, nprobe=4
    )
    out = pq_topk(codes, queries, cbs, k=K, candidates=cands)
    rows = out.collect()
    assert rows
    cand_set = {(r.query_id, r.neighbor_id) for r in cands.collect()}
    assert all((r.query_id, r.neighbor_id) in cand_set for r in rows)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") <= 3  # encode + ivf assign + LUT
    assert "CartesianProduct" not in plan


def _quantization_mse(spark, emb, cbs):
    """Mean squared reconstruction error of the codebooks over the
    corpus — the objective Lloyd minimizes. Independent formulation
    (pure python over collected rows; the fixture corpus is small)."""
    rows = [list(r.embedding) for r in emb.collect()]
    sub = len(cbs[0][0])
    total = 0.0
    for v in rows:
        for j in range(len(cbs)):
            dists = [
                sum(
                    (float(v[j * sub + i]) - c[i]) ** 2
                    for i in range(sub)
                )
                for c in cbs[j]
            ]
            total += min(dists)
    return total / len(rows)


def test_trained_codebooks_beat_seed_distortion(spark):
    """pq_codebooks_trained (per-subspace Lloyd — r10 verdict #7): the
    trained books' quantization MSE must not exceed the deterministic
    seed books' (Lloyd never increases the objective from any init, and
    both see the same corpus); shapes and the downstream contract stay
    identical; the trainer is deterministic for a fixed seed."""
    emb = _emb(spark)
    seed_cbs = pq_codebooks(emb, m=M, n_codes=NCODES)
    trained = pq_codebooks_trained(emb, m=M, n_codes=NCODES)
    assert len(trained) == M
    assert all(len(cb) == NCODES for cb in trained)
    assert all(len(c) == len(seed_cbs[0][0]) for cb in trained for c in cb)
    mse_seed = _quantization_mse(spark, emb, seed_cbs)
    mse_trained = _quantization_mse(spark, emb, trained)
    assert mse_trained <= mse_seed, (mse_trained, mse_seed)
    # strictly better on this corpus (not a degenerate tie)
    assert mse_trained < mse_seed * 0.95
    # deterministic: the trainer re-runs to the identical books
    assert trained == pq_codebooks_trained(emb, m=M, n_codes=NCODES)
    # and more Lloyd never hurts: 5 iters <= 1 iter distortion
    one_iter = pq_codebooks_trained(emb, m=M, n_codes=NCODES, train_iters=1)
    assert mse_trained <= _quantization_mse(spark, emb, one_iter) + 1e-12


def test_trained_codebooks_drive_the_same_pipeline(spark):
    """The trained books feed pq_encode/pq_topk unchanged — the planted
    exact duplicate still shares its query's codes and ranks first."""
    import pyspark.sql.functions as F

    emb = _emb(spark)
    dup = emb.where("vec_id = 3").select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(dup)
    cbs = pq_codebooks_trained(corpus, m=M, n_codes=NCODES)
    codes = pq_encode(corpus, cbs)
    out = pq_topk(codes, corpus.where("vec_id = 3"), cbs, k=3).collect()
    assert out[0].neighbor_id == 100003 and out[0].rank == 1


def test_validation(spark):
    emb = _emb(spark)
    with pytest.raises(ValueError, match="divide"):
        pq_codebooks(emb, m=7, n_codes=4)
    with pytest.raises(ValueError, match="m >= 1"):
        pq_codebooks(emb, m=0, n_codes=4)
    with pytest.raises(ValueError, match="only"):
        pq_codebooks(emb.limit(3), m=8, n_codes=16)
    with pytest.raises(ValueError, match="divide"):
        pq_codebooks_trained(emb, m=7, n_codes=4)
    with pytest.raises(ValueError, match="m >= 1"):
        pq_codebooks_trained(emb, m=0, n_codes=4)
    with pytest.raises(ValueError, match="only"):
        pq_codebooks_trained(emb.limit(3), m=8, n_codes=16)
