"""Regression floors for the REGISTERED ANN operating points on the
clustered planted-neighbor fixture (``tests/ann_fixture.py``).

The driver's `embeddings` table is isotropic noise — the ANN worst case,
where recall and selectivity trade off degenerately (SCALING.md recall
table). These tests pin the property that actually matters for a real
corpus: at the registered operating points, the plans are SELECTIVE
(candidate fraction bounded ≪ 1) while still recalling planted true
neighbors (cos ≈ 0.95 twins in a clustered corpus) — i.e. the "ANN"
query is genuinely sub-exhaustive without being blind.

Registered points under test (plans/extended.py):
- ``sim_topk_lsh``: nbits=40, bands=4 (10-bit bands), multiprobe
- ``sim_topk_ivf``: n_centroids=32, nprobe=6 (seed quantizer)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from extended_ops.operators import similarity as S

from ann_fixture import PLANT_OFFSET, as_spark_df, clustered_embeddings


def _fixture(spark):
    rows, qids = clustered_embeddings()
    df = as_spark_df(spark, rows)
    queries = df.where(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < PLANT_OFFSET)
    )
    return df, queries, qids, len(rows)


def _planted_recall(topk_rows, qids) -> float:
    got: dict = {}
    for r in topk_rows:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(1 for q in qids if q + PLANT_OFFSET in got.get(q, set()))
    return hits / len(qids)


def test_lsh_registered_point_selective_and_recalls(spark):
    """Measured r4: fraction 0.066, recall 1.0 — floors at 0.15 / 0.8
    (the VERDICT r3 acceptance bar)."""
    df, queries, qids, n = _fixture(spark)
    nq = len(qids)
    cand = S.lsh_probe_candidates(df, queries, dim=64, nbits=40, bands=4)
    fraction = cand.count() / (nq * (n - 1))
    assert fraction <= 0.15, f"candidate fraction {fraction:.3f} > 0.15"
    topk = S.lsh_topk(df, queries, dim=64, k=10, nbits=40, bands=4).collect()
    recall = _planted_recall(topk, qids)
    assert recall >= 0.8, f"planted recall {recall:.3f} < 0.8"


def test_ivf_registered_point_selective_and_recalls(spark):
    """Measured r4: fraction 0.195, recall 0.975 — floors at 0.25 / 0.8."""
    df, queries, qids, n = _fixture(spark)
    nq = len(qids)
    cand = S.ivf_probe_candidates(df, queries, n_centroids=32, nprobe=6)
    fraction = cand.count() / (nq * (n - 1))
    assert fraction <= 0.25, f"candidate fraction {fraction:.3f} > 0.25"
    topk = S.ivf_topk_expr(
        df, queries, k=10, n_centroids=32, nprobe=6
    ).collect()
    recall = _planted_recall(topk, qids)
    assert recall >= 0.8, f"planted recall {recall:.3f} < 0.8"


def test_trained_ivf_beats_or_matches_seed_quantizer(spark):
    """The production k-means path at the same (nc, nprobe) must recall
    at least as well as the hash-checkable seed-quantizer twin minus
    noise (trained centroids can only place lists better)."""
    df, queries, qids, n = _fixture(spark)
    seed_recall = _planted_recall(
        S.ivf_topk_expr(df, queries, k=10, n_centroids=32, nprobe=6).collect(),
        qids,
    )
    trained_recall = _planted_recall(
        S.ivf_topk(df, queries, k=10, n_centroids=32, nprobe=6).collect(),
        qids,
    )
    assert trained_recall >= seed_recall - 0.1
    assert trained_recall >= 0.8
