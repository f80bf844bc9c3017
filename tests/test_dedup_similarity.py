"""Behavioral tests for dedup / similarity / multimodal operators —
properties the DuckDB parity harness can't express (LSH recall/precision,
stub decode plumbing)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from extended_ops.operators import dedup as D
from extended_ops.operators import multimodal as M
from extended_ops.operators import similarity as S
from extended_ops.sources.tables import load_table

from conftest import SF_DIR


def test_minhash_precision_and_recall(spark):
    docs = load_table(spark, SF_DIR, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in D.minhash_near_dup_pairs(
            docs, k=3, num_hashes=64, bands=16, threshold=0.5
        ).collect()
    }
    assert approx <= exact  # exact-verify step => precision 1.0
    assert exact  # fixture contains planted near-dups
    assert len(approx) / len(exact) >= 0.8  # banding recall


def test_minhash_md5_family_matches_xxhash_family_shape(spark):
    """The oracle-reproducible md5 affine family finds the same planted
    near-dups as the production xxhash64 family (hash families only move
    which borderline pairs band-collide; the exact-Jaccard verify makes
    both subsets of the exact answer)."""
    docs = load_table(spark, SF_DIR, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()
    }
    md5_pairs = {
        (r.id_a, r.id_b)
        for r in D.minhash_near_dup_pairs(
            docs, k=3, num_hashes=64, bands=16, threshold=0.5,
            hash_family="md5",
        ).collect()
    }
    assert md5_pairs <= exact
    assert len(md5_pairs) / len(exact) >= 0.8


def test_affine_bucket_hash_rejects_xxhash64_family(spark):
    """bucket_hash='affine' folds minima with acc*P+h — sound only for the
    md5 family's bounded nonnegative minima; xxhash64's full-range signed
    minima overflow (silent wrap / ANSI error), so the combination is
    rejected eagerly (ADVICE r3)."""
    docs = load_table(spark, SF_DIR, "documents")
    with pytest.raises(ValueError, match="affine"):
        D.minhash_near_dup_pairs(
            docs, k=3, hash_family="xxhash64", bucket_hash="affine"
        )
    sigs = spark.createDataFrame([Row(id=1, sig=[1, 2, 3, 4])])
    with pytest.raises(ValueError, match="affine"):
        D.lsh_candidate_pairs(
            sigs, bands=2, rows_per_band=2,
            bucket_hash="affine", hash_family="xxhash64",
        )


def test_shingle_df_cap_bounds_pair_explosion(spark):
    """One boilerplate shingle shared by every doc may not explode into
    O(n²) pairs: with the df cap active, only docs connected by *rare*
    shingles pair up."""
    n = 40
    rows = [
        Row(doc_id=i, text=f"aaa bbb ccc u{i}a u{i}b u{i}c") for i in range(n)
    ]
    # planted near-dup pair sharing rare shingles only
    rows += [
        Row(doc_id=100, text="xxx yyy zzz www vvv"),
        Row(doc_id=101, text="xxx yyy zzz www vvv"),
    ]
    df = spark.createDataFrame(rows)
    uncapped = D.ngram_jaccard_pairs(df, k=3, threshold=0.01)
    capped = D.ngram_jaccard_pairs(
        df, k=3, threshold=0.01, max_shingle_df=10
    )
    # every boilerplate doc shares 'aaa bbb ccc' -> quadratic without cap
    assert uncapped.count() >= n * (n - 1) // 2
    assert {(r.id_a, r.id_b) for r in capped.collect()} == {(100, 101)}


def test_bounded_posting_lists_caps_null_keys(spark):
    """r7 (ADVICE): the over-cap blacklist anti-join must be null-safe.
    A plain name-list anti-join never matches NULL, so an over-cap
    NULL-keyed group would bypass the cap — rebuilding the unbounded
    collect_list buffer AND appearing in results, unlike the naive
    post-filter form the docstring promises identity with."""
    rows = [Row(k=None, id=i) for i in range(10)]  # hot NULL key (df=10)
    rows += [Row(k=1, id=100), Row(k=1, id=101)]  # under-cap normal key
    df = spark.createDataFrame(rows, "k int, id int")
    out = D.bounded_posting_lists(
        df, ["k"], "id", max_size=5, pin_keyed=False
    ).collect()
    assert {r.k for r in out} == {1}  # NULL group capped out
    assert sorted(out[0].ids) == [100, 101]
    # identity with the naive form: an UNDER-cap NULL group survives
    out2 = D.bounded_posting_lists(
        df, ["k"], "id", max_size=50, pin_keyed=False
    ).collect()
    assert {r.k for r in out2} == {None, 1}


def test_minhash_pre_dedup_exact_dup_recall_survives_bucket_cap(spark):
    """The r5 exact-dup pre-pass: a popular duplicated text may NOT lose
    its pairs to the LSH bucket cap. 30 identical docs collapse to one
    rep before banding, so no bucket saturates; every intra-group pair
    comes back at jaccard exactly 1.0, and a planted near-dup of the
    group pairs with EVERY member (cross-group expansion). With
    pre_dedup=False the same corpus loses all of it to the cap —
    the failure mode the pre-pass exists to remove."""
    dup_ids = list(range(30))
    rows = [
        Row(doc_id=i, text="the same boiler plate text everywhere here")
        for i in dup_ids
    ]
    # near-dup of the boilerplate (differs in one trailing word)
    rows.append(
        Row(doc_id=100, text="the same boiler plate text everywhere now")
    )
    # unrelated filler so banding has something else to look at
    rows += [
        Row(doc_id=200 + i, text=f"totally different content u{i}a u{i}b u{i}c u{i}d")
        for i in range(5)
    ]
    df = spark.createDataFrame(rows)
    kw = dict(k=3, num_hashes=64, bands=16, threshold=0.5,
              hash_family="md5", max_bucket_size=10)
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.minhash_near_dup_pairs(df, **kw).collect()
    }
    intra = {(a, b) for a in dup_ids for b in dup_ids if a < b}
    assert intra <= set(got)
    assert all(got[p] == 1.0 for p in intra)
    # the near-dup pairs with every group member, same jaccard each time
    cross = {(i, 100) for i in dup_ids}
    assert cross <= set(got)
    assert len({got[p] for p in cross}) == 1
    # sanity: without the pre-pass the cap destroys all of it
    without = {
        (r.id_a, r.id_b)
        for r in D.minhash_near_dup_pairs(df, pre_dedup=False, **kw).collect()
    }
    assert not (intra & without) and not (cross & without)


def test_lsh_bucket_cap_bounds_candidates(spark):
    """A degenerate LSH bucket (many identical docs -> one fingerprint)
    is dropped by the bucket cap instead of emitting O(n²) candidates."""
    df = spark.createDataFrame(
        [Row(doc_id=i, text="same boiler plate text everywhere") for i in range(30)]
    )
    fp = D.simhash(df)
    assert D.simhash_candidate_pairs(fp, bands=4).count() == 30 * 29 // 2
    assert (
        D.simhash_candidate_pairs(fp, bands=4, max_bucket_size=10).count() == 0
    )


def test_exact_dedup_deterministic_survivor(spark):
    df = spark.createDataFrame(
        [Row(doc_id=5, text="a b c"), Row(doc_id=2, text="a b c"),
         Row(doc_id=9, text="x y z")],
    )
    out = {r.text: r.doc_id for r in D.exact_dedup(df, ["text"], "doc_id").collect()}
    assert out == {"a b c": 2, "x y z": 9}


def test_simhash_identical_docs_collide(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="the quick brown fox jumps"),
         Row(doc_id=2, text="the quick brown fox jumps"),
         Row(doc_id=3, text="entirely different words here now")],
    )
    fps = {r.id: r.simhash for r in D.simhash(df).collect()}
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]
    cands = {
        (r.id_a, r.id_b)
        for r in D.simhash_candidate_pairs(
            D.simhash(df).select("id", "simhash"), bands=4
        ).collect()
    }
    assert (1, 2) in cands


def test_lsh_topk_agrees_with_brute_force_on_top1(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    exact = {
        r.query_id: r.neighbor_id
        for r in S.brute_force_topk(emb, queries, k=1).collect()
    }
    approx_rows = S.lsh_topk(
        emb, queries, dim=64, k=10, nbits=16, bands=4
    ).collect()
    approx_sets = {}
    for r in approx_rows:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    # every query got candidates
    assert set(exact) == set(approx_sets)
    # the verify stage computes EXACT cosines: any (q, n) the LSH path
    # returns must carry the same sim as brute force
    bf = {
        (r.query_id, r.neighbor_id): r.sim
        for r in S.brute_force_topk(emb, queries, k=499).collect()
    }
    for r in approx_rows:
        assert bf[(r.query_id, r.neighbor_id)] == pytest.approx(r.sim, abs=1e-6)
    # recall floor — these embeddings are weakly similar (max cos ≈ 0.44,
    # per-bit collision p ≈ 0.645), where multi-probe banding still gives
    # ≈0.96 expected per-query hit prob; the exact twin `sim_topk` is the
    # hash-checked one
    hits = sum(1 for q, n in exact.items() if n in approx_sets[q])
    assert hits / len(exact) >= 0.6


def test_lsh_topk_blas_matches_expr_twin(spark):
    """The production BLAS sketch/verify path returns exactly what the
    oracle-reproducible Catalyst-fold twin returns: both compute the same
    hyperplane sign bits (a near-zero dot could in principle flip between
    summation orders — this pins that it doesn't on real data) and the
    same candidate top-k."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    kw = dict(dim=64, k=10, nbits=16, bands=4)
    blas = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in S.lsh_topk(emb, queries, impl="blas", **kw).collect()
    }
    expr = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in S.lsh_topk(emb, queries, impl="expr", **kw).collect()
    }
    assert blas == expr


def test_lsh_topk_finds_planted_duplicates(spark):
    """Deterministic recall: a scaled copy of a vector has the identical
    hyperplane sketch (sign(2v·h) = sign(v·h)), so LSH MUST bucket it with
    its original and the exact-cosine verify MUST rank it #1 (cos = 1)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    planted = queries.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    top1 = {
        r.query_id: (r.neighbor_id, r.sim)
        for r in S.lsh_topk(corpus, queries, dim=64, k=1, nbits=16, bands=4)
        .collect()
    }
    for qid, (nid, sim) in top1.items():
        assert nid == qid + 100000
        assert sim == pytest.approx(1.0, abs=1e-6)


def test_ivf_topk_finds_planted_duplicates_and_recall(spark):
    """Deterministic: a scaled copy has the same nearest centroid, so IVF
    must return it at rank 1 with cos=1; plus a recall floor vs brute
    force on the real corpus (nprobe=4 of 16 lists)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    planted = queries.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    top1 = {
        r.query_id: (r.neighbor_id, r.sim)
        for r in S.ivf_topk(corpus, queries, k=1).collect()
    }
    for qid, (nid, sim) in top1.items():
        assert nid == qid + 100000
        assert sim == pytest.approx(1.0, abs=1e-6)

    exact = {
        r.query_id: r.neighbor_id
        for r in S.brute_force_topk(emb, queries, k=1).collect()
    }
    approx = {}
    for r in S.ivf_topk(emb, queries, k=10).collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(1 for q, n in exact.items() if n in approx.get(q, set()))
    assert hits / len(exact) >= 0.4


def test_ivf_topk_expr_planted_duplicates_and_recall(spark):
    """The deterministic-seed (oracle-checked) IVF twin: any fixed coarse
    quantizer assigns a scaled copy to its original's list, so planted
    dups must surface at rank 1; recall floor vs brute force as for the
    k-means variant."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    planted = queries.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    top1 = {
        r.query_id: (r.neighbor_id, r.sim)
        for r in S.ivf_topk_expr(corpus, queries, k=1).collect()
    }
    for qid, (nid, sim) in top1.items():
        assert nid == qid + 100000
        assert sim == pytest.approx(1.0, abs=1e-6)

    exact = {
        r.query_id: r.neighbor_id
        for r in S.brute_force_topk(emb, queries, k=1).collect()
    }
    approx = {}
    for r in S.ivf_topk_expr(emb, queries, k=10).collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(1 for q, n in exact.items() if n in approx.get(q, set()))
    assert hits / len(exact) >= 0.4


def test_near_dup_clusters_components(spark):
    """Transitive grouping: A-B and B-C pairs put all three in ONE
    cluster labeled min(id); disconnected pairs get their own label;
    singleton docs (no pairs) are absent from the output."""
    pairs = spark.createDataFrame(
        [Row(id_a=2, id_b=5), Row(id_a=5, id_b=9), Row(id_a=20, id_b=30)]
    )
    out = {
        r.doc_id: r.cluster_id
        for r in D.near_dup_clusters(pairs).collect()
    }
    assert out == {2: 2, 5: 2, 9: 2, 20: 20, 30: 20}


def test_near_dup_clusters_chain_converges(spark):
    """A path graph (worst diameter per edge count) still converges to a
    single component within max_iters."""
    n = 12
    pairs = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(n)]
    )
    out = {
        r.doc_id: r.cluster_id
        for r in D.near_dup_clusters(pairs, max_iters=n + 1).collect()
    }
    assert set(out) == set(range(n + 1))
    assert set(out.values()) == {0}


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ).filter(lambda t: t[0] != t[1]),
        min_size=1,
        max_size=40,
    )
)
def test_near_dup_clusters_matches_union_find(spark, edges):
    """Random graphs: the distributed label propagation must agree with
    a reference union-find on every component labeling."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {x: find(x) for x in parent}

    pairs = spark.createDataFrame(
        [Row(id_a=a, id_b=b) for a, b in edges]
    )
    got = {
        r.doc_id: r.cluster_id
        for r in D.near_dup_clusters(pairs, max_iters=40).collect()
    }
    assert got == expected


def test_near_dup_clusters_raises_past_max_iters(spark):
    """Non-convergence is a loud error, not a silently-wrong labeling."""
    pairs = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(10)]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        D.near_dup_clusters(pairs, max_iters=2)


def test_near_dup_clusters_pointer_jumping_resolves_long_chain(spark):
    """The chain-graph pathology's remedy (r4 verdict action 4): a
    100-node path has diameter 100, so plain propagation needs ~100
    rounds — pointer jumping (label-doubling) resolves it in O(log n):
    with max_iters=12 the plain mode must fail loudly while the jumping
    mode labels the whole chain with its minimum."""
    n = 100
    pairs = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(n)]
    )
    with pytest.raises(RuntimeError, match="pointer_jumping"):
        D.near_dup_clusters(pairs, max_iters=12, pointer_jumping=False)
    out = {
        r.doc_id: r.cluster_id
        for r in D.near_dup_clusters(
            pairs, max_iters=12, pointer_jumping=True
        ).collect()
    }
    assert set(out) == set(range(n + 1))
    assert set(out.values()) == {0}


def test_near_dup_clusters_adaptive_default_resolves_long_chain(spark):
    """The r16 default (``pointer_jumping=None``) is adaptive: plain
    rounds until ``_JUMP_AFTER_ROUNDS``, label-doubling after — so a
    100-node path resolves without the caller knowing its graph is a
    chain, in far fewer than the ~100 plain rounds (12 suffices:
    3 plain + log-ish jumping), while dense graphs (every other test
    here) never reach the trigger."""
    n = 100
    pairs = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(n)]
    )
    out = {
        r.doc_id: r.cluster_id
        for r in D.near_dup_clusters(pairs, max_iters=12).collect()
    }
    assert set(out) == set(range(n + 1))
    assert set(out.values()) == {0}


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ).filter(lambda t: t[0] != t[1]),
        min_size=1,
        max_size=40,
    )
)
def test_near_dup_clusters_pointer_jumping_matches_plain(spark, edges):
    """Pointer jumping is an acceleration, not a semantics change: both
    modes must produce the identical component labeling."""
    pairs = spark.createDataFrame([Row(id_a=a, id_b=b) for a, b in edges])
    plain = {
        (r.doc_id, r.cluster_id)
        for r in D.near_dup_clusters(pairs, max_iters=40).collect()
    }
    jumped = {
        (r.doc_id, r.cluster_id)
        for r in D.near_dup_clusters(
            pairs, max_iters=40, pointer_jumping=True
        ).collect()
    }
    assert plain == jumped


def test_pnm_codec_roundtrip():
    """The dependency-free PNM codec is real: it parses headers it wrote,
    rejects garbage, and nearest-neighbor resize picks the exact pixels."""
    import numpy as np
    import pytest as _pytest

    raster = bytes(range(12))  # 4x3 grayscale
    img = b"P5\n4 3\n255\n" + raster
    assert M.pnm_decode(img) == (4, 3, 1)
    # identity resize preserves the raster bytes
    assert M.pnm_resize(img, 4, 3) == img
    # 2x2 downsample: src pixel (x*4//2, y*3//2) -> (0,0),(2,0),(0,1),(2,1)
    small = M.pnm_resize(img, 2, 2)
    assert small == b"P5\n2 2\n255\n" + bytes([0, 2, 4, 6])
    # upsample replicates nearest pixels, output raster is w*h bytes
    big = M.pnm_resize(img, 8, 6)
    assert M.pnm_decode(big) == (8, 6, 1)
    # P6 RGB: 2x1, resize to 1x1 keeps the first pixel's 3 channels
    rgb = b"P6\n2 1\n255\n" + bytes([10, 20, 30, 40, 50, 60])
    assert M.pnm_decode(rgb) == (2, 1, 1)
    assert M.pnm_resize(rgb, 1, 1) == b"P6\n1 1\n255\n" + bytes([10, 20, 30])
    with _pytest.raises(ValueError):
        M.pnm_decode(b"JFIF not a pnm")
    with _pytest.raises(ValueError):
        M.pnm_decode(b"P5\n4 3\n255\nshort")  # truncated raster


def test_multimodal_decode_real_pgm(spark):
    docs = M.with_pgm_payload(load_table(spark, SF_DIR, "documents"))
    out = M.decode_media(docs)
    assert out.schema == M.DECODED_SCHEMA
    rows = out.orderBy("doc_id").limit(5).collect()
    assert rows
    for row in rows:
        # decoder output must agree with the id-derived dimensions
        assert row.width == 4 + row.doc_id % 13
        assert row.height == 3 + row.doc_id % 7
        assert row.n_frames == 1
        assert row.media_type == M.PGM_MEDIA_TYPE
        # header + raster bytes
        header = f"P5\n{row.width} {row.height}\n255\n"
        assert row.n_bytes == len(header) + row.width * row.height


def test_resize_media_real_pgm(spark):
    docs = M.with_pgm_payload(load_table(spark, SF_DIR, "documents"))
    out = M.resize_media(docs, width=8, height=4)
    assert out.schema == M.RESIZED_SCHEMA
    rows = out.limit(5).collect()
    assert rows
    for r in rows:
        assert (r.width, r.height) == (8, 4)
        # output is itself a valid PGM the decoder accepts
        assert M.pnm_decode(bytes(r.payload)) == (8, 4, 1)


def test_frame_sample_reconstructs_prefix(spark):
    docs = M.with_binary_payload(load_table(spark, SF_DIR, "documents"))
    frames = (
        M.frame_sample(docs, stride=4)
        .where(F.col("doc_id") == 0)
        .orderBy("frame_idx")
        .collect()
    )
    src = load_table(spark, SF_DIR, "documents").where(F.col("doc_id") == 0).collect()[0]
    joined = b"".join(bytes(r.frame_bytes) for r in frames).decode()
    assert src.text.startswith(joined)
    assert len(frames) <= 16


def test_ann_recall_floors(spark):
    """The REGISTERED operating points on the driver's near-random
    embeddings — the ANN worst case, where selectivity and recall trade
    off degenerately. What is pinned here: the points stay SELECTIVE
    (candidate fraction ceilings — the r4 fix over r3's 0.94/0.50
    near-exhaustive points) and keep their measured worst-case recall
    (r4: LSH 0.13, IVF 0.45 at sf0.01). The floors that make these
    points GOOD plans live in test_ann_clustered.py, on a corpus with
    real neighbor structure."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    n = emb.count()
    nq = queries.count()

    def topk_set(df):
        out: dict = {}
        for r in df.collect():
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out

    exact = topk_set(S.brute_force_topk(emb, queries, k=10))
    assert exact

    def recall(approx):
        num = sum(len(approx.get(q, set()) & e) for q, e in exact.items())
        return num / sum(len(e) for e in exact.values())

    lsh_frac = S.lsh_probe_candidates(
        emb, queries, dim=64, nbits=40, bands=4
    ).count() / (nq * (n - 1))
    assert lsh_frac <= 0.10
    lsh = topk_set(
        S.lsh_topk(emb, queries, dim=64, k=10, nbits=40, bands=4)
    )
    assert recall(lsh) >= 0.10
    ivf_frac = S.ivf_probe_candidates(
        emb, queries, n_centroids=32, nprobe=6
    ).count() / (nq * (n - 1))
    assert ivf_frac <= 0.25
    ivf = topk_set(
        S.ivf_topk_expr(emb, queries, k=10, n_centroids=32, nprobe=6)
    )
    assert recall(ivf) >= 0.35


def test_query_collect_oom_guard(spark, monkeypatch):
    """The broadcast-queries regime refuses to collect an oversized query
    side (misuse that would otherwise OOM the driver silently) with an
    actionable error naming the alternative."""
    emb = load_table(spark, SF_DIR, "embeddings")
    monkeypatch.setattr(S, "MAX_COLLECTED_QUERIES", 100)
    with pytest.raises(ValueError, match="cosine_pairs_above"):
        S.brute_force_topk(emb, emb, k=1)
    with pytest.raises(ValueError, match="batch the queries"):
        S.ivf_topk(emb, emb, k=1)


def test_extract_features_hand_computed(spark):
    """Pixel stats from a hand-built 2x2 P5 raster: bytes 'ab01' =
    [97, 98, 48, 49] -> n=4, mean=73.0, var from exact integer moments,
    bins: two in [64,128), two in [0,64)."""
    import math

    payload = b"P5\n2 2\n255\nab01"
    df = spark.createDataFrame([(7, payload)], "doc_id long, payload binary")
    r = M.extract_features(df).collect()[0]
    px = [97, 98, 48, 49]
    n, sx = len(px), sum(px)
    sxx = sum(v * v for v in px)
    assert r.n_pixels == 4
    assert r.px_mean == float(sx) / n
    assert r.px_std == math.sqrt(float(n * sxx - sx * sx)) / n
    assert (r.b0, r.b1, r.b2, r.b3) == (2, 2, 0, 0)


def test_extract_features_over_generated_payloads(spark):
    """Over real generated PGMs: histogram bins cover all pixels, std is
    finite, and the raster is ASCII hex so every pixel lands in b0/b1."""
    docs = M.with_pgm_payload(load_table(spark, SF_DIR, "documents"))
    rows = M.extract_features(docs).limit(20).collect()
    assert rows
    for r in rows:
        assert r.b0 + r.b1 + r.b2 + r.b3 == r.n_pixels
        assert (r.b2, r.b3) == (0, 0)  # hex chars are 48-57 / 97-102
        assert 48 <= r.px_mean <= 102
        assert r.px_std >= 0


def test_extract_features_zero_pixel_payload_yields_null_stats(spark):
    """A well-formed 0x0 P5 payload must produce NULL mean/std, not kill
    the task with a division by zero."""
    df = spark.createDataFrame(
        [(1, b"P5\n0 0\n255\n"), (2, b"P5\n2 2\n255\nab01")],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in M.extract_features(df).collect()}
    assert rows[1].n_pixels == 0
    assert rows[1].px_mean is None and rows[1].px_std is None
    assert rows[2].n_pixels == 4 and rows[2].px_mean is not None


def test_minhash_oracle_parity_on_planted_dup_corpus(spark, tmp_path):
    """The driver's sf0.01 corpus has ZERO duplicate texts, so its hash
    check never exercises the pre-pass oracle's collapse / intra /
    cross-expansion CTEs. This builds a corpus with real dup groups
    (including a whitespace-variant group that only the NORMALIZED
    fingerprint collapses, and a short-text dup group below k words that
    must NOT emit intra pairs) and hash-checks the registered Spark plan
    against the registered DuckDB oracle on it."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from extended_ops.plans import ORACLES, QUERIES
    from oracle_utils import assert_parity

    base = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "one two three four five six seven eight nine",
        "red orange yellow green blue indigo violet",
    ]
    docs = []
    for i in range(60):
        docs.append(base[i % 3] + f" tail{i}a tail{i}b tail{i}c")
    # dup group A: 4 identical docs
    for j in range(4):
        docs.append("exact duplicate content words here again and again")
    # dup group B: whitespace/case variants (same normalized fingerprint)
    docs.append("Mixed   Case\tWhitespace Variant document body")
    docs.append("mixed case whitespace variant DOCUMENT BODY".title())
    # near-dup of group A (one word differs) — must pair with ALL of A
    docs.append("exact duplicate content words here again and also")
    # dup group C: below k=3 words — collapses but emits NO intra pairs
    docs.append("tiny doc")
    docs.append("tiny doc")
    sf = tmp_path / "planted"
    sf.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(docs)), pa.int64()),
                "text": pa.array(docs, pa.string()),
                "lang": pa.array(["en"] * len(docs), pa.string()),
                "source": pa.array(["t"] * len(docs), pa.string()),
                "n_chars": pa.array([len(t) for t in docs], pa.int64()),
            }
        ),
        str(sf / "documents.parquet"),
    )
    for t in (
        "region nation customer supplier part orders lineitem "
        "events embeddings"
    ).split():
        os.symlink(f"{SF_DIR}/{t}.parquet", str(sf / f"{t}.parquet"))

    out = QUERIES["dedup_minhash"](spark, str(sf))
    assert_parity(out, ORACLES["dedup_minhash"], str(sf))
    got = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    a_ids = list(range(60, 64))
    # intra pairs of group A at exactly 1.0
    for i, x in enumerate(a_ids):
        for y in a_ids[i + 1 :]:
            assert got.get((x, y)) == 1.0
    # the whitespace-variant group pairs at 1.0 (normalized fingerprint)
    assert got.get((64, 65)) == 1.0
    # near-dup 66 pairs with every member of group A, same jaccard
    near = {got.get((x, 66)) for x in a_ids}
    assert len(near) == 1 and None not in near
    # short-text dup group emits nothing (no shingles at k=3)
    assert not any(67 in p or 68 in p for p in got)


def test_minhash_max_group_size_bounds_degenerate_dup_groups(spark):
    """A boilerplate text repeated past max_group_size may not emit a
    quadratic intra-pair explosion: the over-cap group is dropped from
    the dup map (bounded work, documented recall forfeit — the
    max_bucket_size trade), while normal-size groups keep full 1.0
    intra recall."""
    rows = [
        Row(doc_id=i, text="the degenerate boiler plate empty page text")
        for i in range(20)
    ]
    rows += [
        Row(doc_id=100 + j, text="a normal small duplicate group body text")
        for j in range(3)
    ]
    df = spark.createDataFrame(rows)
    kw = dict(k=3, num_hashes=64, bands=16, threshold=0.5,
              hash_family="md5", max_group_size=5)
    got = {
        (r.id_a, r.id_b)
        for r in D.minhash_near_dup_pairs(df, **kw).collect()
    }
    big_intra = {(a, b) for a in range(20) for b in range(20) if a < b}
    assert not (big_intra & got)  # capped out
    small_intra = {(100, 101), (100, 102), (101, 102)}
    assert small_intra <= got  # under-cap group keeps exact recall
