"""Vector-similarity operators over ``array<float>`` embedding columns.

Two tiers, per the standard ANN playbook:

- **Brute-force cosine top-k** — exact; the baseline and the verifier for
  approximate paths. Cost O(|queries| · |corpus| · dim): fine when the
  query set is small (a broadcast join against the full corpus — the
  corpus is scanned once, never shuffled), the *oracle* for everything
  else.
- **LSH (random hyperplane) bucketing** — the scale path: 100 TB of
  embeddings can't be cross-joined. Each vector gets a ``nbits``-bit
  sketch (sign of dot with fixed pseudo-random hyperplanes); candidates
  come from exact-match joins on multi-probe bucket keys, then only the
  candidates get exact cosine. An IVF variant would swap the hash for a
  learned-centroid assignment — same join shape.

All dot products are ``zip_with`` + ``aggregate`` Catalyst expressions in
DOUBLE (sequential fold — deterministic, oracle-reproducible); no Python
UDFs, no ml.linalg dependency.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Hard cap on query-side driver collects in the broadcast-small-queries
#: regime. At 64-dim float64 this bounds the collected matrix to ~50 MB —
#: far below driver heap, far above any sane interactive query set.
MAX_COLLECTED_QUERIES = 100_000


def _collect_queries(queries: DataFrame, cols: list[str]) -> list:
    """Driver-side collect of the query vectors with an OOM guard.

    The broadcast-queries design is only valid when queries ≪ corpus; a
    misuse (passing the corpus as the query side) would otherwise OOM the
    driver silently. ONE bounded pass — ``limit(cap+1)`` short-circuits
    the scan at the cap, so the guard costs nothing extra on the happy
    path and never executes the query-side plan twice."""
    rows = queries.select(*cols).limit(MAX_COLLECTED_QUERIES + 1).collect()
    if len(rows) > MAX_COLLECTED_QUERIES:
        raise ValueError(
            f"query side exceeds {MAX_COLLECTED_QUERIES} rows: the "
            "broadcast-queries regime collects the query matrix to the "
            "driver. For large query sets use the corpus-wide kNN graph "
            "(knn_graph) or batch the queries."
        )
    return rows


def _unit_rows(m):
    """Row-wise unit normalization with the zero-vector guard — ONE
    definition (semantic_decontaminate, knn_graph): a zero
    vector has no direction, so its norm is replaced with inf and every
    cosine involving it becomes 0 instead of a silent NaN row."""
    import numpy as np

    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0] = np.inf
    return m / n


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a sequential double fold (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


#: NOTE on a rejected "optimization": unrolling the literal-vector dot
#: into a left-associated ``0.0 + a₁v₁ + a₂v₂ + …`` expression chain is
#: bit-identical to :func:`dot` and looks codegen-friendly, but the
#: generated Java for nbits·dim (or nc·dim) fused multiply-adds blows
#: janino's method limits — measured: compile time DOMINATES (6.5 s for
#: a 16-bit sketch over 500 rows vs ~1 s end-to-end for the HOF fold),
#: with InternalCompilerException fallbacks at realistic widths. The
#: interpreted HOF fold is the faster total path at every width tried;
#: the real scale lever is the BLAS impl (same joins, matmul per batch).


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def quantize_embeddings(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_max: int = 127,
) -> DataFrame:
    """``embed_quantize`` — symmetric linear int8 quantization of an
    embedding column: per-vector ``scale = max(|xᵢ|)/q_max`` and
    ``qᵢ = round(xᵢ/scale)`` ∈ [−q_max, q_max], the storage layout ANN
    serving stacks ship (4× smaller than float32, dot products in int
    arithmetic); dequantize as ``qᵢ·scale``.

    All math is per-element double expressions over the staged
    double-cast array — floats are widened ONCE so Spark and any
    re-implementation agree bit-for-bit (float→double is exact).
    Zero vectors (scale = 0) quantize to all-zero codes instead of a
    division blow-up. Scale shape: pure scan-side projection — no
    shuffle, no Python; at 100 TB this runs at parquet-scan speed and
    the output columns are strictly smaller than the input.

    Output: ``(vec_id, scale, qvec)`` — ``scale`` rounded to 6 decimals
    for output only (codes use the unrounded scale).
    """
    xs = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    staged = df.select(F.col(id_col), xs.alias("__xs"))
    # stage the scale as a COLUMN: referenced 3× below, an inlined alias
    # expression would recompute the array_max fold per element inside
    # the quantize lambda (the O(n²) trap _with_words documents)
    staged = staged.select(
        F.col(id_col),
        "__xs",
        (
            F.array_max(F.transform(F.col("__xs"), F.abs))
            / F.lit(float(q_max))
        ).alias("__scale"),
    )
    scale = F.col("__scale")
    qvec = F.when(
        scale == 0.0,
        F.transform(F.col("__xs"), lambda x: F.lit(0)),
    ).otherwise(
        F.transform(
            F.col("__xs"), lambda x: F.round(x / scale).cast("int")
        )
    )
    return staged.select(
        F.col(id_col),
        F.round(scale, 6).alias("scale"),
        qvec.alias("qvec"),
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """``sim_topk`` — exact top-k cosine neighbors for each query vector.

    The query matrix is collected and broadcast (small by construction —
    this is the "queries ≪ corpus" regime); the corpus streams through
    ``mapInPandas`` where each Arrow batch scores all queries in ONE BLAS
    matrix multiply and emits only its local top-k per query. The global
    shuffle therefore carries ≤ k·|queries| rows *per batch* — independent
    of corpus size — and the final window ranks that small set. Scoring is
    ~100× faster than per-element Catalyst higher-order folds at identical
    output (double arithmetic either way; sims rounded to 6 decimals for
    cross-engine float stability). Self-matches excluded; deterministic
    tie-break on neighbor id.

    Output: ``(query_id, neighbor_id, rank, sim)``.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.window import Window

    q_rows = _collect_queries(queries, [id_col, vec_col])
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)
    bq = corpus.sparkSession.sparkContext.broadcast((q_ids, qm))

    def score(batches):
        q_ids, qm = bq.value
        for pdf in batches:
            ids = pdf["_id"].to_numpy(dtype=np.int64)
            cm = np.array(pdf["_vec"].tolist(), dtype=np.float64)
            cm /= np.linalg.norm(cm, axis=1, keepdims=True)
            sims = cm @ qm.T  # (batch, n_queries)
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(q_ids):
                keep = ids != qid
                s, nid = sims[keep, j], ids[keep]
                if len(nid) == 0:
                    continue
                # local top-k: sim desc, neighbor id asc
                order = np.lexsort((nid, -s))[:k]
                out_q.append(np.full(len(order), qid))
                out_n.append(nid[order])
                out_s.append(s[order])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "sim": np.concatenate(out_s),
                    }
                )

    local = corpus.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")
    ).mapInPandas(score, "query_id long, neighbor_id long, sim double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("bigint").alias("rank"),
            F.round("sim", 6).alias("sim"),
        )
    )


# --------------------------------------------------------------------------
# LSH scale path
# --------------------------------------------------------------------------


def _hyperplane(dim: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane (pure Python at
    plan-build time — ships to executors as literals, no RNG on workers)."""
    # xorshift-ish LCG: reproducible across platforms without numpy state
    vals = []
    s = (seed * 6364136223846793005 + 1442695040888963407) & (2**64 - 1)
    for _ in range(dim):
        s = (s * 6364136223846793005 + 1442695040888963407) & (2**64 - 1)
        vals.append(((s >> 11) / float(2**53)) * 2.0 - 1.0)
    return vals


def with_lsh_sketch(
    vectors: DataFrame,
    *,
    vec_col: str = "embedding",
    dim: int,
    nbits: int = 16,
    seed: int = 7,
) -> DataFrame:
    """Random-hyperplane sketch: bit i = sign(v · hᵢ). Cosine-similar
    vectors agree on most bits (collision prob = 1 − θ/π per bit).

    Computed as ONE (batch × dim) @ (dim × nbits) BLAS multiply per Arrow
    batch in ``mapInPandas`` — a narrow no-shuffle map. The hyperplanes
    are deterministic literals (same seed → same sketch on any executor).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    hm = np.array(
        [_hyperplane(dim, seed + i) for i in range(nbits)], dtype=np.float64
    ).T  # (dim, nbits)
    weights = (1 << np.arange(nbits)).astype(np.int64)
    bh = vectors.sparkSession.sparkContext.broadcast((hm, weights))
    schema = T.StructType(
        vectors.schema.fields + [T.StructField("lsh_sketch", T.LongType())]
    )

    def add(batches):
        hm, weights = bh.value
        for pdf in batches:
            out = pdf.copy()
            if len(pdf) == 0:
                out["lsh_sketch"] = pd.Series([], dtype="int64")
            else:
                vm = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                out["lsh_sketch"] = ((vm @ hm) > 0).astype(np.int64) @ weights
            yield out

    return vectors.mapInPandas(add, schema)


def with_lsh_sketch_expr(
    vectors: DataFrame,
    *,
    vec_col: str = "embedding",
    dim: int,
    nbits: int = 16,
    seed: int = 7,
) -> DataFrame:
    """Oracle-reproducible twin of :func:`with_lsh_sketch`: the SAME
    hyperplanes, but each sign bit comes from a sequential-fold Catalyst
    dot product — which DuckDB's ``list_sum`` reproduces bit-for-bit, so
    the whole sketch (a discrete value: sign flips can't be rounded away)
    is hash-checkable. Costs one fold per bit instead of one BLAS matmul
    per batch (~nbits× the FLOPs) — the verification twin; production
    uses the BLAS variant."""
    sketch = F.lit(0).cast("long")
    for i in range(nbits):
        hcol = F.array(*[F.lit(v) for v in _hyperplane(dim, seed + i)])
        sketch = sketch + (dot(F.col(vec_col), hcol) > 0).cast("long") * (
            1 << i
        )
    return vectors.withColumn("lsh_sketch", sketch)


def lsh_bucket_candidates(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    nbits: int = 16,
    bands: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Candidate pairs from banded sketch buckets (same shape as the
    MinHash LSH join: explode band keys → equi-join → distinct pairs).
    Shuffle is O(n · bands); no cross join anywhere.
    """
    width = nbits // bands
    mask = (1 << width) - 1
    sk = with_lsh_sketch(
        vectors, vec_col=vec_col, dim=dim, nbits=nbits, seed=seed
    ).select(F.col(id_col).alias("id"), "lsh_sketch")
    blocks = sk.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block"),
                        F.shiftright(F.col("lsh_sketch"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.block", "bk.val")
    return (
        blocks.alias("a")
        .join(
            blocks.alias("b"),
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def _band_keys(
    sketch: Column, *, nbits: int, bands: int, probes: bool
) -> Column:
    """Array of (band, val) keys for a sketch. With ``probes``, each band
    additionally emits every Hamming-distance-1 variant of its value
    (multi-probe LSH, Lv et al. VLDB'07): recall per band rises from pᵂ
    to pᵂ + W·pᵂ⁻¹(1−p) at the cost of W extra keys on the probe side
    only — the corpus side always emits exactly ``bands`` keys."""
    width = nbits // bands
    mask = (1 << width) - 1
    entries = []
    for b in range(bands):
        val = F.shiftright(sketch, b * width).bitwiseAND(F.lit(mask))
        variants = [val]
        if probes:
            variants += [val.bitwiseXOR(F.lit(1 << j)) for j in range(width)]
        entries += [
            F.struct(F.lit(b).alias("band"), v.alias("val")) for v in variants
        ]
    return F.array(*entries)


def lsh_probe_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    nbits: int = 16,
    bands: int = 4,
    seed: int = 7,
    multiprobe: bool = True,
    impl: str = "blas",
) -> DataFrame:
    """The candidate-generation stage of :func:`lsh_topk`, exposed so the
    selectivity of an operating point is directly measurable: returns the
    DISTINCT ``(query_id, neighbor_id)`` candidate set (everything the
    exact-cosine verify would have to score). Candidate fraction =
    ``count / (|queries| · (|corpus| − 1))`` — the fraction of the corpus
    each query reads; the quantity SCALING.md's recall table records and
    the per-point pytest ceilings pin."""
    sketcher = with_lsh_sketch_expr if impl == "expr" else with_lsh_sketch
    c_sk = sketcher(
        corpus, vec_col=vec_col, dim=dim, nbits=nbits, seed=seed
    ).select(F.col(id_col).alias("neighbor_id"), "lsh_sketch")
    q_sk = sketcher(
        queries, vec_col=vec_col, dim=dim, nbits=nbits, seed=seed
    ).select(F.col(id_col).alias("query_id"), "lsh_sketch")
    c_keys = c_sk.select(
        "neighbor_id",
        F.explode(
            _band_keys(F.col("lsh_sketch"), nbits=nbits, bands=bands, probes=False)
        ).alias("bk"),
    ).select("neighbor_id", "bk.band", "bk.val")
    q_keys = q_sk.select(
        "query_id",
        F.explode(
            _band_keys(
                F.col("lsh_sketch"), nbits=nbits, bands=bands, probes=multiprobe
            )
        ).alias("bk"),
    ).select("query_id", "bk.band", "bk.val")
    return (
        c_keys.join(F.broadcast(q_keys), ["band", "val"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    k: int = 10,
    nbits: int = 16,
    bands: int = 4,
    seed: int = 7,
    multiprobe: bool = True,
    impl: str = "blas",
) -> DataFrame:
    """``sim_topk_lsh`` — approximate top-k, the 100 TB ANN path.

    Asymmetric search (not the all-pairs join): the corpus is sketched
    once and emits ``bands`` exact band keys per vector; the small query
    side emits multi-probe keys (each band value plus its Hamming-1
    variants) and is **broadcast** into the key join — the corpus streams
    map-side, no corpus shuffle. Exact cosine runs only on candidates, so
    per-query work is ≈ bands·(1+width)·n/2^width instead of n.

    Recall < 1 by construction relative to the exact ``sim_topk`` — but
    the pipeline itself is deterministic: ``impl='expr'`` computes the
    sketch bits and the candidate cosines as sequential-fold Catalyst
    expressions, which DuckDB reproduces bit-for-bit, so the registered
    query is hash-checked end-to-end. ``impl='blas'`` (default) is the
    production path — numpy matmuls per Arrow batch; identical joins, but
    sign bits of near-zero dots are not guaranteed reproducible across
    BLAS summation orders.

    With the default 16-bit/4-band/multi-probe config, per-band hit prob
    at bit-match prob p is p⁴+4p³(1−p) — over 4 bands ≈0.96 even for
    weakly-similar neighbors (p≈0.645 at cos≈0.44).
    """
    cands = lsh_probe_candidates(
        corpus,
        queries,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
        nbits=nbits,
        bands=bands,
        seed=seed,
        multiprobe=multiprobe,
        impl=impl,
    )
    return _exact_topk_on_candidates(
        cands, corpus, queries, id_col=id_col, vec_col=vec_col, k=k, impl=impl
    )


def _exact_topk_on_candidates(
    cands: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    k: int,
    impl: str = "blas",
) -> DataFrame:
    """Shared ANN verify tail: join (query_id, neighbor_id) candidate pairs
    back to their vectors, exact-cosine score, per-query top-k window.
    Query vectors broadcast; corpus joined once on the candidate ids.
    ``impl='blas'``: vectorized einsum per Arrow batch. ``impl='expr'``:
    sequential-fold Catalyst cosine — DuckDB-bit-identical, and on the
    small candidate set the JVM expression beats a Python-worker spin-up
    anyway."""
    import numpy as np

    from pyspark.sql.window import Window

    # norms are computed ONCE per vector row, before the candidate join —
    # a candidate appears in ~many pairs, and cosine per pair would
    # otherwise re-fold the two self-dots per candidate row (3 folds →
    # 1). sim = dot/(qn·cn) is the same IEEE op sequence as
    # dot/(sqrt(aa)·sqrt(bb)), so the oracle hash is unchanged.
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
    )
    paired = cands.join(F.broadcast(qv), "query_id").join(cv, "neighbor_id")

    def exact_cosine(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qm = np.array(pdf["q_vec"].tolist(), dtype=np.float64)
            cm = np.array(pdf["c_vec"].tolist(), dtype=np.float64)
            qm /= np.linalg.norm(qm, axis=1, keepdims=True)
            cm /= np.linalg.norm(cm, axis=1, keepdims=True)
            yield pdf[["query_id", "neighbor_id"]].assign(
                sim=np.einsum("ij,ij->i", qm, cm)
            )

    if impl == "expr":
        scored = paired.select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("sim"),
        )
    else:
        scored = paired.mapInPandas(
            exact_cosine, "query_id long, neighbor_id long, sim double"
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("bigint").alias("rank"),
            F.round("sim", 6).alias("sim"),
        )
    )


# --------------------------------------------------------------------------
# IVF scale path
# --------------------------------------------------------------------------


def _seed_centroids(
    corpus: DataFrame, *, id_col: str, vec_col: str, n_centroids: int
) -> tuple[list[list[float]], list[float]]:
    """Deterministic-seed coarse quantizer shared by :func:`ivf_topk_expr`
    and :func:`cluster_profile`: the first ``n_centroids`` corpus vectors
    in ``(md5(id), id)`` order, with their norms computed by the SAME
    sequential fold both engines use (bit-for-bit literal parity)."""
    import math

    order = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    seeds = (
        corpus.select(id_col, vec_col).orderBy(*order).limit(n_centroids)
    ).collect()

    def fold_norm(vec: list[float]) -> float:
        acc = 0.0
        for x in vec:
            acc += float(x) * float(x)
        return math.sqrt(acc)

    cvecs = [list(r[1]) for r in seeds]
    return cvecs, [fold_norm(v) for v in cvecs]


def _centroid_score(vec: Column, cvecs, cnorms, c: int) -> Column:
    lit = F.array(*[F.lit(float(x)) for x in cvecs[c]])
    return dot(vec, lit) / F.lit(cnorms[c])


def _assign_cluster_expr(vec: Column, cvecs, cnorms) -> Column:
    """Argmax cluster as one projection: lexicographic max of
    (score, -cluster) structs == highest score, ties to the smallest
    cluster id. No shuffle, no Python workers."""
    return -F.array_max(
        F.array(
            *[
                F.struct(
                    _centroid_score(vec, cvecs, cnorms, c).alias("s"),
                    F.lit(-c).alias("negc"),
                )
                for c in range(len(cvecs))
            ]
        )
    )["negc"]


def _assign_clusters_arrow(
    corpus: DataFrame, *, id_col: str, vec_col: str, cvecs, cnorms
) -> DataFrame:
    """Arrow-batched twin of :func:`_assign_cluster_expr` for the
    CORPUS-side assignment: ``(neighbor_id, cluster)`` rows.

    BIT-IDENTICAL to the expression fold, by construction, so the DuckDB
    oracle (which mirrors the fold) still hash-matches:

    - each float32 element widens to float64 exactly, like
      ``x.cast("double")``;
    - the accumulation iterates dimension-ascending —
      ``acc_{i+1} = acc_i + v_i·c_i`` — vectorized across (row, centroid)
      but SEQUENTIAL in i, the same IEEE operation order as the
      ``F.aggregate`` fold (a BLAS matmul would reorder the sum and
      drift in the last ulp — deliberately avoided);
    - one final divide by the centroid norm (`_centroid_score` shape);
    - ``np.argmax`` takes the FIRST maximal index — highest score, ties
      to the smallest cluster id, NaN greatest — matching the
      (score, −cluster) struct max in Spark and DuckDB.

    Why it exists: the expression twin pays n·nc INTERPRETED HOF-fold
    dot products for assignment, which grows linearly in ``n_centroids``
    — at the production sizing nc ≈ √n that becomes the dominant cost
    (r4 verdict). Here the same arithmetic runs as nc·dim vectorized
    numpy ops per Arrow batch, scan-side, no shuffle.
    """
    import numpy as np
    import pandas as pd

    C = np.asarray(cvecs, dtype=np.float64)  # (nc, dim)
    norms = np.asarray(cnorms, dtype=np.float64)  # (nc,)
    # preserve the id column's type (string/int/long ids all valid — the
    # expression twin was generic, so this one stays generic too)
    id_type = corpus.schema[id_col].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame({"neighbor_id": [], "cluster": []})
                continue
            V = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["_v"]]
            )  # (n, dim)
            acc = np.zeros((len(V), C.shape[0]), dtype=np.float64)
            for i in range(C.shape[1]):
                acc = acc + V[:, i : i + 1] * C[:, i][None, :]
            scores = acc / norms[None, :]
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["_id"].values,
                    "cluster": np.argmax(scores, axis=1).astype("int32"),
                }
            )

    return corpus.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).mapInPandas(gen, f"neighbor_id {id_type}, cluster int")


def cluster_profile(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
) -> DataFrame:
    """``cluster_profile`` — corpus composition by embedding cluster: each
    vector is assigned to its nearest deterministic-seed centroid
    (:func:`_seed_centroids`) and the output is one row per cluster with
    its population and mean similarity-to-centroid — the "what's in this
    corpus, how tight are the modes" diagnostic of a data pipeline.

    Plan: assignment is a scan-side projection; ONE hash aggregation on
    the (≤ ``n_centroids``-value) cluster key with map-side partials.
    The per-row similarity is cast to DECIMAL(28,12) before summing —
    exact, commutative, so the mean is independent of row order and the
    DuckDB oracle reproduces it bit-for-bit (the same trick the money
    aggregates use; a double SUM would be summation-order-dependent).
    """
    cvecs, cnorms = _seed_centroids(
        vectors, id_col=id_col, vec_col=vec_col, n_centroids=n_centroids
    )
    v = F.col(vec_col)
    # score of the ASSIGNED centroid = max over the score array (the same
    # fold values the assignment argmax compares, so no recompute mismatch)
    best = F.array_max(
        F.array(
            *[
                _centroid_score(v, cvecs, cnorms, c)
                for c in range(len(cvecs))
            ]
        )
    )
    assigned = vectors.select(
        _assign_cluster_expr(v, cvecs, cnorms).cast("int").alias("cluster"),
        (best / F.sqrt(dot(v, v))).alias("sim"),
    )
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.col("sim").cast("decimal(28,12)")).alias("_s"),
        )
        .select(
            "cluster",
            "n_vectors",
            # exact decimal sum -> double, THEN the one double division:
            # both engines perform the identical two IEEE ops
            F.round(
                F.col("_s").cast("double") / F.col("n_vectors"), 6
            ).alias("mean_sim"),
        )
    )


def ivf_topk_expr(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """Oracle-reproducible IVF twin: a deterministic-seed coarse quantizer
    instead of trained k-means.

    Centroids are the first ``n_centroids`` corpus vectors in
    ``(md5(vec_id), vec_id)`` order — a data-derived but fully
    deterministic choice both engines can compute — and every dot product
    (assignment argmax, query probing, candidate verify) is a
    sequential-fold expression, bit-identical in DuckDB. Same two-stage
    topology as :func:`ivf_topk` (narrow assignment map → nprobe-list
    probe join → exact verify on candidates); only the quantizer training
    differs, so this is the hash-checked twin while the k-means variant
    (better-placed centroids, numpy training) is the production path.

    The centroid collect is ``n_centroids`` rows — the same "small
    trainer state on the driver" contract as k-means training, not a
    corpus collect. Assignment is a pure projection
    (:func:`_assign_cluster_expr` — no shuffle, no Python workers).
    """
    cands = ivf_probe_candidates(
        corpus,
        queries,
        id_col=id_col,
        vec_col=vec_col,
        n_centroids=n_centroids,
        nprobe=nprobe,
    )
    return _exact_topk_on_candidates(
        cands, corpus, queries, id_col=id_col, vec_col=vec_col, k=k,
        impl="expr",
    )


def ivf_probe_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """The candidate-generation stage of :func:`ivf_topk_expr` (seed
    quantizer → inverted lists → nprobe-list probe), exposed so an
    operating point's selectivity is directly measurable — candidate
    fraction = ``count / (|queries| · (|corpus| − 1))``, ≈ the mass of
    the probed lists, ~nprobe/n_centroids when lists are balanced."""
    cvecs, cnorms = _seed_centroids(
        corpus, id_col=id_col, vec_col=vec_col, n_centroids=n_centroids
    )

    def score(vec: Column, c: int) -> Column:
        return _centroid_score(vec, cvecs, cnorms, c)

    # corpus-side assignment is Arrow-batched (bit-identical to the
    # expression fold — see _assign_clusters_arrow): the n·nc interpreted
    # HOF-dot cost of the expr form grows linearly in n_centroids, which
    # at nc ≈ √n sizing would dominate; the query side below stays
    # expression-based (nq·nc is tiny)
    inverted = _assign_clusters_arrow(
        corpus, id_col=id_col, vec_col=vec_col, cvecs=cvecs, cnorms=cnorms
    )

    # query probing: top-nprobe clusters by the same score (explode the
    # per-centroid scores, window over the tiny query side)
    from pyspark.sql.window import Window

    q_scores = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("cluster"),
                        score(F.col(vec_col), c).alias("s"),
                    )
                    for c in range(len(cvecs))
                ]
            )
        ).alias("cs"),
    ).select("query_id", "cs.cluster", "cs.s")
    w = Window.partitionBy("query_id").orderBy(
        F.col("s").desc(), F.col("cluster").asc()
    )
    probes = (
        q_scores.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= nprobe)
        .select("query_id", "cluster")
    )
    return (
        inverted.join(F.broadcast(probes), "cluster")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    train_iters: int = 3,
    max_train: int = 4096,
    seed: int = 7,
) -> DataFrame:
    """``sim_topk_ivf`` — the IVF (inverted-file) ANN path.

    Classic two-stage design (the centroid analog of :func:`lsh_topk`):

    1. **Train** spherical k-means centroids driver-side on a deterministic
       hash-ordered sample (``orderBy(xxhash64(id)).limit(max_train)`` — a
       distributed top-k, no full sort; at any corpus scale the trainer
       only ever sees ``max_train`` vectors).
    2. **Assign** every corpus vector to its nearest centroid in one
       ``mapInPandas`` matmul — a narrow map producing the inverted lists.
    3. **Probe**: each query searches its ``nprobe`` nearest centroids'
       lists only; candidates then get the shared exact-cosine verify +
       per-query top-k. Work per query ≈ nprobe/n_centroids of the corpus.

    Recall < 1 by construction (rows-only check); a scaled copy of a query
    lands in the same centroid list deterministically, which the planted-
    duplicate test exploits.
    """
    import numpy as np

    sample = (
        corpus.select(F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(max_train)
        .collect()
    )
    sm = np.array([list(r[0]) for r in sample], dtype=np.float64)
    sm /= np.linalg.norm(sm, axis=1, keepdims=True)
    n_c = min(n_centroids, len(sm))
    centroids = sm[:n_c].copy()
    for _ in range(train_iters):
        assign = np.argmax(sm @ centroids.T, axis=1)
        for c in range(n_c):
            members = sm[assign == c]
            if len(members):
                m = members.sum(axis=0)
                centroids[c] = m / np.linalg.norm(m)
    bc = corpus.sparkSession.sparkContext.broadcast(centroids)

    def assign_cluster(batches):
        import pandas as pd

        cm = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vm = np.array(pdf["_vec"].tolist(), dtype=np.float64)
            vm /= np.linalg.norm(vm, axis=1, keepdims=True)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["_id"].to_numpy(dtype=np.int64),
                    "cluster": np.argmax(vm @ cm.T, axis=1).astype(np.int32),
                }
            )

    inverted = corpus.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")
    ).mapInPandas(assign_cluster, "neighbor_id long, cluster int")

    q_rows = _collect_queries(queries, [id_col, vec_col])
    probes = []
    for r in q_rows:
        qv = np.array(list(r[1]), dtype=np.float64)
        qv /= np.linalg.norm(qv)
        top = np.argsort(-(centroids @ qv))[: min(nprobe, n_c)]
        probes += [(int(r[0]), int(c)) for c in top]
    probe_df = corpus.sparkSession.createDataFrame(
        probes, "query_id long, cluster int"
    )
    cands = (
        inverted.join(F.broadcast(probe_df), "cluster")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    return _exact_topk_on_candidates(
        cands, corpus, queries, id_col=id_col, vec_col=vec_col, k=k
    )


def semantic_decontaminate(
    train: DataFrame,
    evals: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float,
) -> DataFrame:
    """Embedding-space decontamination — flag training items whose
    vector is cosine-≥-``threshold`` close to ANY evaluation item: the
    semantic sibling of ``corpus.decontaminate`` (which catches verbatim
    k-gram overlap but not paraphrases/translations of benchmark items).
    Output: one row per contaminated training item —
    ``(id_col, max_sim, n_eval_hits)`` with ``max_sim`` the highest
    eval cosine and ``n_eval_hits`` the number of eval items at or
    above the threshold.

    Same asymmetric broadcast regime as :func:`brute_force_topk`: the
    (small) eval matrix is collected once under the
    ``MAX_COLLECTED_QUERIES`` misuse guard, unit-normalized, and shipped
    to every task; the training corpus streams through ONE Arrow pass
    computing a dense BLAS product per batch — no shuffle at all, the
    output filter rides the scan. Zero vectors (train or eval) have no
    direction and never match. At 100 TB the train side is
    embarrassingly parallel; the eval side is bounded by construction
    (benchmarks are small — that asymmetry IS the design).
    """
    import numpy as np
    import pandas as pd

    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # the output id keeps the TRAIN id column's type — a hardcoded
    # 'long' breaks string/int ids at runtime with an opaque Arrow
    # type mismatch (ADVICE r8)
    id_type = train.schema[id_col].dataType.simpleString()
    out_schema = f"`{id_col}` {id_type}, max_sim double, n_eval_hits long"
    # NULL embeddings carry no geometry on either side — filtered, not
    # crashed (one NULL row would otherwise abort the whole job inside
    # numpy with an opaque executor traceback)
    rows = _collect_queries(
        evals.where(F.col(vec_col).isNotNull()), [id_col, vec_col]
    )
    if not rows:
        spark = train.sparkSession
        return spark.createDataFrame([], out_schema)
    em = _unit_rows(np.array([r[1] for r in rows], dtype=np.float64))
    # torrent-broadcast once per executor (the brute_force_topk
    # pattern), NOT closure capture — a closure ships the matrix with
    # every task launch of the 100 TB train scan
    bem = train.sparkSession.sparkContext.broadcast(em)

    def gen(batches):
        emat = bem.value
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array(pdf["_v"].tolist(), dtype=np.float64)
            sims = _unit_rows(m) @ emat.T
            mx = sims.max(axis=1)
            hits = (sims >= threshold).sum(axis=1)
            keep = mx >= threshold
            yield pd.DataFrame(
                {
                    id_col: pdf["_id"].to_numpy()[keep],
                    "max_sim": mx[keep],
                    "n_eval_hits": hits[keep].astype("int64"),
                }
            )

    return (
        train.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .mapInPandas(gen, out_schema)
    )


# -- product quantization (PQ) ----------------------------------------------


def pq_codebooks(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 16,
) -> "list[list[list[float]]]":
    """Train the PQ sub-codebooks (Jégou et al. 2011): split each vector
    into ``m`` subvectors and learn ``n_codes`` centroids per subspace.
    Returns ``codebooks[m][n_codes][subdim]`` — driver-sized by
    construction (m·n_codes·subdim floats — the tokenizer-artifact
    contract, same as :func:`~.bpe.learn_bpe_merges`' merge list).

    This is the DETERMINISTIC-SEED variant (the :func:`ivf_topk_expr`
    pattern): sub-codebook ``j`` = the j-th slices of the first
    ``n_codes`` corpus vectors in ``(md5(id), id)`` order — data-derived
    but fully reproducible on any engine, which is what makes the
    encode and the ADC search hash-checkable cross-engine. The
    production refinement is :func:`pq_codebooks_trained`
    (per-subspace Lloyd over the assignments, :func:`ivf_topk`'s
    k-means-vs-seed split): better placement, identical downstream
    topology.
    """
    if m < 1 or n_codes < 1:
        raise ValueError(f"need m >= 1 and n_codes >= 1; got {m}, {n_codes}")
    order = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    seeds = (
        corpus.where(F.col(vec_col).isNotNull())
        .select(vec_col)
        .orderBy(*order)
        .limit(n_codes)
    ).collect()
    if len(seeds) < n_codes:
        raise ValueError(
            f"corpus has only {len(seeds)} vectors for {n_codes} codes"
        )
    dim = len(seeds[0][0])
    if dim % m != 0:
        raise ValueError(f"m ({m}) must divide the dimension ({dim})")
    sub = dim // m
    return [
        [[float(x) for x in r[0][j * sub : (j + 1) * sub]] for r in seeds]
        for j in range(m)
    ]


def pq_codebooks_trained(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 16,
    train_iters: int = 5,
    max_train: int = 4096,
    seed: int = 7,
) -> "list[list[list[float]]]":
    """The PRODUCTION PQ trainer (r10 verdict #7): per-subspace Lloyd
    iterations, exactly Jégou et al. 2011 §III and what FAISS's
    ``ProductQuantizer::train`` runs — versus :func:`pq_codebooks`'s
    deterministic-seed placement, which exists to keep the
    encode/ADC pipeline DuckDB-hash-checkable. Same downstream
    topology: the return value feeds :func:`pq_encode` / :func:`pq_topk`
    unchanged, so this swaps IN at deployment without touching a plan.

    Trainer contract mirrors :func:`ivf_topk`'s k-means: a
    deterministic hash-ordered sample (``orderBy(xxhash64(id, seed))
    .limit(max_train)`` — a distributed top-k; the driver only ever
    holds ``max_train`` vectors no matter the corpus size), then per
    subspace: init = the sample's first ``n_codes`` subvectors, Lloyd
    step = argmin-squared-distance assignment (``_pq_subdists`` — the
    SAME kernel the encoder uses, so training optimizes exactly the
    quantizer being deployed) followed by member means; a cluster left
    empty keeps its previous centroid (deterministic, the standard
    Lloyd fallback). Quantization MSE is non-increasing per iteration —
    ``tests/test_pq.py`` pins trained ≤ seed distortion and the recall
    table in SCALING.md §r11 quantifies the placement win."""
    import numpy as np

    if m < 1 or n_codes < 1:
        raise ValueError(f"need m >= 1 and n_codes >= 1; got {m}, {n_codes}")
    sample = (
        corpus.where(F.col(vec_col).isNotNull())
        .select(vec_col)
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(max_train)
        .collect()
    )
    if len(sample) < n_codes:
        raise ValueError(
            f"corpus has only {len(sample)} vectors for {n_codes} codes"
        )
    X = np.array([np.asarray(r[0], dtype=np.float64) for r in sample])
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"m ({m}) must divide the dimension ({dim})")
    sub = dim // m
    books = []
    for j in range(m):
        C = X[:n_codes, j * sub : (j + 1) * sub].copy()
        for _ in range(train_iters):
            assign = np.argmin(_pq_subdists(X, C, j, sub), axis=1)
            for c in range(n_codes):
                members = X[assign == c, j * sub : (j + 1) * sub]
                if len(members):
                    C[c] = members.mean(axis=0)
        books.append([[float(x) for x in row] for row in C])
    return books


def _pq_subdists(V, C_j, j: int, sub: int):
    """Squared distances from every row's j-th subvector to every entry
    of sub-codebook ``C_j`` — THE bit-exactness-critical kernel shared
    by :func:`pq_encode` and :func:`_pq_query_lut` (one definition, so
    the encode↔LUT↔oracle parity contract cannot drift): float64
    inputs, (row, code)-vectorized but SEQUENTIAL in the dimension
    index — the same IEEE operation order as the fold expressions the
    DuckDB oracle mirrors."""
    import numpy as np

    acc = np.zeros((len(V), C_j.shape[0]), dtype=np.float64)
    for i in range(sub):
        d = V[:, j * sub + i : j * sub + i + 1] - C_j[:, i][None, :]
        acc = acc + d * d
    return acc


def pq_encode(
    corpus: DataFrame,
    codebooks: "list[list[list[float]]]",
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Encode each vector as ``m`` one-byte codes — ``(id_col, out_col
    array<int>)``: per subspace, the argmin-squared-distance codebook
    entry (ties → smallest code). 64 floats become 8 bytes at the
    default sizing: the memory compression that lets an ANN index hold
    corpus-scale vectors, searched in the compressed domain
    (:func:`pq_topk`).

    One Arrow ``mapInPandas`` pass, zero shuffle — and BIT-IDENTICAL to
    the sequential-fold expression form (the
    :func:`_assign_clusters_arrow` contract): float32 widens exactly,
    the (row, code)-vectorized accumulation is SEQUENTIAL in the
    dimension index, and ``np.argmin`` takes the first minimal index —
    so the DuckDB oracle (mirroring the fold) hash-matches the codes.
    NULL vectors are excluded (no geometry to encode).
    """
    import numpy as np
    import pandas as pd

    m = len(codebooks)
    sub = len(codebooks[0][0])
    C = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    id_type = corpus.schema[id_col].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame({"_id": [], out_col: []})
                continue
            V = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["_v"]]
            )
            codes = np.empty((len(V), m), dtype=np.int32)
            for j in range(m):
                codes[:, j] = np.argmin(_pq_subdists(V, C[j], j, sub), axis=1)
            yield pd.DataFrame(
                {"_id": pdf["_id"].values, out_col: list(codes)}
            )

    return (
        corpus.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .mapInPandas(gen, f"_id {id_type}, {out_col} array<int>")
        .withColumnRenamed("_id", id_col)
    )


def _pq_query_lut(
    queries: DataFrame,
    codebooks: "list[list[list[float]]]",
    *,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """``(query_id, _lut array<array<double>>)`` — per query, the
    squared subdistance to every codebook entry, computed in one Arrow
    pass with the engine's sequential-in-dimension accumulation
    (bit-identical to the fold expressions the oracle mirrors)."""
    import numpy as np
    import pandas as pd

    m = len(codebooks)
    sub = len(codebooks[0][0])
    C = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    id_type = queries.schema[id_col].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame({"query_id": [], "_lut": []})
                continue
            V = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["_v"]]
            )
            luts = [_pq_subdists(V, C[j], j, sub) for j in range(m)]
            stacked = np.stack(luts, axis=1)  # (n, m, n_codes)
            yield pd.DataFrame(
                {
                    "query_id": pdf["_id"].values,
                    "_lut": [
                        [list(row[j]) for j in range(m)] for row in stacked
                    ],
                }
            )

    return (
        queries.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .mapInPandas(gen, f"query_id {id_type}, _lut array<array<double>>")
    )


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: "list[list[list[float]]]",
    *,
    id_col: str = "vec_id",
    code_col: str = "pq_codes",
    vec_col: str = "embedding",
    k: int = 10,
    candidates: "DataFrame | None" = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query, a
    lookup table ``lut[j][c]`` of squared subdistances to every
    codebook entry rides the (small) query relation as a column —
    computed by one Arrow pass (``_pq_query_lut``; the fold-expression
    form is bit-identical but its tree alone costs seconds of plan
    analysis); each candidate's approximate distance is
    then ``Σ_j lut[j][codes[j]]`` — pure array indexing, no vector
    arithmetic per pair, which is the whole PQ trade (the exact
    :func:`brute_force_topk` pays dim multiplies per pair; ADC pays m
    lookups). Output ``(query_id, neighbor_id, rank, adist)``, rank by
    (adist asc, neighbor_id asc).

    Per the ANN-family convention (:func:`brute_force_topk` /
    ``ivf_topk_expr``), self-pairs are excluded: rows where
    ``query_id == neighbor_id`` are dropped before ranking. This
    assumes queries are drawn FROM the corpus id space (the registered
    usage). If your queries come from a SEPARATE relation whose ids
    coincidentally collide with corpus ids, a legitimate nearest
    neighbor would be silently dropped — re-key one side (e.g. negate
    or offset the query ids) before calling.

    ``candidates=None`` ranks ALL (query, code) pairs — the exhaustive
    compressed-domain scan, O(|queries|·|corpus|) rows through the
    rank window (fine for a bounded query set; the memory win still
    stands). At 100 TB pass :func:`ivf_probe_candidates`' output (or
    any candidate relation) — the FAISS IVFPQ topology: coarse lists
    cut candidates, ADC ranks them, all JVM-side.

    Everything here is fold-exact and engine-portable, so with the
    deterministic-seed codebooks the WHOLE pipeline (encode + LUT +
    ADC + rank) is DuckDB-hash-checkable — the staged ``sim_topk_pq``
    registration.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql.window import Window

    m = len(codebooks)
    # the LUT is computed by an Arrow pass over the (small) query
    # relation, NOT as an m·n_codes forest of fold expressions: the
    # expression form is bit-identical but its TREE alone costs seconds
    # of analysis/interpretation per plan (measured 5.9 s for 8×16
    # folds on 40 rows — the same expression-tax class as the unrolled
    # dot note above). The numpy accumulation below follows the
    # _assign_clusters_arrow bit-exactness contract: float64 widening,
    # SEQUENTIAL in the dimension index, so the DuckDB oracle (which
    # mirrors the fold) still hash-matches.
    q = _pq_query_lut(
        queries, codebooks, id_col=id_col, vec_col=vec_col
    )
    side = codes.select(
        F.col(id_col).alias("neighbor_id"), F.col(code_col).alias("_codes")
    )
    if candidates is not None:
        pairs = candidates.join(
            F.broadcast(q), "query_id"
        ).join(side, "neighbor_id")
    else:
        pairs = side.crossJoin(F.broadcast(q))
    adist = None
    for j in range(m):
        term = F.element_at(
            F.element_at("_lut", j + 1),
            F.element_at("_codes", j + 1) + 1,
        )
        adist = term if adist is None else adist + term
    scored = pairs.where(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id", adist.alias("adist")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round("adist", 6).alias("adist"),
        )
    )


def knn_graph(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    blocks: int = 8,
) -> DataFrame:
    """``sim_knn_graph`` — the EXACT cosine k-nearest-neighbor graph of
    the whole corpus: ``(src_id, neighbor_id, rank, sim)``, each
    vector's top-``k`` neighbors (self excluded). THE artifact graph
    clustering, kNN-classification, UMAP-style layout and
    connectivity-based dedup all start from — ``sim_topk`` answers a
    bounded QUERY set against the corpus; this is corpus × corpus.

    A blocked-BLAS frame (vectors hash into ``blocks`` groups and
    every unordered pair meets in exactly ONE block-pair group; shuffle
    is n·B replication rows, never n²), plus the standard distributed
    top-k refinement: each group emits each member's LOCAL top-k among
    the group's counterpart vectors — a superset of its global top-k
    contributions from that group, so the union over a vector's B
    groups provably contains its true top-k — and one
    WindowGroupLimit-able ranked window collapses the ≤ n·B·k candidate
    rows to the final graph. Per-task work is one dense matmul
    (memory-bandwidth-bound); candidate volume is k-bounded, NOT
    threshold-dependent — the reason this beats an all-pairs
    threshold join at a low threshold ranked afterward.

    Ranking determinism: both the local selection and the global window
    rank by ``(round(sim, 6) DESC, neighbor_id ASC)`` — the 6dp
    quantization makes the order robust to last-ulp float-sum noise
    (BLAS reorders additions), so an engine computing the same cosines
    by sequential fold (the DuckDB oracle) ranks identically. At 100 TB
    sizing: ``blocks`` grows so a block-pair fits executor memory
    (work per task ~ (n/B)²·dim); replication factor B keeps shuffle
    linear.

    Contract: ``id_col`` must be an INTEGER column (the pandas kernel
    carries ids as int64 and the output schema is ``src_id long``) —
    validated up front so a string/decimal id fails at plan time with a
    clear message instead of mid-job inside an Arrow cast (review
    r11c). Map non-integer ids through a dense surrogate (e.g.
    ``xxhash64`` or ``zipWithIndex``-style ranks) before calling.
    """
    import numpy as np
    import pandas as pd

    id_type = vectors.schema[id_col].dataType.simpleString()
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"knn_graph requires an integer id column; {id_col!r} is "
            f"{id_type} — map it to an int64 surrogate first"
        )
    if k < 1:
        raise ValueError(f"k must be >= 1; got {k}")
    if blocks < 1:
        # blocks=0 would silently build a zero-membership array and
        # return an empty graph — fail loudly like k does (review r11)
        raise ValueError(f"blocks must be >= 1; got {blocks}")
    blk = F.pmod(F.xxhash64(F.col("id")), F.lit(blocks))
    # NULL ids excluded like NULL vectors: a NULL id would crash the
    # Arrow int64 conversion mid-job on one engine while the oracle's
    # equi-join silently drops it on the other (review r11)
    tagged = vectors.where(
        F.col(vec_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).withColumn("blk", blk)
    memberships = F.array(
        *[
            F.struct(
                F.least(F.col("blk"), F.lit(o)).alias("ga"),
                F.greatest(F.col("blk"), F.lit(o)).alias("gb"),
                F.when(F.col("blk") <= o, F.lit("a"))
                .otherwise(F.lit("b"))
                .alias("side"),
            )
            for o in range(blocks)
        ]
    )
    exploded = tagged.select(
        "id", "v", F.explode(memberships).alias("m")
    ).select("id", "v", "m.ga", "m.gb", "m.side")

    def _unit(rows: "pd.Series") -> "np.ndarray":
        return _unit_rows(np.array(rows.tolist(), dtype=np.float64))

    def _local_topk(src_ids, dst_ids, sims):
        """Per source row of ``sims`` (rounded 6dp), its top-k among
        dst_ids by (sim DESC, dst ASC) — the same criterion the global
        window applies, so local pruning never drops a global winner."""
        out_src, out_dst, out_sim = [], [], []
        kk = min(k, sims.shape[1])
        for i in range(len(src_ids)):
            row = sims[i]
            order = np.lexsort((dst_ids, -row))[:kk]
            out_src.extend([src_ids[i]] * len(order))
            out_dst.extend(dst_ids[order])
            out_sim.extend(row[order])
        return out_src, out_dst, out_sim

    def cands(key, pdf):
        ga, gb = key
        empty = pd.DataFrame({"src_id": [], "neighbor_id": [], "sim": []})
        a = pdf[pdf["side"] == "a"]
        ids_a = a["id"].to_numpy(dtype=np.int64)
        if ga == gb:
            if len(ids_a) < 2:
                return empty
            ma = _unit(a["v"])
            sims = np.round(ma @ ma.T, 6)
            np.fill_diagonal(sims, -np.inf)  # self never a neighbor
            s, d, v = _local_topk(ids_a, ids_a, sims)
        else:
            b = pdf[pdf["side"] == "b"]
            ids_b = b["id"].to_numpy(dtype=np.int64)
            if len(ids_a) == 0 or len(ids_b) == 0:
                return empty
            sims = np.round(_unit(a["v"]) @ _unit(b["v"]).T, 6)
            s1, d1, v1 = _local_topk(ids_a, ids_b, sims)
            s2, d2, v2 = _local_topk(ids_b, ids_a, sims.T)
            s, d, v = s1 + s2, d1 + d2, v1 + v2
        out = pd.DataFrame({"src_id": s, "neighbor_id": d, "sim": v})
        # a group smaller than k can let the -inf self sentinel into a
        # local top-k; it is never a real candidate
        return out[np.isfinite(out["sim"])]

    from pyspark.sql.window import Window

    cand = exploded.groupBy("ga", "gb").applyInPandas(
        cands, "src_id long, neighbor_id long, sim double"
    )
    w = Window.partitionBy("src_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "src_id",
            "neighbor_id",
            F.col("rank").cast("bigint").alias("rank"),
            "sim",
        )
    )


def knn_classify(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    blocks: int = 8,
) -> DataFrame:
    """``sim_knn_classify`` — leave-one-out k-NN majority-vote
    classification over a labeled vector corpus: each vector's
    predicted label is the most frequent label among its exact top-``k``
    cosine neighbors (self excluded by :func:`knn_graph`'s contract).
    Output ``(vec_id, predicted_label, n_votes, n_neighbors)`` — THE
    standard embedding-quality evaluation (a representation is good
    exactly to the degree neighbors share labels) and the cheap
    label-propagation baseline for semi-supervised corpus labeling.

    Composition, not re-implementation: the graph is :func:`knn_graph`
    verbatim (the expensive artifact — in production it is built once
    and consumed by many such passes); this adds one broadcast-eligible
    label join on the neighbor side and a majority vote as an
    argmin-by-struct aggregation — ``min(struct(-votes, label))`` —
    ties to the SMALLEST label (deterministic, the keep-best rule: an
    agg, never a ranked window; label negation is safe because votes
    are counts). Unlabeled neighbors (NULL label) abstain: they are
    dropped before voting but never remove the voter from the graph.
    """
    g = knn_graph(
        vectors, id_col=id_col, vec_col=vec_col, k=k, blocks=blocks
    )
    labels = vectors.where(
        F.col(label_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col).alias("_nid"), F.col(label_col).alias("_lbl")
    )
    votes = (
        g.join(labels, g["neighbor_id"] == F.col("_nid"))
        .groupBy("src_id", "_lbl")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_votes"))
    )
    best = F.min(
        F.struct((-F.col("_votes")).alias("_neg"), F.col("_lbl").alias("_l"))
    )
    return (
        votes.groupBy("src_id")
        .agg(
            best.alias("_best"),
            F.sum("_votes").cast("bigint").alias("n_neighbors"),
        )
        .select(
            F.col("src_id").alias(id_col),
            F.col("_best._l").alias("predicted_label"),
            (-F.col("_best._neg")).cast("bigint").alias("n_votes"),
            "n_neighbors",
        )
    )
