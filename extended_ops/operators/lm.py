"""N-gram language-model quality filtering — the CCNet-style corpus
gate: train n-gram counts on a reference corpus, score every document's
per-token log-probability under stupid backoff, and filter/bucket by
perplexity. The classic "does this text look like language" signal that
length/punctuation heuristics (``text.py``'s quality score) cannot give.

Spark-first shape:

- **Training is counting.** All 1..order gram counts come from one scan
  (scan-side ``transform``/``slice`` build each document's gram arrays;
  explode + partial sum collapse before the exchange — the same
  summary-bound aggregation as every sketch here). ``min_count`` prunes
  the long tail, which is what bounds the model relation at 100 TB
  (standard practice; a trigram table over a web corpus without a floor
  is itself corpus-sized).
- **Scoring is joining.** Each token row carries its trigram, bigram,
  and context grams (built scan-side, no window/lag shuffle); the model
  relation joins in by gram key — the lookups a KenLM process does
  against local mmap become equi-joins Catalyst can shuffle or
  broadcast (AQE picks; a pruned model under the broadcast threshold
  makes scoring scan-side). Stupid backoff (Brants et al. 2007):
  score = c(tri)/c(bi_ctx), else 0.4·c(bi)/c(uni_ctx), else
  0.4²·c(uni)/N, else an OOV floor 0.4²/(N+1). No normalization — the
  backoff is "stupid" precisely because unnormalized scores are fine
  for RANKING documents, which is all a corpus filter does.
- Per-document aggregation emits ``avg_logprob`` (log10) and
  ``perplexity`` (10^−avg); lower perplexity = more language-like under
  the reference corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BACKOFF = 0.4


def _words(text_col: str) -> Column:
    from .text import pattern_tokens

    return pattern_tokens(F.col(text_col))


def train_ngram_counts(
    df: DataFrame,
    *,
    text_col: str = "text",
    order: int = 3,
    min_count: int = 1,
    cms_prefilter: bool = False,
    cms_width: int = 1 << 20,
    cms_depth: int = 2,
    cms_seed: int = 42,
) -> DataFrame:
    """The model relation: ``(n, gram, cnt)`` for every 1..order word
    n-gram with count ≥ ``min_count`` (grams are space-joined lowercase
    tokens). Genuinely ONE scan: every order's grams flatten into a
    single ``(n, gram)`` struct array in one projection, one explode,
    one aggregation — a per-order union of groupBys would re-scan (and
    re-tokenize) the corpus once per order, since Catalyst does not
    dedup scans across union branches (measured: 3 scan nodes); the
    plan gate counts scans to keep it that way.

    ``cms_prefilter=True`` (opt-in; requires ``min_count > 1``) is the
    escape hatch for ADVERSARIAL vocabularies (near-unique grams — the
    exact-distinct-count shape, SCALING.md r8-session-4d): exact
    counting's map-side partial agg collapses nothing there, so the
    exchange carries ~every gram occurrence. The prefilter makes a
    first summary-bound pass building a Count-Min sketch over the grams
    (:func:`~.sketches.count_min_table`; shuffle ≤ depth·width·tasks
    rows regardless of corpus size), then drops grams with
    ``est < min_count`` BEFORE the counting exchange. Count-Min NEVER
    underestimates, so ``est < min_count`` PROVES the true count is
    below the floor — the pruned model is IDENTICAL to the exact model,
    row for row (pinned by ``tests/test_lm.py``). The estimate itself
    is evaluated map-side: one broadcast LEFT join per depth against
    that depth's ≤ ``cms_width`` sketch rows, ``least()`` over the
    coalesced counts — no shuffle touches the gram relation until only
    the survivors remain.

    REGIME ARITHMETIC (measured, scripts/probe_lm_cms.py + SCALING.md
    r9): pruning power requires ``min_count > N/cms_width`` (N = total
    gram occurrences) — below that every bucket's collision mass alone
    clears the floor and NOTHING prunes (measured: min_count=2 at
    width 2^16 on 8M grams pruned 0 rows). Costs: a second
    tokenize/scan of the corpus (deliberately NOT pinned —
    materializing a corpus-sized relation to save a re-scan is the
    anti-pattern the mad_outliers ledger measured) and the sketch
    build's own exchange of ~min(occurrences, width·partitions)·depth
    rows — which is why ``cms_depth`` defaults LOW (2): depth only
    tightens estimates (the min over fewer rows is ≥ the min over
    more), so a shallow sketch stays SOUND for pruning and halves the
    build exchange vs depth 4. Win: the counting exchange drops to the
    survivors (measured 4.2× fewer exchange rows at the generated-sf1
    adversarial vocab, min_count=20). At local[32] the wall-clock
    LOSES (~2×: local shuffle is nearly free while the second scan is
    real CPU) — the hatch pays off only where the counting exchange is
    the network/memory bottleneck, i.e. the 100 TB cluster regime it
    exists for. Zipf-shaped corpora don't need it — their partial aggs
    collapse map-side already."""
    grams = _gram_rows(
        df,
        text_col=text_col,
        order=order,
        min_count=min_count,
        cms_prefilter=cms_prefilter,
        cms_width=cms_width,
        cms_depth=cms_depth,
        cms_seed=cms_seed,
    )
    return (
        grams.groupBy("n", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_count)
    )


def _gram_rows(
    df: DataFrame,
    *,
    text_col: str,
    order: int,
    min_count: int,
    cms_prefilter: bool,
    cms_width: int,
    cms_depth: int,
    cms_seed: int,
) -> DataFrame:
    """The pre-aggregation ``(n, gram)`` occurrence relation feeding the
    counting exchange — factored out so the scale probe
    (``scripts/probe_lm_cms.py``) can measure exactly what each arm
    ships through the shuffle."""
    if order < 1:
        raise ValueError(f"order must be >= 1, got {order}")
    ws = _words(text_col)
    base = df.where(F.col(text_col).isNotNull()).select(ws.alias("_ws"))

    def _order_grams(gram_len: int):
        # a closure factory, NOT `lambda i, n=n`: F.transform dispatches
        # on lambda ARITY, and a two-parameter lambda receives
        # (element, array_index) — the default arg would be silently
        # overwritten by the index (measured: mixed-length grams)
        return F.when(
            F.size("_ws") >= gram_len,
            F.transform(
                F.sequence(F.lit(0), F.size("_ws") - gram_len),
                lambda i: F.struct(
                    F.lit(gram_len).alias("n"),
                    F.concat_ws(
                        " ", F.slice(F.col("_ws"), i + 1, gram_len)
                    ).alias("gram"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<n:int,gram:string>>"))

    all_grams = F.flatten(
        F.array(*[_order_grams(n) for n in range(1, order + 1)])
    )
    grams = base.select(F.explode(all_grams).alias("g")).select(
        "g.n", "g.gram"
    )
    if cms_prefilter:
        if min_count <= 1:
            raise ValueError(
                "cms_prefilter requires min_count > 1 — with no floor "
                "there is nothing a sketch could prove droppable"
            )
        from .sketches import count_min_table

        # gram strings are space-joined tokens, so (n, gram) needs n in
        # the sketch key only defensively (a token can't contain the
        # separator, but n is free and removes the ambiguity class)
        key = F.concat_ws("\x1f", F.col("n").cast("string"), F.col("gram"))
        cms = count_min_table(
            grams.select(key.alias("_k")),
            "_k",
            width=cms_width,
            depth=cms_depth,
            seed=cms_seed,
        )
        pruned = grams
        ests = []
        for d in range(cms_depth):
            side = cms.where(F.col("d") == d).select(
                F.col("bucket").alias(f"_b{d}"),
                F.col("cnt").alias(f"_c{d}"),
            )
            pruned = pruned.join(
                F.broadcast(side),
                F.pmod(
                    F.xxhash64(key, F.lit(cms_seed + d)), F.lit(cms_width)
                )
                == F.col(f"_b{d}"),
                "left",
            )
            # a missing bucket row means count 0 in that depth
            ests.append(F.coalesce(F.col(f"_c{d}"), F.lit(0.0)))
        # F.least asserts >= 2 columns — depth 1 (a single hash row,
        # still never-underestimating, hence still sound) is legal
        est = ests[0] if len(ests) == 1 else F.least(*ests)
        grams = pruned.where(est >= min_count).select("n", "gram")
    return grams


def _model_scored_tokens(
    docs: DataFrame,
    model: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The shared five-way gram-lookup relation both
    :func:`score_documents` and :func:`backoff_tier_counts` aggregate
    over: one row per token with the model counts it resolved —
    ``(id_col, _c3, _cb, _c2, _cu, _c1, _N)`` where ``_c3``/``_cb`` are
    the trigram and its context-bigram counts, ``_c2``/``_cu`` the
    bigram and its context-unigram counts, ``_c1`` the unigram count
    and ``_N`` the total token mass. All five lookups are LEFT joins on
    the model relation, keyed by ``xxhash64(gram)``: the token-side
    relation is the widest in the job (five gram columns per token),
    so shipping 8-byte hash keys instead of
    up-to-trigram STRINGS cuts its shuffle volume ~20× (measured: the
    string formulation, not the model size, dominated the sf1 probe).
    A hash collision mis-counts one lookup with probability
    ~(tokens·model)/2^64 — the same accepted odds as every hashed join
    key in the engine. A ``min_count``-pruned model broadcasts and the
    whole lookup is scan-side."""
    # the model relation feeds SIX consumers here (three n-slices, two
    # of them aliased twice, plus the unigram total): left inline, each
    # consumer re-runs the model's whole scan+explode+agg subtree
    # (Catalyst does not dedup aggregation subtrees across join
    # branches — the r9 doubly-consumed rule; measured 16.6 s → 3 s at
    # sf0.1 for the tier registration). One lazy localCheckpoint
    # materializes O(model) rows once, and the now-statted tiny
    # relation lets AQE broadcast every lookup side.
    model = model.localCheckpoint(eager=False)
    hg = F.xxhash64(F.col("gram"))
    uni = model.where("n = 1").select(
        hg.alias("_g1"), F.col("cnt").alias("_c1")
    )
    bi = model.where("n = 2").select(
        hg.alias("_g2"), F.col("cnt").alias("_c2")
    )
    tri = model.where("n = 3").select(
        hg.alias("_g3"), F.col("cnt").alias("_c3")
    )
    n_total = model.where("n = 1").agg(
        F.sum("cnt").alias("_N")
    )

    # materialize the token ARRAY in its own projection before any
    # lambda touches it: the transform below references it ~8 times
    # from INSIDE a higher-order lambda body, where codegen
    # subexpression elimination does not reach — left inline, the
    # tokenizing regex re-runs per reference per ELEMENT, turning an
    # O(tokens) projection into O(tokens · doc_len) regex work
    # (measured: 15.7 s → ~2 s for the sf0.1 token relation).
    # CollapseProject keeps the split: a non-cheap alias referenced
    # more than once is never inlined back.
    ws = F.col("_ws")
    gram_structs = F.transform(
        F.sequence(F.lit(0), F.size(ws) - 1),
        lambda i: F.struct(
            F.xxhash64(F.element_at(ws, i + 1)).alias("w"),
            F.when(
                i >= 1,
                F.xxhash64(F.concat_ws(" ", F.slice(ws, i, 2))),
            ).alias("big"),
            F.when(i >= 1, F.xxhash64(F.element_at(ws, i))).alias("uctx"),
            F.when(
                i >= 2,
                F.xxhash64(F.concat_ws(" ", F.slice(ws, i - 1, 3))),
            ).alias("trig"),
            F.when(
                i >= 2,
                F.xxhash64(F.concat_ws(" ", F.slice(ws, i - 1, 2))),
            ).alias("bctx"),
        ),
    )
    # guard BEFORE building: sequence(0, -1) on an empty token array
    # generates a DESCENDING range (the interval_join/bpe trap); an
    # empty gram array simply explodes to no rows
    guarded = F.when(F.size(ws) > 0, gram_structs).otherwise(
        F.array().cast(
            "array<struct<w:bigint,big:bigint,uctx:bigint,"
            "trig:bigint,bctx:bigint>>"
        )
    )
    # plain explode, no position column: the per-doc aggregation is an
    # average, so token order is irrelevant — a pos column would ride
    # the widest relation of the job (the 5-way gram join) unused
    tok = (
        docs.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), _words(text_col).alias("_ws"))
        .select(F.col(id_col), F.explode(guarded).alias("g"))
        .select(id_col, "g.*")
    )
    scored = (
        tok.join(tri, tok["trig"] == tri["_g3"], "left")
        .join(bi.alias("_bi1"), F.col("big") == F.col("_bi1._g2"), "left")
        .join(
            bi.alias("_bi2").withColumnRenamed("_c2", "_cb")
            .withColumnRenamed("_g2", "_gb"),
            F.col("bctx") == F.col("_gb"),
            "left",
        )
        .join(uni.alias("_u1"), tok["w"] == F.col("_u1._g1"), "left")
        .join(
            uni.alias("_u2").withColumnRenamed("_c1", "_cu")
            .withColumnRenamed("_g1", "_gu"),
            F.col("uctx") == F.col("_gu"),
            "left",
        )
        .crossJoin(F.broadcast(n_total))
    )
    return scored.select(
        id_col, "_c3", "_cb", "_c2", "_cu", "_c1", "_N"
    )


def score_documents(
    docs: DataFrame,
    model: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document stupid-backoff score against a
    :func:`train_ngram_counts` model (order 3): ``(id_col, n_tokens,
    avg_logprob, perplexity)``. Documents with no tokens are absent.

    Per token at position i: trigram ratio if the trigram was seen,
    else BACKOFF · bigram ratio, else BACKOFF² · unigram MLE, else the
    OOV floor BACKOFF²/(N+1). The first two tokens of a document score
    through the same chain (their higher-order grams simply don't
    exist). Lookup plumbing (hashed-gram LEFT joins) is
    :func:`_model_scored_tokens`."""
    scored = _model_scored_tokens(
        docs, model, id_col=id_col, text_col=text_col
    )
    score = (
        F.when(
            F.col("_c3").isNotNull() & F.col("_cb").isNotNull(),
            F.col("_c3") / F.col("_cb"),
        )
        .when(
            F.col("_c2").isNotNull() & F.col("_cu").isNotNull(),
            F.lit(BACKOFF) * F.col("_c2") / F.col("_cu"),
        )
        .when(
            F.col("_c1").isNotNull(),
            F.lit(BACKOFF**2) * F.col("_c1") / F.col("_N"),
        )
        .otherwise(F.lit(BACKOFF**2) / (F.col("_N") + 1))
    )
    per_doc = (
        scored.select(F.col(id_col), F.log10(score).alias("_lp"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg("_lp").alias("avg_logprob"),
        )
    )
    return per_doc.withColumn(
        "perplexity", F.pow(F.lit(10.0), -F.col("avg_logprob"))
    )


def backoff_tier_counts(
    docs: DataFrame,
    model: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document backoff-TIER histogram under the model: ``(id_col,
    n_tokens, n_tri, n_bi, n_uni, n_oov, hit_rate)`` — how many tokens
    resolved at each rung of the stupid-backoff chain and the fraction
    the model covered at all (``hit_rate = 1 − n_oov/n_tokens``, one
    exact-integer division). Documents with no tokens are absent.

    This is the hash-checkable face of LM scoring: the tier decision
    per token is exactly :func:`score_documents`'s CASE chain (same
    five-way join relation — :func:`_model_scored_tokens`), but the
    output is integer counts, so cross-engine parity is exact where
    ``avg_logprob`` would put libm's ``log10`` in the oracle path (the
    tfidf no-log rule). As a curation signal, tier coverage is what the
    perplexity number is a proxy FOR: a document the model scores
    mostly at the trigram rung is in-distribution; one living on the
    OOV floor is noise regardless of its absolute logprob."""
    scored = _model_scored_tokens(
        docs, model, id_col=id_col, text_col=text_col
    )
    tri_hit = F.col("_c3").isNotNull() & F.col("_cb").isNotNull()
    bi_hit = (
        ~tri_hit & F.col("_c2").isNotNull() & F.col("_cu").isNotNull()
    )
    uni_hit = ~tri_hit & ~bi_hit & F.col("_c1").isNotNull()
    oov = ~tri_hit & ~bi_hit & ~uni_hit
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(tri_hit.cast("long")).alias("n_tri"),
        F.sum(bi_hit.cast("long")).alias("n_bi"),
        F.sum(uni_hit.cast("long")).alias("n_uni"),
        F.sum(oov.cast("long")).alias("n_oov"),
    )
    return per_doc.withColumn(
        "hit_rate",
        F.round(
            (F.col("n_tokens") - F.col("n_oov"))
            / F.col("n_tokens").cast("double"),
            6,
        ),
    )
