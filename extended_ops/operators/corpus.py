"""Corpus-construction operators — the steps between "scored documents"
and "training batches" in a large-scale pipeline: deterministic stratified
sampling, context-window sequence packing, and benchmark decontamination.

No reference analog (the reference is a streaming session job); these are
part of the mandated LLM-data-pipeline surface (SURVEY.md §2.2 extension),
designed Spark-first:

- Sampling is a pure filter on a content-independent md5 draw — no
  shuffle, reproducible on any engine, and the per-stratum rates are plan
  literals so Catalyst folds them into the scan.
- Packing is one window over (shard, doc order) — the global-sequential
  "first come, first packed" semantics sharded so no single task owns the
  corpus.
- Decontamination is the inverted-index join of :mod:`.dedup` pointed at
  a (small) eval split — postings on the eval side only, broadcast into
  the training scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import TOKEN_PATTERN, _words, md5_draw, shingle_rows

#: Denominator of the md5 sampling draw: first 8 hex digits → uniform
#: 32-bit integer. Rates are expressed as draw < rate · 2³².
_DRAW_SPACE = 16**8


def _sample_draw(key: Column) -> Column:
    """Deterministic uniform draw in [0, 2³²) from a key column —
    content-derived (no RNG, no partition dependence): the same row
    always draws the same number, in Spark and in the DuckDB oracle.
    One definition for the whole engine: :func:`..operators.text.md5_draw`."""
    return md5_draw(key)


def stratified_sample(
    df: DataFrame,
    *,
    stratum_col: str,
    rates: dict[str, float],
    key_col: str,
    default_rate: float = 0.0,
) -> DataFrame:
    """``sample_stratified`` — keep each row with its stratum's rate,
    deterministically.

    The classic corpus-mixing step (e.g. downsample boilerplate-heavy
    strata, keep all rare-language documents). ``rates`` maps stratum
    value → keep probability; unlisted strata use ``default_rate``. The
    draw is md5-based (:func:`_sample_draw`), so the sample is stable
    across runs/partitionings/engines — unlike ``DataFrame.sample``,
    which is seed+partition dependent and not oracle-checkable. One
    shuffle-free filter; the per-stratum thresholds are INTEGER plan
    literals precomputed in Python (a double→bigint cast would round in
    DuckDB but truncate in Spark).
    """
    draw = _sample_draw(F.col(key_col))
    # map-literal lookup, NOT a CASE chain: the stratum column is
    # referenced exactly once, so when the filter is pushed through the
    # projection that computes it (e.g. a derived language column), the
    # stratum expression is inlined once — a CASE chain would inline it
    # once per stratum and blow the codegen method past the 64 KB limit
    rate_map = F.create_map(
        *[
            F.lit(x)
            for value, r in sorted(rates.items())
            for x in (value, int(r * _DRAW_SPACE))
        ]
    )
    thr = F.coalesce(
        rate_map[F.col(stratum_col)], F.lit(int(default_rate * _DRAW_SPACE))
    )
    return df.where(draw < thr)


def pack_sequences(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 512,
    shards: int = 32,
) -> DataFrame:
    """``pack_sequences`` — assign documents to fixed-token-budget packs
    (context-window packing for training batches).

    Semantics: within a shard, documents are taken in ``id_col`` order
    and the pack index is ``floor(tokens_before / budget)`` — streaming
    fill, where a document that straddles a boundary belongs to the pack
    it started in (packs can overflow by < one document; the standard
    cheap approximation of greedy first-fit, which is inherently
    sequential and not worth a serial pass at corpus scale).

    Plan shape: token count is a scan-side projection; the only shuffle
    is the window exchange on ``shard = id % shards``. Sharding bounds
    the sequential region — each shard's running sum is one task — so
    1000 executors pack 1000 shards concurrently; a global pack order
    would serialize the corpus through one window partition. Output:
    (id, shard, n_tokens, pack_id) with pack_id unique per (shard, pack).
    """
    n_tokens = F.size(
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(TOKEN_PATTERN), 0
        )
    ).cast("bigint")
    return pack_by_count(
        df.select(F.col(id_col), n_tokens.alias("n_tokens")),
        id_col=id_col,
        count_col="n_tokens",
        budget=budget,
        shards=shards,
    )


def pack_by_count(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    count_col: str = "n_tokens",
    budget: int = 512,
    shards: int = 32,
) -> DataFrame:
    """:func:`pack_sequences`' packing rule over a PRE-COMPUTED count
    column — the variant a tokenized corpus uses (real BPE piece counts
    from :func:`~.bpe.tokenize_documents` instead of the regex token
    estimate). Same streaming-fill semantics and the same single
    sharded-window shuffle; output ``(id, shard, <count_col>,
    pack_id)``."""
    if budget < 1 or shards < 1:
        raise ValueError(
            f"budget and shards must be >= 1; got {budget}, {shards}"
        )
    from pyspark.sql.window import Window

    shard = F.pmod(F.col(id_col), F.lit(shards)).cast("int")
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.select(
            F.col(id_col),
            shard.alias("shard"),
            F.col(count_col).cast("bigint").alias(count_col),
        )
        .withColumn(
            "pack_id",
            F.floor(
                F.coalesce(F.sum(count_col).over(w), F.lit(0))
                / F.lit(budget)
            ).cast("bigint"),
        )
    )


#: Broadcast-regime cap on the number of eval documents. The broadcast
#: carries the eval split's exploded shingle postings — roughly
#: ``docs × shingles/doc × ~70 B``; at 10k docs × ~500 shingles that is
#: ~350 MB, comfortably under Spark's broadcast ceiling. Above the cap
#: the plan falls back to a shuffled join (or raises, see ``on_large``)
#: instead of silently shipping a corpus-sized broadcast to every
#: executor.
MAX_BROADCAST_EVAL_DOCS = 10_000


def decontaminate(
    train: DataFrame,
    evals: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    max_broadcast_evals: int | None = MAX_BROADCAST_EVAL_DOCS,
    on_large: str = "shuffle",
) -> DataFrame:
    """``decontaminate`` — flag training documents sharing any word
    ``k``-gram with an evaluation/benchmark split (the GPT-3-style 8-gram
    decontamination rule).

    Inverted-index shape, asymmetric like every scale path here: the
    (small) eval split is shingled into postings and **broadcast**; the
    training corpus is shingled once (Arrow-batched tokenizer) and
    semi-joined — the training side never shuffles by shingle. Output:
    one row per contaminated training doc with the number of DISTINCT
    eval documents it collides with (``n_eval_hits``).

    The broadcast regime is only valid while the eval split is genuinely
    small, so the contract is ENFORCED, not hoped for: the eval doc count
    is probed with a bounded ``limit(cap+1)`` scan (short-circuits even
    if a caller passes the whole corpus). Above ``max_broadcast_evals``:

    - ``on_large='shuffle'`` (default) — fall back to a shuffled
      shingle-key join: both sides exchange on ``sh``, no broadcast,
      correct at any eval size (identical output, tested);
    - ``on_large='error'`` — raise with the remedy, for pipelines that
      want the misuse surfaced instead of absorbed.

    ``max_broadcast_evals=None`` disables the probe (caller has already
    sized the split).
    """
    if on_large not in ("shuffle", "error"):
        raise ValueError(f"on_large must be 'shuffle' or 'error', got {on_large!r}")
    use_broadcast = True
    if max_broadcast_evals is not None:
        # bounded probe: reads at most cap+1 rows of the eval-side scan
        n = evals.select(id_col).limit(max_broadcast_evals + 1).count()
        if n > max_broadcast_evals:
            if on_large == "error":
                raise ValueError(
                    f"eval split has > {max_broadcast_evals} documents: the "
                    "broadcast regime ships the eval shingle postings to "
                    "every executor and only holds for small splits. Pass a "
                    "genuinely small eval slice, raise max_broadcast_evals "
                    "if you have the memory, or use on_large='shuffle'."
                )
            use_broadcast = False
    t_sh = shingle_rows(train, id_col=id_col, text_col=text_col, k=k)
    e_sh = shingle_rows(evals, id_col=id_col, text_col=text_col, k=k).select(
        F.col("sh").alias("e_sh"), F.col("id").alias("eval_id")
    )
    if use_broadcast:
        e_sh = F.broadcast(e_sh)
    hits = t_sh.join(e_sh, t_sh["sh"] == e_sh["e_sh"])
    return (
        hits.groupBy(F.col("id").alias(id_col))
        .agg(F.count_distinct("eval_id").alias("n_eval_hits"))
    )


def domain_mix(
    df: DataFrame,
    *,
    domain_col: str,
    weights: dict[str, float],
    id_col: str = "doc_id",
    mode: str = "exact",
) -> DataFrame:
    """``domain_mix`` — resample the corpus to TARGET domain proportions:
    the mixture step (à la Pile/Dolma mixing) that turns "whatever the
    crawl yielded" into "30 % web, 20 % code, …" while keeping as much
    data as the targets allow.

    Given target weights ``w_d`` (need not sum to 1; unlisted domains are
    dropped), the largest total consistent with the exact proportions is
    ``t = min_d(count_d / w_d)``, and each domain keeps
    ``quota_d = floor(w_d · t)`` documents. Which documents survive is
    deterministic: the ``quota_d`` smallest md5 draws (full-hex string
    order, doc id tie-break) — stable across runs, partitionings, and
    engines, like :func:`stratified_sample`'s draw.

    Two modes, same contract, different scale regime:

    - ``mode='exact'`` — rank per domain with a ``row_number`` window and
      keep ``rn ≤ quota``. Exact quotas; the window exchanges by domain,
      so a dominant domain becomes one giant sorted partition — fine up
      to mid scale, wrong shape for a 100 TB web-heavy corpus.
    - ``mode='rate'`` — shuffle-free: keep rows whose draw falls below
      ``quota_d / count_d`` of the draw space (binomially approximate
      quotas, exact in expectation). This is the 100 TB path: a pure
      filter, no exchange, at the cost of ±O(√quota) per-domain counts.

    The per-domain quotas are computed declaratively — one tiny count
    aggregate (no self-join, no second corpus scan, no driver collect),
    with ``t = min(n/w)`` as an unpartitioned window over its
    ≤ |domains| rows — then broadcast into the corpus-side filter. A
    missing weighted domain is detected by the same window's ROW COUNT
    (fewer observed domains than weights ⇒ t forced to 0), not by a
    join against a weights relation — the DuckDB oracle expresses the
    identical semantics with a LEFT JOIN + COALESCE instead.

    A domain listed in ``weights`` but ABSENT from the data counts as
    ``count_d = 0``, so ``t = 0`` and the result is EMPTY — the literal
    reading of the mixture formula (no total can satisfy a positive
    weight with zero supply). This is deliberate: silently dropping the
    missing domain from the min would return a mix that ignores one of
    the requested components. Callers that want "mix over whatever
    domains exist" should filter ``weights`` to the observed domains
    first.
    """
    if mode not in ("exact", "rate"):
        raise ValueError(f"mode must be 'exact' or 'rate', got {mode!r}")
    from pyspark.sql.window import Window

    w_map = F.create_map(
        *[F.lit(x) for d, w in sorted(weights.items()) for x in (d, float(w))]
    )
    counts = (
        df.where(F.col(domain_col).isin(*weights))
        .groupBy(domain_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_w", w_map[F.col(domain_col)])
    )
    # min over ALL domains as a global window: ≤ |domains| rows reach the
    # single window partition, and `counts` stays one lineage (a
    # crossJoin with a separate min-aggregate would evaluate the corpus
    # count subtree twice). A weighted-but-ABSENT domain contributes no
    # row here, so it is detected by the row count instead: fewer rows
    # than weights ⇒ some count_d = 0 ⇒ t = 0 ⇒ every quota 0 (same
    # window, no extra join or literal relation).
    t_all_present = F.min(F.col("_n").cast("double") / F.col("_w")).over(
        Window.partitionBy()
    )
    n_present = F.count(F.lit(1)).over(Window.partitionBy())
    t_win = F.when(n_present == len(weights), t_all_present).otherwise(
        F.lit(0.0)
    )
    quotas = counts.select(
        F.col(domain_col).alias("_dom"),
        F.floor(F.col("_w") * t_win).cast("bigint").alias("_quota"),
        F.col("_n"),
    )
    draw = F.md5(F.col(id_col).cast("string"))
    if mode == "exact":
        from pyspark.sql.window import Window

        w = Window.partitionBy(domain_col).orderBy(draw, F.col(id_col))
        ranked = df.select(
            F.col(id_col), F.col(domain_col), F.row_number().over(w).alias("_rn")
        )
        kept = ranked.join(
            F.broadcast(quotas), ranked[domain_col] == quotas["_dom"]
        ).where(F.col("_rn") <= F.col("_quota"))
    else:
        thr = (
            F.col("_quota").cast("double") / F.col("_n").cast("double")
        ) * _DRAW_SPACE
        kept = df.join(
            F.broadcast(quotas), df[domain_col] == quotas["_dom"]
        ).where(_sample_draw(F.col(id_col)) < thr)
    return kept.select(F.col(id_col), F.col(domain_col))


def assign_splits(
    df: DataFrame,
    *,
    key_col: str,
    splits: "list[tuple[str, float]]",
    split_col: str = "split",
) -> DataFrame:
    """``xform_split`` — deterministic train/validation/test assignment:
    every row gets a split label from its KEY's hash draw and the
    cumulative split boundaries. The dataset-versioning primitive of a
    training pipeline: content-addressed (no RNG, no partition or order
    dependence), so re-running on a grown corpus keeps every previously
    assigned row in its split — rows never migrate between train and
    eval as data arrives, which is what keeps eval sets uncontaminated
    across dataset versions.

    ``splits`` is an ordered list of ``(label, fraction)``; fractions
    must sum to ~1. Assignment: ``draw(key) ∈ [2³²·cum_{i-1}, 2³²·cum_i)
    → label_i`` with the SAME md5 draw as :func:`stratified_sample`
    (:func:`_sample_draw`) — a pure scan-side projection compiled to a
    CASE chain: no shuffle, no join, whole-stage codegen, trivially
    reproducible in any engine with md5.

    Scale note: this is the shape that survives 100 TB by doing nothing
    — zero exchanges, zero state; downstream consumers filter on the
    label column and the filter pushes into the scan.
    """
    fracs = [f for _, f in splits]
    if any(f < 0 for f in fracs) or abs(sum(fracs) - 1.0) > 1e-9:
        raise ValueError(
            f"split fractions must be nonnegative and sum to 1, got {splits}"
        )
    draw = _sample_draw(F.col(key_col))
    expr = None
    cum = 0.0
    for label, frac in splits[:-1]:
        cum += frac
        bound = int(cum * _DRAW_SPACE)
        branch = (draw < F.lit(bound), F.lit(label))
        expr = (
            F.when(*branch) if expr is None else expr.when(*branch)
        )
    last_label = splits[-1][0]
    expr = (
        F.lit(last_label) if expr is None else expr.otherwise(F.lit(last_label))
    )
    return df.withColumn(split_col, expr)


def sample_k_per_group(
    df: DataFrame,
    *,
    group_cols: list[str],
    key_col: str,
    k: int,
) -> DataFrame:
    """``sample_per_group`` — deterministic k-row sample per group: rows
    ranked by the content-derived md5 draw of their key (ties broken by
    the key itself), the first ``k`` kept. The "inspect N examples per
    domain/language/tier" pipeline op, with :func:`stratified_sample`'s
    reproducibility contract: membership depends only on row content,
    never on partitioning or RNG state — re-running on a grown corpus
    changes a group's sample only where new rows out-draw old ones.

    Scale shape: the ``rank <= k`` filter compiles to Spark's
    **WindowGroupLimit** pushdown (verified in the finalized plan): a
    PARTIAL group-limit runs below the exchange — each map task forwards
    at most k rows per group it sees — so the shuffle carries
    O(k · groups · tasks-touching-group), not the corpus, and the final
    per-group pass is a bounded merge. No per-group buffer anywhere
    (the aggregation top-k alternative,
    ``slice(sort_array(collect_list(...)))``, would buffer whole groups
    — rejected for exactly the ``bounded_posting_lists`` reasons).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(*group_cols).orderBy(
        _sample_draw(F.col(key_col)), F.col(key_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def weighted_sample_k(
    df: DataFrame,
    *,
    group_cols: list[str],
    weight_col: str,
    key_col: str,
    k: int,
) -> DataFrame:
    """Deterministic WEIGHTED k-row sample per group, without
    replacement — Efraimidis–Spirakis exponential keys: each row draws
    ``u`` from its content (:func:`_sample_draw`, midpoint-shifted into
    (0,1)) and ranks by ``u^(1/weight)`` descending; the top k per group
    win. Inclusion probability is proportional to weight (exactly the
    A-ES guarantee), membership depends only on row content — the
    quality-score- or token-count-weighted corpus subsample, reproducible
    across runs and partitionings like :func:`sample_k_per_group`.

    Rows with NULL, NaN, or non-positive weight are ineligible (never
    sampled) — NaN needs its own clause because Spark orders NaN LARGER
    than every number, so a bare ``w > 0`` admits it and ``pow(u, 1/NaN)
    = NaN`` would then sort ahead of every finite sampling key and
    hijack the whole sample. Ties on the sampling key (possible only for
    equal draws, i.e. md5 prefix collisions) break by ``key_col`` for
    determinism.

    Scale shape: identical to :func:`sample_k_per_group` — the
    ``row_number <= k`` filter compiles to WindowGroupLimit with a
    partial pass below the exchange, so the shuffle carries
    O(k · groups · tasks), never the corpus, and no whole-group buffer
    exists anywhere.

    Cross-engine caveat (same class as the tfidf ln note): ``pow`` is
    not required to be correctly rounded, so two engines can disagree in
    the last ulp of the sampling key. Rank flips require two keys within
    one ulp — for content-derived continuous draws that is an md5-prefix
    near-collision, negligible at any real corpus size (exact ties still
    order identically via the tiebreak).
    """
    from pyspark.sql.window import Window

    samp_key, eligible = _aes_key_and_eligibility(key_col, weight_col)
    w = Window.partitionBy(*group_cols).orderBy(
        samp_key.desc(), F.col(key_col)
    )
    return (
        df.where(eligible)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def _aes_key_and_eligibility(key_col: str, weight_col: str):
    """The shared A-ES machinery of :func:`weighted_sample_k` and
    :func:`weighted_reservoir_sample` — ONE definition of the sampling
    key ``u^(1/w)`` and of eligibility, so the NaN-hijack clause and the
    pushdown-preserving predicate shape stay in sync. The null/positive
    checks are on the RAW column (they push to the scan as
    IsNotNull/GreaterThan); only the NaN clause needs the double view
    and stays a residual filter (false for integral weights anyway)."""
    u = (_sample_draw(F.col(key_col)) + F.lit(0.5)) / F.lit(float(_DRAW_SPACE))
    wd = F.col(weight_col).cast("double")
    samp_key = F.pow(u, F.lit(1.0) / wd)
    eligible = (
        F.col(weight_col).isNotNull()
        & (F.col(weight_col) > 0)
        & ~F.isnan(wd)
    )
    return samp_key, eligible


def chunk_overlap(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 40,
    stride: int = 30,
) -> DataFrame:
    """``xform_chunk_overlap`` — split documents into overlapping
    word-window chunks (the context-window preprocessing step of an LLM
    training pipeline: ``chunk_size`` words per chunk, consecutive
    chunks overlapping by ``chunk_size − stride`` words so no boundary
    context is lost).

    Chunk starts are the multiples of ``stride`` in
    ``0 .. (m−1)·stride`` where ``m = 1 + ceil(max(n_words −
    chunk_size, 0) / stride)`` — the minimal set covering every word
    with full overlap semantics; the last chunk may be short. Documents
    with zero words emit no chunks (``explode`` of an empty sequence),
    same as the oracle's ``generate_series`` over an empty range.

    Scale shape: pure scan-side projection + ``explode`` — tokenize
    once per document (:func:`~..operators.text._words` twin), derive
    every chunk from the staged array by slicing, ZERO shuffles and no
    Python. Output grows by the overlap factor (~``chunk_size/stride``×
    rows), which is the operator's contract, not a plan defect.

    Output: ``(doc_id, chunk_idx, chunk_start, chunk_n_words,
    chunk_text)`` with ``chunk_start`` 0-based.
    """
    if stride <= 0 or chunk_size <= 0 or stride > chunk_size:
        raise ValueError(
            "need 0 < stride <= chunk_size for overlapping coverage, got "
            f"chunk_size={chunk_size}, stride={stride}"
        )
    # stage the token array FIRST, derive the count from the attribute —
    # one tokenize per row (the _with_words contract: CollapseProject
    # keeps a non-cheap multiply-referenced projection separate)
    staged = (
        df.select(
            F.col(id_col).alias("doc_id"),
            _words(F.col(text_col)).alias("__w"),
        )
        .select("doc_id", "__w", F.size("__w").alias("__n"))
        .where(F.col("__n") > 0)
    )
    # integer ceil over the STAGED count: m = 1 + (max(n-chunk,0) + stride-1) div stride
    n = F.col("__n")
    m = F.lit(1) + F.floor(
        (F.greatest(n - chunk_size, F.lit(0)) + (stride - 1)) / stride
    ).cast("int")
    return (
        staged.select(
            "doc_id",
            "__w",
            "__n",
            F.posexplode(
                F.sequence(F.lit(0), (m - 1) * stride, F.lit(stride))
            ).alias("chunk_idx", "chunk_start"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            "chunk_start",
            F.least(
                F.lit(chunk_size), F.col("__n") - F.col("chunk_start")
            ).alias("chunk_n_words"),
            F.array_join(
                F.slice(F.col("__w"), F.col("chunk_start") + 1, chunk_size),
                " ",
            ).alias("chunk_text"),
        )
    )


def fuzzy_token_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_id: str,
    right_id: str,
    left_text: str,
    right_text: str,
    threshold: float = 0.5,
    max_token_df: int | None = None,
    pin_tokens: bool = True,
) -> DataFrame:
    """``join_fuzzy`` — entity-resolution similarity join between TWO
    relations: all (left, right) pairs whose distinct-token sets have
    Jaccard ≥ ``threshold``. The record-linkage operator (match product
    names across catalogs, user strings across systems) Spark has no
    native join type for.

    Plan — the asymmetric inverted-index shape, never a cross join:
    each side tokenizes ONCE into per-token posting lists of
    ``struct(id, n_tokens)`` (``n`` computed scan-side and carried in
    the struct, so no sizes sub-join re-evaluates a side), the two
    posting relations equi-join on the token, both lists explode into co-token pairs, one hash
    aggregation counts common tokens per pair, and the Jaccard filter
    is a pure projection. Shuffle volume = token postings, output
    volume = matching pairs.

    Skew guard: ``max_token_df`` drops tokens whose document frequency
    exceeds the cap on EITHER side before the pair explode — a stopword
    shared by 10⁶ left and 10⁶ right docs would emit 10¹² pairs; such
    tokens only connect pairs their rarer tokens connect anyway (the
    same argument as ``max_shingle_df`` in n-gram dedup). Set it at
    corpus scale. r6: the cap bounds the ``collect_list`` BUFFER, not
    just the finished list (``dedup.bounded_posting_lists``: per-token
    counts first — constant-size buffers, map-side partial — then the
    tiny over-cap token set anti-joins the rows BEFORE the lists
    build); the r5 shape filtered after building, so one hot stopword
    still materialized its whole posting list in a single aggregation
    row. ``pin_tokens=True`` (default) pins each side's exploded token
    rows (lazy ``localCheckpoint``) so the count pass and the list
    build share one tokenize+scan; pass ``False`` to trade that
    executor storage (O(tokens) rows) for re-running the column-pruned
    scan + JVM split in the count pass.

    UNIQUE-ID CONTRACT: ids must be unique within each side (one row
    per entity, the normal shape for entity resolution). A duplicated
    id with different texts would merge its token postings and the
    pair-count aggregation — keyed on (id, n) — could emit multiple or
    miscounted jaccard rows for that id with no error, exactly like
    the dedup pair operators; pre-aggregate (e.g.
    ``dedup.latest_by_key``) before joining non-keyed relations.

    Tokenization matches :func:`~..operators.text._words` (lowercase,
    Java-``\\s`` runs), distinct tokens; rows with zero tokens never
    match (Jaccard undefined ⇒ excluded, like the dedup operators).
    """
    from .dedup import bounded_posting_lists
    from .text import _words

    def token_posts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
        toks = F.array_distinct(_words(F.col(text_col)))
        staged = df.select(F.col(id_col).alias("id"), toks.alias("_toks"))
        rows = staged.select(
            "id", F.size("_toks").alias("n"), F.explode("_toks").alias("t")
        )
        return bounded_posting_lists(
            rows,
            ["t"],
            F.struct("id", "n"),
            max_size=max_token_df,
            min_size=1,
            pin_keyed=pin_tokens,
        )

    lp = token_posts(left, left_id, left_text)
    rp = token_posts(right, right_id, right_text).withColumnRenamed(
        "ids", "rids"
    )
    common = (
        lp.join(rp, "t")
        .select(F.explode("ids").alias("l"), "rids")
        .select("l", F.explode("rids").alias("r"))
        .groupBy(
            F.col("l.id").alias("lid"),
            F.col("l.n").alias("nl"),
            F.col("r.id").alias("rid"),
            F.col("r.n").alias("nr"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.withColumn(
            "jaccard",
            F.col("common") / (F.col("nl") + F.col("nr") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select(
            F.col("lid").alias(left_id + "_l"),
            F.col("rid").alias(right_id + "_r"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


def funnel_stages(
    events: DataFrame,
    stages: tuple[str, ...],
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    within: str | None = None,
) -> DataFrame:
    """Ordered funnel-conversion analysis — for each user, the reach
    time of every funnel stage, where stage *i* is reached at the FIRST
    ``stages[i]`` event STRICTLY after the stage *i−1* reach time (the
    standard product-analytics funnel; out-of-order events do not
    count, e.g. a purchase before the first qualifying click is not a
    stage-3 conversion). ``within`` (an interval literal, e.g.
    ``"1 day"``) adds the usual CONVERSION WINDOW: stage *i* must also
    land at or before ``reach_{i−1} + within``, or the funnel stalls —
    without it, any long-lived user eventually completes every stage
    and the analysis degenerates (on the driver corpus a 1-day window
    splits users ~60/23/17% across completion depths; unbounded, 100%
    complete).

    Scale shape — ONE exchange for any number of stages: the naive
    formulation is k sequential self-joins (first stage-i event after
    reach_{i−1}), i.e. k scans and k shuffles. Instead, one window
    partitioned by user and ordered by ``(ts, id)`` computes a RUNNING
    stage-(i−1) reach time (``min`` over qualifying rows so far), and a
    stage-i row qualifies when ``ts > running_reach``; because the
    running min equals the global first-reach for every row after it
    and is NULL before it (NULL comparison excludes), the minimum
    qualifying ts per user is exactly the sequential-join answer — the
    same argument holds with the conversion window, whose bound is a
    function of that same running reach; asserted against the
    sequential-join formulation cross-engine in ``tests/test_r8_ops.py``.
    The k running mins share one window SPEC (stage i's qualifier
    references stage i−1's window expression, so Catalyst chains Window
    nodes), and one spec means ONE exchange and ONE sort shared by the
    whole chain; the final per-user aggregation reuses the window's
    hash partitioning with no further exchange (plan-gated: 1 exchange,
    1 sort total). Per-row state is k timestamps — no per-user buffering, no
    collect_list, hot users cost O(their rows).

    Output: ``(user_col, reach_1..reach_k timestamps, stages_completed)``
    — one row per user present in ``events``; NULL reach for stages
    never hit, ``stages_completed`` = count of non-NULL reaches (a
    prefix of the funnel by construction).
    """
    from pyspark.sql.window import Window

    if len(stages) < 2:
        raise ValueError(f"need at least 2 stages, got {len(stages)!r}")
    if len(set(stages)) != len(stages):
        raise ValueError(f"stages must be distinct, got {stages!r}")

    w = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ts = F.col(ts_col)
    df = events.select(user_col, type_col, ts_col, id_col)
    qual = F.when(F.col(type_col) == stages[0], ts)
    quals = [qual]
    for stage in stages[1:]:
        running_prev = F.min(qual).over(w)
        cond = (F.col(type_col) == stage) & (ts > running_prev)
        if within is not None:
            cond = cond & (ts <= running_prev + F.expr(f"INTERVAL {within}"))
        qual = F.when(cond, ts)
        quals.append(qual)
    staged = df.select(
        F.col(user_col),
        *[q.alias(f"__q{i}") for i, q in enumerate(quals)],
    )
    reach = [
        F.min(f"__q{i}").alias(f"reach_{i + 1}") for i in range(len(stages))
    ]
    out = staged.groupBy(user_col).agg(*reach)
    completed = sum(
        F.col(f"reach_{i + 1}").isNotNull().cast("int")
        for i in range(len(stages))
    )
    return out.withColumn(
        "stages_completed", completed.cast("bigint")
    )


def balanced_shards(
    df: DataFrame,
    *,
    key_col: str,
    weight_col: str,
    n_shards: int,
    n_cells: int = 64,
    shard_col: str = "shard",
) -> DataFrame:
    """Deterministic shard assignment with near-equal per-shard WEIGHT
    budgets (token counts) — the training-shard writer's planner. Pure
    hashing balances shard budgets only in expectation; a heavy-tailed
    size distribution leaves the unlucky shard holding the giants. This
    instead deals rows round-robin within (size-stratum × salt-cell)
    groups, so every cell's rows spread across ALL shards with counts
    differing by at most 1 — and within a stratum row weights agree
    within 2×, so budget spread is bounded by construction, not by luck.

    Mechanics (every step integer-exact, cross-engine reproducible):

    - stratum = ``length(bin(weight + 1))`` — the binary magnitude
      ⌊log2(w+1)⌋+1 as STRING LENGTH arithmetic, deliberately not float
      ``log2`` (whose last-ulp rounding could flip ``floor`` at
      power-of-two boundaries differently per engine; same caveat class
      as the tfidf ln note). NULL/negative weights clamp to 0.
    - cell = md5 draw of the key, mod ``n_cells`` — decouples the deal
      from physical partitioning.
    - within each (stratum, cell): rank by (draw, key), then
      ``shard = (rank − 1 + rotation) % n_shards`` where rotation is a
      per-group md5 draw — without it every group would start its deal
      at shard 0 and the remainder rows would all pile there.

    Scale shape: stratum/cell/draw are scan-side expressions; the one
    shuffle is the rank window over (stratum × n_cells) groups — set
    ``n_cells`` ≳ cluster cores for parallelism; groups are ~uniform by
    the hash, so no window partition is hot. The rank<=∞ window carries
    no WindowGroupLimit (every row is kept — this operator labels the
    corpus, it doesn't filter it), so the shuffle is O(corpus), which a
    shard writer pays anyway on write.

    Balance guarantee: per (stratum, cell) group, shard counts differ by
    ≤1; summing over groups, shard g's budget differs from the mean by
    at most Σ_strata (max row weight in stratum) · n_cells — independent
    of corpus size, so relative spread → 0 as the corpus grows.
    """
    if n_shards < 1 or n_cells < 1:
        raise ValueError("n_shards and n_cells must be >= 1")
    from pyspark.sql.window import Window

    w = F.greatest(F.coalesce(F.col(weight_col), F.lit(0)), F.lit(0))
    # bigint BEFORE the string cast: a DOUBLE weight >= 1e7 renders as
    # scientific notation ('1.0E7'), conv() truncates at the '.', and
    # every large weight would silently collapse into stratum 1 —
    # defeating the size stratification the balance guarantee rests on
    # (ADVICE r8). Fractional weights floor to their integer magnitude.
    stratum = F.length(F.conv((w + 1).cast("bigint").cast("string"), 10, 2))
    cell = _sample_draw(F.col(key_col)) % n_cells
    rotation = _sample_draw(
        F.concat(stratum.cast("string"), F.lit("|"), cell.cast("string"))
    ) % n_shards
    rank = F.row_number().over(
        Window.partitionBy(stratum, cell).orderBy(
            _sample_draw(F.col(key_col)), F.col(key_col)
        )
    )
    return df.withColumn(
        shard_col, ((rank - 1 + rotation) % n_shards).cast("int")
    )


def reservoir_sample(df: DataFrame, *, key_col: str, k: int) -> DataFrame:
    """Deterministic uniform GLOBAL k-row sample without replacement:
    rank every row by its content-derived md5 draw (ties broken by
    ``key_col``) and keep the k smallest — the whole-corpus analogue of
    :func:`sample_k_per_group` (same membership stability: adding new
    rows can only displace, never reshuffle, the sample; a row's draw
    never changes).

    Scale shape: ``orderBy(draw).limit(k)`` compiles to
    TakeOrderedAndProject — each task keeps a k-row heap and the driver
    merges tasks×k rows; there is NO global sort exchange and no
    single-partition window. The driver merge is the bound: k is capped
    (1M) with an explicit error.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if k > 1_000_000:
        raise ValueError(
            f"k={k} exceeds the driver-merge cap (1M rows); "
            "use stratified_sample for rate-based sampling at this size"
        )
    return df.orderBy(
        _sample_draw(F.col(key_col)).asc(), F.col(key_col).asc()
    ).limit(k)


def weighted_reservoir_sample(
    df: DataFrame, *, key_col: str, weight_col: str, k: int
) -> DataFrame:
    """Deterministic weight-proportional GLOBAL k-sample without
    replacement — :func:`weighted_sample_k`'s whole-corpus analogue and
    :func:`reservoir_sample`'s weighted one: rank all rows by the A-ES
    key ``u^(1/w)`` descending (content-derived draw, ``key_col``
    tiebreak) and keep the top k. Same eligibility contract as the
    per-group variant (NULL/NaN/non-positive weights never sampled) and
    the same plan shape as the uniform one: ``orderBy().limit(k)``
    compiles to TakeOrderedAndProject — per-task k-row heaps, driver
    merge of tasks×k rows, no global sort exchange, k capped at 1M.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if k > 1_000_000:
        raise ValueError(
            f"k={k} exceeds the driver-merge cap (1M rows); "
            "use stratified_sample for rate-based sampling at this size"
        )
    samp_key, eligible = _aes_key_and_eligibility(key_col, weight_col)
    return (
        df.where(eligible)
        .orderBy(samp_key.desc(), F.col(key_col).asc())
        .limit(k)
    )


def repeat_epochs(
    df: DataFrame,
    *,
    key_col: str,
    epochs_col: "str | None" = None,
    epochs: "float | None" = None,
    copy_col: str = "epoch_copy",
    max_epochs: float = 100.0,
) -> DataFrame:
    """Fractional-epoch upsampling — the training-mix primitive behind
    "2.5 epochs of wiki, 0.3 of CommonCrawl" (DoReMi/Pile-style domain
    weights): every row is emitted ``floor(e)`` times, plus one more
    with probability ``frac(e)`` decided by the row's content draw — so
    expected copies = e exactly, membership of the fractional copy is
    deterministic/reproducible (same md5 draw as every sampler here),
    and e < 1 degrades to plain downsampling. Pass a constant
    ``epochs`` or a per-row ``epochs_col`` (the usual shape: a domain
    weight joined on beforehand). NULL/negative epochs emit nothing; a
    NULL ``key_col`` still gets its floor(e) integer copies but never
    wins the fractional one (no content to draw from).

    Output: input columns + ``copy_col`` (0-based copy index) — distinct
    (key, copy) rows so downstream shuffles/dedup treat copies as
    distinct records.

    Scale shape: one scan-side ``explode(sequence(0, n_copies-1))`` —
    no shuffle, no join; output volume is Σe rows, which is the product
    being built. ``max_epochs`` fails loudly on a runaway weight (a
    1e6-epoch row is a config bug amplifying one document into a
    corpus).
    """
    if (epochs is None) == (epochs_col is None):
        raise ValueError("pass exactly one of epochs / epochs_col")
    e = F.lit(float(epochs)) if epochs is not None else F.col(epochs_col)
    e = e.cast("double")
    guard = F.when(
        e > max_epochs,
        F.raise_error(
            F.concat(
                F.lit(
                    f"repeat_epochs: epochs exceeds max_epochs="
                    f"{max_epochs}: "
                ),
                e.cast("string"),
            )
        ),
    ).otherwise(e)
    frac = guard - F.floor(guard)
    # coalesce: a NULL key draws NULL, and NULL extra would NULL the
    # whole copy count — silently dropping a row whose INTEGER epochs
    # need no draw at all (measured); NULL-key rows simply never win
    # the fractional copy
    extra = F.coalesce(
        (
            _sample_draw(F.col(key_col))
            < (frac * _DRAW_SPACE).cast("bigint")
        ).cast("int"),
        F.lit(0),
    )
    n_copies = (F.floor(guard) + extra).cast("int")
    copies = F.when(
        e.isNotNull() & (e > 0) & (n_copies > 0),
        F.sequence(F.lit(0), n_copies - 1),
    ).otherwise(F.array().cast("array<int>"))
    return df.withColumn(copy_col, F.explode(copies))


def mixture_sample(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    group_col: str = "source",
    salt: str = "mix",
) -> DataFrame:
    """``corpus_mixture_sample`` — temperature-smoothed source mixture:
    downsample each source so the corpus distribution flattens toward
    uniform with exponent α = 0.5 — the multilingual-LM sampling
    classic (the ``p_i^α / Σ p_j^α`` smoothing of mBERT/XLM-R lineage,
    Conneau & Lample 2019), anchored so the SMALLEST source keeps
    everything and no source upsamples: ``keep_rate(g) =
    sqrt(n_min / n_g)``. Head sources (CommonCrawl-sized) shrink by the
    square root of their dominance; tail sources (the curated sliver
    that matters) survive intact — the mixture a pretraining run
    actually wants, produced as a FILTER, not a shuffle.

    α is FIXED at 0.5 deliberately: ``sqrt`` is a correctly-rounded
    IEEE-754 operation, so ``sqrt(n_min/n_g)`` is bit-identical in
    Spark, DuckDB and any IEEE engine — an arbitrary-α ``pow`` rides
    libm and is banned from the hash path (the tfidf no-log rule).

    Determinism: a doc's draw is :func:`~.text.md5_draw` of
    ``id:salt`` — content-addressed, so membership is reproducible
    run-to-run and engine-to-engine, and re-running after appending new
    docs never flips an old doc's verdict (only rates move). Keep iff
    ``draw < keep_rate · 2³²`` (double compare; the draw integer is
    ≤ 2³², exact in a double).

    Plan: one tiny aggregation (per-source counts — map-side combined,
    O(|sources|) rows), a 1-row min, then the rates BROADCAST back onto
    the corpus scan as a filter: the data path is scan → filter, zero
    data shuffle. The broadcast side is bounded by the SOURCE DOMAIN
    (a curated registry, never corpus-sized) — the forced hint is safe
    here, unlike the skyline frontier. Output: the kept rows with
    ``keep_rate`` attached (6dp — itself hash-checkable).
    """
    # NULL-group rows are excluded SYMMETRICALLY: a doc without a group
    # has no mixture share to rebalance, and counting it (groupBy keeps
    # a NULL group that the equi-join below could never match) would
    # let a phantom group set n_min and distort every real group's rate
    # (review r11 #1)
    grouped = docs.where(F.col(group_col).isNotNull())
    counts = grouped.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("_n")
    )
    n_min = counts.agg(F.min("_n").alias("_n_min"))
    rates = counts.crossJoin(F.broadcast(n_min)).select(
        group_col,
        F.sqrt(
            F.col("_n_min").cast("double") / F.col("_n").cast("double")
        ).alias("_rate"),
    )
    draw = md5_draw(
        F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
    )
    return (
        grouped.join(F.broadcast(rates), group_col)
        .where(draw.cast("double") < F.col("_rate") * F.lit(4294967296.0))
        .select(
            id_col,
            group_col,
            F.round(F.col("_rate"), 6).alias("keep_rate"),
        )
    )


def stratified_kfold(
    df: DataFrame,
    *,
    key_col: str,
    strata_col: str,
    k: int = 5,
) -> DataFrame:
    """``xform_kfold`` — EXACTLY-balanced stratified k-fold assignment:
    within every stratum, rows rank by their content-free md5 draw
    (ties by key) and take ``fold = (rank − 1) mod k``, so each
    stratum's fold populations differ by at most one row — the
    cross-validation / eval-shard split that per-row hash assignment
    (:func:`assign_splits`) only achieves in expectation. Output
    ``(key_col, strata_col, fold)``; NULL strata form their OWN stratum
    (both engines window NULL partitions identically); NULL keys are
    excluded (no draw to rank).

    Contract vs :func:`assign_splits`, stated plainly: hash assignment
    is row-stable under corpus growth (a row's split never changes —
    what eval-set hygiene wants); rank-mod assignment is batch-stable
    only (adding rows reshuffles ranks) but exactly balanced — use it
    for k-fold CV and fixed-snapshot shard manifests, not for the
    living train/eval split.

    Plan: ONE keyed window per stratum (the sort is per-stratum,
    partitionable — never a global ORDER BY), md5 computed once
    scan-side. At 100 TB the per-stratum sort is the honest cost of
    exact balance; the zero-shuffle approximate path remains
    :func:`assign_splits`.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    from pyspark.sql.window import Window

    draw = F.md5(F.col(key_col).cast("string"))
    w = Window.partitionBy(strata_col).orderBy(draw, F.col(key_col))
    return (
        df.where(F.col(key_col).isNotNull())
        .select(key_col, strata_col)
        .withColumn(
            "fold",
            ((F.row_number().over(w) - F.lit(1)) % F.lit(k)).cast(
                "bigint"
            ),
        )
    )
