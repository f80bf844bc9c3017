"""Text-analysis operators for large-scale training-data pipelines.

All pure Catalyst expressions (no Python UDFs anywhere): language ID,
quality scoring, token counting, document fingerprinting. Every operator is
a narrow map over the ``documents`` table — no shuffle, fully pipelined
inside whole-stage codegen, embarrassingly parallel at 100 TB (the scan
parallelism is the only knob).

The expressions are deliberately restricted to functions with identical
semantics in DuckDB (lower/length/split/regexp_extract_all/md5/…) so every
operator is oracle-checkable bit-for-bit.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: BPE-ish tokenizer: letter runs, digit runs, single non-space symbols.
TOKEN_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

#: Tiny per-language stopword sets for the n-gram/stopword language-ID
#: heuristic. Deterministic and SQL-expressible; langid for real corpora
#: would swap in larger tables without changing the plan shape.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr": ("le", "la", "et", "les", "des", "est", "une"),
    "es": ("el", "los", "de", "y", "que", "una", "es"),
}

#: Generic stopword list used by the quality score (union of English set).
QUALITY_STOPWORDS = LANG_STOPWORDS["en"]


def md5_draw(key: Column) -> Column:
    """Deterministic uniform draw in [0, 2³²) from any column: integer
    value of the first 8 hex digits of md5(string(key)). THE canonical
    content-derived draw — `corpus._sample_draw` and
    :func:`with_hashed_features` both resolve to this one definition,
    and the DuckDB twin is
    ``CAST(('0x' || substr(md5(CAST(x AS VARCHAR)), 1, 8)) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    )


def _words(text: Column) -> Column:
    """Whitespace tokens of the lowercased, trimmed text.

    Empty / whitespace-only text yields an EMPTY array — bare ``split``
    would return ``[""]``, a phantom token. Non-empty *trimmed* text can
    never produce empty tokens from a ``\\s+`` split, so the guard is one
    cheap WHEN on the document, not a per-element filter (array HOFs are
    interpreted — measurably slower in hot projections)."""
    # regexp trim: F.trim strips only spaces — a tab/newline-padded doc
    # would still split into phantom empty tokens
    trimmed = F.regexp_replace(F.lower(text), r"^\s+|\s+$", "")
    return F.when(
        F.length(trimmed) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(trimmed, r"\s+"))


def pattern_tokens(text: Column) -> Column:
    """Lowercased ``TOKEN_PATTERN`` tokens as an array — ONE definition
    for every consumer that tokenizes by the engine's token classes
    (BPE vocabulary, LM grams, token counting); duplicated inline
    copies would let the tokenizations silently drift apart (the
    ``_sample_draw``/``md5_draw`` single-definition convention)."""
    return F.regexp_extract_all(F.lower(text), F.lit(TOKEN_PATTERN), 0)


#: Name of the staged token-array column added by :func:`_with_words`.
_WORDS = "__words"


def _with_words(df: DataFrame, text_col: str) -> DataFrame:
    """Materialize :func:`_words` ONCE as a column and have consumers
    reference the attribute.

    This is the central perf contract of the module: every operator below
    uses the token array several times, and Catalyst inlines alias
    *expressions* (not attributes) into each use site — and into
    interpreted higher-order-function lambdas PER ELEMENT, turning an
    O(words) projection into O(words²) re-splitting. Because the split is
    non-cheap and referenced more than once, ``CollapseProject`` keeps
    this projection separate instead of merging it back into consumers
    (asserted in ``tests/test_plans.py``), so the document is tokenized
    exactly once per row."""
    return df.withColumn(_WORDS, _words(F.col(text_col)))


def _stage_words(df: DataFrame, text_col: str, words_staged: bool) -> DataFrame:
    """Stage the token array unless the caller already did.

    ``words_staged=True`` is the multi-signal composition contract: a
    pipeline scoring several text signals stages :func:`_with_words`
    ONCE and passes ``words_staged=True`` to every subsequent operator,
    so the document is tokenized once per row for the whole pipeline
    instead of once per operator (the scan-side cost center at corpus
    scale). The caller drops the staged column when done."""
    return df if words_staged else _with_words(df, text_col)


def with_text_stats(
    df: DataFrame, text_col: str = "text", *, words_staged: bool = False
) -> DataFrame:
    """``text_stats`` — per-document surface statistics.

    Adds: ``n_chars``, ``n_words``, ``n_tokens`` (BPE-ish regex),
    ``avg_word_len``, ``punct_ratio``, ``stopword_ratio``. One projection,
    no shuffle.
    """
    text = F.col(text_col)
    words = F.col(_WORDS)
    n_chars = F.length(text)
    n_words = F.size(words)
    n_punct = F.size(
        F.regexp_extract_all(F.lower(text), F.lit(r"[^a-z0-9\s]"), 0)
    )
    n_stop = F.size(
        F.array_intersect(words, F.array(*[F.lit(w) for w in QUALITY_STOPWORDS]))
    )
    out = (
        _stage_words(df, text_col, words_staged)
        .withColumn("n_chars", n_chars.cast("bigint"))
        .withColumn("n_words", n_words.cast("bigint"))
        .withColumn(
            "n_tokens",
            F.size(
                F.regexp_extract_all(F.lower(text), F.lit(TOKEN_PATTERN), 0)
            ).cast("bigint"),
        )
        .withColumn(
            "avg_word_len",
            # NULL (not NaN/inf) for wordless / empty documents — the same
            # guarded semantics as the DuckDB oracle
            F.when(
                n_words > 0,
                F.aggregate(
                    words, F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w)
                )
                / n_words,
            ),
        )
        .withColumn("punct_ratio", F.when(n_chars > 0, n_punct / n_chars))
        .withColumn("n_stopwords_distinct", n_stop.cast("bigint"))
    )
    return out if words_staged else out.drop(_WORDS)


def with_token_counts(
    df: DataFrame, text_col: str = "text", *, words_staged: bool = False
) -> DataFrame:
    """``text_token_count`` — per-document tokenizer-cost profile: the
    BPE-ish :data:`TOKEN_PATTERN` token count broken down by class, plus
    the tokens-per-word *fertility* ratio (the budget number an LLM
    pipeline sizes context windows and training cost with; fertility ≫ 1
    flags punctuation/number-heavy documents whose token cost outruns
    their word count).

    Adds: ``n_tokens_total``, ``n_alpha_tokens``, ``n_num_tokens``,
    ``n_punct_tokens`` (= total − alpha − num, the pattern's three
    disjoint alternatives), ``fertility`` (NULL for wordless docs).
    One scan-side projection, JVM regex only — no shuffle, no Python.
    """
    lowered = F.lower(F.col(text_col))
    n_total = F.size(F.regexp_extract_all(lowered, F.lit(TOKEN_PATTERN), 0))
    n_alpha = F.size(F.regexp_extract_all(lowered, F.lit(r"[a-z]+"), 0))
    n_num = F.size(F.regexp_extract_all(lowered, F.lit(r"[0-9]+"), 0))
    n_words = F.size(F.col(_WORDS))
    out = (
        _stage_words(df, text_col, words_staged)
        .withColumn("n_tokens_total", n_total.cast("bigint"))
        .withColumn("n_alpha_tokens", n_alpha.cast("bigint"))
        .withColumn("n_num_tokens", n_num.cast("bigint"))
        .withColumn(
            "n_punct_tokens", (n_total - n_alpha - n_num).cast("bigint")
        )
        .withColumn(
            "fertility",
            F.when(n_words > 0, n_total.cast("double") / n_words),
        )
    )
    return out if words_staged else out.drop(_WORDS)


def with_hashed_features(
    df: DataFrame,
    text_col: str = "text",
    *,
    dim: int = 32,
    words_staged: bool = False,
) -> DataFrame:
    """``text_hashed_features`` — hashing-trick bag-of-words: a fixed
    ``dim``-wide word-count vector per document, bucketed by the first 8
    hex digits of each word's md5 (content-derived, engine-reproducible
    — no vocabulary table, no fitting pass; the classic featurization
    for corpus-scale classifiers and cheap clustering).

    Scale shape: pure scan-side projection — stage the token array
    once, map words→buckets once, then count per bucket with an array
    ``filter`` per dimension. Per-row cost is O(dim · words)
    interpreted-HOF ops; embarrassingly parallel, ZERO shuffle, and at
    100 TB strictly cheaper than the explode → groupBy(doc, bucket) →
    re-collect formulation, whose exchange carries O(total words) rows.
    For ``dim`` ≫ ~100 flip to that explode form (the HOF cost grows
    linearly in dim while the explode's shuffle does not).

    Adds: ``features`` (``array<bigint>``, length ``dim``) and
    ``n_feature_words`` (= total count across buckets).
    """
    if dim <= 0:
        raise ValueError(f"dim must be positive, got {dim}")
    staged = _stage_words(df, text_col, words_staged)
    buckets = F.transform(
        F.col(_WORDS),
        lambda w: F.pmod(md5_draw(w), F.lit(dim)),
    )
    staged = staged.withColumn("__buckets", buckets)
    features = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: F.size(
            F.filter(F.col("__buckets"), lambda b: b == d.cast("bigint"))
        ).cast("bigint"),
    )
    out = staged.withColumn("features", features).withColumn(
        "n_feature_words", F.size(F.col("__buckets")).cast("bigint")
    ).drop("__buckets")
    return out if words_staged else out.drop(_WORDS)


def with_language_id(
    df: DataFrame, text_col: str = "text", *, words_staged: bool = False
) -> DataFrame:
    """``text_langid`` — stopword-voting language identification.

    Score per language = number of distinct language stopwords present in
    the document; predicted language = argmax with alphabetical tie-break;
    no hits at all → ``und`` (undetermined). Pure set-intersection
    expressions — vectorized, shuffle-free, identical logic in the oracle.
    """
    words = F.col(_WORDS)
    # stage 2: the four intersection scores, each computed ONCE as a
    # column — the argmax below references these attributes, so the
    # (non-cheap) intersections are not duplicated per CASE branch
    scored = _stage_words(df, text_col, words_staged)
    for lang, sw in LANG_STOPWORDS.items():
        scored = scored.withColumn(
            f"score_{lang}",
            F.size(
                F.array_intersect(words, F.array(*[F.lit(w) for w in sw]))
            ).cast("bigint"),
        )
    # argmax as ONE array_max over (score, -idx, lang) structs: struct
    # comparison is lexicographic, so the winner is the highest score with
    # alphabetical-first tie-break; the (0, 1, 'und') sentinel outranks
    # every real element exactly when all scores are 0 (scores are array
    # sizes, never negative). Each score column is referenced ONCE — a
    # WHEN-chain would reference each ~5×, and a filter on pred_lang
    # (clean-corpus, stratified sampling) gets the whole tree substituted
    # into its pushed-down predicate, multiplying the tokenizer cost.
    langs = sorted(LANG_STOPWORDS)
    candidates = [
        F.struct(
            F.lit(0).cast("bigint").alias("s"),
            F.lit(1).alias("negidx"),
            F.lit("und").alias("lang"),
        )
    ] + [
        F.struct(
            F.col(f"score_{lang}").alias("s"),
            F.lit(-i).alias("negidx"),
            F.lit(lang).alias("lang"),
        )
        for i, lang in enumerate(langs)
    ]
    pred = F.array_max(F.array(*candidates))["lang"]
    out = scored.withColumn("pred_lang", pred)
    return out if words_staged else out.drop(_WORDS)


def with_quality_score(
    df: DataFrame, text_col: str = "text", *, words_staged: bool = False
) -> DataFrame:
    """``text_quality`` — heuristic document-quality score in [0, 1].

    0.4·min(words/100, 1) + 0.3·(1 − punct_ratio) + 0.3·min(stop/5, 1):
    rewards length, penalizes symbol soup, rewards natural-language
    stopword presence. All double arithmetic over integer inputs with a
    fixed evaluation order, so the oracle reproduces it exactly.
    """
    text = F.col(text_col)
    words = F.col(_WORDS)
    n_words = F.size(words).cast("double")
    n_chars = F.length(text).cast("double")
    # empty documents have no symbol soup: punct term contributes 0, so the
    # quality score stays defined (0.3) instead of going NULL
    punct_ratio = F.when(
        n_chars > 0,
        F.size(F.regexp_extract_all(F.lower(text), F.lit(r"[^a-z0-9\s]"), 0))
        / n_chars,
    ).otherwise(F.lit(0.0))
    n_stop = F.size(
        F.array_intersect(words, F.array(*[F.lit(w) for w in QUALITY_STOPWORDS]))
    ).cast("double")
    score = (
        F.lit(0.4) * F.least(n_words / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.3) * F.least(n_stop / F.lit(5.0), F.lit(1.0))
    )
    out = _stage_words(df, text_col, words_staged).withColumn(
        "quality", F.round(score, 6)
    )
    return out if words_staged else out.drop(_WORDS)


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``text_fingerprint`` — deterministic document fingerprint.

    ``md5(normalized text)`` where normalization = lowercase + collapse
    whitespace + trim: the canonical cheap exact-dedup key (casing /
    spacing variants collapse to one fingerprint).
    """
    normalized = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    )
    return df.withColumn("fingerprint", F.md5(normalized))


def with_repetition_ratio(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    *,
    words_staged: bool = False,
) -> DataFrame:
    """``text_repetition`` — intra-document repeated ``k``-gram ratio, the
    classic repetition quality signal (Gopher §A1.1 / RefinedWeb use the
    same family): 1 − distinct_kgrams / total_kgrams, NULL for documents
    shorter than ``k`` words. 0 = no repetition, → 1 = the document loops.

    One narrow projection (no shuffle): total k-grams is arithmetic on the
    word count; distinct k-grams reuses :func:`shingle_array`. Boilerplate
    loops, lorem-ipsum filler, and template spam score high and get
    dropped by a downstream filter — at 100 TB this runs inside the scan
    like every other text score.
    """
    words = F.col(_WORDS)
    total = F.size(words) - F.lit(k - 1)
    distinct = F.size(shingle_array(words, k))
    out = (
        _stage_words(df, text_col, words_staged)
        .withColumn(
            "rep_ratio",
            F.when(
                total > 0,
                F.round(
                    F.lit(1.0) - distinct.cast("double") / total.cast("double"),
                    6,
                ),
            ),
        )
    )
    return out if words_staged else out.drop(_WORDS)


#: PII patterns shared by the scrubber and its oracle — restricted to
#: syntax with identical semantics in Java regex (Spark) and RE2 (DuckDB):
#: character classes, bounded repetition, \d/\w/\b only.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    # local@domain.tld — conservative, no exotic quoting
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # international-ish phone: 9+ digits with separators, optional +
    "phone": (r"\+?\d[\d()\- ]{7,}\d", "<PHONE>"),
    # IPv4 (loose octets — scrubbing favors recall over validation)
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
}


def with_pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``text_pii_scrub`` — regex redaction of emails / phone numbers /
    IPv4 addresses, the standard pre-training scrub pass.

    Adds ``scrubbed`` (text with each match replaced by its placeholder,
    applied in the fixed email → phone → ipv4 order so the patterns can't
    shadow each other's placeholders) and per-kind match counts
    (``n_email``/``n_phone``/``n_ipv4``, counted on the ORIGINAL text).
    Pure Catalyst ``regexp_replace``/``regexp_extract_all`` — shuffle-free
    scan-side work at any scale, and every pattern is RE2-compatible so
    the DuckDB oracle applies the identical automata.
    """
    text = F.col(text_col)
    out = df
    for kind, (pat, _) in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{kind}",
            F.size(F.regexp_extract_all(text, F.lit(pat), 0)).cast("bigint"),
        )
    scrubbed = text
    for kind, (pat, repl) in PII_PATTERNS.items():
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return out.withColumn("scrubbed", scrubbed)


def shingle_array(words: Column, k: int) -> Column:
    """Distinct word ``k``-shingles (space-joined) of a token array.

    Documents shorter than ``k`` words yield an empty array (guarded:
    ``sequence`` would otherwise produce a *descending* range).

    NOTE: pass a materialized ATTRIBUTE (see :func:`_with_words`), not a
    raw expression — array higher-order functions are interpreted, and
    Catalyst inlines expression (non-attribute) inputs into the lambda,
    re-splitting the text once per shingle. Exploding/bulk paths should
    use :func:`shingle_rows` (Arrow) instead.
    """
    n = F.size(words)
    idx = F.sequence(F.lit(0), n - F.lit(k))
    mk = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, k))
    )
    return F.when(n >= k, F.array_distinct(mk)).otherwise(
        F.array().cast("array<string>")
    )


#: Exactly Java-regex ``\s`` (what Spark's ``split(_, '\\s+')`` matches
#: without UNICODE_CHARACTER_CLASS): ASCII space, tab, LF, VT, FF, CR.
#: Python's bare ``str.split()`` splits on ALL Unicode whitespace
#: (U+00A0, U+2009, …) — using it here would make :func:`shingle_rows`
#: and ``text_*`` (:func:`_words`) tokenize non-ASCII documents
#: differently. Pinning the exact character class keeps the
#: two tokenizer paths bit-identical on any input.
_JAVA_WS = " \t\n\x0b\f\r"

_JAVA_WS_RE = _re.compile(f"[{_JAVA_WS}]+")


def _py_word_lists(ids, texts, k: int):
    """Shared Python tokenizer core: yields ``(id, words)`` for documents
    with ≥ ``k`` words, tokenized EXACTLY like :func:`_words` (lowercase,
    trim Java-``\\s`` whitespace, split on Java-``\\s`` runs)."""
    for i, t in zip(ids, texts):
        if not t:
            continue
        t = t.lower().strip(_JAVA_WS)
        if not t:
            continue
        w = _JAVA_WS_RE.split(t)
        if len(w) >= k:
            yield i, w


def shingle_rows(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int,
    with_n: bool = False,
) -> DataFrame:
    """Exploded distinct word-``k``-shingles: ``(id, sh)`` rows.

    Arrow-batched Python tokenizer (``mapInPandas``) — a narrow,
    embarrassingly-parallel map with no shuffle, ~20× faster than the
    equivalent Catalyst higher-order-function chain, which re-splits the
    text once per shingle (interpreted lambda inlining) and cannot be
    whole-stage-codegen'd. Token semantics match :func:`_words` /
    ``shingle_array`` exactly (including non-ASCII whitespace — see
    ``_JAVA_WS``): lowercase, split on Java-``\\s`` runs, distinct
    shingles, docs shorter than ``k`` words yield nothing.

    ``with_n=True`` adds the document's distinct-shingle count ``n`` to
    every row — free in the pass (the count is in hand when the doc's
    rows are emitted), and it saves consumers that need per-doc sizes a
    separate aggregation + join whose subtree would re-evaluate this
    (non-reusable) Python stage.
    """
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            ids: list = []
            shingles: list = []
            ns: list = []
            for i, w in _py_word_lists(pdf["_id"], pdf["_text"], k):
                distinct = dict.fromkeys(
                    " ".join(w[j : j + k]) for j in range(len(w) - k + 1)
                )
                ids.extend([i] * len(distinct))
                shingles.extend(distinct)
                if with_n:
                    ns.extend([len(distinct)] * len(distinct))
            data = {"id": ids, "sh": shingles}
            if with_n:
                data["n"] = ns
            yield pd.DataFrame(data)

    schema = "id long, sh string" + (", n long" if with_n else "")
    return df.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
    ).mapInPandas(gen, schema)


def corpus_freq_score(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Unigram corpus-frequency quality score — the hash-checkable core of
    LM-based quality filtering: score each document by how "typical" its
    tokens are under the corpus's own unigram distribution.

    ``freq_score = (Σ_w c_doc(w) · c_corpus(w)) / (n_tokens · total)`` —
    the document's mean corpus unigram probability. Common-word documents
    score high; rare-token / garbage documents score low (the same signal
    a unigram LM's mean probability gives; a log-prob/perplexity variant
    is the identical plan with ``log`` applied in the final projection —
    kept out of the REGISTERED contract because distributed double
    summation of logs is partial-order dependent, while this formulation
    aggregates only BIGINT counts and performs exactly one double division
    per row at the end: bit-identical on any engine, any partitioning).

    Plan shape: ONE tokenize+explode pass, aggregated to per-(doc,
    DISTINCT word) counts; the vocabulary and the corpus total are both
    DERIVED from that aggregate (re-aggregations of its tiny output, not
    second corpus scans — AQE's ReuseExchange computes the shared
    subtree once, asserted in tests/test_plans.py). Pre-aggregating
    before the vocabulary join also keeps the join input at
    distinct-words-per-doc, not token occurrences — the hot-token (Zipf)
    skew mitigation a 100 TB run needs, since repeated stopwords
    collapse into one row per document before any exchange. The
    vocabulary side is Zipf-small relative to the corpus (≤ low hundreds
    of millions of rows at web scale) and joins by word; AQE broadcasts
    it at test scale.

    Residual hot-key ledger: after pre-aggregation the ``doc_counts ⨝
    vocab`` word key is still Zipf-skewed — a stopword like 'the' keeps
    one row per CONTAINING DOCUMENT on the probe side, so its shuffle
    partition is O(corpus docs) while the median word's is tiny. This
    is bounded without code here because (a) whenever the vocabulary
    fits a broadcast (it does far beyond test scale — it is the
    DISTINCT-word relation, Zipf-small), there is no partitioning by
    word at all and the hot word just streams through map-side lookup,
    and (b) in the sort-merge regime past that, AQE's skew-join split
    (``spark.sql.adaptive.skewJoin``) cuts the oversized 'the'
    partition into median-sized task chunks and replicates the single
    matching vocab row to each — per-task work stays bounded by the
    skew threshold, not by the hottest word's document frequency. A
    ``bounded_posting_lists``-style stopword cap would additionally
    DROP hot words from scoring; that changes results, so it stays a
    caller-side filter, not an operator default.
    """
    wd = _with_words(df, text_col).select(
        F.col(id_col).alias("id"), F.explode(F.col(_WORDS)).alias("w")
    )
    doc_counts = wd.groupBy("id", "w").agg(F.count(F.lit(1)).alias("c"))
    vocab = doc_counts.groupBy("w").agg(F.sum("c").alias("cf"))
    total = vocab.agg(F.sum("cf").alias("total"))
    scored = (
        doc_counts.join(vocab, "w")
        .groupBy("id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * F.col("cf")).alias("_wsum"),
        )
        .crossJoin(F.broadcast(total))
    )
    return scored.select(
        F.col("id").alias(id_col),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(
            F.col("_wsum").cast("double")
            / (F.col("n_tokens").cast("double") * F.col("total").cast("double")),
            6,
        ).alias("freq_score"),
    )


def ngram_novelty_score(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    pin_shingles: bool = True,
) -> DataFrame:
    """Shingle-novelty score — the boilerplate/recency signal pretraining
    curation pipelines rank on: what fraction of a document's distinct
    word-``k``-shingles appear NOWHERE else in the corpus?

    ``novelty = n_unique / n_shingles`` where ``n_shingles`` is the
    document's distinct ``k``-shingle count and ``n_unique`` counts the
    shingles with corpus document-frequency exactly 1. Templated or
    mirrored documents score near 0 (every shingle shared), fresh prose
    scores near 1 — the complement of the near-dup signal a pairwise
    shingle join detects, computed corpus-wide in two aggregations
    instead of a quadratic join. All counts are BIGINTs and the one
    division is a small-integer rational, so the
    score is bit-identical on any engine and any partitioning (the same
    cross-engine contract as :func:`corpus_freq_score`; no logs, no
    order-dependent double sums).

    Plan shape: ONE Arrow tokenizer pass (``shingle_rows`` — distinct
    shingles per doc, count ``n`` carried for free), aggregated to
    per-shingle document frequency; the df relation joins back to the
    (already distinct) shingle rows and collapses straight to per-doc
    counts. Shuffle volume is O(distinct (doc, shingle) pairs) for the
    df aggregation — the same exchange an inverted-index pair join
    pays — and the join's shingle key carries at most ``df`` rows per shingle with
    df's Zipf tail bounded exactly like ``corpus_freq_score``'s word
    key (broadcast regime first, AQE skew-split past it; see that
    docstring's residual-skew ledger). Docs with fewer than ``k`` words
    have no shingles and are emitted with ``n_shingles = 0`` and NULL
    novelty (0/0 is a non-claim, not a 0 or 1).

    ``pin_shingles=True`` (default) pins the tokenizer output with a
    lazy ``localCheckpoint``: the shingle relation has TWO consumers
    (the df aggregation and the join probe), and when AQE broadcasts
    the small df side the probe subtree re-runs the Arrow pass —
    observed as 2× ``MapInPandas`` in the final plan. The pin follows
    the measured pin-keyed heuristic (SCALING.md: pin expensive Arrow
    subtrees, skip recompute-cheap scans): order-balanced A/B at sf0.1,
    pin 1.55 s vs no-pin 1.70 s min-of-4, and the gap widens with
    corpus size since the tokenizer dominates the pass. Same
    fault-tolerance trade as every pin (SCALING.md "localCheckpoint
    pin"): lost-executor recompute is forfeited for the pinned RDD.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    sh = shingle_rows(df, id_col=id_col, text_col=text_col, k=k, with_n=True)
    if pin_shingles:
        sh = sh.localCheckpoint(eager=False)
    df_counts = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df_sh"))
    per_doc = (
        sh.join(df_counts, "sh")
        .groupBy("id")
        .agg(
            F.first("n").alias("n_shingles"),
            F.sum(F.when(F.col("df_sh") == 1, 1).otherwise(0)).alias(
                "n_unique"
            ),
        )
        # private key name: shingle_rows emits 'id', which would be
        # AMBIGUOUS in the left join below whenever id_col == 'id'
        .withColumnRenamed("id", "__novelty_id")
    )
    base = df.select(F.col(id_col))
    return (
        base.join(
            per_doc, base[id_col] == per_doc["__novelty_id"], "left"
        )
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_shingles"), F.lit(0))
            .cast("bigint")
            .alias("n_shingles"),
            F.coalesce(F.col("n_unique"), F.lit(0))
            .cast("bigint")
            .alias("n_unique"),
            F.round(
                F.col("n_unique").cast("double")
                / F.col("n_shingles").cast("double"),
                6,
            ).alias("novelty"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Per-document top-``k`` characteristic terms by tf·idf — the
    keyword/topic-tag extraction step corpus pipelines run for
    cluster labeling, domain routing, and search indexing.

    Scoring uses the RAW idf ratio, ``score = tf · (N / df)``, not the
    logarithmic variant: within one document the ranking is identical
    for any monotone transform of ``N/df``, and the raw ratio is three
    IEEE-754 operations both engines round identically — ``ln`` is
    correctly-rounded in neither Java nor C libm, and a 1-ulp
    divergence at a rank boundary would flip rows between engines. The
    emitted score is rounded to 6 decimals and the RANKING uses the
    rounded value too (ties broken by term ascending), so rank and
    hash agree cross-engine by construction.

    Plan shape: one tokenize+explode pass aggregated to per-(doc,
    DISTINCT term) tf — the same Zipf-skew pre-collapse as
    :func:`corpus_freq_score` (repeated stopwords never cross an
    exchange); document frequency is a re-aggregation of that same
    aggregate, while the corpus doc count N is a separate broadcast
    1-row COUNT over the input relation (a column-pruned scan — NOT a
    ReuseExchange of the tf subtree, since zero-word documents must
    still count toward N); the ``rank ≤ k`` filter compiles to
    WindowGroupLimit, so each map task forwards at most ``k`` rows per
    document below the rank exchange. The term-key join shares the
    hot-stopword ledger in :func:`corpus_freq_score` (broadcast regime,
    then AQE skew-split).

    Output: ``(doc_id, term, tf, df_term, score, rank)``, ``rank`` 1-based.
    """
    from pyspark.sql.window import Window

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    wd = _with_words(df, text_col).select(
        F.col(id_col).alias("id"), F.explode(F.col(_WORDS)).alias("term")
    )
    tf = wd.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_term"))
    ndocs = df.select(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (F.col("__n").cast("double") / F.col("df_term")),
                6,
            ),
        )
    )
    w = Window.partitionBy("id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("id").alias(id_col),
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df_term").cast("bigint").alias("df_term"),
            "score",
            F.col("rank").cast("int").alias("rank"),
        )
    )


#: One sentence = a maximal run without terminal punctuation plus its
#: terminators, OR the unterminated trailing fragment. Deliberately
#: lookbehind-free: Java regex (Spark) and RE2 (DuckDB) both support
#: alternation + $, while RE2 has NO lookbehind — the same dialect
#: constraint class as the tfidf ln / pow notes.
SENTENCE_PATTERN = "[^.!?]+[.!?]+|[^.!?]+$"


def split_sentences(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sentence segmentation: one row per sentence —
    ``(id_col, sent_idx, sentence, n_chars)``, 0-based index in document
    order, whitespace-trimmed, empty/NULL docs and whitespace-only
    fragments emit nothing. The RAG-chunking prerequisite
    (:func:`chunk_by_sentences` builds on it); abbreviation-blind by
    design ("Dr. Smith" splits) — a scan-side regex is the 100 TB
    baseline, and a model-based segmenter would be an Arrow-batched UDF
    swap-in behind the same output contract.

    Plan: ``regexp_extract_all`` + ``posexplode`` ride the scan — no
    shuffle, no Python; cost is O(text bytes) in codegen.
    """
    sents = F.regexp_extract_all(
        F.col(text_col), F.lit(SENTENCE_PATTERN), 0
    )
    out = df.select(
        F.col(id_col),
        F.posexplode(sents).alias("sent_idx", "sentence"),
    ).select(
        id_col,
        "sent_idx",
        F.trim(F.col("sentence")).alias("sentence"),
    )
    return out.where(F.length("sentence") > 0).withColumn(
        "n_chars", F.length("sentence")
    )


def chunk_by_sentences(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget_chars: int = 400,
) -> DataFrame:
    """Sentence-preserving chunking: consecutive sentences pack into
    chunks of ~``budget_chars`` without ever splitting a sentence —
    ``(id_col, chunk_id, chunk_text, n_sentences, n_chars)``. The RAG /
    context-window preparation step :func:`..operators.corpus.chunk_overlap`
    does NOT give (it slices at fixed token offsets, mid-sentence).

    Chunk assignment is the :func:`..operators.corpus.pack_sequences`
    streaming-fill rule: ``chunk_id = floor(chars_before / budget)`` —
    a sentence that straddles a boundary belongs to the chunk it started
    in, so chunks overflow by < one sentence (greedy first-fit's cheap
    deterministic approximation; an oversized single sentence becomes
    its own oversized chunk rather than being split or dropped).

    Plan: the only exchange is the per-document window for the running
    character sum + the chunk re-aggregation, both partitioned by
    ``id_col`` — a document's sentences sort on one task (documents are
    bounded; corpora are not), then ``concat_ws`` rebuilds chunk text in
    sentence order.
    """
    if budget_chars < 1:
        raise ValueError(f"budget_chars must be >= 1, got {budget_chars}")
    from pyspark.sql.window import Window

    sents = split_sentences(df, id_col=id_col, text_col=text_col)
    w = (
        Window.partitionBy(id_col)
        .orderBy("sent_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = sents.withColumn(
        "chunk_id",
        F.floor(
            F.coalesce(F.sum("n_chars").over(w), F.lit(0))
            / F.lit(budget_chars)
        ).cast("bigint"),
    )
    return (
        chunked.groupBy(id_col, "chunk_id")
        .agg(
            F.concat_ws(
                " ", F.array_sort(F.collect_list(F.struct("sent_idx", "sentence")))
                .getField("sentence")
            ).alias("chunk_text"),
            F.count(F.lit(1)).alias("n_sentences"),
            F.sum("n_chars").alias("n_chars"),
        )
    )


#: clean_text character-folding tables (1:1, applied via ``translate`` —
#: identical semantics in Spark and DuckDB). Curly quotes → ASCII,
#: en/em/horizontal-bar dashes → '-', NBSP/narrow-NBSP → ' '. Explicit
#: ``\\u`` escapes so no invisible character hides in the source.
_CLEAN_FROM = (
    "\u2018\u2019\u201a"  # curly single quotes + low-9
    "\u201c\u201d\u201e"  # curly double quotes + low-9
    "\u2013\u2014\u2015"  # en dash, em dash, horizontal bar
    "\u00a0\u202f"          # NBSP, narrow NBSP
)
_CLEAN_TO = '\'\'\'"""---  '

#: Invisible junk stripped by clean_text: C0 controls except tab/newline
#: (CR is canonicalized away first), DEL + C1, zero-widths, BOM, soft
#: hyphen. Explicit code points — Java's intersection classes
#: (``&&`` inside ``[...]``) do not exist in RE2, so the portable form
#: is the enumerated class (same dialect rule as split_sentences).
_CLEAN_STRIP_RE = (
    "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f-\\x9f"
    "\u200b\u200c\u200d\ufeff\u00ad]"
)


_NFC_KERNEL_OK: "bool | None" = None  # per-worker canary verdict cache


def _nfc_kernel_usable() -> bool:
    """Is ``pyarrow.compute.utf8_normalize`` present AND correct?

    Present is not enough: pyarrow 16.1.0 (this environment) has the
    kernel but it NEVER COMPOSES — ``utf8_normalize(['é'], form='NFC')``
    returns ``e + U+0301`` (every form yields the decomposed sequence),
    which is NFD, not NFC. A one-scalar canary catches that class of
    defect wholesale: ask the kernel to compose the simplest decomposed
    pair and check the bytes. Verdict cached per worker process — the
    canary costs one scalar kernel call per executor lifetime, not per
    batch."""
    global _NFC_KERNEL_OK
    if _NFC_KERNEL_OK is None:
        try:
            import pyarrow as pa
            from pyarrow import compute as pc

            _NFC_KERNEL_OK = (
                pc.utf8_normalize(
                    pa.array(["é"]), form="NFC"
                ).to_pylist()[0]
                == "é"
            )
        except (ImportError, AttributeError):
            _NFC_KERNEL_OK = False
    return _NFC_KERNEL_OK


def _nfc_batch(s):  # type: ignore[no-untyped-def]
    """One Arrow batch → NFC. Vectorized path: the C++
    ``pyarrow.compute.utf8_normalize`` kernel, taken only when the
    :func:`_nfc_kernel_usable` canary proves it actually composes
    (pyarrow 16.1.0 ships the kernel broken — see the canary's
    docstring). Fallback: per-element ``unicodedata.normalize`` — the
    engine's one per-element Python loop, kept because correctness
    beats vectorization. Both paths produce canonical NFC and are
    pinned equal by ``tests/test_clean_text.py``. Module-level (not a
    closure) so both paths are unit-testable without a Spark job."""
    if _nfc_kernel_usable():
        import pyarrow as pa
        from pyarrow import compute as pc

        arr = pa.Array.from_pandas(s, type=pa.string())
        return pc.utf8_normalize(arr, form="NFC").to_pandas()
    import unicodedata

    return s.map(
        lambda x: None if x is None else unicodedata.normalize("NFC", x)
    )


def clean_text(
    df: DataFrame,
    *,
    text_col: str = "text",
    out_col: str = "clean_text",
    nfc: bool = True,
) -> DataFrame:
    """``text_clean`` — the corpus-normalization step every pretraining
    pipeline runs before stats/dedup/filtering (CCNet/Gopher lineage):

    1. **NFC unicode normalization** (opt-out): composes decomposed
       sequences (``e + U+0301`` → ``é``) so downstream fingerprints,
       shingles and language ID see one canonical byte form. The ONE
       Python boundary (Arrow-vectorized ``pandas_udf``; Spark has no
       builtin normalizer) — the batch prefers the C++
       ``pyarrow.compute.utf8_normalize`` kernel (zero per-element
       Python; r10 verdict #5) but only after a one-scalar CANARY
       proves the kernel actually composes: pyarrow 16.1.0 (this
       environment) ships the kernel returning DECOMPOSED output for
       every form, i.e. NFD labeled NFC (see :func:`_nfc_kernel_usable`),
       so here the documented per-element ``unicodedata`` fallback
       remains the active path — correctness beats vectorization. Both
       paths are pinned equal by ``tests/test_clean_text.py``. With
       ``nfc=False`` the operator is pure Catalyst.
    2. **Line-ending canonicalization**: CRLF / bare CR → LF.
    3. **Control/format-char strip** (``_CLEAN_STRIP_RE``): C0 controls
       except tab/newline, DEL+C1, zero-widths (ZWSP/ZWNJ/ZWJ), BOM,
       soft hyphen — the invisible junk that splits tokens and breaks
       exact dedup.
    4. **Punctuation folding** (``translate``, 1:1): curly quotes →
       ASCII quotes, en/em dashes → ``-``, NBSP variants → space.
    5. **Whitespace canonicalization**: space/tab runs → one space,
       spaces adjacent to newlines dropped, 3+ newlines → 2 (paragraph
       breaks survive; single newlines survive), strip leading/trailing
       whitespace.

    NULL text stays NULL. Scale shape: a narrow map riding the scan —
    zero shuffle, whole-stage codegen except the optional NFC Arrow
    stage. Every step is expressed identically in the DuckDB oracle
    (``nfc_normalize`` + the same regex/translate chain), so the full
    composition is hash-checkable cross-engine
    (``tests/test_clean_text.py``).
    """
    col: Column = F.col(text_col)
    if nfc:

        @F.pandas_udf("string")
        def _nfc(s):  # type: ignore[no-untyped-def]
            return _nfc_batch(s)

        col = _nfc(col)
    # replacement args are REAL newline chars, not "\\n" escapes: Java's
    # replacement processing turns backslash-n into a literal 'n'
    col = F.regexp_replace(col, "\\r\\n|\\r", "\n")
    col = F.regexp_replace(col, _CLEAN_STRIP_RE, "")
    col = F.translate(col, _CLEAN_FROM, _CLEAN_TO)
    col = F.regexp_replace(col, "[ \\t]+", " ")
    col = F.regexp_replace(col, " ?\\n ?", "\n")
    col = F.regexp_replace(col, "\\n{3,}", "\n\n")
    col = F.regexp_replace(col, "^[ \\n]+|[ \\n]+$", "")
    return df.withColumn(out_col, col)


def char_diversity_rows(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``text_entropy``-class quality signal, in an EXACT form: per-doc
    character-distribution diversity — ``(id, n_chars_tok,
    distinct_chars, char_diversity, top_char_share)`` where
    ``char_diversity`` is the Simpson index ``1 − Σ p_c²`` and
    ``top_char_share = max_c p_c`` over the document's character
    frequencies. The garbled/boilerplate detector of quality-filtering
    stacks: natural prose sits near its language's stable char
    distribution, while `aaaa…` runs, base64 blobs and separator spam
    light up one or more of the three signals.

    Why Simpson and not Shannon entropy: ``1 − Σ p²`` (Gini/Simpson,
    Rényi order 2) has the same ordering behavior on the degeneracies
    that matter here, but it is a polynomial in the frequencies —
    division, square, ordered sum: every step is one correctly-rounded
    IEEE op, so Spark, Python and any oracle engine agree BIT-FOR-BIT.
    Shannon's ``Σ p·log p`` rides each engine's libm, whose last-ulp
    disagreements are exactly what a value-hash gate cannot tolerate
    (the same reason ``tfidf_top_terms`` ranks on the raw idf ratio
    instead of ``log``).

    Plan: ONE Arrow ``mapInPandas`` scan pass (the :func:`shingle_rows`
    shape) — each document is one row, so its whole frequency table is
    task-local: no explode, no shuffle, embarrassingly parallel. The
    alternative explode → two keyed aggregations ships every (doc,
    char) pair through an exchange with the grouping key aboard —
    pure amplification for a per-row statistic. Determinism: the
    squared-share sum is a LEFT FOLD over counts sorted by character
    (Python floats are IEEE doubles; the DuckDB twin folds the same
    char-sorted list), and rounding to 6 dp happens once, JVM-side.
    Empty/NULL docs yield ``distinct_chars = 0`` and NULL ratios (a
    0-char doc has no distribution to score).
    """
    import pandas as pd

    def gen(batches):
        from collections import Counter

        for pdf in batches:
            ids, ns, dist, div, top = [], [], [], [], []
            for i, t in zip(pdf["_id"], pdf["_text"]):
                ids.append(i)
                # NULL text arrives as None or NaN depending on the
                # batch's dtype — both score like the empty document
                if not isinstance(t, str) or not t:
                    ns.append(0)
                    dist.append(0)
                    div.append(None)
                    top.append(None)
                    continue
                counts = Counter(t)
                n = float(len(t))
                acc = 0.0
                for _, c in sorted(counts.items()):
                    share = c / n
                    acc = acc + share * share
                ns.append(len(t))
                dist.append(len(counts))
                div.append(1.0 - acc)
                top.append(max(counts.values()) / n)
            yield pd.DataFrame(
                {
                    "id": pd.Series(ids, dtype="int64"),
                    "n_chars_tok": pd.Series(ns, dtype="int64"),
                    "distinct_chars": pd.Series(dist, dtype="int64"),
                    "char_diversity": pd.Series(div, dtype="float64"),
                    "top_char_share": pd.Series(top, dtype="float64"),
                }
            )

    stats = df.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
    ).mapInPandas(
        gen,
        "id long, n_chars_tok long, distinct_chars long, "
        "char_diversity double, top_char_share double",
    )
    return stats.select(
        "id",
        "n_chars_tok",
        "distinct_chars",
        F.round("char_diversity", 6).alias("char_diversity"),
        F.round("top_char_share", 6).alias("top_char_share"),
    )


def cooccurrence_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 3,
    min_count: int = 2,
) -> DataFrame:
    """Word co-occurrence statistics — the GloVe/PPMI co-occurrence
    matrix builder, the classic pre-embedding corpus artifact: all
    UNORDERED word pairs appearing within ``window`` tokens of each
    other, with ``pair_count``, each word's corpus occurrence count
    and ``lift = pair_count · N / (c₁ · c₂)`` (N = total token
    occurrences) — the association strength whose LOG is PMI. Raw
    ratio instead of the log for the same reason as
    :func:`tfidf_top_terms`: rank-equivalent, but exact integer
    products and ONE IEEE division, so values hash cross-engine while
    ``log`` rides each engine's libm.

    Tokenization is bit-identical to :func:`_words` /
    ``_py_word_lists`` (lowercase, Java-``\\s`` runs); pairs are
    canonically ordered ``(w1 < w2)`` by code point (Python tuple sort
    == UTF-8 binary collation). Self-pairs (a word co-occurring with
    itself) are KEPT — dropping them would bias repeated-token
    statistics; they carry (w, w).

    Plan: ONE Arrow scan pass emits the O(tokens · window) pair rows
    AND the token rows, PINNED (lazy ``localCheckpoint`` — the
    ngram_jaccard r6 rule: with four logical consumers, whether
    Catalyst reuses an unpinned Python stage is a runtime maybe, and
    the measured unpinned plan ran the tokenizer FOUR times), then two
    hash aggregations (pairs; unigrams) and two BROADCAST joins of the
    small unigram relation onto the filtered pair relation. N derives
    from the unigram relation (one sum over its ≤|vocab| rows — never
    a third pass) and arrives as a broadcast one-row aggregate (the
    lazy-N rule: no driver action at construction). ``min_count``
    prunes the pair tail BEFORE the joins. O(size) storage cost of the
    pin: the emitted pair+token rows, ~window+1 strings per token.
    """
    import pandas as pd

    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")

    def gen(batches):
        for pdf in batches:
            ws: list = []
            pa: list = []
            pb: list = []
            # the ONE tokenizer definition (bit-identical contract)
            for _, w in _py_word_lists(pdf.index, pdf["_text"], 1):
                ws.extend(w)
                n = len(w)
                for i in range(n):
                    wi = w[i]
                    for j in range(i + 1, min(i + window + 1, n)):
                        a, b = (wi, w[j]) if wi <= w[j] else (w[j], wi)
                        pa.append(a)
                        pb.append(b)
            yield pd.DataFrame(
                {
                    "kind": ["t"] * len(ws) + ["p"] * len(pa),
                    "w1": ws + pa,
                    "w2": [None] * len(ws) + pb,
                }
            )

    rows = (
        df.select(F.col(text_col).alias("_text"))
        .mapInPandas(gen, "kind string, w1 string, w2 string")
        .localCheckpoint(eager=False)
    )
    tokens = rows.where(F.col("kind") == "t").select(F.col("w1").alias("w"))
    pairs = rows.where(F.col("kind") == "p").select("w1", "w2")
    uni = tokens.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = uni.agg(F.sum("c").alias("n_total"))
    pc = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .where(F.col("pair_count") >= min_count)
    )
    out = (
        pc.join(
            F.broadcast(uni.select(F.col("w").alias("w1"),
                                   F.col("c").alias("c1"))),
            "w1",
        )
        .join(
            F.broadcast(uni.select(F.col("w").alias("w2"),
                                   F.col("c").alias("c2"))),
            "w2",
        )
        .join(F.broadcast(total))
    )
    return out.select(
        "w1",
        "w2",
        "pair_count",
        "c1",
        "c2",
        # double products, NOT bigint: at corpus scale pair_count·N and
        # c1·c2 overflow int64 (Spark wraps silently, DuckDB raises);
        # each double product is one correctly-rounded IEEE op, so the
        # value still hashes cross-engine
        F.round(
            (
                F.col("pair_count").cast("double")
                * F.col("n_total").cast("double")
            )
            / (F.col("c1").cast("double") * F.col("c2").cast("double")),
            6,
        ).alias("lift"),
    )


#: Flesch reading-ease coefficients (Flesch 1948; public domain
#: formula): 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words).
_FLESCH_BASE, _FLESCH_WPS, _FLESCH_SPW = 206.835, 1.015, 84.6


def with_readability(
    df: DataFrame,
    text_col: str = "text",
    *,
    words_staged: bool = False,
) -> DataFrame:
    """``text_readability`` — Flesch reading-ease per document, with its
    ingredients: ``n_words``, ``n_sentences`` (terminal-punctuation
    runs, min 1 — an unpunctuated document is one long sentence, which
    keeps the corpus-wide signal meaningful on crawl text), and
    ``n_syllables`` via the classic vowel-GROUP heuristic (runs of
    ``[aeiouy]`` in the lowercased text; word boundaries can't merge
    groups — whitespace breaks any run — so one whole-text regexp count
    equals the per-word sum). The readability band is a standard
    quality-filtering signal (too-low = legalese/boilerplate, too-high
    = fragment spam).

    Exactness contract: three integer counts, two IEEE divisions and a
    fixed-order linear combination (left-to-right, matching the oracle
    text) — no libm, so the score hash-checks cross-engine (the tfidf
    no-log rule). Wordless documents get NULL score. Pure scan-side
    projection: zero shuffles, whole-stage codegen.
    ``words_staged`` follows the module's multi-signal composition
    contract (see :func:`_stage_words`): a pipeline that already staged
    the token array passes True and keeps the staged column.
    """
    text = F.lower(F.col(text_col))
    n_words = F.size(F.col(_WORDS)).cast("bigint")
    n_syll = F.size(
        F.regexp_extract_all(text, F.lit(r"[aeiouy]+"), 0)
    ).cast("bigint")
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(text, F.lit(r"[.!?]+"), 0)),
        F.lit(1),
    ).cast("bigint")
    score = (
        F.lit(_FLESCH_BASE)
        - F.lit(_FLESCH_WPS) * (n_words / n_sent)
        - F.lit(_FLESCH_SPW) * (n_syll / n_words)
    )
    out = (
        _stage_words(df, text_col, words_staged)
        .withColumn("n_words", n_words)
        .withColumn("n_sentences", n_sent)
        .withColumn("n_syllables", n_syll)
        .withColumn("flesch", F.when(n_words > 0, F.round(score, 6)))
    )
    return out if words_staged else out.drop(_WORDS)
