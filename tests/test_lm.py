"""N-gram LM quality filter (train_ngram_counts / score_documents):
per-token stupid-backoff parity vs a pure-Python reference, hand-checked
backoff tiers incl. OOV floor, language-vs-garbage discrimination on the
real corpus, and plan gates."""

from __future__ import annotations

import math
import re
from collections import Counter

import pytest
from conftest import SF_DIR

from extended_ops.operators.lm import (
    BACKOFF,
    score_documents,
    train_ngram_counts,
)
from extended_ops.sources.tables import load_table

_TOK = re.compile(r"[a-z]+|[0-9]+|[^a-z0-9\s]")


def _toks(t):
    return _TOK.findall(t.lower())


def _py_model(texts, order=3):
    counts = Counter()
    for t in texts:
        ws = _toks(t)
        for n in range(1, order + 1):
            for i in range(len(ws) - n + 1):
                counts[" ".join(ws[i : i + n])] += 1
    return counts


def _py_score(text, counts, n_total):
    ws = _toks(text)
    lps = []
    for i, w in enumerate(ws):
        tri = " ".join(ws[i - 2 : i + 1]) if i >= 2 else None
        bctx = " ".join(ws[i - 2 : i]) if i >= 2 else None
        big = " ".join(ws[i - 1 : i + 1]) if i >= 1 else None
        uctx = ws[i - 1] if i >= 1 else None
        if tri and counts.get(tri) and counts.get(bctx):
            s = counts[tri] / counts[bctx]
        elif big and counts.get(big) and counts.get(uctx):
            s = BACKOFF * counts[big] / counts[uctx]
        elif counts.get(w):
            s = BACKOFF**2 * counts[w] / n_total
        else:
            s = BACKOFF**2 / (n_total + 1)
        lps.append(math.log10(s))
    return (len(lps), sum(lps) / len(lps)) if lps else None


TRAIN = [
    "the cat sat on the mat",
    "the cat ran to the mat",
    "a dog sat on a log",
    "the dog ran to the log",
]
SCORE = [
    (1, "the cat sat on the mat"),      # pure training trigrams
    (2, "the cat sat on a log"),        # mixes contexts -> backoff
    (3, "zebra"),                       # single OOV token -> floor
    (4, "mat"),                         # single seen token -> unigram tier
    (5, "the zebra jumped"),            # OOV mid-sentence
    (6, ""),                            # no tokens -> absent
    (7, None),                          # NULL -> absent
]


def test_scores_match_python_reference(spark):
    train = spark.createDataFrame([(t,) for t in TRAIN], "text string")
    model = train_ngram_counts(train)
    docs = spark.createDataFrame(SCORE, "doc_id bigint, text string")
    got = {
        r.doc_id: (r.n_tokens, r.avg_logprob)
        for r in score_documents(docs, model).collect()
    }
    counts = _py_model(TRAIN)
    n_total = sum(len(_toks(t)) for t in TRAIN)
    for doc_id, text in SCORE:
        expect = _py_score(text, counts, n_total) if text else None
        if expect is None:
            assert doc_id not in got
        else:
            n, lp = expect
            assert got[doc_id][0] == n
            assert got[doc_id][1] == pytest.approx(lp, rel=1e-12)


def test_backoff_tiers_hand_computed(spark):
    train = spark.createDataFrame([(t,) for t in TRAIN], "text string")
    model = train_ngram_counts(train)
    n_total = sum(len(_toks(t)) for t in TRAIN)
    docs = spark.createDataFrame(
        [(3, "zebra"), (4, "mat")], "doc_id bigint, text string"
    )
    got = {
        r.doc_id: r.avg_logprob
        for r in score_documents(docs, model).collect()
    }
    # OOV floor: 0.4^2 / (N+1)
    assert got[3] == pytest.approx(math.log10(BACKOFF**2 / (n_total + 1)))
    # single seen token: unigram tier 0.4^2 * c(mat)/N, c(mat)=2
    assert got[4] == pytest.approx(math.log10(BACKOFF**2 * 2 / n_total))
    # better-matching text scores higher (lower perplexity)
    both = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (5, "the zebra jumped")],
        "doc_id bigint, text string",
    )
    p = {r.doc_id: r.perplexity for r in score_documents(both, model).collect()}
    assert p[1] < p[5]


def test_language_vs_garbage_on_real_corpus(spark):
    """The filter's whole point: text drawn from the corpus distribution
    scores far lower perplexity than character soup."""
    docs = load_table(spark, SF_DIR, "documents").select("text")
    model = train_ngram_counts(docs, min_count=2)
    sample_text = docs.limit(3).collect()
    probe = spark.createDataFrame(
        [
            (1, " ".join(r.text for r in sample_text)),
            (2, "xq zvk wjp qqg hzl bnm vrt yke dfo upl " * 5),
        ],
        "doc_id bigint, text string",
    )
    p = {r.doc_id: r.perplexity for r in score_documents(probe, model).collect()}
    assert p[1] * 10 < p[2], p


def test_min_count_prunes_model(spark):
    docs = load_table(spark, SF_DIR, "documents").select("text")
    full = train_ngram_counts(docs, min_count=1).count()
    pruned = train_ngram_counts(docs, min_count=3).count()
    assert pruned < full
    with pytest.raises(ValueError):
        train_ngram_counts(docs, order=0)


def test_cms_prefilter_model_identical_to_exact(spark):
    """The exactness gate for the CMS-prefiltered training path (r8
    verdict #5): Count-Min never underestimates, so est < min_count
    PROVES a gram's true count is below the floor — the pruned model
    must equal the exact model ROW FOR ROW. Checked on the real corpus
    at two floors, plus a deliberately tiny sketch (width 64, heavy
    collisions) where overestimates may retain extra pre-filter grams
    but the final HAVING must still yield the identical model."""
    docs = load_table(spark, SF_DIR, "documents").select("text")
    for mc, width in ((2, 1 << 16), (3, 1 << 16), (2, 64)):
        exact = {
            (r.n, r.gram): r.cnt
            for r in train_ngram_counts(docs, min_count=mc).collect()
        }
        pruned = {
            (r.n, r.gram): r.cnt
            for r in train_ngram_counts(
                docs, min_count=mc, cms_prefilter=True, cms_width=width
            ).collect()
        }
        assert pruned == exact, (mc, width, len(pruned), len(exact))
    # no floor -> nothing provable -> explicit misuse error
    with pytest.raises(ValueError, match="min_count"):
        train_ngram_counts(docs, min_count=1, cms_prefilter=True)


def test_cms_prefilter_plan_shape(spark):
    """Scale gate for the prefilter: the gram relation reaches the
    counting exchange only AFTER the sketch filter, and the per-depth
    estimate joins are all BROADCAST (map-side) — a sort-merge join
    there would shuffle the corpus-sized gram relation and defeat the
    whole point. The sketch build itself is the only extra exchange."""
    docs = load_table(spark, SF_DIR, "documents").select("text")
    plan = (
        train_ngram_counts(docs, min_count=2, cms_prefilter=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_lm_plan_gates(spark):
    """Scale gates: training aggregations collapse map-side (partial_sum
    below each exchange); scoring has NO cartesian product beyond the
    broadcast 1-row total, no window, no Python."""
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text"
    )
    model = train_ngram_counts(docs.select("text"), min_count=2)
    train_plan = model._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in train_plan
    assert "BatchEvalPython" not in train_plan
    # genuinely ONE scan and ONE exchange: the flattened (n, gram)
    # projection replaced the per-order union (which re-scanned and
    # re-tokenized the corpus once per order — Catalyst does not dedup
    # scans across union branches)
    assert train_plan.count("FileScan parquet") == 1
    assert train_plan.count("Exchange hashpartitioning") == 1
    score_plan = (
        score_documents(docs, model)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in score_plan
    assert "Window" not in score_plan
    assert "BatchEvalPython" not in score_plan and "MapInPandas" not in score_plan


def test_cms_prefilter_depth_one_is_sound(spark):
    """Review r9: depth=1 (a single hash row — still never
    underestimating, hence still a sound pruning proof) must work, not
    crash in F.least."""
    docs = load_table(spark, SF_DIR, "documents").select("text")
    exact = {
        (r.n, r.gram): r.cnt
        for r in train_ngram_counts(docs, min_count=3).collect()
    }
    pruned = {
        (r.n, r.gram): r.cnt
        for r in train_ngram_counts(
            docs, min_count=3, cms_prefilter=True, cms_depth=1
        ).collect()
    }
    assert pruned == exact
