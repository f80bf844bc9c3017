"""Distributed BPE learner/encoder: exact merge-sequence parity vs a
pure-Python Sennrich reference on adversarial vocabularies, encoder
round-trip properties on the real corpus, and plan/shape gates."""

from __future__ import annotations

from collections import Counter

import pytest
from conftest import SF_DIR

from extended_ops.operators.bpe import (
    END_TOKEN,
    bpe_encode_words,
    learn_bpe_merges,
    word_freq_table,
)
from extended_ops.sources.tables import load_table


def _py_learn(word_freqs, n_merges, min_count=2):
    """Independent Sennrich reference: count adjacent symbol pairs over
    the vocab, merge the (count desc, pair lexicographic) winner, stop
    under min_count."""
    vocab = {
        tuple(list(w) + [END_TOKEN]): f for w, f in word_freqs.items()
    }
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += f
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_count:
            break
        (a, b), _ = best
        merges.append((a, b))
        new_vocab = {}
        for syms, f in vocab.items():
            res, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            new_vocab[tuple(res)] = new_vocab.get(tuple(res), 0) + f
        vocab = new_vocab
    return merges


WORD_FREQS = {
    "low": 5, "lower": 2, "newest": 6, "widest": 3,
    "aaa": 4,            # overlapping-pair greediness
    "ab": 1, "abab": 2,  # merged token recurs as a pair member
    "x": 7,              # single char + end token only
}


def test_learner_matches_python_reference(spark):
    words = spark.createDataFrame(
        list(WORD_FREQS.items()), "word string, freq bigint"
    )
    got = learn_bpe_merges(words, n_merges=12)
    expect = _py_learn(WORD_FREQS, 12)
    assert got == expect
    assert len(got) > 4  # non-vacuous: real merges learned


def test_learner_min_count_and_validation(spark):
    words = spark.createDataFrame([("ab", 1)], "word string, freq bigint")
    # every pair has count 1 < min_count=2 -> no merges
    assert learn_bpe_merges(words, n_merges=5) == []
    assert learn_bpe_merges(words, n_merges=5, min_count=1) != []
    with pytest.raises(ValueError):
        learn_bpe_merges(words, n_merges=0)


def test_encoder_matches_learner_segmentation(spark):
    """Encoding replays the merge history: encoding the training words
    with the learned merges reproduces exactly the symbol sequences the
    learner's final vocab holds (checked via the Python reference)."""
    words = spark.createDataFrame(
        list(WORD_FREQS.items()), "word string, freq bigint"
    )
    merges = learn_bpe_merges(words, n_merges=12)
    enc = {
        r.word: tuple(r.tokens)
        for r in bpe_encode_words(words, merges).collect()
    }
    # reference final vocab, keyed back to the source words
    for w in WORD_FREQS:
        syms = list(w) + [END_TOKEN]
        for a, b in merges:
            res, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            syms = res
        assert enc[w] == tuple(syms), w
    # round trip: concatenated tokens reconstruct word + sentinel
    for w, toks in enc.items():
        assert "".join(toks) == w + END_TOKEN


def test_real_corpus_learn_and_encode(spark):
    docs = load_table(spark, SF_DIR, "documents").select("text")
    vocab = word_freq_table(docs)
    merges = learn_bpe_merges(vocab, n_merges=15)
    assert len(merges) == 15  # a real corpus has >= 15 frequent pairs
    encoded = bpe_encode_words(vocab, merges)
    rows = encoded.collect()
    # compression is real: mean tokens/word < chars/word + sentinel
    total_chars = sum(len(r.word) + 1 for r in rows)
    total_tokens = sum(len(r.tokens) for r in rows)
    assert total_tokens < total_chars
    # lossless round trip on every vocab word
    assert all("".join(r.tokens) == r.word + END_TOKEN for r in rows)


def test_pair_count_plan_shape(spark):
    """Scale gate: the per-iteration pair count is scan-side transform +
    explode with a partial sum below the single exchange, and the top-1
    compiles to TakeOrderedAndProject (no global sort)."""
    import pyspark.sql.functions as F

    from extended_ops.operators.bpe import _pairs

    words = load_table(spark, SF_DIR, "documents").select("text")
    vocab = word_freq_table(words).select(
        F.concat(F.split("word", ""), F.array(F.lit(END_TOKEN))).alias(
            "syms"
        ),
        "freq",
    )
    top = (
        vocab.select(F.explode(_pairs(F.col("syms"))).alias("p"), "freq")
        .groupBy("p.a", "p.b")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.desc("cnt"), "a", "b")
        .limit(1)
    )
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "partial_sum" in plan
    assert "BatchEvalPython" not in plan


def _py_encode(word, merges):
    rank = {pair: i for i, pair in enumerate(merges)}
    syms = list(word) + ["</w>"]
    while len(syms) > 1:
        best, best_i = None, -1
        for i in range(len(syms) - 1):
            r = rank.get((syms[i], syms[i + 1]))
            if r is not None and (best is None or r < best):
                best, best_i = r, i
        if best is None:
            break
        a, b = merges[best]
        res, i = [], 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                res.append(a + b)
                i += 2
            else:
                res.append(syms[i])
                i += 1
        syms = res
    return syms


def test_tokenize_documents_matches_python_reference(spark):
    """The corpus composite (encode-per-distinct-word + positional
    reassembly) must equal tokenizing each document's word stream
    directly with the same merge list — order preserved, repeats
    re-encoded identically, NULL/empty docs kept with empty arrays."""
    import re

    from extended_ops.operators.bpe import (
        learn_bpe_merges,
        tokenize_documents,
        word_freq_table,
    )

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat ran"),
        (3, "zebra zebra zebra"),
        (4, ""),
        (5, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    merges = learn_bpe_merges(
        word_freq_table(docs), n_merges=8, min_count=1
    )
    assert merges  # the tiny corpus must actually learn something
    got = {
        r.doc_id: (list(r.pieces), r.n_pieces)
        for r in tokenize_documents(docs, merges).collect()
    }
    tok = re.compile(r"[a-z]+|[0-9]+|[^a-z0-9\s]")
    for doc_id, text in rows:
        expect = [
            p
            for w in (tok.findall(text.lower()) if text else [])
            for p in _py_encode(w, merges)
        ]
        assert got[doc_id] == (expect, len(expect)), doc_id
    assert got[4] == ([], 0) and got[5] == ([], 0)


def test_tokenize_documents_real_corpus_and_plan(spark):
    """Real-corpus drive + the scale gates: ONE Arrow encode pass (the
    vocab relation, never the occurrence stream), the occurrence join
    is broadcast (nothing corpus-sized shuffles on the word key), no
    cartesian product, and the output is row-aligned with the input."""
    from conftest import SF_DIR
    from extended_ops.operators.bpe import (
        learn_bpe_merges,
        tokenize_documents,
        word_freq_table,
    )
    from extended_ops.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents", spread=False).select(
        "doc_id", "text"
    )
    merges = learn_bpe_merges(word_freq_table(docs), n_merges=10)
    out = tokenize_documents(docs, merges)
    rows = out.collect()
    assert len(rows) == docs.count()  # row-aligned
    assert all(r.n_pieces == len(r.pieces) for r in rows)
    assert sum(r.n_pieces for r in rows) > 0
    # merged symbols actually appear (the merges are used, not bypassed)
    merged = {a + b for a, b in merges}
    assert any(p in merged for r in rows for p in r.pieces)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 1, final
    assert "BroadcastHashJoin" in final
    assert "CartesianProduct" not in plan
    # the TEXT column is scanned/tokenized exactly once (the pinned
    # relation feeds both the vocab and the occurrence join); the one
    # remaining parquet scan is the id-only row-alignment side
    assert final.count("FileScan parquet") == 1, final
    assert "ReadSchema: struct<doc_id:bigint>" in final, final


def test_vocab_ids_and_roundtrip(spark):
    """piece_vocab assigns dense, frequency-descending, deterministic
    ids; encode_piece_ids round-trips (ids decode back to the exact
    piece sequences) and stays row-aligned on empty/NULL docs."""
    from extended_ops.operators.bpe import (
        encode_piece_ids,
        learn_bpe_merges,
        piece_vocab,
        tokenize_documents,
        word_freq_table,
    )

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the cat ran"), (3, ""),
         (4, None)],
        "doc_id bigint, text string",
    )
    merges = learn_bpe_merges(word_freq_table(docs), n_merges=6, min_count=1)
    tok = tokenize_documents(docs, merges)
    vocab = piece_vocab(tok)
    vrows = vocab.collect()
    ids = sorted(r.piece_id for r in vrows)
    assert ids == list(range(len(vrows)))  # dense [0, n)
    by_id = sorted(vrows, key=lambda r: r.piece_id)
    freqs = [r.freq for r in by_id]
    assert freqs == sorted(freqs, reverse=True)  # frequent -> small id
    # determinism under repartition
    vrows2 = {
        (r.piece, r.piece_id)
        for r in piece_vocab(tok.repartition(7)).collect()
    }
    assert vrows2 == {(r.piece, r.piece_id) for r in vrows}
    # round-trip
    enc = encode_piece_ids(tok, vocab)
    id2piece = {r.piece_id: r.piece for r in vrows}
    pieces = {r.doc_id: list(r.pieces) for r in tok.collect()}
    for r in enc.collect():
        assert [id2piece[i] for i in r.token_ids] == pieces[r.doc_id]
        assert r.n_pieces == len(r.token_ids)
    got = {r.doc_id: r.n_pieces for r in enc.collect()}
    assert got[3] == 0 and got[4] == 0


def test_encode_ids_oov_contract(spark):
    """Unknown pieces fail loudly by default; oov_id maps them."""
    import pytest as _pytest

    from extended_ops.operators.bpe import (
        encode_piece_ids,
    )

    tok = spark.createDataFrame(
        [(1, ["a", "zz"])], "doc_id bigint, pieces array<string>"
    )
    vocab = spark.createDataFrame(
        [("a", 0, 5)], "piece string, piece_id int, freq bigint"
    )
    with _pytest.raises(Exception, match="not in vocab"):
        encode_piece_ids(tok, vocab).collect()
    rows = encode_piece_ids(tok, vocab, oov_id=-1).collect()
    assert list(rows[0].token_ids) == [0, -1]


def test_pack_by_count_matches_python_replay(spark):
    """pack_by_count must equal the streaming-fill replay over each
    shard's id-ordered count sequence (the pack_sequences rule applied
    to REAL per-doc counts), completing raw text -> token ids -> packed
    training sequences entirely in-engine."""
    from extended_ops.operators.bpe import (
        learn_bpe_merges,
        tokenize_documents,
        word_freq_table,
    )
    from extended_ops.operators.corpus import (
        pack_by_count,
    )
    from extended_ops.sources.tables import load_table

    from conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    merges = learn_bpe_merges(word_freq_table(docs), n_merges=10)
    tok = tokenize_documents(docs, merges)
    budget, shards = 512, 8
    packed = pack_by_count(
        tok, id_col="doc_id", count_col="n_pieces",
        budget=budget, shards=shards,
    ).collect()
    by_shard: dict = {}
    for r in sorted(packed, key=lambda r: (r.shard, r.doc_id)):
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rows in by_shard.items():
        before = 0
        for r in rows:
            assert r.shard == r.doc_id % shards
            assert r.pack_id == before // budget, (shard, r.doc_id)
            before += r.n_pieces
    assert len(packed) == docs.count()
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pack_by_count(tok, count_col="n_pieces", budget=0)


def test_encode_piece_ids_plan_gates(spark):
    """The topology the docstring claims, gated: vocab joins broadcast
    (never sort-merge), no Python stage beyond the pinned tokenize
    lineage, no cartesian product."""
    from extended_ops.operators.bpe import (
        encode_piece_ids,
        learn_bpe_merges,
        piece_vocab,
        tokenize_documents,
        word_freq_table,
    )
    from extended_ops.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents", spread=False).select(
        "doc_id", "text"
    )
    merges = learn_bpe_merges(word_freq_table(docs), n_merges=5)
    tok = tokenize_documents(docs, merges)
    out = encode_piece_ids(tok, piece_vocab(tok))
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in final, final
    assert "BroadcastHashJoin" in final
    assert "CartesianProduct" not in plan
    # encode's OWN two consumers read the pinned rows — the only Arrow
    # stage left is the vocab side's independent lineage (built by the
    # caller from the unpinned reference); without encode's pin this
    # counted 2+
    assert final.count("MapInPandas") <= 1, final
