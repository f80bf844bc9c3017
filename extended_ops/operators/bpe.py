"""Distributed BPE tokenizer learning — train merge rules ON the corpus.

The training-data engine's missing tokenizer half: `text.py` counts
BPE-ish token classes, but a pipeline that ships training data also
ships the tokenizer learned from it. This is the classic byte-pair
encoding learner (Sennrich et al. 2016) re-expressed as iterative
DataFrame jobs:

- BPE learns over the WORD VOCABULARY (distinct words + frequencies),
  not the corpus: the 100 TB corpus collapses to a vocab relation in one
  ``groupBy(word).count()`` (scan-side combine; the vocab is millions of
  rows where the corpus is trillions), and every merge iteration runs on
  that bounded relation.
- Per merge: one pair-count aggregation (scan-side ``transform`` builds
  each word's adjacent-pair array, ``explode`` + partial sum collapse
  before the exchange, top-1 via ``orderBy().limit(1)`` =
  TakeOrderedAndProject), then one fold-merge projection
  (``aggregate`` higher-order function — greedy left-to-right
  non-overlapping, the exact Sennrich semantics, measured) applied only
  to words whose symbol arrays contain the pair. ``localCheckpoint``
  per iteration cuts the lineage: the next iteration's top-1 action
  would otherwise re-execute every uncheckpointed merge.
- Determinism: ties on pair count break by pair lexicographic order —
  the same corpus always learns the same merge list, on any
  partitioning.

Encoding replays the merge list per word. That loop is inherently
sequential per word with a rank lookup per adjacent pair — the honest
Spark shape is an Arrow-batched ``mapInPandas`` (the tokenizer hot path
every framework implements imperatively), not n_merges chained Catalyst
projections (plan depth explodes past ~100 merges).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: End-of-word sentinel appended to every word's symbol sequence (the
#: Sennrich convention) so merges distinguish word-final contexts.
END_TOKEN = "</w>"


def word_freq_table(
    df: DataFrame, text_col: str = "text", *, lowercase: bool = True
) -> DataFrame:
    """``(word, freq)`` over the corpus — the bounded relation BPE
    learning actually consumes. One scan + one aggregation."""
    from .text import TOKEN_PATTERN, pattern_tokens

    words = F.explode(
        pattern_tokens(F.col(text_col))
        if lowercase
        else F.regexp_extract_all(
            F.col(text_col), F.lit(TOKEN_PATTERN), 0
        )
    ).alias("word")
    return (
        df.where(F.col(text_col).isNotNull())
        .select(words)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _merge_fold(syms: Column, a: str, b: str) -> Column:
    """Greedy left-to-right non-overlapping merge of adjacent (a, b)
    into a+b — bound as Column literals (never interpolated into SQL
    text, so symbols containing quotes are safe)."""
    merged = a + b
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.lit(merged)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _pairs(syms: Column) -> Column:
    # guard single-symbol words (a fully merged word collapses to one
    # symbol): sequence(0, -1) would generate a DESCENDING range and
    # element_at would fault — the same F.sequence trap interval_join
    # documents for inverted bounds
    return F.when(
        F.size(syms) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(syms) - 2),
            lambda i: F.struct(
                F.element_at(syms, i + 1).alias("a"),
                F.element_at(syms, i + 2).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))


def _vocab_syms(words: DataFrame, end_token: str) -> DataFrame:
    """``(syms, freq)`` — each word as its character sequence plus the
    end-of-word sentinel, the round-0 symbol state of BPE learning."""
    return words.where(
        F.col("word").isNotNull() & (F.length("word") > 0)
    ).select(
        F.concat(
            F.split(F.col("word"), ""), F.array(F.lit(end_token))
        ).alias("syms"),
        F.col("freq").cast("bigint").alias("freq"),
    )


def _pair_count_rows(vocab: DataFrame) -> DataFrame:
    """``(a, b, cnt)`` — frequency-weighted adjacent-symbol pair counts
    over a ``(syms, freq)`` vocabulary relation: the aggregation every
    BPE learning round ranks (Sennrich et al. 2016's inner loop)."""
    return (
        vocab.select(F.explode(_pairs(F.col("syms"))).alias("p"), "freq")
        .groupBy("p.a", "p.b")
        .agg(F.sum("freq").alias("cnt"))
    )


def bpe_pair_counts(
    words: DataFrame,
    *,
    min_count: int = 1,
    end_token: str = END_TOKEN,
) -> DataFrame:
    """Round-0 BPE pair statistics over a ``(word, freq)`` relation
    (:func:`word_freq_table`): ``(a, b, cnt)`` for every adjacent
    symbol pair of the char+sentinel sequences, weighted by word
    frequency — the relation whose argmax is the first learned merge.
    This is the hash-checkable face of BPE learning (integer counts
    over a relation bounded by |alphabet|² + |alphabet| sentinel
    pairs); the iterative merge LOOP stays
    :func:`learn_bpe_merges`/pytest (each round's fold rewrites the
    symbol state — the documented non-SQL-expressible class).

    Scale shape: one scan of the word relation (itself O(vocabulary),
    already collapsed from the corpus), per-word pair explode bounded
    by word length, map-side-combining sum into the tiny pair
    relation."""
    out = _pair_count_rows(_vocab_syms(words, end_token))
    if min_count > 1:
        out = out.where(F.col("cnt") >= min_count)
    return out


def learn_bpe_merges(
    words: DataFrame,
    *,
    n_merges: int,
    min_count: int = 2,
    end_token: str = END_TOKEN,
) -> "list[tuple[str, str]]":
    """Learn up to ``n_merges`` merge rules from a ``(word, freq)``
    relation (:func:`word_freq_table`). Returns the ordered merge list —
    the tokenizer artifact itself, bounded driver state by construction
    (one pair per merge). Stops early when no pair reaches
    ``min_count``. Empty words are ignored; the ``end_token`` sentinel
    marks word endings so merges can learn word-final units.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    vocab = _vocab_syms(words, end_token).localCheckpoint()
    merges: "list[tuple[str, str]]" = []
    for _ in range(n_merges):
        top = (
            _pair_count_rows(vocab)
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < min_count:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        has_pair = F.arrays_overlap(
            _pairs(F.col("syms")).cast("array<struct<a:string,b:string>>"),
            F.array(
                F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            ),
        )
        vocab = vocab.select(
            F.when(has_pair, _merge_fold(F.col("syms"), a, b))
            .otherwise(F.col("syms"))
            .alias("syms"),
            "freq",
        ).localCheckpoint()
    return merges


def bpe_encode_words(
    words: DataFrame,
    merges: "list[tuple[str, str]]",
    *,
    word_col: str = "word",
    out_col: str = "tokens",
    end_token: str = END_TOKEN,
) -> DataFrame:
    """Encode each word with a learned merge list: input columns +
    ``out_col`` (array<string>). Replays merges by learned rank — the
    sequential per-word loop every tokenizer runs — as one Arrow-batched
    ``mapInPandas`` pass with the (bounded, n_merges-sized) rank table
    shipped in the task closure. Scan-side, no shuffle."""
    import pandas as pd

    rank = {pair: i for i, pair in enumerate(merges)}
    fields = [f.simpleString() for f in words.schema.fields]
    out_schema = ", ".join(fields + [f"{out_col} array<string>"])

    def enc(word: str) -> "list[str]":
        syms = list(word) + [end_token]
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

    def gen(batches):
        for pdf in batches:
            pdf[out_col] = [
                enc(w) if isinstance(w, str) and w else []
                for w in pdf[word_col]
            ]
            yield pdf

    return words.mapInPandas(gen, out_schema)


def tokenize_documents(
    docs: DataFrame,
    merges: "list[tuple[str, str]]",
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "pieces",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """End-to-end corpus tokenization with a learned merge list —
    ``(id_col, out_col array<string>, n_pieces)``, the composite that
    turns :func:`learn_bpe_merges` + :func:`bpe_encode_words` into the
    operation a training pipeline actually runs ("tokenize the corpus").

    The load-bearing design point: the sequential BPE loop runs once
    per DISTINCT word, never per occurrence — the corpus tokenizes as

    1. ONE text scan exploding ``(doc, position, word)`` rows
       (``pattern_tokens``, the same tokenizer BPE learned over),
       pinned with a lazy ``localCheckpoint``: the relation has two
       consumers (the vocab derivation and the occurrence side of the
       join), and without the pin each would re-scan and re-tokenize
       the full text column (measured: 3 FileScans → 2, and the
       remaining second scan reads ONLY the id column for the
       row-alignment join below — the usual pin fault-tolerance trade,
       SCALING.md r7);
    2. the Arrow encode pass over the distinct-word VOCAB relation
       (bounded: millions of rows where the corpus is trillions);
    3. a join of occurrences against the encoded vocab —
       ``broadcast_vocab=True`` (default) ships the encoded vocab to
       every task, so the join is map-side and NOTHING corpus-sized
       shuffles for it (set False for giant vocabs: AQE picks, and the
       occurrence relation shuffles once on the word key);
    4. per-document reassembly in token order: one exchange on
       ``id_col``, ``array_sort(collect_list(struct(pos, pieces)))`` →
       flatten. The agg buffers ONE document's pieces (documents are
       bounded; corpora are not — the chunk_by_sentences contract).

    Docs with NULL/empty text keep their row with an empty array (a
    tokenized corpus must stay row-aligned with its source for joins
    back to metadata). A 10-word document re-using one word 10× pays
    the encode loop once — on Zipf corpora the vocab relation is
    orders of magnitude smaller than the token stream, which is the
    whole reason tokenizer services cache word→pieces maps; here the
    cache IS a relation.
    """
    from .text import pattern_tokens

    toks = (
        docs.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.posexplode(pattern_tokens(F.col(text_col))).alias(
                "_pos", "word"
            ),
        )
        .localCheckpoint(eager=False)
    )
    vocab = toks.select("word").distinct()
    enc = bpe_encode_words(vocab, merges, word_col="word", out_col="_pc")
    enc_side = F.broadcast(enc) if broadcast_vocab else enc
    per_doc = (
        toks.join(enc_side, "word")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.array_sort(
                    F.collect_list(F.struct("_pos", "_pc"))
                ).getField("_pc")
            ).alias(out_col)
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(
                F.col(out_col), F.array().cast("array<string>")
            ).alias(out_col),
            F.coalesce(F.size(out_col), F.lit(0))
            .cast("int")
            .alias("n_pieces"),
        )
    )


def piece_vocab(
    tokenized: DataFrame, *, piece_col: str = "pieces"
) -> DataFrame:
    """The tokenizer's id table — ``(piece, piece_id, freq)`` over a
    :func:`tokenize_documents` output: ids are dense ``[0, |vocab|)``
    assigned by (freq desc, piece asc), so frequent pieces get small
    ids (the embedding-table-locality convention) and the assignment is
    DETERMINISTIC on any partitioning. One explode + one count
    aggregation; the id window runs unpartitioned over the VOCAB
    relation only — bounded by construction (the BPE trainer-state
    contract), never the token stream."""
    from pyspark.sql.window import Window

    freqs = (
        tokenized.select(F.explode(piece_col).alias("piece"))
        .groupBy("piece")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), F.asc("piece"))
    return freqs.withColumn(
        "piece_id", (F.row_number().over(w) - 1).cast("int")
    ).select("piece", "piece_id", "freq")


def encode_piece_ids(
    tokenized: DataFrame,
    vocab: DataFrame,
    *,
    id_col: str = "doc_id",
    piece_col: str = "pieces",
    out_col: str = "token_ids",
    oov_id: "int | None" = None,
) -> DataFrame:
    """Map a tokenized corpus's piece strings to vocab ids —
    ``(id_col, out_col array<int>, n_pieces)``, order-preserving and
    row-aligned (empty docs keep an empty array). Pieces missing from
    ``vocab`` FAIL LOUDLY by default (an encode/vocab mismatch is a
    tokenizer-artifact bug, not data); pass ``oov_id`` to map unknowns
    instead (the <unk> convention). Plan: positional explode →
    broadcast join on the bounded vocab → per-doc reassembly, the
    :func:`tokenize_documents` topology (one id-keyed exchange) — all
    JVM-side, no Python stage. The input is pinned (lazy
    ``localCheckpoint``): it has two consumers here (the id side and
    the row-alignment side), and when it is itself a
    ``tokenize_documents`` lineage the unpinned form re-runs the whole
    Arrow encode + reassembly once per consumer — the measured
    double-execution fault mode that function's own pin prevents."""
    tokenized = tokenized.localCheckpoint(eager=False)
    toks = tokenized.select(
        F.col(id_col),
        F.posexplode(piece_col).alias("_pos", "piece"),
    )
    miss = (
        F.lit(int(oov_id))
        if oov_id is not None
        else F.raise_error(
            F.concat(
                F.lit("encode_piece_ids: piece not in vocab: "),
                F.col("piece"),
            )
        )
    )
    joined = toks.join(F.broadcast(vocab), "piece", "left").select(
        id_col,
        "_pos",
        F.coalesce(F.col("piece_id"), miss).alias("_tid"),
    )
    # struct sort on (_pos, _tid) then project the scalar field — no
    # per-token array wrap (the flatten shape tokenize_documents needs
    # for its multi-piece payloads would allocate one-element arrays
    # here for nothing)
    per_doc = joined.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("_pos", F.col("_tid")))
        ).getField("_tid").alias(out_col)
    )
    return (
        tokenized.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(
                F.col(out_col), F.array().cast("array<int>")
            ).alias(out_col),
            F.coalesce(F.size(out_col), F.lit(0))
            .cast("int")
            .alias("n_pieces"),
        )
    )
