"""Behavioral tests for the corpus-construction operators (sampling /
packing / decontamination / PII / repetition) — properties beyond the
DuckDB hash parity the driver checks."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from extended_ops.operators import corpus as C
from extended_ops.operators import similarity as S
from extended_ops.operators import text as X
from extended_ops.sources.tables import load_table

from conftest import SF_DIR


def test_repetition_ratio_extremes(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="spam spam spam spam spam spam"),  # one 3-gram
            Row(doc_id=2, text="all words here are fully distinct"),
            Row(doc_id=3, text="too short"),  # < k words -> NULL
        ]
    )
    out = {r.doc_id: r.rep_ratio for r in X.with_repetition_ratio(df, k=3).collect()}
    assert out[1] == 0.75  # 4 total 3-grams, 1 distinct
    assert out[2] == 0.0
    assert out[3] is None


def test_pii_scrub_redacts_and_counts(spark):
    df = spark.createDataFrame(
        [
            Row(
                doc_id=1,
                text="mail a.user+tag@example.co.uk or call +1 (555) 123-4567 "
                "from 192.168.0.1 please",
            ),
            Row(doc_id=2, text="no pii in this one at all"),
        ]
    )
    rows = {r.doc_id: r for r in X.with_pii_scrub(df).collect()}
    r1 = rows[1]
    assert (r1.n_email, r1.n_phone, r1.n_ipv4) == (1, 1, 1)
    assert "<EMAIL>" in r1.scrubbed and "<PHONE>" in r1.scrubbed
    assert "<IP>" in r1.scrubbed
    assert "example.co.uk" not in r1.scrubbed
    assert "555" not in r1.scrubbed and "192.168" not in r1.scrubbed
    r2 = rows[2]
    assert (r2.n_email, r2.n_phone, r2.n_ipv4) == (0, 0, 0)
    assert r2.scrubbed == r2.text


def test_stratified_sample_deterministic_and_rate_shaped(spark):
    docs = X.with_language_id(load_table(spark, SF_DIR, "documents"))
    kw = dict(stratum_col="pred_lang", key_col="doc_id",
              rates={"en": 0.5}, default_rate=1.0)
    a = {r.doc_id for r in C.stratified_sample(docs, **kw).collect()}
    b = {
        r.doc_id
        for r in C.stratified_sample(docs.repartition(13), **kw).collect()
    }
    assert a == b  # content-derived draw: partitioning-independent
    n_en = docs.where(F.col("pred_lang") == "en").count()
    kept_en = (
        C.stratified_sample(docs, **kw)
        .where(F.col("pred_lang") == "en")
        .count()
    )
    assert 0.35 <= kept_en / n_en <= 0.65  # ~half of the en stratum
    non_en = docs.where(F.col("pred_lang") != "en").count()
    kept_non = (
        C.stratified_sample(docs, **kw)
        .where(F.col("pred_lang") != "en")
        .count()
    )
    assert kept_non == non_en  # rate 1.0 keeps everything


def test_pack_sequences_fill_invariants(spark):
    docs = load_table(spark, SF_DIR, "documents")
    packed = C.pack_sequences(docs, budget=512, shards=32)
    rows = packed.orderBy("shard", "doc_id").collect()
    # replay the streaming-fill definition per shard
    running: dict[int, int] = {}
    for r in rows:
        before = running.get(r.shard, 0)
        assert r.pack_id == before // 512
        running[r.shard] = before + r.n_tokens
    # packs within a shard are contiguous starting at 0
    by_shard: dict[int, set] = {}
    for r in rows:
        by_shard.setdefault(r.shard, set()).add(r.pack_id)
    for shard, packs in by_shard.items():
        assert packs == set(range(max(packs) + 1))


def test_decontaminate_flags_planted_overlap(spark):
    train = spark.createDataFrame(
        [
            Row(doc_id=1, text="one two three four five six seven eight nine"),
            Row(doc_id=2, text="totally unrelated training document text here "
                               "with many extra words beyond eight"),
        ]
    )
    evals = spark.createDataFrame(
        [Row(doc_id=100, text="zero one two three four five six seven eight")]
    )
    out = {r.doc_id: r.n_eval_hits for r in C.decontaminate(train, evals, k=8).collect()}
    assert out == {1: 1}  # shares the 8-gram "one two ... eight"


def test_decontaminate_guard_error_path(spark):
    train = spark.createDataFrame(
        [Row(doc_id=1, text="one two three four five six seven eight nine")]
    )
    evals = spark.createDataFrame(
        [
            Row(doc_id=100, text="zero one two three four five six seven eight"),
            Row(doc_id=101, text="a b c d e f g h i j"),
        ]
    )
    with pytest.raises(ValueError, match="eval split has > 1 documents"):
        C.decontaminate(
            train, evals, k=8, max_broadcast_evals=1, on_large="error"
        ).collect()
    with pytest.raises(ValueError, match="on_large"):
        C.decontaminate(train, evals, k=8, on_large="nope")


def test_decontaminate_shuffle_fallback_equals_broadcast(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(300)
    train = docs.where(F.col("doc_id") % 10 != 0)
    evals = docs.where(F.col("doc_id") % 10 == 0)
    base = {
        (r.doc_id, r.n_eval_hits)
        for r in C.decontaminate(train, evals, k=8).collect()
    }
    # force the cap low: the fallback shuffled join must be chosen and
    # must produce the identical contamination report
    fallback = C.decontaminate(
        train, evals, k=8, max_broadcast_evals=1, on_large="shuffle"
    )
    assert "ResolvedHint" not in fallback._jdf.queryExecution().logical().toString()
    assert {(r.doc_id, r.n_eval_hits) for r in fallback.collect()} == base
    assert len(base) > 0  # the slice genuinely contains planted overlap


def test_cluster_profile_partitions_the_corpus(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    out = S.cluster_profile(emb, n_centroids=16).collect()
    assert sum(r.n_vectors for r in out) == emb.count()
    assert {r.cluster for r in out} <= set(range(16))
    for r in out:
        assert -1.0 <= r.mean_sim <= 1.0
    # seed vectors sit in their own cluster with sim 1 to themselves, so
    # every cluster's mean stays meaningfully positive on random data
    assert all(r.n_vectors >= 1 for r in out)


def test_domain_mix_exact_quotas_and_proportions(spark):
    docs = load_table(spark, SF_DIR, "documents")
    weights = {"en": 0.3, "zh": 0.2, "es": 0.2, "de": 0.15, "fr": 0.15}
    kept = C.domain_mix(docs, domain_col="lang", weights=weights).cache()
    by_dom = {
        r["lang"]: r["n"]
        for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    counts = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    t = min(counts[d] / w for d, w in weights.items())
    for d, w in weights.items():
        assert by_dom.get(d, 0) == int(w * t)  # exact quota per domain
    # deterministic: re-running yields the identical id set
    ids1 = sorted(r["doc_id"] for r in kept.collect())
    ids2 = sorted(
        r["doc_id"]
        for r in C.domain_mix(
            docs, domain_col="lang", weights=weights
        ).collect()
    )
    assert ids1 == ids2
    kept.unpersist()


def test_domain_mix_rate_mode_approximates_quotas(spark):
    docs = load_table(spark, SF_DIR, "documents")
    weights = {"en": 0.3, "zh": 0.2, "es": 0.2, "de": 0.15, "fr": 0.15}
    exact = C.domain_mix(docs, domain_col="lang", weights=weights)
    rate = C.domain_mix(docs, domain_col="lang", weights=weights, mode="rate")
    e = {r["lang"]: r["n"] for r in exact.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    r_ = {r["lang"]: r["n"] for r in rate.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # binomial approximation: within 4·√quota of the exact quota
    for d, q in e.items():
        assert abs(r_.get(d, 0) - q) <= 4 * max(q, 1) ** 0.5
    # the rate plan must be shuffle-free on the corpus side: no per-row
    # ranking window (the only Window allowed is the min-over-counts
    # quota computation on the tiny domain-count side)
    plan = rate._jdf.queryExecution().executedPlan().toString()
    assert "row_number" not in plan, plan


def test_domain_mix_missing_weighted_domain_keeps_nothing(spark):
    """A domain listed in weights but absent from the data counts as
    count=0, so t=0 and the mixture is EMPTY (the literal reading of the
    formula; r4 ADVICE) — in both modes, rather than silently computing
    quotas as if the missing domain weren't requested."""
    docs = load_table(spark, SF_DIR, "documents")
    weights = {"en": 0.5, "klingon": 0.5}
    for mode in ("exact", "rate"):
        assert (
            C.domain_mix(
                docs, domain_col="lang", weights=weights, mode=mode
            ).count()
            == 0
        ), mode


def test_domain_mix_rejects_bad_mode(spark):
    docs = load_table(spark, SF_DIR, "documents")
    with pytest.raises(ValueError, match="mode"):
        C.domain_mix(docs, domain_col="lang", weights={"en": 1.0}, mode="nope")


def test_chunk_dedup_scrubs_planted_duplicates(spark):
    from extended_ops.operators import dedup as D

    chunk = " ".join(f"w{i}" for i in range(20))  # one full chunk
    rows = [
        Row(doc_id=1, text=chunk + " unique one"),
        Row(doc_id=2, text=chunk + " other tail"),  # chunk repeated
        Row(doc_id=3, text="totally distinct text"),
        Row(doc_id=4, text="   "),  # whitespace-only: no chunks, no row
    ]
    out = {
        r["doc_id"]: r
        for r in D.chunk_dedup(
            spark.createDataFrame(rows), chunk_words=20
        ).collect()
    }
    assert 4 not in out
    assert out[1]["n_chunks"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["text_kept"] == chunk + " unique one"
    # doc 2 loses the repeated leading chunk, keeps its short tail
    assert out[2]["n_chunks"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["text_kept"] == "other tail"
    assert out[3]["n_kept"] == 1 and out[3]["text_kept"] == "totally distinct text"


def test_chunk_dedup_all_chunks_duplicated_yields_null_text(spark):
    from extended_ops.operators import dedup as D

    body = " ".join(f"t{i}" for i in range(40))  # exactly two chunks
    rows = [Row(doc_id=10, text=body), Row(doc_id=11, text=body)]
    out = {
        r["doc_id"]: r
        for r in D.chunk_dedup(
            spark.createDataFrame(rows), chunk_words=20
        ).collect()
    }
    assert out[10]["n_kept"] == 2 and out[10]["text_kept"] == body
    assert out[11]["n_kept"] == 0 and out[11]["text_kept"] is None


def test_corpus_freq_score_orders_common_above_rare(spark):
    rows = [
        Row(doc_id=1, text="the the the the"),      # most common token
        Row(doc_id=2, text="the the rare1 rare2"),  # mixed
        Row(doc_id=3, text="zq1 zq2 zq3 zq4"),      # all singletons
        Row(doc_id=4, text=""),                     # no tokens: excluded
    ]
    out = {
        r["doc_id"]: r
        for r in X.corpus_freq_score(spark.createDataFrame(rows)).collect()
    }
    assert 4 not in out
    assert out[1]["freq_score"] > out[2]["freq_score"] > out[3]["freq_score"]
    assert out[1]["n_tokens"] == 4
    # exact arithmetic: 'the' occurs 6 times of 12 tokens → 6/12 = 0.5
    assert out[1]["freq_score"] == 0.5


def test_latest_by_key_planted_fixture(spark):
    """Compaction picks (ts, tiebreak)-max per key, keys with a single
    record pass through, and the payload never decides the winner."""
    import datetime as dt

    from extended_ops.operators.dedup import latest_by_key

    t = dt.datetime
    rows = [
        # u1: later ts wins regardless of payload sort order
        (1, t(2024, 1, 1, 10), 1, "zzz", 9.0),
        (1, t(2024, 1, 2, 10), 2, "aaa", 1.0),
        # u2: ts tie -> higher event_id wins
        (2, t(2024, 3, 1, 0), 10, "first", 5.0),
        (2, t(2024, 3, 1, 0), 11, "second", 6.0),
        # u3: single record
        (3, t(2024, 5, 5, 5), 20, "only", 7.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string, value double"
    )
    out = {
        r["user_id"]: r
        for r in latest_by_key(
            df,
            key_cols=["user_id"],
            order_cols=["ts", "event_id"],
            payload_cols=["event_type", "value"],
        ).collect()
    }
    assert len(out) == 3
    assert out[1]["event_id"] == 2 and out[1]["event_type"] == "aaa"
    assert out[2]["event_id"] == 11 and out[2]["event_type"] == "second"
    assert out[3]["event_id"] == 20 and out[3]["event_type"] == "only"


def test_latest_by_key_matches_window_formulation(spark):
    """Against the textbook row_number()=1 window on real events data."""
    from pyspark.sql import Window, functions as F

    from extended_ops.operators.dedup import latest_by_key
    from extended_ops.sources.tables import load_table

    from conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    got = latest_by_key(
        ev,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        payload_cols=["event_type", "value"],
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    want = (
        ev.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("user_id", "ts", "event_id", "event_type", "value")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_assign_splits_stable_under_corpus_growth(spark):
    """The dataset-versioning property: a row's split assignment is a
    pure function of its key, so growing the corpus never migrates
    previously assigned rows between train and eval."""
    docs = load_table(spark, SF_DIR, "documents")
    splits = [("train", 0.9), ("val", 0.05), ("test", 0.05)]
    full = {
        r["doc_id"]: r["split"]
        for r in C.assign_splits(docs, key_col="doc_id", splits=splits)
        .select("doc_id", "split")
        .collect()
    }
    half = {
        r["doc_id"]: r["split"]
        for r in C.assign_splits(
            docs.where(F.col("doc_id") % 2 == 0), key_col="doc_id",
            splits=splits,
        )
        .select("doc_id", "split")
        .collect()
    }
    assert half == {k: v for k, v in full.items() if k % 2 == 0}
    # fractions roughly honored on the full corpus
    from collections import Counter

    c = Counter(full.values())
    n = sum(c.values())
    assert 0.85 <= c["train"] / n <= 0.95
    # bad fractions rejected loudly
    with pytest.raises(ValueError, match="sum to 1"):
        C.assign_splits(docs, key_col="doc_id", splits=[("a", 0.5)])


def test_fuzzy_token_join_partial_overlap_and_df_cap(spark):
    """The general-Jaccard regime the registered catalog can't show
    (2-word names only tie at 1.0): planted partial overlaps match at
    their exact Jaccard, sub-threshold pairs don't, and the token-df cap
    keeps a stopword from connecting everything."""
    left = spark.createDataFrame(
        [
            Row(id=1, name="acme blue steel bolt"),
            Row(id=2, name="common common only"),
            Row(id=3, name="zeta"),
        ]
    )
    right = spark.createDataFrame(
        [
            Row(id=10, name="acme blue steel nut"),     # 3/5 with id=1
            Row(id=11, name="unrelated thing entirely"),
            Row(id=12, name="common item"),              # via stopword only
        ]
    )
    out = {
        (r["id_l"], r["id_r"]): r["jaccard"]
        for r in C.fuzzy_token_join(
            left, right, left_id="id", right_id="id",
            left_text="name", right_text="name", threshold=0.5,
        ).collect()
    }
    assert out == {(1, 10): 0.6}  # |{acme,blue,steel}| / |5 distinct|
    # threshold low enough to admit the stopword pair...
    low = C.fuzzy_token_join(
        left, right, left_id="id", right_id="id",
        left_text="name", right_text="name", threshold=0.2,
    )
    assert (2, 12) in {(r["id_l"], r["id_r"]) for r in low.collect()}
    # ...unless the df cap drops tokens frequent on either side
    capped = C.fuzzy_token_join(
        left.unionByName(
            spark.createDataFrame([Row(id=i, name="common filler") for i in range(100, 104)])
        ),
        right, left_id="id", right_id="id",
        left_text="name", right_text="name", threshold=0.2,
        max_token_df=3,
    )
    assert (2, 12) not in {(r["id_l"], r["id_r"]) for r in capped.collect()}


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_token = st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"])
_name = st.lists(_token, min_size=0, max_size=5).map(" ".join)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    left=st.lists(_name, min_size=1, max_size=6),
    right=st.lists(_name, min_size=1, max_size=6),
    threshold=st.sampled_from([0.2, 0.5, 0.99]),
)
def test_fuzzy_token_join_matches_bruteforce(spark, left, right, threshold):
    """Random tiny catalogs: the inverted-index join must agree exactly
    with a brute-force all-pairs token-Jaccard reference (including
    empty-token rows, which never match)."""
    ldf = spark.createDataFrame(
        [Row(id=i, name=n) for i, n in enumerate(left)]
    )
    rdf = spark.createDataFrame(
        [Row(id=100 + i, name=n) for i, n in enumerate(right)]
    )
    got = {
        (r["id_l"], r["id_r"]): r["jaccard"]
        for r in C.fuzzy_token_join(
            ldf, rdf, left_id="id", right_id="id",
            left_text="name", right_text="name", threshold=threshold,
        ).collect()
    }
    want = {}
    for i, ln in enumerate(left):
        ls = set(ln.split())
        for j, rn in enumerate(right):
            rs = set(rn.split())
            if not ls or not rs or not (ls & rs):
                continue
            jac = len(ls & rs) / len(ls | rs)
            if jac >= threshold:
                want[(i, 100 + j)] = round(jac, 6)
    assert got == want
