"""Round-8 behaviors: streaming LSH state TTL eviction + admit-once,
banding validation, and the first-touch pandas-dtype normalization.

The TTL test is the r7-verdict item 5 gate: with eviction enabled, the
state-store row count must STABILIZE (final state ≪ cumulative buckets)
while near-dups arriving INSIDE the horizon are still caught.
"""

from __future__ import annotations

import pandas as pd
import pytest

from conftest import FakeState

from extended_ops.streaming.attribution import (
    _first_touch_fn,
)
from extended_ops.streaming.dedup_stream import (
    _make_bucket_fn,
    stream_minhash_candidates,
)


def _batch(rows):
    return iter(
        [pd.DataFrame({"id": [r[0] for r in rows], "sig": [r[1] for r in rows]})]
    )


SIG_A = list(range(8))
SIG_A2 = list(range(7)) + [99]  # 7/8 agreement with SIG_A
SIG_B = list(range(100, 108))


def test_bucket_fn_admits_each_doc_once():
    """An at-least-once source re-delivering a doc must not burn another
    cap slot or re-emit pairs from a stored duplicate copy."""
    fn = _make_bucket_fn(8, 0.5, cap=2)
    state = FakeState()
    assert list(fn(("k",), _batch([(1, SIG_A)]), state)) == []
    # re-delivery of doc 1: state must still hold ONE member, leaving
    # the second cap slot free
    assert list(fn(("k",), _batch([(1, SIG_A)]), state)) == []
    ids, flat = state.get
    assert list(ids) == [1]
    # the free slot admits a genuinely distinct doc and pairs it
    out = list(fn(("k",), _batch([(2, SIG_A2)]), state))
    assert len(out) == 1 and list(out[0]["id_a"]) == [1]
    assert list(out[0]["est_jaccard"]) == [7 / 8]
    ids, _ = state.get
    assert list(ids) == [1, 2]


def test_bucket_fn_timeout_removes_state():
    fn = _make_bucket_fn(8, 0.5, cap=None, ttl_ms=60_000)
    state = FakeState(value=([1], list(SIG_A)), timed_out=True)
    assert list(fn(("k",), iter([]), state)) == []
    assert state.removed and not state.exists


def test_bucket_fn_sets_timeout_only_when_ttl_given():
    state = FakeState()
    list(_make_bucket_fn(8, 0.5, cap=None, ttl_ms=12_345)(
        ("k",), _batch([(1, SIG_A)]), state
    ))
    assert state.timeout_set == 12_345
    state2 = FakeState()
    list(_make_bucket_fn(8, 0.5, cap=None)(("k",), _batch([(1, SIG_A)]), state2))
    assert state2.timeout_set is None


def test_stream_minhash_bands_must_divide_num_hashes(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="bands must divide"):
        stream_minhash_candidates(df, num_hashes=64, bands=12)


def _run_phases(spark, tmp_path, phases, ttl_ms):
    """Run the LSH stream as one checkpointed query RESTARTED once per
    phase (one new file each), returning the accumulated candidate
    pairs and the last observed state-store row count.

    Why restarts instead of one availableNow run over all files: TTL
    eviction fires when a batch starts after a key's horizon expired,
    so a single run's micro-batch spacing decides whether eviction
    happens before the next document arrives — timing-dependent under
    load (observed flaky in-suite). Each restart's first batch begins
    well past any tiny TTL set in the previous phase, making "idle
    across a phase boundary" deterministic. A TTL'd query also never
    self-terminates under availableNow (Spark keeps scheduling
    timeout-processing batches), so each phase polls for its input and
    stops the query explicitly.
    """
    import time

    d = tmp_path / "docs"
    d.mkdir()
    chk = str(tmp_path / "chk")
    pa_schema = None
    pairs: dict = {}
    state_rows = None
    for name, rows in phases:
        import pyarrow as pa
        import pyarrow.parquet as pq

        if pa_schema is None:
            pa_schema = pa.schema(
                [("doc_id", pa.int64()), ("text", pa.string())]
            )
        pq.write_table(
            pa.Table.from_pylist(
                [{"doc_id": i_, "text": t} for i_, t in rows], pa_schema
            ),
            str(d / name),
        )
        stream = spark.readStream.schema(
            "doc_id bigint, text string"
        ).parquet(str(d))

        def sink(batch_df, _epoch):
            for r in batch_df.collect():
                pairs[(r.id_a, r.id_b)] = r.est_jaccard

        # foreachBatch, not the memory sink: only foreachBatch supports
        # restarting from the shared checkpoint (memory sink refuses)
        q = (
            stream_minhash_candidates(
                stream, threshold=0.5, state_ttl_ms=ttl_ms
            )
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        try:
            deadline = time.time() + 120
            while time.time() < deadline:
                progress = q.recentProgress
                seen = sum(p["numInputRows"] for p in progress)
                if seen >= len(rows) and progress[-1].get("stateOperators"):
                    state_rows = progress[-1]["stateOperators"][0][
                        "numRowsTotal"
                    ]
                    break
                if not q.isActive:
                    for p in reversed(progress):
                        if p.get("stateOperators"):
                            state_rows = p["stateOperators"][0][
                                "numRowsTotal"
                            ]
                            break
                    break
                time.sleep(0.3)
        finally:
            q.stop()
    return pairs, state_rows


def test_stream_minhash_ttl_evicts_idle_buckets(spark, tmp_path):
    """With a tiny TTL, buckets idle for a whole micro-batch are evicted:
    a later near-copy of an expired document finds no match (the
    documented recall-beyond-horizon trade) and the final state-store
    row count stays bounded by the recent horizon instead of growing
    with every document ever seen."""
    base = " ".join(f"tok{i}" for i in range(60))
    filler = " ".join(f"f{i}x f{i}y" for i in range(40))
    phases = [
        ("b1.parquet", [(1, base)]),
        ("b2.parquet", [(2, filler)]),  # doc 1 idle -> evicted here
        ("b3.parquet", [(3, base)]),  # exact copy, but past the horizon
    ]
    pairs, state_rows = _run_phases(spark, tmp_path, phases, ttl_ms=1)
    assert (1, 3) not in pairs, pairs
    # only the LAST batch's buckets survive: 16 bands x 1 doc, minus
    # within-doc band-key collisions -> at most 16 state rows (the
    # lifetime variant below accumulates all three docs' buckets)
    assert state_rows is not None and state_rows <= 16, state_rows


def test_stream_minhash_ttl_in_horizon_pairs_still_caught(spark, tmp_path):
    """A generous TTL (arrivals inside the horizon) must not change the
    lifetime semantics: the cross-batch near-dup is still found and
    state accumulates all live buckets."""
    base = " ".join(f"tok{i}" for i in range(60))
    filler = " ".join(f"f{i}x f{i}y" for i in range(40))
    phases = [
        ("b1.parquet", [(1, base)]),
        ("b2.parquet", [(2, filler)]),
        ("b3.parquet", [(3, base)]),
    ]
    pairs, state_rows = _run_phases(
        spark, tmp_path, phases, ttl_ms=3_600_000
    )
    assert pairs.get((1, 3)) == 1.0, pairs
    # all three docs' buckets still live
    assert state_rows is not None and state_rows > 16, state_rows


def test_first_touch_normalizes_non_ns_ts_dtype():
    """pandas 2.x can hand the ts column over as datetime64[us]; the
    first-touch fn must normalize BEFORE the int64 reinterpret (a bare
    astype would be 1000x off, corrupting ordering and first_ts)."""
    pdf = pd.DataFrame(
        {
            "ts": pd.array(
                [
                    pd.Timestamp("2024-01-02 00:00:00.000500"),
                    pd.Timestamp("2024-01-01 00:00:00.000500"),
                ],
                dtype="datetime64[us]",
            ),
            "event_id": [7, 3],
            "event_type": ["view", "click"],
            "value": [None, None],
        }
    )
    state = FakeState()
    out = list(_first_touch_fn((42,), iter([pdf]), state))
    assert len(out) == 1
    row = out[0].iloc[0]
    assert row["first_event_id"] == 3
    assert pd.Timestamp(row["first_ts"]) == pd.Timestamp(
        "2024-01-01 00:00:00.000500"
    )
    ft_us = state.get[0]
    assert ft_us == 1_704_067_200_000_500  # epoch micros, not 1000x off


def test_ngram_novelty_planted_semantics(spark):
    """Hand-checkable novelty: shared shingles score down, exact dups
    score 0, short docs get NULL novelty with zero counts."""
    from extended_ops.operators.text import (
        ngram_novelty_score,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),  # shingles: "a b c","b c d","c d e"
            (2, "a b c x y"),  # shares "a b c" with doc 1
            (3, "z1 z2 z3"),  # one shingle, corpus-unique
            (4, "p q"),  # < k words: no shingles
            (5, "m n o p5"),  # exact duplicate pair ->
            (6, "m n o p5"),  # every shingle df=2, novelty 0
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in ngram_novelty_score(docs).collect()}
    assert len(out) == 6
    assert (out[1].n_shingles, out[1].n_unique) == (3, 2)
    assert out[1].novelty == pytest.approx(2 / 3, abs=1e-6)
    assert out[2].novelty == pytest.approx(2 / 3, abs=1e-6)
    assert (out[3].n_shingles, out[3].n_unique, out[3].novelty) == (1, 1, 1.0)
    assert (out[4].n_shingles, out[4].n_unique) == (0, 0)
    assert out[4].novelty is None
    assert out[5].novelty == 0.0 and out[6].novelty == 0.0


def test_ngram_novelty_matches_duckdb(spark):
    """Cross-engine parity on the real corpus (pre-validates the r9
    oracle registration; non-vacuous there: sf0.01 novelty spans
    0 -> 2/3 with mean ~0.36)."""
    from conftest import SF_DIR
    from oracle_utils import assert_parity

    from extended_ops.operators.text import (
        ngram_novelty_score,
    )
    from extended_ops.plans.extended import _sql_shingles
    from extended_ops.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    sql = f"""
    WITH sh AS (
      SELECT doc_id, unnest({_sql_shingles(3)}) AS sh FROM documents
    ), dfc AS (
      SELECT sh, COUNT(*) AS df_sh FROM sh GROUP BY sh
    ), per AS (
      SELECT s.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_shingles,
             CAST(SUM(CASE WHEN d.df_sh = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique
      FROM sh s JOIN dfc d USING (sh) GROUP BY s.doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_shingles, 0) AS n_shingles,
           COALESCE(p.n_unique, 0) AS n_unique,
           ROUND(CAST(p.n_unique AS DOUBLE) / p.n_shingles, 6) AS novelty
    FROM documents d LEFT JOIN per p USING (doc_id)
    """
    assert_parity(ngram_novelty_score(docs), sql, SF_DIR)


def test_custom_state_session_fn_normalizes_non_ns_ts_dtype():
    """Same guard as the first-touch fn: a datetime64[us] evtTime column
    must yield epoch-MILLI session bounds, not second-of-milli values
    1000x off."""
    from extended_ops.streaming.custom_state import (
        _make_session_fn,
    )

    class SessionFakeState(FakeState):
        def getCurrentWatermarkMs(self):
            return 10_000_000_000_000  # far future: every session closes

        def setTimeoutTimestamp(self, ts):
            self.timeout_set = ts

    pdf = pd.DataFrame(
        {
            "evtTime": pd.array(
                [
                    pd.Timestamp("2024-01-01 00:00:00"),
                    pd.Timestamp("2024-01-01 00:00:30"),
                ],
                dtype="datetime64[us]",
            ),
            "event_count": [1, 2],
            "result": [0, 0],
        }
    )
    state = SessionFakeState()
    out = list(_make_session_fn(60)((u"alice",), iter([pdf]), state))
    assert len(out) == 1
    row = out[0].iloc[0]
    assert row["denies"] == 3
    assert pd.Timestamp(row["start"]) == pd.Timestamp("2024-01-01 00:00:00")
    assert pd.Timestamp(row["end"]) == pd.Timestamp("2024-01-01 00:01:30")
    assert state.removed  # everything flushed


def test_rel_quantiles_approx_bound_check_shape(spark):
    """Pre-proves the r9 re-registration of ``rel_quantiles_approx``
    (the same trick that turned ``agg_approx_distinct`` green in r8):
    Spark verifies the sketch's RANK guarantee itself — the number of
    group values strictly below (resp. at or below) the sketch
    percentile must bracket the target rank p*n within the documented
    n/accuracy rank error (+1 position of boundary slack; a VALUE-band
    against the interpolating exact percentile is wrong at small n,
    where the sketch returns an element but the band is narrower than
    one inter-element gap — measured: p50 of one sf0.001 group fails
    it). All-integer counts, so the booleans are deterministic on any
    engine/partitioning; the DuckDB twin emits TRUE."""
    import pyspark.sql.functions as F

    from conftest import SF_DIR
    from oracle_utils import assert_parity

    from extended_ops.sources.tables import load_table

    acc = 10_000
    probs = (0.25, 0.5, 0.75)
    mid = ", ".join(f"{p}D" for p in probs)
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    ap = li.groupBy("l_returnflag").agg(
        F.expr(
            f"approx_percentile(l_extendedprice, array({mid}), {acc})"
        ).alias("ap")
    )
    j = li.join(F.broadcast(ap), "l_returnflag")
    counted = j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            agg
            for i in range(len(probs))
            for agg in (
                F.sum(
                    (
                        F.col("l_extendedprice")
                        < F.element_at("ap", i + 1)
                    ).cast("long")
                ).alias(f"lt{i}"),
                F.sum(
                    (
                        F.col("l_extendedprice")
                        <= F.element_at("ap", i + 1)
                    ).cast("long")
                ).alias(f"le{i}"),
            )
        ],
    )
    slack = F.ceil(F.col("n") / acc) + 1
    checked = counted.select(
        "l_returnflag",
        *[
            (
                (F.col(f"lt{i}") <= probs[i] * F.col("n") + slack)
                & (F.col(f"le{i}") >= probs[i] * F.col("n") - slack)
            ).alias(f"p{int(probs[i] * 100)}_ok")
            for i in range(len(probs))
        ],
    )
    oracle = """
    SELECT l_returnflag, TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok
    FROM lineitem GROUP BY l_returnflag
    """
    assert_parity(checked, oracle, SF_DIR)


def test_tfidf_top_terms_planted_semantics(spark):
    """Hand-checkable tf-idf ranking: a term unique to one doc outranks
    a corpus-wide term at equal tf; rank<=k enforced; rounded-score
    ties break by term ascending."""
    from extended_ops.operators.text import (
        tfidf_top_terms,
    )

    docs = spark.createDataFrame(
        [
            (1, "rare common common"),  # tf(rare)=1 df=1; tf(common)=2 df=3
            (2, "common zz zz"),
            (3, "common aa bb"),
        ],
        "doc_id bigint, text string",
    )
    out = tfidf_top_terms(docs, k=2)
    rows = {(r.doc_id, r.rank): r for r in out.collect()}
    assert len(rows) == 6  # 2 per doc
    # doc 1: rare scores 1*(3/1)=3.0 > common 2*(3/3)=2.0
    assert rows[(1, 1)].term == "rare" and rows[(1, 1)].score == 3.0
    assert rows[(1, 2)].term == "common" and rows[(1, 2)].score == 2.0
    # doc 2: zz 2*(3/1)=6.0 first
    assert rows[(2, 1)].term == "zz" and rows[(2, 1)].score == 6.0
    # doc 3: aa and bb tie at 3.0 -> alphabetical
    assert rows[(3, 1)].term == "aa" and rows[(3, 2)].term == "bb"


def test_tfidf_top_terms_matches_duckdb_and_plan(spark):
    """Cross-engine parity on the real corpus (pre-proves a future
    oracle registration) + the WindowGroupLimit scale gate: the
    rank<=k filter must push a partial group-limit below the rank
    exchange so map tasks forward at most k rows per document."""
    from conftest import SF_DIR
    from oracle_utils import assert_parity

    from extended_ops.operators.text import (
        tfidf_top_terms,
    )
    from extended_ops.plans.extended import _SQL_WORDS
    from extended_ops.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    out = tfidf_top_terms(docs, k=3)
    sql = f"""
    WITH w AS (
      SELECT doc_id, unnest({_SQL_WORDS}) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM w GROUP BY 1, 2
    ), dfreq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df_term FROM tf GROUP BY 1
    ), n AS (SELECT COUNT(*) AS nd FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df_term,
             ROUND(tf.tf * (CAST(n.nd AS DOUBLE) / dfreq.df_term), 6)
               AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ), ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term
      ) AS INTEGER) AS rank
      FROM scored
    )
    SELECT doc_id, term, tf, df_term, score, rank FROM ranked
    WHERE rank <= 3
    """
    assert_parity(out, sql, SF_DIR)
    plan_str = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan_str, plan_str


def test_ngram_novelty_id_col_named_id(spark):
    """id_col='id' must not collide with shingle_rows' internal 'id'
    output column (regression: AMBIGUOUS_REFERENCE in the left join)."""
    from extended_ops.operators.text import (
        ngram_novelty_score,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d")], "id bigint, text string"
    )
    out = {r.id: r for r in ngram_novelty_score(docs, id_col="id").collect()}
    assert out[1].novelty == 0.0 and out[2].novelty == 0.0


def test_funnel_stages_planted_semantics(spark):
    """Ordered-funnel ground truth: out-of-order events don't convert,
    the reach is the FIRST qualifying event, and the conversion window
    stalls a too-slow stage."""
    from datetime import datetime as dt

    from extended_ops.operators.corpus import (
        funnel_stages,
    )

    rows = [
        # user 1: clean view -> click -> purchase
        (1, 1, dt(2024, 1, 1, 10), "view", None, None),
        (2, 1, dt(2024, 1, 1, 11), "click", None, None),
        (3, 1, dt(2024, 1, 1, 12), "purchase", None, None),
        # user 2: purchase BEFORE the click -> only 2 stages complete
        (4, 2, dt(2024, 1, 1, 10), "view", None, None),
        (5, 2, dt(2024, 1, 1, 10, 30), "purchase", None, None),
        (6, 2, dt(2024, 1, 1, 11), "click", None, None),
        # user 3: click precedes any view -> stalls at stage 1; the
        # SECOND click (after the view) converts
        (7, 3, dt(2024, 1, 1, 9), "click", None, None),
        (8, 3, dt(2024, 1, 1, 10), "view", None, None),
        (9, 3, dt(2024, 1, 1, 13), "click", None, None),
        # user 4: never views
        (10, 4, dt(2024, 1, 1, 10), "click", None, None),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id bigint, user_id bigint, ts timestamp, "
        "event_type string, value double, props string",
    )
    out = {
        r.user_id: r
        for r in funnel_stages(ev, ("view", "click", "purchase")).collect()
    }
    assert out[1].stages_completed == 3
    assert out[2].stages_completed == 2  # early purchase doesn't count
    assert out[3].stages_completed == 2
    assert out[3].reach_2 == dt(2024, 1, 1, 13)  # post-view click only
    assert out[4].stages_completed == 0
    # 2-hour conversion window: user 3's 3-hour view->click stalls
    windowed = {
        r.user_id: r
        for r in funnel_stages(
            ev, ("view", "click", "purchase"), within="2 hours"
        ).collect()
    }
    assert windowed[1].stages_completed == 3
    assert windowed[3].stages_completed == 1


def test_funnel_stages_matches_duckdb_and_single_exchange(spark):
    """The one-window formulation must equal the sequential-join
    formulation cross-engine (1-day conversion window — selective on
    this corpus: completion splits ~60/23/17%), and the plan must show
    the single-exchange / single-sort shape the docstring claims."""
    from conftest import SF_DIR
    from oracle_utils import assert_parity

    from extended_ops.operators.corpus import (
        funnel_stages,
    )
    from extended_ops.sources.tables import load_table

    ev = load_table(spark, SF_DIR, "events")
    out = funnel_stages(
        ev, ("view", "click", "purchase"), within="1 day"
    )
    oracle = """
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t1
        AND e.ts <= s1.t1 + INTERVAL 1 DAY
      GROUP BY 1
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        AND e.ts <= s2.t2 + INTERVAL 1 DAY
      GROUP BY 1
    ), u AS (SELECT DISTINCT user_id FROM events)
    SELECT u.user_id, s1.t1 AS reach_1, s2.t2 AS reach_2,
           s3.t3 AS reach_3,
           CAST((s1.t1 IS NOT NULL)::INT + (s2.t2 IS NOT NULL)::INT
                + (s3.t3 IS NOT NULL)::INT AS BIGINT)
             AS stages_completed
    FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
           LEFT JOIN s3 USING (user_id)
    """
    assert_parity(out, oracle, SF_DIR)
    out2 = funnel_stages(ev, ("view", "click", "purchase"), within="1 day")
    out2.collect()
    plan = out2._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1, final
    assert final.count("Sort ") <= 1 or final.count("Sort [") == 1, final


def test_stream_funnel_fn_advances_and_is_order_exact():
    """Unit drive of the funnel state fn: advance across batches,
    ignore wrong-stage / out-of-order rows, honor the conversion
    window, emit only on advancement."""
    from extended_ops.streaming.funnel import (
        _make_funnel_fn,
    )

    def pdf(rows):
        return pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "event_id": [r[1] for r in rows],
                "ts": pd.to_datetime([r[2] for r in rows]),
                "event_type": [r[3] for r in rows],
            }
        )

    fn = _make_funnel_fn(("view", "click", "purchase"), None)
    state = FakeState()
    out = list(
        fn(
            (7,),
            iter([pdf([(7, 1, "2024-01-01 10:00", "view"),
                       (7, 2, "2024-01-01 09:00", "purchase")])]),
            state,
        )
    )
    assert len(out) == 1 and out[0].iloc[0]["stages_completed"] == 1
    # batch 2: a click after the view advances; purchase at the SAME ts
    # as the click does not (strict >)
    out = list(
        fn(
            (7,),
            iter([pdf([(7, 3, "2024-01-01 11:00", "click"),
                       (7, 4, "2024-01-01 11:00", "purchase")])]),
            state,
        )
    )
    assert out[0].iloc[0]["stages_completed"] == 2
    # batch 3: nothing qualifying -> no emission
    assert list(fn((7,), iter([pdf([(7, 5, "2024-01-01 10:30", "click")])]), state)) == []
    # conversion window: purchase 3 days after the click stalls
    fnw = _make_funnel_fn(("view", "click", "purchase"), 86_400_000_000)
    st2 = FakeState(value=(list(state.get[0]),))
    assert list(fnw((7,), iter([pdf([(7, 6, "2024-01-04 11:00", "purchase")])]), st2)) == []
    out = list(fnw((7,), iter([pdf([(7, 7, "2024-01-02 10:59", "purchase")])]), st2))
    assert out[0].iloc[0]["stages_completed"] == 3


def test_stream_funnel_matches_batch_twin(spark, tmp_path):
    """In-order cross-micro-batch streaming funnel must equal the batch
    operator over the union of all batches (the module's exactness
    contract), including the conversion window."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from extended_ops.operators.corpus import (
        funnel_stages,
    )
    from extended_ops.streaming import (
        stream_funnel_stages,
    )

    d = tmp_path / "ev"
    d.mkdir()
    sch = pa.schema(
        [("event_id", pa.int64()), ("user_id", pa.int64()),
         ("ts", pa.timestamp("us")), ("event_type", pa.string())]
    )
    from datetime import datetime as dt

    b1 = [(1, 1, dt(2024, 1, 1, 10), "view"),
          (2, 2, dt(2024, 1, 1, 10), "view"),
          (3, 2, dt(2024, 1, 1, 10, 30), "click")]
    b2 = [(4, 1, dt(2024, 1, 2, 9), "click"),   # within 1 day of view
          (5, 1, dt(2024, 1, 2, 10), "purchase"),
          (6, 2, dt(2024, 1, 3, 11), "purchase")]  # > 1 day after click
    for name, rows in (("b1.parquet", b1), ("b2.parquet", b2)):
        pq.write_table(
            pa.Table.from_pylist(
                [dict(zip(("event_id", "user_id", "ts", "event_type"), r))
                 for r in rows],
                sch,
            ),
            str(d / name),
        )
    stream = (
        spark.readStream.schema(
            "event_id bigint, user_id bigint, ts timestamp, "
            "event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    # foreachBatch accumulator + ASSERTED termination (not the memory
    # sink): under concurrent JVM load the old awaitTermination(120)
    # could lapse with the final micro-batch unflushed, and the test
    # then failed on silently-partial results — the documented r8 flake
    # (r8 verdict #7). A timeout now fails loudly as a timeout.
    collected = []
    q = (
        stream_funnel_stages(
            stream, ("view", "click", "purchase"), within="1 day"
        )
        .writeStream.foreachBatch(
            lambda df, _id: collected.extend(df.collect())
        )
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    terminated = q.awaitTermination(600)
    assert terminated, "funnel stream did not drain within 600s"
    latest = {}
    for r in collected:
        cur = latest.get(r.user_id)
        if cur is None or r.stages_completed > cur.stages_completed:
            latest[r.user_id] = r
    batch = {
        r.user_id: r
        for r in funnel_stages(
            spark.createDataFrame(
                b1 + b2,
                "event_id bigint, user_id bigint, ts timestamp, "
                "event_type string",
            ),
            ("view", "click", "purchase"),
            within="1 day",
        ).collect()
    }
    assert set(latest) == set(batch)
    for uid, b in batch.items():
        srow = latest[uid]
        assert srow.stages_completed == b.stages_completed, uid
        for i in range(1, 4):
            assert getattr(srow, f"reach_{i}") == getattr(b, f"reach_{i}"), (
                uid,
                i,
            )


def test_stream_funnel_rejects_calendar_intervals(spark):
    """ADVICE r8 regression: the streaming funnel evaluates ONE fixed
    microsecond width for the whole stream, so calendar units ('1
    month' -> 31 days always) would silently diverge from the batch
    twin's per-row INTERVAL arithmetic — they must be rejected up
    front (the asof_nearest max_distance contract), as must
    non-positive widths."""
    import pytest

    from extended_ops.streaming import (
        stream_funnel_stages,
    )

    ev = spark.createDataFrame(
        [],
        "event_id bigint, user_id bigint, ts timestamp, event_type string",
    )
    for bad in ("1 month", "2 years"):
        with pytest.raises(ValueError, match="day-time"):
            stream_funnel_stages(ev, ("a", "b"), within=bad)
    with pytest.raises(ValueError, match="positive"):
        stream_funnel_stages(ev, ("a", "b"), within="-1 day")
    # fixed-width durations parse fine on a (batch) frame: the
    # validation path is independent of streaming-ness — and "1 week"
    # is FIXED width (Spark: exactly 604800s), so it must be accepted
    # (review r9: pandas Timedelta falsely rejects it)
    assert stream_funnel_stages(ev, ("a", "b"), within="36 hours") is not None
    assert stream_funnel_stages(ev, ("a", "b"), within="1 week") is not None


def test_ngram_novelty_pin_plan_shape(spark):
    """Novelty pin gate (the dedup_ngram model): with the pin, the
    consumer plan reads the checkpointed shingle rows (no parquet scan
    of documents except the doc_id base relation, no Python stage —
    the tokenizer ran once inside the pinned lineage); without the
    pin, the probe side re-runs the Arrow pass (2x MapInPandas), which
    is exactly what the pin exists to prevent."""
    from conftest import SF_DIR

    from extended_ops.operators.text import (
        ngram_novelty_score,
    )
    from extended_ops.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")

    pinned = ngram_novelty_score(docs)
    pinned.collect()
    plan = pinned._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 0, plan.count("MapInPandas")
    assert plan.count("Scan ExistingRDD") >= 1, plan
    # the one allowed parquet scan is the doc_id base of the left join
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") <= 1, final

    unpinned = ngram_novelty_score(docs, pin_shingles=False)
    unpinned.collect()
    plan2 = unpinned._jdf.queryExecution().executedPlan().toString()
    final2 = plan2.split("== Initial Plan ==")[0]
    assert final2.count("MapInPandas") == 2, final2.count("MapInPandas")
