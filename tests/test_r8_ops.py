"""Round-8 batch operators: n-gram novelty, the relative-quantile
bound check, TF-IDF top terms and the funnel stages, each against its
planted semantics and its DuckDB oracle.
"""

from __future__ import annotations

import pytest


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


def test_ngram_novelty_pin_plan_shape(spark):
    """Novelty pin gate: with the pin, the
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
