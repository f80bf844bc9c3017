"""Property-based tests (hypothesis): the Spark plans against independent
pure-Python reference implementations.

Spark-job-per-example is expensive, so the Spark-backed properties cap
``max_examples`` low but draw adversarial shapes (duplicate timestamps,
exact-gap distances, all-allowed sessions, empty inputs). The pure-Python
helper properties run at full example count.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from extended_ops.operators.asof import asof_join
from flink_audit_sessions_example_spark.operators.sessionize import (
    audit_denied_sessions,
)
from extended_ops.streaming.custom_state import (
    _merge_sessions,
)

EPOCH = dt.datetime(2024, 1, 1)
GAP = 600


def _ref_sessions(events):
    """Independent sessionizer: merge at distance <= gap (Spark's
    session_window merges events exactly gap apart), weight denied events,
    drop zero-deny sessions."""
    by_user: dict[str, list[tuple[int, int]]] = {}
    for user, ts, w in events:
        by_user.setdefault(user, []).append((ts, w))
    out = set()
    for user, evs in by_user.items():
        evs.sort()
        start, last, count = evs[0][0], evs[0][0], evs[0][1]
        closed = []
        for t, w in evs[1:]:
            if t - last <= GAP:
                last, count = t, count + w
            else:
                closed.append((start, last, count))
                start, last, count = t, t, w
        closed.append((start, last, count))
        for s, l, c in closed:
            if c != 0:
                out.add((user, s, l + GAP, c))
    return out


event_lists = st.lists(
    st.tuples(
        st.sampled_from(["alice", "bob", "carol"]),
        st.integers(min_value=0, max_value=4000),
        st.one_of(st.just(0), st.integers(min_value=0, max_value=5)),
    ),
    min_size=1,
    max_size=40,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=event_lists)
def test_sessionization_matches_reference(spark, events):
    rows = [
        (u, EPOCH + dt.timedelta(seconds=ts), 0 if w > 0 else 1, w)
        for u, ts, w in events
    ]
    audits = spark.createDataFrame(
        rows, "reqUser string, evtTime timestamp, result int, event_count int"
    )
    got = {
        (
            r["reqUser"],
            int((r["start"] - EPOCH).total_seconds()),
            int((r["end"] - EPOCH).total_seconds()),
            r["denies"],
        )
        for r in audit_denied_sessions(audits, gap_seconds=GAP).collect()
    }
    # denied iff result != 1: rows with w>0 were marked result=0 (denied),
    # rows with w=0 result=1 (allowed, extend-only)
    assert got == _ref_sessions(events)


asof_fixtures = st.tuples(
    st.lists(  # left: (key, t)
        st.tuples(st.sampled_from(["k1", "k2"]), st.integers(0, 100)),
        min_size=1,
        max_size=15,
    ),
    st.lists(  # right: (key, t, value)
        st.tuples(
            st.sampled_from(["k1", "k2"]),
            st.integers(0, 100),
            st.integers(0, 999),
        ),
        min_size=0,
        max_size=15,
    ),
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=asof_fixtures)
def test_asof_join_matches_pandas_merge_asof(spark, data):
    lefts, rights = data
    left_pdf = pd.DataFrame(
        {
            "k": [l[0] for l in lefts],
            "t": [l[1] for l in lefts],
            "seq": range(len(lefts)),
        }
    )
    right_pdf = pd.DataFrame(
        {
            "k": [r[0] for r in rights],
            "rt": [r[1] for r in rights],
            "v": [float(r[2]) for r in rights],
            # tiebreak above every left seq so an equal-timestamp right row
            # wins, matching merge_asof(allow_exact_matches=True)
            "seq": [len(lefts) + i for i in range(len(rights))],
        }
    ).astype({"k": object, "rt": "int64", "v": "float64", "seq": "int64"})
    left = spark.createDataFrame(left_pdf.assign(i=left_pdf["seq"]))
    right = spark.createDataFrame(right_pdf) if len(right_pdf) else (
        spark.createDataFrame([], "k string, rt bigint, v double, seq bigint")
    )
    got = {
        (r.k, r.i): r.v_asof
        for r in asof_join(
            left,
            right,
            key_col="k",
            left_time="t",
            right_time="rt",
            value_col="v",
            out_col="v_asof",
            tiebreak_col="seq",
        ).collect()
    }
    expected_df = pd.merge_asof(
        left_pdf.sort_values(["t", "seq"], kind="stable"),
        right_pdf.sort_values(["rt", "seq"], kind="stable").drop(columns="seq"),
        left_on="t",
        right_on="rt",
        by="k",
        direction="backward",
        allow_exact_matches=True,
    )
    expected = {
        (r.k, r.seq): (None if pd.isna(r.v) else r.v)
        for r in expected_df.itertuples()
    }
    assert got == expected


@given(
    st.lists(
        st.tuples(
            st.integers(0, 10_000), st.integers(0, 500), st.integers(0, 9)
        ),
        max_size=30,
    ),
    st.integers(1, 1000),
)
def test_merge_sessions_invariants(raw, gap_ms):
    sessions = [[s, s + d, c] for s, d, c in raw]
    merged = _merge_sessions([list(x) for x in sessions], gap_ms)
    # counts conserved
    assert sum(c for _, _, c in merged) == sum(c for _, _, c in sessions)
    # output sorted, disjoint by more than gap, and interval-sane
    for i, (s, l, _) in enumerate(merged):
        assert s <= l
        if i:
            assert s > merged[i - 1][1] + gap_ms
    # idempotent
    assert _merge_sessions([list(x) for x in merged], gap_ms) == merged


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),                  # key
            st.one_of(st.none(), st.integers(0, 50)),               # ts offset (None = null)
            st.sampled_from(["a", "b", "c"]),                       # payload
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_latest_by_key_matches_reference(spark, rows):
    """Random changelogs (duplicate timestamps, NULL event times, single-
    row keys) against a pure-Python argmax under the documented
    semantics: order by (ts, event_id) with NULLs sorting below
    non-NULLs; ties impossible because event_id is unique."""
    from extended_ops.operators.dedup import latest_by_key

    # unique event ids (the determinism contract callers must provide)
    # event ids assigned by enumeration: the unique order tiebreak the
    # determinism contract requires
    rows = [
        (k, None if off is None else EPOCH + dt.timedelta(seconds=off), i, p)
        for i, (k, off, p) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    got = {
        r["user_id"]: (r["ts"], r["event_id"], r["event_type"])
        for r in latest_by_key(
            df,
            key_cols=["user_id"],
            order_cols=["ts", "event_id"],
            payload_cols=["event_type"],
        ).collect()
    }
    want = {}
    for k, ts, eid, p in rows:
        # NULL ts sorts below any non-NULL ts (Spark struct comparison)
        key = (0, dt.datetime.min, eid) if ts is None else (1, ts, eid)
        if k not in want or key > want[k][0]:
            want[k] = (key, (ts, eid, p))
    assert got == {k: v for k, (_, v) in want.items()}


def _ref_funnel(events, stages, within_s=None):
    """Independent pure-Python funnel: per user, sort by (ts, eid) and
    advance a stage automaton — stage i at the first stages[i] event
    strictly after reach_{i-1} (and within the conversion window)."""
    by_user: dict[int, list[tuple[int, int, str]]] = {}
    for uid, eid, ts, typ in events:
        by_user.setdefault(uid, []).append((ts, eid, typ))
    out = {}
    for uid, evs in by_user.items():
        evs.sort()
        reaches: list[int] = []
        for ts, _eid, typ in evs:
            if len(reaches) >= len(stages):
                break
            if typ != stages[len(reaches)]:
                continue
            if reaches:
                if ts <= reaches[-1]:
                    continue
                if within_s is not None and ts > reaches[-1] + within_s:
                    continue
            reaches.append(ts)
        out[uid] = reaches
    return out


funnel_events = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=4),  # user
        st.integers(min_value=0, max_value=10_000),  # event id (unique-ish)
        st.integers(min_value=0, max_value=600),  # ts seconds
        st.sampled_from(["view", "click", "purchase", "error"]),
    ),
    min_size=1,
    max_size=50,
    unique_by=lambda t: t[1],  # distinct event ids
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=funnel_events, within=st.sampled_from([None, 120]))
def test_funnel_stages_matches_reference(spark, events, within):
    """funnel_stages (the one-window formulation) against a pure-Python
    stage automaton, with and without a conversion window, over
    adversarial shapes: duplicate timestamps, events before any stage-1,
    interleaved users, exact-window-boundary gaps."""
    from extended_ops.operators.corpus import (
        funnel_stages,
    )

    stages = ("view", "click", "purchase")
    rows = [
        (eid, uid, EPOCH + dt.timedelta(seconds=ts), typ)
        for uid, eid, ts, typ in events
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id bigint, user_id bigint, ts timestamp, event_type string",
    )
    got = {
        r.user_id: [
            getattr(r, f"reach_{i + 1}")
            for i in range(3)
            if getattr(r, f"reach_{i + 1}") is not None
        ]
        for r in funnel_stages(
            ev,
            stages,
            within=None if within is None else f"{within} seconds",
        ).collect()
    }
    # reference works in epoch seconds; convert its reaches to datetimes
    ref = {
        uid: [EPOCH + dt.timedelta(seconds=t) for t in reaches]
        for uid, reaches in _ref_funnel(
            [(u, e, t, ty) for u, e, t, ty in events], stages, within
        ).items()
    }
    assert got == ref


def _ref_tfidf(texts: dict[int, str], k: int):
    """Independent tf-idf top-k: tokenization (lower, split on ws runs),
    raw-idf score rounded to 6dp, rank on the ROUNDED score with term
    tie-break — the exact contract of tfidf_top_terms."""
    n = len(texts)
    tf: dict[int, dict[str, int]] = {}
    for i, t in texts.items():
        words = t.lower().split()
        if words:
            d = tf.setdefault(i, {})
            for w in words:
                d[w] = d.get(w, 0) + 1
    df_term: dict[str, int] = {}
    for d in tf.values():
        for w in d:
            df_term[w] = df_term.get(w, 0) + 1
    out = {}
    for i, d in tf.items():
        scored = sorted(
            (
                (round(c * (n / df_term[w]), 6), w, c)
                for w, c in d.items()
            ),
            key=lambda t: (-t[0], t[1]),
        )
        out[i] = [
            (w, c, df_term[w], s, r + 1)
            for r, (s, w, c) in enumerate(scored[:k])
        ]
    return out


tfidf_corpus = st.dictionaries(
    keys=st.integers(min_value=0, max_value=7),
    values=st.lists(
        st.sampled_from(["apple", "bee", "cat", "dog", "e1", "fig"]),
        min_size=0,
        max_size=12,
    ).map(" ".join),
    min_size=1,
    max_size=8,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=tfidf_corpus, k=st.sampled_from([1, 3, 10]))
def test_tfidf_top_terms_matches_reference(spark, texts, k):
    """tfidf_top_terms against an independent pure-Python scorer over
    adversarial corpora: empty documents (count toward N, emit no
    rows), every-doc terms (df = N, score = tf), tied scores resolved
    by term order, k larger than the vocabulary."""
    from extended_ops.operators.text import (
        tfidf_top_terms,
    )

    df = spark.createDataFrame(
        list(texts.items()), "doc_id bigint, text string"
    )
    got: dict[int, list] = {}
    for r in tfidf_top_terms(df, k=k).collect():
        got.setdefault(r.doc_id, []).append(
            (r.term, r.tf, r.df_term, r.score, r.rank)
        )
    for rows in got.values():
        rows.sort(key=lambda t: t[4])
    assert got == _ref_tfidf(texts, k)


def _ref_spans(texts: dict[int, str], k: int, scope: str = "cross"):
    """Independent span-dedup reference: positioned shingles, duplicated
    set (cross-doc via >= 2 distinct docs, or any repeat), coverage
    islands merged at gap > k — duplicated_spans' exact contract."""
    occ: list[tuple[int, int, str]] = []
    for i, t in texts.items():
        w = t.lower().split()
        for p in range(len(w) - k + 1):
            occ.append((i, p, " ".join(w[p : p + k])))
    docs_of: dict[str, set] = {}
    count: dict[str, int] = {}
    for i, _p, sh in occ:
        docs_of.setdefault(sh, set()).add(i)
        count[sh] = count.get(sh, 0) + 1
    dup = {
        sh
        for sh in count
        if (count[sh] >= 2 if scope == "any" else len(docs_of[sh]) >= 2)
    }
    spans = {}
    by_doc: dict[int, list[int]] = {}
    for i, p, sh in occ:
        if sh in dup:
            by_doc.setdefault(i, []).append(p)
    for i, ps in by_doc.items():
        ps.sort()
        cur = [ps[0], ps[0]]
        islands = []
        for p in ps[1:]:
            if p > cur[1] + k:
                islands.append(cur)
                cur = [p, p]
            else:
                cur[1] = p
        islands.append(cur)
        for s, e in islands:
            n = sum(1 for p in ps if s <= p <= e)
            spans[(i, s)] = (e + k - 1, e + k - s, n)
    return spans


span_corpus = st.dictionaries(
    keys=st.integers(min_value=0, max_value=5),
    values=st.lists(
        st.sampled_from(["a", "b", "c", "d", "e"]),
        min_size=0,
        max_size=14,
    ).map(" ".join),
    min_size=1,
    max_size=6,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=span_corpus, k=st.sampled_from([2, 3]), scope=st.sampled_from(["cross", "any"]))
def test_duplicated_spans_matches_reference(spark, texts, k, scope):
    """duplicated_spans against an independent pure-Python span merger
    over a tiny alphabet (maximal shingle collisions): island boundary
    arithmetic, scope semantics, within-doc repeats, sub-k docs."""
    from extended_ops.operators.dedup import (
        duplicated_spans,
    )

    df = spark.createDataFrame(
        list(texts.items()), "doc_id bigint, text string"
    )
    got = {
        (r.doc_id, r.span_start): (r.span_end, r.span_len, r.n_dup_shingles)
        for r in duplicated_spans(df, k=k, scope=scope).collect()
    }
    assert got == _ref_spans(texts, k, scope)
