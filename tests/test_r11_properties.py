"""Hypothesis property sweeps for the r13/r14 staged operators whose
correctness rests on a structural invariant rather than a golden: gap
sessionization, triangle counting, association-rule ratios, behavioral
regularity, leave-one-out k-NN classification and JSON schema
profiling. Each property is checked against an INDEPENDENT
pure-Python formulation (the r10 property-sweep pattern), so a
Spark-plan regression cannot hide behind a matching oracle bug."""

from __future__ import annotations

import datetime as dt
from collections import Counter
from itertools import combinations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from extended_ops.operators.baskets import (
    association_rules,
)
from extended_ops.operators.graph import (
    triangle_counts,
)
from extended_ops.operators.profile import (
    json_key_stats,
)
from extended_ops.operators.quality import (
    regularity_audit,
)
from extended_ops.operators.similarity import (
    knn_classify,
)
from extended_ops.operators.timeseries import (
    gap_sessions,
)

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_BASE = dt.datetime(2024, 1, 1)


def _py_sessions(offsets_by_key, gap_s):
    """Independent gap-session formulation: sorted offsets, split on
    strictly-greater-than-gap silences."""
    out = {}
    for k, offs in offsets_by_key.items():
        if not offs:
            continue
        offs = sorted(offs)
        seq, start, prev, n = 1, offs[0], offs[0], 1
        for o in offs[1:]:
            if o - prev > gap_s:
                out[(k, seq)] = (start, prev, n, prev - start)
                seq, start, n = seq + 1, o, 0
            n += 1
            prev = o
        out[(k, seq)] = (start, prev, n, prev - start)
    return out


@settings(**_SETTINGS)
@given(
    streams=st.dictionaries(
        st.integers(min_value=1, max_value=4),
        st.lists(
            st.integers(min_value=0, max_value=20_000),  # second offsets
            min_size=1,
            max_size=40,
        ),
        min_size=1,
        max_size=4,
    ),
    gap_minutes=st.integers(min_value=1, max_value=60),
)
def test_gap_sessions_property(spark, streams, gap_minutes):
    """Random per-key offset streams (duplicate timestamps included):
    session boundaries, counts and durations equal the independent
    Python split. Duplicate offsets collapse to gap 0 and can never
    open a session, matching both formulations."""
    rows = [
        (k, _BASE + dt.timedelta(seconds=o))
        for k, offs in streams.items()
        for o in offs
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp")
    got = {
        (r.k, r.session_seq): (
            int((r.session_start - _BASE).total_seconds()),
            int((r.session_end - _BASE).total_seconds()),
            r.n_events,
            r.duration_secs,
        )
        for r in gap_sessions(
            df, key_col="k", ts_col="ts", gap_minutes=gap_minutes
        ).collect()
    }
    assert got == _py_sessions(streams, gap_minutes * 60)


@settings(**_SETTINGS)
@given(
    edges=st.sets(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ).map(lambda p: (min(p), max(p))),
        max_size=30,
    )
)
def test_triangle_counts_property(spark, edges):
    """Random small graphs: per-node triangle counts equal the
    brute-force enumeration over all vertex triples."""
    edges = {(a, b) for a, b in edges if a != b}
    if not edges:
        return
    eset = set(edges)
    nodes = sorted({v for e in edges for v in e})
    expected: Counter = Counter()
    for a, b, c in combinations(nodes, 3):
        if (a, b) in eset and (b, c) in eset and (a, c) in eset:
            expected[a] += 1
            expected[b] += 1
            expected[c] += 1
    df = spark.createDataFrame(
        sorted(edges), "id_a long, id_b long"
    )
    got = {
        r.node: r.n_triangles for r in triangle_counts(df).collect()
    }
    assert got == dict(expected)


@settings(**_SETTINGS)
@given(
    baskets=st.dictionaries(
        st.integers(min_value=1, max_value=8),
        st.sets(
            st.sampled_from("ABCDEF"), min_size=1, max_size=5
        ),
        min_size=1,
        max_size=8,
    )
)
def test_association_rules_property(spark, baskets):
    """Random basket sets: every emitted rule's counts and ratios equal
    the brute-force Python computation; pairs below min support never
    appear."""
    rows = [(b, i) for b, items in baskets.items() for i in items]
    df = spark.createDataFrame(rows, "b long, item string")
    got = {
        (r.antecedent, r.consequent): (
            r.n_pair, r.n_antecedent, r.n_consequent,
            r.support, r.confidence, r.lift,
        )
        for r in association_rules(
            df, basket_col="b", item_col="item", min_pair_count=1
        ).collect()
    }
    n_baskets = len(baskets)
    support_by_item: Counter = Counter()
    pair_count: Counter = Counter()
    for items in baskets.values():
        for i in items:
            support_by_item[i] += 1
        if len(items) >= 2:
            for a, b in combinations(sorted(items), 2):
                pair_count[(a, b)] += 1
    expected = {}
    for (a, b), np_ in pair_count.items():
        for ante, cons in ((a, b), (b, a)):
            na, nc = support_by_item[ante], support_by_item[cons]
            expected[(ante, cons)] = (
                np_, na, nc,
                round(np_ / n_baskets, 6),
                round(np_ / na, 6),
                round((np_ * n_baskets) / (na * nc), 6),
            )
    assert got == expected


@settings(**_SETTINGS)
@given(
    gaps=st.lists(
        st.integers(min_value=1, max_value=5),  # heavy gap collisions
        min_size=1,
        max_size=30,
    )
)
def test_regularity_modal_share_property(spark, gaps):
    """A single key with random (collision-heavy) gaps: the modal gap
    share equals the Python Counter's top share; distinct-gap and
    event counts match."""
    offs = [0]
    for g in gaps:
        offs.append(offs[-1] + g)
    rows = [(1, _BASE + dt.timedelta(seconds=o)) for o in offs]
    df = spark.createDataFrame(rows, "k long, ts timestamp")
    r = regularity_audit(
        df, key_col="k", ts_col="ts",
        min_events=2, top_gap_share_threshold=0.5,
    ).collect()[0]
    c = Counter(gaps)
    assert r.n_events == len(offs)
    assert r.n_gaps == len(gaps)
    assert r.n_distinct_gaps == len(c)
    assert r.top_gap_share == round(max(c.values()) / len(gaps), 6)
    assert r.is_suspect == (
        len(offs) >= 2 and max(c.values()) / len(gaps) > 0.5
    )


@settings(**_SETTINGS)
@given(
    data=st.lists(
        st.tuples(
            st.lists(
                st.floats(
                    min_value=-1, max_value=1,
                    allow_nan=False, allow_infinity=False,
                ),
                min_size=4, max_size=4,
            ),
            st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
        ),
        min_size=3,
        max_size=25,
    )
)
def test_knn_classify_property(spark, data):
    """Random labeled vector sets: predicted labels equal the
    brute-force leave-one-out majority vote (round-6 cosine ranking,
    neighbor-id ties, unlabeled abstention, smallest-label vote tie) —
    the independent Python formulation of the whole contract."""
    import math

    from hypothesis import assume

    rows = [
        (i, list(v), lbl)
        for i, (v, lbl) in enumerate(data)
        if any(abs(x) > 1e-9 for x in v)  # zero vectors have no angle
    ]
    assume(len(rows) >= 3)
    k = 3
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    got = {
        r.vec_id: (r.predicted_label, r.n_votes, r.n_neighbors)
        for r in knn_classify(df, k=k, blocks=2).collect()
    }

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    sims = {
        (a, b): round(
            sum(x * y for x, y in zip(unit(va), unit(vb))), 6
        )
        for a, va, _ in rows
        for b, vb, _ in rows
        if a != b
    }
    labels = {i: l for i, _, l in rows}
    expected = {}
    for i, _, _ in rows:
        neigh = sorted(
            (j for j, _, _ in rows if j != i),
            key=lambda j: (-sims[(i, j)], j),
        )[:k]
        votes = Counter(
            labels[j] for j in neigh if labels[j] is not None
        )
        if not votes:
            continue  # no labeled neighbors: no classification row
        best = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))
        expected[i] = (best[0], best[1], sum(votes.values()))
    assert got == expected


@settings(**_SETTINGS)
@given(
    objs=st.lists(
        st.one_of(
            st.none(),
            st.just("not json"),
            st.dictionaries(
                st.sampled_from("abcd"),
                st.one_of(
                    st.integers(min_value=-9, max_value=9),
                    st.sampled_from(["x", "y"]),
                    st.booleans(),
                ),
                max_size=4,
            ),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_json_key_stats_property(spark, objs):
    """Random JSON-object payloads (plus malformed/NULL rows): key
    presence counts, shares and distinct-value cardinalities equal the
    independent Python computation over the same serialization."""
    import json

    from hypothesis import assume

    payloads = [
        None if o is None
        else o if isinstance(o, str)
        else json.dumps(o)
        for o in objs
    ]
    parsed = [o for o in objs if isinstance(o, dict)]
    assume(any(d for d in parsed))  # at least one non-empty object
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "id long, props string"
    )
    got = {
        r.key: (r.n_present, r.share, r.n_distinct_values)
        for r in json_key_stats(df, json_col="props").collect()
    }
    n_rows = len(parsed)
    per_key: dict = {}
    for d in parsed:
        for kk, vv in d.items():
            per_key.setdefault(kk, []).append(
                # Spark's map<string,string> parse stringifies values;
                # json booleans surface as 'true'/'false'
                "true" if vv is True
                else "false" if vv is False
                else str(vv)
            )
    expected = {
        kk: (len(vs), round(len(vs) / n_rows, 6), len(set(vs)))
        for kk, vs in per_key.items()
    }
    assert got == expected
