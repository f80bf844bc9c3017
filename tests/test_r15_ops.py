"""Contract tests for the r15 staged operators (URL canonicalization,
HTML stripping) and the composed audit relations. DuckDB hash parity
for the full registrations is pinned by tests/test_staged_r15.py; these
pin goldens, edge semantics and the claimed plan topologies."""

from __future__ import annotations

from conftest import SF_DIR

import pyspark.sql.functions as F

from extended_ops.operators.web import (
    canonicalize_urls,
    strip_html,
)
from extended_ops.plans.staged_r15 import (
    STAGED_R15_QUERIES,
)


def _final_plan(df):
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_canonicalize_urls_golden(spark):
    cases = [
        # scheme+host lowercase, www strip, default port drop,
        # trailing slash strip, tracking params drop, params sort,
        # fragment drop
        (
            "HTTP://WWW.Ex.COM:80/A/b/?z=1&utm_source=x&a=2#frag",
            "http://ex.com/A/b?a=2&z=1",
            "ex.com",
        ),
        # https default port; path case PRESERVED; empty path -> /
        ("HTTPS://Host.org:443", "https://host.org/", "host.org"),
        # non-default port kept
        ("http://h.io:8080/p", "http://h.io:8080/p", "h.io"),
        # :80 on https is NOT default -> kept
        ("https://h.io:80/p", "https://h.io:80/p", "h.io"),
        # all params tracking -> no query at all
        ("http://a.b/p?utm_campaign=c&gclid=g", "http://a.b/p", "a.b"),
        # not a URL -> NULL
        ("no scheme here", None, None),
        (None, None, None),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _, _) in enumerate(cases)], "i int, url string"
    )
    got = {
        r.i: (r.canonical_url, r.host)
        for r in canonicalize_urls(df, "url").collect()
    }
    for i, (_, want_c, want_h) in enumerate(cases):
        assert got[i] == (want_c, want_h), f"case {i}: {got[i]}"


def test_strip_html_golden(spark):
    cases = [
        # tags -> word boundaries, never fused
        ("<p>a</p><p>b</p>", "a b"),
        # script/style contents vanish INCLUDING fake tags inside
        ('<script>if(a<b){x="<p>"}</script>hi<style>a{b:c}</style>', "hi"),
        # entity order: &amp;lt; is the literal text '&lt;', not a tag
        ("x &amp;lt; y &amp; z", "x &lt; y & z"),
        # entities decode only AFTER tag strip
        ("&lt;div&gt; stays", "<div> stays"),
        # unclosed tag eats to next '>' ... and a lone '<' survives
        ("a <b unclosed> c", "a c"),
        ("1 < 2", "1 < 2"),
        ("  <br/>\t\n ", ""),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)], "i int, text string"
    )
    got = {r.i: r.clean_text for r in strip_html(df, "text").collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, f"case {i}: {got[i]!r} != {want!r}"


def test_web_ops_zero_shuffle_scan_side(spark):
    """Both web transforms are pure scan-side projections: the
    registered queries' plans contain a FileScan and ZERO exchanges."""
    for key in ("xform_url_canonical", "text_strip_html"):
        plan = _final_plan(STAGED_R15_QUERIES[key](spark, SF_DIR))
        assert "Exchange" not in plan, f"{key} shuffles:\n{plan}"
        assert plan.count("FileScan parquet") == 1


def test_rate_anomaly_flags_only_burst_hour_like_windows(spark):
    """The planted burst windows (weighted 25x) are flagged; their
    robust_z is large and positive where MAD > 0."""
    out = STAGED_R15_QUERIES["dq_rate_anomaly"](spark, SF_DIR)
    flagged = out.where("is_outlier").collect()
    assert len(flagged) >= 1
    for r in flagged:
        if r.robust_z is not None:
            assert abs(r.robust_z) > 3.0


def test_quality_calibration_partition_of_corpus(spark):
    """Deciles 1..10 partition the corpus: counts sum to the doc count
    and every decile label is in range."""
    out = STAGED_R15_QUERIES["dq_quality_calibration"](spark, SF_DIR).collect()
    assert all(1 <= r.decile <= 10 for r in out)
    from extended_ops.sources.tables import load_table

    n = (
        load_table(spark, SF_DIR, "documents")
        .where(F.col("text").isNotNull())
        .count()
    )
    assert sum(r.n_docs for r in out) == n
