"""Content checks for ``plans/staged_r20.py``. Hash parity and
non-vacuity are covered per key by ``tests/test_oracle_parity.py``;
these tests catch degenerate variants that would still hash-match
a broken producer."""

from __future__ import annotations

import pytest
from conftest import SF_DIR

from flink_audit_sessions_example_spark.operators.multimodal import (
    AUDIO_N_SAMPLES,
)
from flink_audit_sessions_example_spark.plans.staged_r20 import (
    AUDIO_FRAME,
    VOCAB_DECILES,
    STAGED_R20_QUERIES,
)


def test_staged_r20_content_is_nonvacuous(spark):
    """Degenerate variants that would still hash-match a broken
    producer: silent audio (all-zero energy), a diagonal-only or
    empty confusion table, a variety table whose NOT-IN leg excludes
    nobody, an autocorrelation that is everywhere NULL, and a vocab
    curve collapsed into one bucket (the unigram failure this
    registration exists to avoid)."""
    frames = STAGED_R20_QUERIES["multimodal_audio_energy"](
        spark, SF_DIR
    ).collect()
    per_doc = AUDIO_N_SAMPLES // AUDIO_FRAME
    assert len(frames) % per_doc == 0 and len(frames) > 0
    assert all(f.energy > 0 for f in frames), "silent frame"
    assert all(f.n_samples == AUDIO_FRAME for f in frames)
    assert any(f.zero_crossings > 0 for f in frames)
    assert all(0 < f.peak <= 32768 for f in frames)

    conf = STAGED_R20_QUERIES["dq_langid_confusion"](
        spark, SF_DIR
    ).collect()
    assert any(r.lang == r.pred_lang for r in conf), "no agreement"
    assert any(r.lang != r.pred_lang for r in conf), "no confusion"
    shares: dict = {}
    for r in conf:
        shares[r.lang] = shares.get(r.lang, 0.0) + r.label_share
    for lang, s in shares.items():
        assert s == pytest.approx(1.0, abs=1e-5), lang

    var = STAGED_R20_QUERIES["rel_part_variety"](spark, SF_DIR).collect()
    assert len(var) >= 3
    assert all(r.n_clean_suppliers <= r.n_suppliers for r in var)
    assert any(
        r.n_clean_suppliers < r.n_suppliers for r in var
    ), "NOT-IN leg excluded nobody"

    ac = STAGED_R20_QUERIES["win_autocorr"](spark, SF_DIR).collect()
    assert len(ac) >= 1
    assert all(r.autocorr_lag1 is not None for r in ac)
    assert all(-1.0 <= r.autocorr_lag1 <= 1.0 for r in ac)

    vg = STAGED_R20_QUERIES["text_vocab_growth"](spark, SF_DIR).collect()
    assert len(vg) == VOCAB_DECILES, "vocabulary collapsed into buckets"
    ordered = sorted(vg, key=lambda r: r.decile)
    assert all(r.n_new_words > 0 for r in ordered)
    cum = 0
    for r in ordered:
        cum += r.n_new_words
        assert r.vocab_cumulative == cum
