"""Detection checks for ``plans/staged_r15.py``. Hash parity and
non-vacuity are covered per key by ``tests/test_oracle_parity.py``;
these tests check that the audit relations detect something (a
planted burst that flags nothing, or a calibration table with zero
duplicates, would hash-match a broken detector — the dq_freshness
planted-defect rule)."""

from __future__ import annotations

from conftest import SF_DIR

from extended_ops.plans.staged_r15 import (
    STAGED_R15_QUERIES,
)


def test_staged_r15_detection_is_nonvacuous(spark):
    """The hash-checked relations must actually DETECT something at the
    gate SF: the planted burst flags outlier windows and the calibration
    table sees real duplicate docs (all-zero variants would still
    hash-match a broken plant)."""
    anom = STAGED_R15_QUERIES["dq_rate_anomaly"](spark, SF_DIR)
    assert anom.where("is_outlier").count() >= 1
    calib = STAGED_R15_QUERIES["dq_quality_calibration"](spark, SF_DIR)
    assert calib.agg({"n_dups": "sum"}).collect()[0][0] >= 1
