"""clean_text (corpus normalization): planted-case semantics, NULL
handling, cross-engine parity on the real corpus with injected unicode
junk (both engines CONSTRUCT the same dirty text from documents.text,
then clean it — so the parity run exercises NFC, control strip, folding
and whitespace canonicalization on every row, not just ASCII), and the
plan gates (pure Catalyst without NFC; exactly one Arrow stage with)."""

from __future__ import annotations

import pyspark.sql.functions as F
from conftest import SF_DIR
from oracle_utils import assert_parity

from extended_ops.operators.text import (
    _CLEAN_FROM,
    _CLEAN_TO,
    clean_text,
)
from extended_ops.sources.tables import load_table

# dirty wrapper injected around every corpus document, shared by both
# engines: decomposed e+acute (NFC composes), CRLF, C0/C1 controls,
# zero-width space, curly quotes, em dash, NBSP, space/tab runs, 4-fold
# newlines, leading/trailing whitespace
_PREFIX = "  ‘q’ é\t\t"
_SUFFIX = "\r\nx​y — z w \x01\x9f\n\n\n\nend  "


def _expected_clean(text: str) -> str:
    import re
    import unicodedata

    t = unicodedata.normalize("NFC", _PREFIX + text + _SUFFIX)
    t = re.sub(r"\r\n|\r", "\n", t)
    t = re.sub(
        "[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f"
        "​‌‍﻿­]",
        "",
        t,
    )
    t = t.translate(str.maketrans(_CLEAN_FROM, _CLEAN_TO))
    t = re.sub(r"[ \t]+", " ", t)
    t = re.sub(r" ?\n ?", "\n", t)
    t = re.sub(r"\n{3,}", "\n\n", t)
    return re.sub(r"^[ \n]+|[ \n]+$", "", t)


def test_planted_semantics(spark):
    rows = [
        (1, "hello"),
        (2, "a  b\tc"),          # runs collapse
        (3, "p1\n\n\n\n\np2"),   # paragraph break survives as \n\n
        (4, None),               # NULL stays NULL
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    dirty = df.select(
        "doc_id",
        F.concat(F.lit(_PREFIX), F.col("text"), F.lit(_SUFFIX)).alias(
            "text"
        ),
    )
    got = {r.doc_id: r.clean_text for r in clean_text(dirty).collect()}
    assert got[4] is None
    for i, t in rows[:3]:
        assert got[i] == _expected_clean(t), (i, got[i])
    # spot-check the folds explicitly (the python twin above could in
    # principle share a bug with the operator; these are hand-written)
    assert got[1] == "'q' é hello\nxy - z w\n\nend"
    assert "‘" not in got[1] and "​" not in got[1]


def test_nfc_composes_decomposed_sequences(spark):
    df = spark.createDataFrame(
        [(1, "café"), (2, "café")], "doc_id bigint, text string"
    )
    out = {r.doc_id: r.clean_text for r in clean_text(df).collect()}
    # both spellings normalize to the same composed bytes
    assert out[1].endswith("café") and out[2].endswith("café")
    raw = {
        r.doc_id: r.clean_text
        for r in clean_text(df, nfc=False).collect()
    }
    assert raw[1] != raw[2]  # without NFC they stay distinct


def test_nfc_kernel_canary_rejects_broken_pyarrow():
    """r10 verdict #5 asked for ``pyarrow.compute.utf8_normalize`` to
    replace the per-element ``unicodedata`` map — but this pyarrow
    (16.1.0) ships the kernel BROKEN: 'NFC' output is the decomposed
    sequence (NFD) for every form. The canary must detect that and keep
    the correct fallback active; were the kernel ever fixed, the canary
    flips to the vectorized path with no code change."""
    import pyarrow as pa
    from pyarrow import compute as pc

    from extended_ops.operators import text as T

    assert hasattr(pc, "utf8_normalize")  # present...
    kernel_out = pc.utf8_normalize(
        pa.array(["e\u0301"]), form="NFC"
    ).to_pylist()[0]
    # ...and the canary verdict must equal the kernel's actual behavior
    assert T._nfc_kernel_usable() == (kernel_out == "\xe9")


def test_nfc_batch_matches_unicodedata_reference():
    """Whichever path the canary picks, ``_nfc_batch`` must produce
    byte-identical canonical NFC to ``unicodedata.normalize``, with NULL
    propagation. Pandas-batch level — no Spark job needed."""
    import unicodedata

    import pandas as pd

    from extended_ops.operators.text import _nfc_batch

    samples = [
        "cafe\u0301 plain",           # decomposed -> composed
        "caf\xe9 already",            # composed stays
        "a\u0325\u0301 stacked",      # combining marks canonical-order
        "d\u0307\u0323 reorder",      # NFC reorders dot-below first
        "",                           # empty survives
        None,                         # NULL propagates
        "ascii only",
    ]
    s = pd.Series(samples, dtype=object)
    vec = [None if not isinstance(x, str) else x for x in _nfc_batch(s)]
    ref = [
        None if x is None else unicodedata.normalize("NFC", x)
        for x in samples
    ]
    assert vec == ref
    assert vec[0] == "caf\xe9 plain"


def _dirty_sql_literal(s: str) -> str:
    # embed as a DuckDB string literal: escape single quotes; the
    # non-ASCII chars ride through as UTF-8; C0 controls via chr()
    out = []
    for ch in s:
        if ch == "'":
            out.append("' || chr(39) || '")
        elif ord(ch) < 32 or 0x7F <= ord(ch) <= 0x9F:
            out.append(f"' || chr({ord(ch)}) || '")
        else:
            out.append(ch)
    return "'" + "".join(out) + "'"


def test_clean_text_matches_duckdb_on_real_corpus(spark):
    """Full-composition cross-engine hash parity: both engines build
    PREFIX || text || SUFFIX from the real documents table and run the
    identical clean chain (pre-proves a future text_clean oracle
    registration)."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    dirty = docs.select(
        "doc_id",
        F.concat(F.lit(_PREFIX), F.col("text"), F.lit(_SUFFIX)).alias(
            "text"
        ),
    )
    got = clean_text(dirty).select("doc_id", "clean_text")
    strip_re = (
        "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f-\\x9f"
        "​‌‍﻿­]"
    )
    sql = f"""
    WITH dirty AS (
      SELECT doc_id,
             {_dirty_sql_literal(_PREFIX)} || text ||
             {_dirty_sql_literal(_SUFFIX)} AS t
      FROM documents
    )
    SELECT doc_id,
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              translate(
                regexp_replace(
                  regexp_replace(nfc_normalize(t), '\\r\\n|\\r', chr(10), 'g'),
                  '{strip_re}', '', 'g'),
                '{_CLEAN_FROM}', e'{_CLEAN_TO.replace("'", chr(92) + chr(39))}'),
              '[ \\t]+', ' ', 'g'),
            ' ?\\n ?', chr(10), 'g'),
          '\\n{{3,}}', chr(10) || chr(10), 'g'),
        '^[ \\n]+|[ \\n]+$', '', 'g') AS clean_text
    FROM dirty
    """
    assert_parity(got, sql, SF_DIR)


def test_clean_text_plan_gates(spark):
    # spread=False: the loader's round-robin exchange would mask the
    # operator's own plan shape (the standing plan-gate contract)
    docs = load_table(spark, SF_DIR, "documents", spread=False).select(
        "doc_id", "text"
    )
    no_nfc = (
        clean_text(docs, nfc=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in no_nfc  # pure Catalyst path
    with_nfc = (
        clean_text(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert with_nfc.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in with_nfc  # Arrow, never row-at-a-time
    for plan in (no_nfc, with_nfc):
        assert "Exchange" not in plan  # rides the scan
