"""Posting-list pair emission, keyed latest-state collapse, and the
blocked pair operator built on them.

- **Pairs from postings.** :func:`bounded_posting_lists` groups keyed
  rows into sorted per-key id lists with the skew cap applied before
  the ``collect_list`` buffer, and :func:`_pair_explode` emits each
  list's id pairs in place, with no self-join. ``rel_copurchase``,
  ``operators/baskets.py``, ``operators/multimodal.py`` and
  ``operators/corpus.py`` build on them.
- **Latest state per key.** :func:`max_struct_state` is one
  ``max(struct)`` aggregation that collapses scan-side.
  :func:`latest_by_key`, :func:`cdc_apply` (with its epoch taggers) and
  the streaming CDC materializer (``streaming/cdc.py``) share it;
  :func:`snapshot_diff` is the key-level diff of two versions.
- **Blocked pairs.** :func:`ngram_containment_pairs`
  (``text_containment``) emits its candidate pairs from bounded posting
  lists.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import shingle_rows


def _pair_explode(ids_col: str = "ids") -> Column:
    """All (ids[i], ids[j]) with i < j from a sorted id-array column —
    the in-place pair emission of the pairs-from-postings pattern (no
    self-join). Lists are sorted, so ``id_a < id_b`` by construction."""
    return F.flatten(
        F.transform(
            ids_col,
            lambda x, i: F.transform(
                F.slice(F.col(ids_col), i + 2, F.size(ids_col)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def bounded_posting_lists(
    keyed: DataFrame,
    key_cols: list[str],
    payload: Column | str,
    *,
    max_size: int | None,
    min_size: int = 2,
    pin_keyed: bool = True,
) -> DataFrame:
    """Per-key sorted posting lists ``(key_cols..., ids)`` where
    ``max_size`` bounds the aggregation BUFFER itself, not just the
    finished list.

    The naive form — ``collect_list`` then ``where(size(ids) <= cap)``
    (the r5 shape) — drops an over-cap key only AFTER one aggregation
    buffer has materialized its entire posting list. Spark's hash
    aggregation spills ACROSS groups, never within one, so a single hot
    key (a stopword token, a boilerplate shingle, a dup-saturated LSH
    bucket) with 10⁸ postings is gigabytes in ONE buffer row — an
    executor OOM on exactly the skewed input the cap exists for.

    Bounded form (``max_size`` set): per-key COUNTS run first — count
    buffers are constant-size and partial-aggregate map-side, so the
    count shuffle carries at most one 8-byte-key row per key per map
    task regardless of skew — and the over-cap key set (small by
    definition: only keys with df > cap, i.e. the stopword/boilerplate
    tail) anti-joins into the keyed rows BEFORE ``collect_list``. Every
    group reaching the list build then has ≤ ``max_size`` rows by
    construction. No broadcast hint on the anti-join: AQE broadcasts
    the blacklist from its runtime size, and an adversarial all-hot
    input degrades to a shuffle join instead of a driver OOM. Results
    are IDENTICAL to the naive form (the count equals the list length
    the old filter inspected).

    Both the count pass and the list build consume ``keyed``.
    ``pin_keyed=True`` (default) pins it with a lazy
    ``localCheckpoint`` so the subtree below (often a scan + tokenizer
    Arrow pass) executes ONCE structurally — AQE exchange reuse across
    Python-stage subtrees is a runtime maybe, not a guarantee — at the
    cost of materializing the keyed rows to executor memory/disk
    (MEMORY_AND_DISK; spills, never OOMs). ``pin_keyed=False`` trades
    that storage for recomputing the subtree in the count pass: prefer
    it when the subtree is a cheap column-pruned scan and the keyed
    rows are large relative to it.

    With ``max_size=None`` this is the plain single-aggregation build
    (no count pass, no pin) — the unbounded buffer is then the CALLER's
    stated contract, not an accident.
    """
    payload = F.col(payload) if isinstance(payload, str) else payload
    if max_size is not None:
        if pin_keyed:
            keyed = keyed.localCheckpoint(eager=False)
        counts = keyed.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_df"))
        # Null-safe anti-join (r7, ADVICE): a plain name-list anti-join
        # never matches NULL keys, so an over-cap NULL-keyed group would
        # bypass the cap — rebuilding the unbounded buffer the cap exists
        # to prevent AND surviving into results, breaking the identical-
        # results contract with the naive post-filter form. ``<=>`` makes
        # NULL groups cap exactly like any other key.
        hot = counts.where(F.col("_df") > max_size).select(
            *[F.col(c).alias(f"_hot_{c}") for c in key_cols]
        )
        cond = reduce(
            and_,
            [F.col(c).eqNullSafe(F.col(f"_hot_{c}")) for c in key_cols],
        )
        keyed = keyed.join(hot, cond, "left_anti")
    postings = keyed.groupBy(*key_cols).agg(
        F.sort_array(F.collect_list(payload)).alias("ids")
    )
    if min_size > 1:
        postings = postings.where(F.size("ids") >= min_size)
    return postings


def latest_by_key(
    df: DataFrame,
    *,
    key_cols: "list[str]",
    order_cols: "list[str]",
    payload_cols: "list[str]",
) -> DataFrame:
    """``xform_compact`` — log compaction / CDC upsert collapse: keep each
    key's LATEST record, ordered by ``order_cols`` (e.g. event time, with
    a unique id as tiebreak). The operator class behind changelog →
    snapshot materialization, "current state per user", and
    keep-newest-version dedup of re-crawled documents.

    Plan: ONE aggregation of ``max(struct(order_cols ⧺ payload_cols))``
    keyed on ``key_cols`` — struct comparison is lexicographic by field
    order, so the max IS the latest record and the payload rides along
    in the same comparison. Spark executes this as a SortAggregate
    (struct aggregation buffers are not hash-agg mutable; ``max_by``
    hits the same fallback), but the partial aggregate still runs
    SCAN-SIDE: each task sorts only its own scan batch by key and
    emits one row per key before the single exchange, so shuffle volume
    is O(distinct keys), not O(rows). At 100 TB this beats the textbook
    ``row_number() OVER (PARTITION BY key ORDER BY ... DESC) = 1``
    window, which must shuffle EVERY row and then sort each key's full
    history on one task (the hot-key hazard); here hot keys collapse
    scan-side and no task ever holds more than its scan batch.

    Determinism contract: callers must make ``order_cols`` total (append
    a unique id after the event-time column) — otherwise ties fall
    through to PAYLOAD comparison and the "latest" pick, while stable,
    is semantically arbitrary. Rows with NULL in ``order_cols`` sort
    below non-NULL under Spark struct comparison, so they lose to any
    ordered row — but ``F.struct`` never produces a NULL struct, so a
    key with ONLY null-ordered rows still emits one (its pick decided
    by payload comparison, i.e. arbitrarily); filter null-ordered rows
    upstream if the source allows them and absent-key semantics are
    wanted.

    Streaming: pass a streaming DataFrame and run the result in
    ``update`` output mode — the same aggregation becomes a streaming
    aggregation whose state store holds exactly one (key → max struct)
    row per key, updated as newer events arrive and re-emitted on
    change (changelog → continuously-materialized view). State is
    bounded by key cardinality, not stream length — here the per-key
    state IS the product, so no watermark/eviction applies
    (tests/test_streaming.py::test_stream_compact_latest_by_key_across_batches).
    """
    return max_struct_state(
        df, key_cols=key_cols, field_cols=[*order_cols, *payload_cols]
    )


def max_struct_state(
    df: DataFrame, *, key_cols: "list[str]", field_cols: "list[str]"
) -> DataFrame:
    """The shared kernel of :func:`latest_by_key`, :func:`cdc_apply`,
    and the streaming CDC materializer (``streaming/cdc.py``): per-key
    ``max(struct(field_cols))`` — lexicographic by field order, partial
    collapse scan-side, shuffle O(distinct keys) — unpacked back to
    columns. One definition so ordering semantics (NULL fields sort
    smallest; never a NULL struct) are fixed in exactly one place."""
    packed = F.struct(*[F.col(c) for c in field_cols])
    agg = df.groupBy(*key_cols).agg(F.max(packed).alias("_latest"))
    return agg.select(
        *key_cols,
        *[F.col(f"_latest.{c}").alias(c) for c in field_cols],
    )


def cdc_epoch0_rows(
    snapshot: DataFrame,
    changelog_schema,
    *,
    key_cols: "list[str]",
    order_cols: "list[str]",
    payload_cols: "list[str]",
    op_col: str,
) -> DataFrame:
    """Tag snapshot rows as epoch 0 — implicit upserts predating the
    whole log, with NULL order columns typed from the changelog schema."""
    return snapshot.select(
        F.lit(0).alias("_epoch"),
        *key_cols,
        *[
            F.lit(None).cast(changelog_schema[c].dataType).alias(c)
            for c in order_cols
        ],
        F.lit("U").alias(op_col),
        *payload_cols,
    )


def cdc_epoch1_rows(
    changelog: DataFrame,
    *,
    key_cols: "list[str]",
    order_cols: "list[str]",
    payload_cols: "list[str]",
    op_col: str,
) -> DataFrame:
    """Tag changelog rows as epoch 1 (they beat every epoch-0 row)."""
    return changelog.select(
        F.lit(1).alias("_epoch"), *key_cols, *order_cols, op_col, *payload_cols
    )


def cdc_apply(
    snapshot: DataFrame,
    changelog: DataFrame,
    *,
    key_cols: "list[str]",
    order_cols: "list[str]",
    payload_cols: "list[str]",
    op_col: str = "op",
) -> DataFrame:
    """Apply a CDC changelog to a snapshot: the materialized
    "table after replaying the log" — :func:`latest_by_key`'s sibling
    with DELETE semantics, the missing half of changelog → snapshot
    materialization (Debezium/Flink-CDC-style upsert streams; the
    reference's session store compaction is the I/U-only special case).

    Contract: ``snapshot`` holds base state (``key_cols`` +
    ``payload_cols``, no op column — every row an implicit upsert that
    predates the whole log); ``changelog`` additionally carries
    ``order_cols`` (the total per-key replay order: log sequence /
    event time + unique id) and ``op_col`` with ``'I'``/``'U'``
    (upsert — both set the payload) or ``'D'`` (tombstone). Output: one
    row per surviving key — the latest payload, with keys whose latest
    op is a delete ABSENT. Late-arriving ops are handled by order, not
    arrival: replaying the same union always yields the same state.

    Plan: tag snapshot rows epoch 0 / changelog epoch 1, union, and run
    the same single ``max(struct(epoch, order, op, payload))``
    aggregation as :func:`latest_by_key` — scan-side partial collapse,
    shuffle O(distinct keys), hot keys (one entity updated 10^9 times)
    collapse before the exchange. The delete filter runs on the
    aggregated relation (O(keys) rows). Snapshot order columns don't
    exist and don't need to: epoch 0 loses to every log row by the
    struct's leading field.

    Determinism contract (inherited): ``order_cols`` must be total
    within a key's log rows, and a key must not appear twice in the
    snapshot — both are caller invariants, not checked (checking
    requires an extra aggregation pass).
    """
    cdc_cols = dict(
        key_cols=key_cols,
        order_cols=order_cols,
        payload_cols=payload_cols,
        op_col=op_col,
    )
    snap = cdc_epoch0_rows(snapshot, changelog.schema, **cdc_cols)
    log = cdc_epoch1_rows(changelog, **cdc_cols)
    latest = max_struct_state(
        snap.unionByName(log),
        key_cols=key_cols,
        field_cols=["_epoch", *order_cols, op_col, *payload_cols],
    )
    return latest.where(F.col(op_col) != "D").select(
        *key_cols, *order_cols, *payload_cols
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    *,
    key_cols: "list[str]",
    payload_cols: "list[str]",
    include_unchanged: bool = False,
    digest_only: bool = False,
) -> DataFrame:
    """Key-level diff of two dataset versions: one row per key present in
    either snapshot, tagged ``status`` ∈ ``added`` (new only) /
    ``removed`` (old only) / ``changed`` (both, payload differs) /
    ``unchanged`` (both, payload identical — emitted only with
    ``include_unchanged``). The dataset-versioning primitive a corpus
    pipeline needs between crawls: what did this refresh actually touch —
    and the batch way to AUDIT what :func:`cdc_apply` replayed (apply a
    log, diff against the previous snapshot, get the net effect).

    Payload comparison is null-safe per column (``<=>``, member-wise on
    the struct — measured): a NULL→NULL field is unchanged, NULL→value
    is a change. Output: ``key_cols``, ``status``, and (unless
    ``digest_only``) the payload columns — the whole NEW payload when
    the key exists in ``new``, else the last OLD payload (the pick is
    per-SIDE, never per-column: a changed row whose new payload has a
    legitimate NULL field keeps that NULL, not the stale old value).

    Plan: each side projects to key + payload struct scan-side, one
    full-outer shuffle join on the keys, status/coalesce in codegen above
    it. Column pruning reaches both scans (only key + payload columns
    are read), AQE handles size skew between versions.

    Caller invariant (same class as :func:`cdc_apply`'s): ``key_cols``
    must be unique within EACH snapshot — a duplicated key makes the
    full-outer join emit that key's cross product, multiplying and
    misreporting the diff. Not checked (checking costs an extra
    aggregation pass per side); compare ``count`` with a distinct
    count of the keys first when upstream uniqueness is in doubt.

    ``digest_only=True`` is the 100 TB mode for wide payloads (document
    text): each side ships only ``xxhash64(to_json(struct(payload),
    ignoreNullFields=false))`` — 8 bytes per row through the shuffle
    instead of the corpus — and the output drops the payload columns.
    The JSON detour is deliberate: ``xxhash64`` over a raw struct SKIPS
    null fields, so ``("x", NULL)`` and ``(NULL, "x")`` collide —
    measured; the null-preserving JSON disambiguates. Contract: payload
    types must serialize stably (no maps — JSON key order is undefined).
    """
    if digest_only:
        pay = F.xxhash64(
            F.to_json(
                F.struct(*payload_cols), {"ignoreNullFields": "false"}
            )
        )
        o = old.select(*key_cols, pay.alias("_old"))
        n = new.select(*key_cols, pay.alias("_new"))
    else:
        o = old.select(*key_cols, F.struct(*payload_cols).alias("_old"))
        n = new.select(*key_cols, F.struct(*payload_cols).alias("_new"))
    j = o.join(n, on=key_cols, how="full_outer")
    status = (
        F.when(F.col("_old").isNull(), F.lit("added"))
        .when(F.col("_new").isNull(), F.lit("removed"))
        .when(F.col("_old").eqNullSafe(F.col("_new")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    pick = F.when(F.col("_new").isNotNull(), F.col("_new")).otherwise(
        F.col("_old")
    )
    out = j.select(
        *key_cols,
        status.alias("status"),
        *(
            []
            if digest_only
            else [pick.getField(c).alias(c) for c in payload_cols]
        ),
    )
    if not include_unchanged:
        out = out.where(F.col("status") != "unchanged")
    return out


def ngram_containment_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """``text_containment`` — all pairs with word-``k``-shingle
    CONTAINMENT ≥ ``threshold``, where containment is the asymmetric
    inclusion coefficient ``|A ∩ B| / min(|A|, |B|)`` (Broder's
    resemblance/containment split): the near-dup signal Jaccard
    structurally misses — a short document quoted wholesale inside a
    much longer one has containment ≈ 1 while its Jaccard ≈
    |small|/|large| ≈ 0, so a Jaccard-thresholded dedup never flags
    quote-inclusion, boilerplate-wrapping, or subset-document pairs.
    Training-data use: catching eval questions embedded inside web
    pages, and super/subset crawl duplicates.

    Plan: an inverted-index pairs-from-postings shape (one tokenizer
    pass carrying each doc's distinct-shingle count ``n``, ONE
    ``groupBy(shingle)`` with ``max_shingle_df`` dropping boilerplate
    shingles before the ``collect_list`` buffer and the quadratic
    explode, pair counts by grouped projection), then
    ``common / least(n_a, n_b)``. One Python stage, and no shuffle
    carries text.

    Output: ``(id_a, id_b, containment)`` with ``id_a < id_b``,
    containment rounded to 6 dp. Note the SYMMETRIC min-denominator
    form: the pair is reported once, not per direction — consumers
    that need to know WHICH side is the subset compare ``n_a``/``n_b``
    upstream (both engines agree on the count; re-deriving direction
    is a projection, not a second operator).
    """
    shingled = shingle_rows(
        df, id_col=id_col, text_col=text_col, k=k, with_n=True
    ).select("id", F.xxhash64("sh").alias("shingle"), "n")
    paired = bounded_posting_lists(
        shingled, ["shingle"], F.struct("id", "n"), max_size=max_shingle_df
    )
    common = (
        paired.select(F.explode(_pair_explode()).alias("p"))
        .groupBy(
            F.col("p.id_a.id").alias("id_a"),
            F.col("p.id_a.n").alias("n_a"),
            F.col("p.id_b.id").alias("id_b"),
            F.col("p.id_b.n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.withColumn(
            "containment",
            F.col("common") / F.least(F.col("n_a"), F.col("n_b")),
        )
        .where(F.col("containment") >= threshold)
        .select(
            "id_a", "id_b", F.round("containment", 6).alias("containment")
        )
    )
