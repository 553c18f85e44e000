"""Merge/upsert (CDC apply) — latest-version-wins key compaction,
with optional delete/tombstone handling.

The reference engine has no mutation surface at all (its pipeline is
read → aggregate → write, reference services/Aggregations.scala), but
any table the engine maintains incrementally needs the MERGE step a
lakehouse runs on every CDC batch: base snapshot + update batch →
one surviving row per key, highest version wins, updates beating the
snapshot on version ties. With ``op_col`` the kernel covers the other
half of a real CDC feed — deletes: the latest row per key is chosen
across upserts AND tombstones, and a tombstone winner removes the key
(Delta/Iceberg ``WHEN MATCHED AND op='D' THEN DELETE``). This is the
kernel of Delta/Iceberg MERGE INTO restricted to whole-row changes —
expressed here as a pure DataFrame computation so it works on plain
parquet.

Plan shape: union (no shuffle) → groupBy(keys).max_by(payload,
version) — ONE exchange carrying one pre-combined row per key per
map partition; the tombstone filter is a post-aggregate predicate on
that combined row, so deletes add zero extra shuffles. ``max_by``
over a struct ordering runs as SortAggregate (struct buffers cannot
hash-aggregate), but both halves still partial-aggregate, so the
shuffle volume is bounded by the key cardinality, not the input size
— the property that matters at 100 TB, where the update batch is
small but the base is not. The window (``row_number() = 1``)
formulation would shuffle and sort EVERY row of base+updates; see
operators/dedup.py for the same tradeoff measured on the dedup
family.

:func:`merge_upsert_cdf` is the change-data twin: the same
aggregate also collects each key's base rows, so the change rows
(Delta's CDF classes) come out of one explode over the per-key rows
instead of a diff of the merge's input against its output. Both
kernels share one latest-wins rule (:func:`_latest_wins`).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_PRIORITY = "__src_priority"
_IS_DELETE = "__is_delete"
# the change-data column (Delta's CDF name); NULL marks a data row
CHANGE_TYPE = "_change_type"


def compact_tombstones(
    state: DataFrame,
    version_cols: Sequence[str],
    watermark: Sequence,
    retain_col: str,
) -> DataFrame:
    """The CDC low-watermark: drop retained tombstones whose version
    tuple is <= ``watermark`` (exclusive above), keeping the rest.

    A retained tombstone (see :func:`merge_upsert` ``retain_col``)
    exists to outrank out-of-order older upserts; once the feed
    guarantees no change older than ``watermark`` can still arrive
    (Kafka retention horizon, snapshot fence, batch window close),
    tombstones at or below it are dead weight and compact away. LIVE
    rows are never touched — only the flagged bookkeeping rows leave.
    Run it inside the same snapshot-overwrite the state store already
    does (a narrow filter — no shuffle).

    ``watermark`` is a tuple of literals matching ``version_cols``
    positionally, compared lexicographically (same ordering the merge
    uses)."""
    if len(watermark) != len(version_cols):
        raise ValueError(
            f"watermark arity {len(watermark)} != version_cols "
            f"{len(version_cols)}"
        )
    vstruct = F.struct(*[F.col(c) for c in version_cols])
    wstruct = F.struct(
        *[F.lit(w).alias(c) for c, w in zip(version_cols, watermark)]
    )
    return state.where(~F.col(retain_col) | (vstruct > wstruct))


def _latest_wins(
    base: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    version_cols: Sequence[str],
    op_col: str | None,
    delete_op: str,
    retain_col: str | None = None,
):
    """THE latest-wins rule behind :func:`merge_upsert` and
    :func:`merge_upsert_cdf`: check both sides' columns, union them
    with every row tagged by source priority (base 0, update 1) and,
    with ``op_col``, the NULL-safe tombstone flag. Returns ``(tagged,
    data columns, order)``; the per-key winner is the row with the
    greatest ``order`` — the ``version_cols`` tuple, then the
    priority, so an exact version tie goes to the update."""
    if retain_col is not None and op_col is None:
        raise ValueError("retain_col requires op_col")
    data_cols = [
        c for c in base.columns if retain_col is None or c != retain_col
    ]
    want_update_cols = set(data_cols) | ({op_col} if op_col else set())
    if want_update_cols != set(updates.columns):
        raise ValueError(
            "merge_upsert needs identical columns (plus op_col on the "
            f"update side, retain_col on the base side); got "
            f"base={base.columns} updates={updates.columns} "
            f"op_col={op_col} retain_col={retain_col}"
        )
    missing = [c for c in (*keys, *version_cols) if c not in data_cols]
    if missing:
        raise ValueError(f"key/version columns absent from inputs: {missing}")
    if op_col is not None:
        if retain_col is not None:
            tagged_base = base.withColumnRenamed(retain_col, _IS_DELETE)
        else:
            tagged_base = base.withColumn(_IS_DELETE, F.lit(False))
        # NULL-safe: a NULL op is NOT a delete. A bare == yields NULL
        # for NULL ops, which the tombstone filter (where(~flag)) then
        # DROPS — a null-op change row would silently act as a DELETE
        # (and in retain_col mode poison the retain flag) (ADVICE r8).
        tagged_updates = updates.withColumn(
            _IS_DELETE,
            F.coalesce(F.col(op_col) == F.lit(delete_op), F.lit(False)),
        ).drop(op_col)
    else:
        tagged_base, tagged_updates = base, updates
    tagged = tagged_base.withColumn(_PRIORITY, F.lit(0)).unionByName(
        tagged_updates.withColumn(_PRIORITY, F.lit(1))
    )
    order = F.struct(
        *[F.col(c) for c in version_cols], F.col(_PRIORITY)
    )
    return tagged, data_cols, order


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    version_cols: Sequence[str],
    op_col: str | None = None,
    delete_op: str = "D",
    retain_col: str | None = None,
) -> DataFrame:
    """One surviving row per ``keys``: the row with the greatest
    ``version_cols`` tuple across ``base`` ∪ ``updates``; on an exact
    version tie the update wins (CDC convention — the incoming batch
    is newer knowledge). Column order matches ``base``.

    ``op_col`` (a column of ``updates``, value ``delete_op`` marking a
    tombstone) enables delete semantics: the winner per key is chosen
    across upserts and tombstones by the SAME version ordering, and a
    tombstone winner deletes the key from the output. A later-VERSIONED
    upsert re-creates the key (ordering, not arrival, decides —
    replaying any batch is idempotent). ``base`` rows are live state
    and carry no op column. ``op_col`` is excluded from the output.

    ``retain_col`` (requires ``op_col``) keeps tombstone winners IN
    the output as a boolean column instead of filtering them — the
    incremental-apply form: when changes arrive split across batches,
    a delete must stay in the state (with its version) so an
    out-of-order lower-versioned upsert in a LATER batch still loses
    to it; discarding tombstones per batch would resurrect the key.
    ``base`` must then carry ``retain_col`` too (its own retained
    tombstones re-enter the race). Readers filter ``retain_col`` =
    false; retained tombstones are compacted away once no older
    version can arrive (the CDC low-watermark — deployment policy,
    not this kernel's job). This is why Delta keeps deletes reachable
    until VACUUM rather than dropping them at MERGE time.

    Without ``op_col``, keys are never deleted (the pre-r8 contract):
    rows present only in ``base`` pass through unchanged.

    Deterministic iff no two rows of the same source share both key
    and version tuple — make ``version_cols`` end in a unique id when
    the version itself can tie. With unique versions the merge is
    associative: any batch split applied incrementally (tombstones
    retained) converges to the one-shot compaction — pinned by
    pytest.
    """
    tagged, data_cols, order = _latest_wins(
        base, updates, keys, version_cols, op_col, delete_op, retain_col
    )
    payload = [c for c in data_cols if c not in keys]
    if op_col is not None:
        payload = [*payload, _IS_DELETE]
    picked = tagged.groupBy(*[F.col(k) for k in keys]).agg(
        F.max_by(F.struct(*payload), order).alias("__p")
    )
    out_cols = [
        c if c in keys else F.col(f"__p.{c}").alias(c) for c in data_cols
    ]
    if op_col is not None:
        if retain_col is not None:
            out_cols.append(F.col(f"__p.{_IS_DELETE}").alias(retain_col))
        else:
            # tombstone winner ⇒ the key is deleted: a post-aggregate
            # filter on the one combined row per key — no extra shuffle
            picked = picked.where(~F.col(f"__p.{_IS_DELETE}"))
    return picked.select(*out_cols)


def merge_upsert_cdf(
    base: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    version_cols: Sequence[str],
    op_col: str | None = None,
    delete_op: str = "D",
) -> DataFrame:
    """:func:`merge_upsert` together with its row-level CHANGE DATA
    (Delta's CDF classes), classified inside the same per-key
    aggregate. Output: the data columns plus ``_change_type``, which
    is NULL on the surviving data rows (exactly :func:`merge_upsert`'s
    output) and names each change row:

    * ``insert`` — the winner of a key with no base row;
    * ``update_postimage`` / ``update_preimage`` — a winner equal to
      none of its key's base rows, paired with the key's latest base
      row (greatest ``version_cols``);
    * ``delete`` — every other base row that leaves: a tombstoned
      key's rows, the older duplicates of an updated key, and base
      rows differing from a winner that equals another base row;
    * nothing — for a winner equal (NULL-safe, every column) to a
      base row, e.g. a stale update or a replayed batch.

    Plan: the one ``groupBy(keys)`` picks the winner with ``max_by``
    and collects the key's base rows newest first; array functions
    classify them and one explode emits data and change rows — no
    join and no second pass over the inputs."""
    tagged, data_cols, order = _latest_wins(
        base, updates, keys, version_cols, op_col, delete_op
    )
    row = F.struct(*data_cols)
    gone = F.col(_IS_DELETE) if op_col is not None else F.lit(False)
    base_row = F.struct(F.struct(*version_cols).alias("v"), row.alias("r"))
    per_key = tagged.groupBy(*keys).agg(
        F.max_by(F.struct(row.alias("r"), gone.alias("d")), order).alias(
            "__w"
        ),
        F.sort_array(
            F.collect_list(F.when(F.col(_PRIORITY) == 0, base_row)),
            asc=False,
        ).alias("__b"),
    )
    # one projection per derived column, so each is computed once
    win, live, bases = F.col("__r"), F.col("__live"), F.col("__bs")
    cls = per_key.select(
        F.col("__w.r").alias("__r"),
        (~F.col("__w.d")).alias("__live"),
        F.transform("__b", lambda b: b["r"]).alias("__bs"),
    ).withColumn(
        "__arr", live & ~F.exists(bases, lambda b: b.eqNullSafe(win))
    )
    arriving = F.col("__arr")
    entries = F.concat(
        F.array(
            change_entry(win, None, live),
            change_entry(
                win,
                F.when(F.size(bases) > 0, "update_postimage").otherwise(
                    "insert"
                ),
                arriving,
            ),
        ),
        F.transform(
            F.filter(bases, lambda b: ~live | ~b.eqNullSafe(win)),
            lambda b, i: change_entry(
                b,
                F.when(arriving & (i == 0), "update_preimage").otherwise(
                    "delete"
                ),
            ),
        ),
    )
    return explode_changes(cls, entries, data_cols)


def change_entry(row, kind, keep=True):
    """One candidate output row of :func:`explode_changes`: the ``row``
    struct, its change type (a Column or string; None marks a data
    row) and whether it is emitted."""
    kind = kind if isinstance(kind, Column) else F.lit(kind)
    keep = keep if isinstance(keep, Column) else F.lit(keep)
    return F.struct(
        row.alias("r"), kind.cast("string").alias("t"), keep.alias("k")
    )


def explode_changes(
    df: DataFrame, entries, cols: Sequence[str]
) -> DataFrame:
    """Each input row's kept :func:`change_entry` structs (``entries``,
    an array Column) as output rows of ``cols`` plus ``_change_type``
    — the one generator behind the change-data writers."""
    e = F.col("__e")
    return df.select(
        F.explode(F.filter(entries, lambda x: x["k"])).alias("__e")
    ).select(*[e["r"][c].alias(c) for c in cols], e["t"].alias(CHANGE_TYPE))


def merge_additive(
    base: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str],
) -> DataFrame:
    """Additive MERGE — the metric-store maintenance kernel: per
    ``keys``, the ``sum_cols`` of ``base`` and ``updates`` ADD (keys
    present in only one side pass through). This is how mergeable
    partial aggregates (counts, sums — anything commutative-
    associative) are maintained incrementally: each arriving batch is
    pre-aggregated to one row per key, then folded into the store
    with one key-cardinality-bounded shuffle — the stored table never
    re-scans history.

    Contract: columns must be exactly ``keys`` + ``sum_cols`` on both
    sides (an additive merge has no latest-wins payload; route
    non-additive columns through :func:`merge_upsert`). Unlike
    latest-wins, additive merge is NOT replay-idempotent — a replayed
    batch double-counts — so at-least-once sinks must pair it with an
    idempotence key (see ``streaming/txlog_sink.py``'s
    (query_id, epoch) recipe).
    """
    want = [*keys, *sum_cols]
    for side, df in (("base", base), ("updates", updates)):
        if sorted(df.columns) != sorted(want):
            raise ValueError(
                f"merge_additive needs exactly keys+sum_cols on {side}; "
                f"got {df.columns}, want {want}"
            )
    unioned = base.select(*want).unionByName(updates.select(*want))
    return unioned.groupBy(*[F.col(k) for k in keys]).agg(
        *[F.sum(c).alias(c) for c in sum_cols]
    )


def scd2_intervals(
    points: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    attrs: Sequence[str],
) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 derivation: attribute change
    POINTS (key, ts, attrs...) → validity INTERVALS — each row valid
    from its own timestamp until the key's next change (open-ended
    for the latest, flagged ``is_current``). The historical-join
    surface every dimension with history needs (as-of enrichment
    reads it back with ``operators/asof``).

    One window pass keyed on ``keys`` ordered by ``ts_col`` (``lead``
    — the partition is a key's change history, never the corpus).
    Consecutive points with identical attrs are NOT collapsed: a
    re-stated value is still a change point (collapse upstream with a
    lag-filter when the feed re-sends unchanged rows).

    Because the interval rebuild is a pure function of the change-
    point SET, SCD2 maintenance is ASSOCIATIVE: applying change
    batches incrementally (:func:`scd2_apply`) equals the one-shot
    derivation over all points — pinned by pytest.

    Output: (*keys, *attrs, valid_from, valid_to, is_current);
    ``valid_to`` NULL on the current row, else the next change's ts
    (half-open [valid_from, valid_to) — the join-friendly convention).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(ts_col)
    nxt = F.lead(ts_col).over(w)
    return points.select(
        *keys,
        *attrs,
        F.col(ts_col).alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


def _broadcastable(rows: DataFrame, max_keys: int | None) -> bool:
    """Size gate for broadcasting a key set: probe the PRE-distinct
    projection with a LIMIT(max+1) count — the scan short-circuits at
    the cap with no aggregation in the plan (a distinct under the
    limit would shuffle the whole batch before the LocalLimit ever
    fired), so deciding costs O(max_keys) rows read. Row count bounds
    key count, so "≤ cap rows" proves the key set broadcasts; a
    many-rows/few-keys batch conservatively falls back to the shuffle
    path, which is always safe. None disables broadcasting
    outright."""
    if max_keys is None:
        return False
    return rows.limit(max_keys + 1).count() <= max_keys


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    ts_col: str = "valid_from",
    attrs: Sequence[str] | None = None,
    max_broadcast_keys: int | None = 1_000_000,
) -> DataFrame:
    """Apply a change batch to an existing SCD2 dimension: rows whose
    key changed get their ``valid_to`` closed at the change's
    timestamp, the new versions open (NULL ``valid_to``), untouched
    keys pass through — Kimball's Type-2 MERGE.

    Implementation leans on associativity instead of a
    case-by-case MERGE: the dimension collapses back to its change
    POINTS (every row is one), the batch's points union in (a change
    batch carries (*keys, *attrs, ts) — its ``ts`` column must be
    named ``valid_from`` or passed via ``ts_col``), and the intervals
    rebuild in one key-partitioned window. Out-of-order and
    intra-batch multi-changes are handled by construction — ordering
    decides, not arrival.

    Scale: only keys PRESENT in the batch can change rows, so the
    rebuild is pruned to the touched keys — the batch's (usually
    tiny) key set drives a semi join selecting the histories to
    rewrite and an anti join passing the untouched remainder through.
    The window therefore sorts O(|batch keys| × history) rows, never
    the dimension. The key set is SIZE-GATED
    (``max_broadcast_keys``): up to the cap it broadcasts (at 100 TB
    the dominant cost is then the two broadcast-probed dimension
    scans); a backfill-sized batch that exceeds it falls back to
    plain shuffle semi/anti joins instead of blowing the driver —
    the probe is a LIMIT-bounded count, so deciding costs O(cap)
    rows, not a scan of the batch. ``None`` forces the shuffle path.
    """
    if attrs is None:
        attrs = [
            c
            for c in dim.columns
            if c not in (*keys, "valid_from", "valid_to", "is_current")
        ]
    out_cols = [*keys, *attrs, "valid_from", "valid_to", "is_current"]
    touched = changes.select(*keys).distinct()
    # probe the raw projection, not `touched`: counting through the
    # distinct would shuffle the full batch just to decide
    if _broadcastable(changes.select(*keys), max_broadcast_keys):
        touched = F.broadcast(touched)
    dim_points = (
        dim.join(touched, list(keys), "left_semi")
        .select(*keys, *attrs, F.col("valid_from").alias(ts_col))
    )
    untouched = dim.join(
        touched, list(keys), "left_anti"
    ).select(*out_cols)
    change_points = changes.select(*keys, *attrs, F.col(ts_col))
    rebuilt = scd2_intervals(
        dim_points.unionByName(change_points), keys, ts_col, attrs
    ).select(*out_cols)
    return untouched.unionByName(rebuilt)
