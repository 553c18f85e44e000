"""Snapshot diff: what changed between two versions of a keyed table.

The regression check a pipeline runs after every rewrite job ("did
the new code change rows it shouldn't have?"). Rows are compared by
a 256-bit content hash of their NON-KEY columns, so the diff join
carries (key, hash) — never the payload — and classifies each key as
added / removed / changed / unchanged in ONE full-outer join.

Column-order independence: the hash input is the non-key columns in
NAME order, so reordering columns between snapshots is not a diff.
Type changes ARE a diff (the hash covers the cast string form).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _row_hash(cols: Sequence[str], keys: Sequence[str]):
    """The content hash of a row's NON-KEY columns among ``cols``, in
    name order: the Column both sides of :func:`snapshot_diff`
    compare (and ``txlog.table_changes`` computes over change rows)."""
    payload = sorted(c for c in cols if c not in keys)
    # self-delimiting canonical form: each value serializes as
    # v<len>:<chars> (nulls as the single token n), so the
    # concatenation is uniquely parseable — no separator that could
    # also appear INSIDE a value can shift bytes across column
    # boundaries and collide two different rows
    def token(c: str):
        s = F.col(c).cast("string")
        return F.coalesce(
            F.concat(F.lit("v"), F.length(s).cast("string"), F.lit(":"), s),
            F.lit("n"),
        )

    return F.sha2(F.concat(*[token(c) for c in payload]), 256)


def _keyed_hash(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    return df.select(*keys, _row_hash(df.columns, keys).alias("__h"))


def snapshot_diff(
    old: DataFrame, new: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Per-key change classification: (``keys``..., change) with
    change ∈ {added, removed, changed, unchanged}. Requires ``keys``
    unique in each snapshot (validate_table first) and identical
    non-key column SETS (order-independent); raises on column drift
    because a silent schema change is itself the regression.

    A NULL key equals nothing, so the join never matches it: each
    old row with a NULL in any key column is ``removed`` and each new
    one ``added``, even when the row itself is unchanged."""
    o_cols = sorted(c for c in old.columns if c not in keys)
    n_cols = sorted(c for c in new.columns if c not in keys)
    if o_cols != n_cols:
        raise ValueError(
            f"snapshot columns differ: old-only="
            f"{sorted(set(o_cols) - set(n_cols))} new-only="
            f"{sorted(set(n_cols) - set(o_cols))}"
        )
    o = _keyed_hash(old, keys).withColumnRenamed("__h", "__h_old")
    n = _keyed_hash(new, keys).withColumnRenamed("__h", "__h_new")
    joined = o.join(n, list(keys), "full_outer")
    change = (
        F.when(F.col("__h_old").isNull(), F.lit("added"))
        .when(F.col("__h_new").isNull(), F.lit("removed"))
        .when(F.col("__h_old") == F.col("__h_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(*keys, change.alias("change"))


def diff_summary(
    old: DataFrame, new: DataFrame, keys: Sequence[str]
) -> dict[str, int]:
    """Counts per change class (absent classes are 0)."""
    rows = (
        snapshot_diff(old, new, keys)
        .groupBy("change")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    out = {"added": 0, "removed": 0, "changed": 0, "unchanged": 0}
    out.update({r["change"]: r["n"] for r in rows})
    return out
