"""``merge_upsert_cdf`` classifies change rows inside the merge's own
per-key aggregate. This property test pins it to the reference it
replaced: the input-vs-output diff below (a verbatim copy of the
former ``txlog._merge_change_frame``, five all-column self-joins and a
window), plus ``merge_upsert`` for the data rows. For any base and
batch — NULL payloads and keys, version ties the update wins, stale
updates, tombstones, fresh inserts, duplicate-key bases — both the
change rows and the data rows agree as multisets, and replaying the
batch onto the merged state yields no change rows at all."""

from __future__ import annotations

from collections import Counter
from collections.abc import Sequence

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame

from parquet_combiner_spark.operators.merge import (
    CHANGE_TYPE,
    merge_upsert,
    merge_upsert_cdf,
)


def _reference_change_frame(
    base_df: DataFrame,
    merged: DataFrame,
    keys: Sequence[str],
    version_cols: Sequence[str],
) -> DataFrame:
    """The former input-vs-output diff: rows leaving the state pair
    with their key's arriving winner as update_preimage (latest
    version) / update_postimage, other leaving rows are deletes, and
    a winner on a key with no base row is an insert."""
    from functools import reduce
    from operator import and_

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    cols = list(base_df.columns)
    old = base_df.select(*[F.col(c).alias(f"__old_{c}") for c in cols])

    def row_eq(a: DataFrame) -> object:
        return reduce(
            and_, [a[c].eqNullSafe(old[f"__old_{c}"]) for c in cols]
        )

    def key_eq(a: DataFrame, b: DataFrame, b_pfx: str = "") -> object:
        return reduce(
            and_,
            [a[k].eqNullSafe(b[f"{b_pfx}{k}"]) for k in keys],
        )

    arr = merged.join(old, row_eq(merged), "left_anti")
    lv = old.join(
        merged,
        reduce(
            and_,
            [old[f"__old_{c}"].eqNullSafe(merged[c]) for c in cols],
        ),
        "left_anti",
    )
    old_keys = old.select(*[f"__old_{k}" for k in keys]).distinct()
    post = arr.join(old_keys, key_eq(arr, old_keys, "__old_"), "left_semi")
    ins = arr.join(old_keys, key_eq(arr, old_keys, "__old_"), "left_anti")
    arr_keys = arr.select(*keys).distinct()
    lv_on = reduce(
        and_,
        [lv[f"__old_{k}"].eqNullSafe(arr_keys[k]) for k in keys],
    )
    lv_upd = lv.join(arr_keys, lv_on, "left_semi")
    lv_del = lv.join(arr_keys, lv_on, "left_anti")
    rn = F.row_number().over(
        Window.partitionBy(*[f"__old_{k}" for k in keys]).orderBy(
            *[
                F.col(f"__old_{c}").desc_nulls_last()
                for c in version_cols
            ]
        )
    )
    lv_upd = lv_upd.withColumn("__rn", rn)
    pre = lv_upd.where(F.col("__rn") == 1)
    dup_del = lv_upd.where(F.col("__rn") > 1)

    def tag_old(df: DataFrame, t: str) -> DataFrame:
        return df.select(
            *[F.col(f"__old_{c}").alias(c) for c in cols]
        ).withColumn("_change_type", F.lit(t))

    def tag_new(df: DataFrame, t: str) -> DataFrame:
        return df.select(*cols).withColumn("_change_type", F.lit(t))

    return (
        tag_old(pre, "update_preimage")
        .unionByName(tag_new(post, "update_postimage"))
        .unionByName(tag_new(ins, "insert"))
        .unionByName(tag_old(lv_del, "delete"))
        .unionByName(tag_old(dup_del, "delete"))
    )


_KEY = st.one_of(st.none(), st.integers(0, 5))
_VAL = st.one_of(st.none(), st.sampled_from(["a", "b"]))
_VER = st.integers(0, 3)
# base: duplicate keys allowed, one row per (key, version) — the
# reference's row_number is arbitrary on a version tie, so a tie
# inside one key's base rows has no single right preimage
_BASE = st.lists(
    st.tuples(_KEY, _VAL, st.one_of(st.none(), _VER)),
    max_size=12,
    unique_by=lambda r: (r[0], r[2]),
)
# batch: versions share the base's small domain, so ties (the update
# wins) and stale updates are common; one row per (key, version), as
# merge_upsert's determinism contract asks
_BATCH = st.lists(
    st.tuples(_KEY, _VAL, _VER, st.sampled_from(["U", "D", None])),
    min_size=1,
    max_size=10,
    unique_by=lambda r: (r[0], r[2]),
)


def _rows(df: DataFrame) -> Counter:
    return Counter(tuple(r) for r in df.collect())


@given(base=_BASE, batch=_BATCH)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
def test_merge_upsert_cdf_matches_reference_diff(spark, base, batch):
    base_df = spark.createDataFrame(base, "k int, v string, ver int")
    upd = spark.createDataFrame(
        batch, "k int, v string, ver int, op string"
    )
    got = merge_upsert_cdf(
        base_df, upd, ["k"], ["ver"], op_col="op"
    ).collect()
    data = Counter(tuple(r)[:-1] for r in got if r[CHANGE_TYPE] is None)
    changes = Counter(tuple(r) for r in got if r[CHANGE_TYPE] is not None)
    merged = merge_upsert(base_df, upd, ["k"], ["ver"], op_col="op")
    assert data == _rows(merged)
    assert changes == _rows(
        _reference_change_frame(base_df, merged, ["k"], ["ver"])
    )
    # a replayed batch finds every winner already in the state
    replay = merge_upsert_cdf(
        spark.createDataFrame(list(data.elements()), base_df.schema),
        upd, ["k"], ["ver"], op_col="op",
    ).collect()
    assert [r for r in replay if r[CHANGE_TYPE] is not None] == []
    assert Counter(tuple(r)[:-1] for r in replay) == data


@pytest.mark.parametrize("op_col", [None, "op"])
def test_merge_upsert_cdf_examples(spark, op_col):
    """The classes on one hand-built batch, with and without a
    tombstone column."""
    base_df = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, None, 1), (4, "x", 1), (4, "y", 2)],
        "k int, v string, ver int",
    )
    rows = [
        (1, "a2", 2, "U"),  # newer: update
        (2, "stale", 0, "U"),  # older: loses, no change
        (3, None, 1, "U"),  # NULL payload tie equal to base: nothing
        (4, "n", 5, "U"),  # duplicate-key base: preimage + delete
        (5, "d", 1, "D"),  # tombstone on a fresh key: nothing
        (6, "e", 1, "U"),  # fresh key: insert
    ]
    if op_col is None:
        rows = [r[:3] for r in rows if r[3] == "U"]
    upd = spark.createDataFrame(
        rows, "k int, v string, ver int" + (", op string" if op_col else "")
    )
    got = sorted(
        (tuple(r) for r in merge_upsert_cdf(
            base_df, upd, ["k"], ["ver"], op_col=op_col
        ).collect()),
        key=repr,
    )
    assert [r for r in got if r[3] is not None] == sorted(
        [
            (1, "a", 1, "update_preimage"),
            (1, "a2", 2, "update_postimage"),
            (4, "n", 5, "update_postimage"),
            (4, "x", 1, "delete"),
            (4, "y", 2, "update_preimage"),
            (6, "e", 1, "insert"),
        ],
        key=repr,
    )
    assert [r[:3] for r in got if r[3] is None] == sorted(
        [(1, "a2", 2), (2, "b", 1), (3, None, 1), (4, "n", 5), (6, "e", 1)],
        key=repr,
    )
