"""``table_changes(v-1, v)`` against the snapshot diff it stands for.

One-version steps are built from the commit record when it says what
changed (appends, deletion-vector deletes, ``cdf=True`` DML); every
other step diffs the two snapshots. Either way the batch must be the
multiset ``snapshot_diff(read_table(v-1), read_table(v))`` gives, so a
hypothesis property drives random verb sequences and checks every
version. A plan-shape test pins what the record paths save: no shuffle
and no row hash for appends and DV deletes, one key shuffle for
``cdf=True`` DML.
"""

from __future__ import annotations

import re
from collections import Counter

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from parquet_combiner_spark.tools import txlog
from parquet_combiner_spark.tools.diff import snapshot_diff

# the slow build-mutate-read half of the gate (see pytest.ini)
pytestmark = pytest.mark.txlifecycle

_SCHEMA = "k long, v string, ts long"
_OPS = (
    "append", "null", "merge", "merge_cdf", "del_dv", "del_dv_cdf",
    "del_cow", "del_cow_cdf", "update", "noop_update", "rename",
    "restore", "optimize",
)


def _payload(spark, table) -> str:
    """The payload column's current (possibly renamed) name."""
    return txlog.read_table(spark, table).columns[1]


def _run(spark, table, op, i, keys, step):
    """Apply one verb; ``keys`` lists every non-NULL key ever added
    (fresh keys come from its length, so keys stay unique)."""
    pick = keys[i % len(keys)]
    v = _payload(spark, table)
    schema = f"k long, {v} string, ts long"
    if op in ("append", "null"):
        rows = [(None, f"n{i}", 1)] if op == "null" else [
            (len(keys), f"a{i}", 1), (len(keys) + 1, f"b{i}", 1)
        ]
        keys += [k for k, _, _ in rows if k is not None]
        txlog.commit(spark.createDataFrame(rows, schema), table)
    elif op.startswith("merge"):
        gone = keys[(i + 1) % len(keys)]
        rows = [(pick, f"m{i}", 100 + step, "U"), (len(keys), "new", 1, "U")]
        if gone != pick:
            rows.append((gone, None, 100 + step, "D"))
        keys.append(len(keys))
        txlog.merge_into(
            spark, table,
            spark.createDataFrame(rows, f"{schema}, op string"),
            keys=["k"], version_cols=["ts"], op_col="op",
            cdf=op == "merge_cdf",
        )
    elif op.startswith("del"):
        txlog.delete_where_expr(
            spark, table, f"k = {pick}",
            mode="dv" if "dv" in op else "cow", cdf=op.endswith("cdf"),
        )
    elif op in ("update", "noop_update"):
        txlog.update_where_expr(
            spark, table, f"k = {pick}",
            {v: v if op == "noop_update" else f"'u{i}'"},
            mode=("dv", "cow")[i % 2], cdf=i % 4 < 2,
        )
    elif op == "rename":
        txlog.rename_column(table, v, f"v{step}")
    elif op == "restore":
        txlog.restore(table, max(0, txlog.current_version(table) - 1 - i % 3))
    else:
        txlog.optimize(spark, table)


def _outcome(batch):
    """The batch as a multiset of rows, or the error type building it
    raised (the diff refuses a changed column set)."""
    try:
        return Counter(tuple(r) for r in batch().collect())
    except ValueError as e:
        return type(e)


def _check_every_version(spark, table):
    for v in range(txlog.current_version(table) + 1):
        new = txlog.read_table(spark, table, v)
        old = txlog.read_table(spark, table, v - 1) if v else new.limit(0)
        want = _outcome(lambda: snapshot_diff(old, new, ["k"]))
        got = _outcome(
            lambda: txlog.table_changes(spark, table, v - 1, v, keys=["k"])
        )
        assert got == want, (v, txlog._read_log(table)[v]["action"])


@settings(
    max_examples=3,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.sampled_from(_OPS), st.integers(0, 7)),
        min_size=1,
        max_size=5,
    )
)
@example(
    # every record path and every fallback at least once (indices
    # picked so each verb hits a live key)
    [
        ("append", 0), ("del_dv", 1), ("merge_cdf", 2), ("null", 0),
        ("merge", 0), ("del_dv_cdf", 4), ("update", 5), ("del_cow", 5),
        ("update", 2), ("noop_update", 0), ("del_cow_cdf", 2),
        ("rename", 0), ("merge_cdf", 3), ("del_dv", 6), ("optimize", 0),
        ("restore", 1), ("append", 4),
    ]
)
def test_table_changes_matches_snapshot_diff(spark, tmp_path_factory, ops):
    table = str(tmp_path_factory.mktemp("parity") / "t")
    txlog.commit(
        spark.createDataFrame(
            [(0, "x", 1), (1, "y", 1), (None, "z", 1)], _SCHEMA
        ).coalesce(1),
        table,
        stats_cols=["k"],
    )
    keys = [0, 1]
    for step, (op, i) in enumerate(ops):
        _run(spark, table, op, i, keys, step)
    _check_every_version(spark, table)


def test_record_batches_plan_shapes(spark, tmp_path):
    """Appends and DV-only deletes build their batch with no shuffle
    and no row hash (the DV anti-join's broadcast is allowed); a
    cdf=True merge shuffles once, by key. Across an expired version
    table_changes still raises."""
    table = str(tmp_path / "t")
    txlog.commit(
        spark.createDataFrame([(k, "x", 1) for k in range(6)], _SCHEMA),
        table, stats_cols=["k"],
    )
    txlog.delete_where_expr(spark, table, "k = 0", mode="dv")
    txlog.commit(spark.createDataFrame([(6, "y", 1)], _SCHEMA), table)
    txlog.delete_where_expr(spark, table, "k = 1", mode="dv")
    txlog.merge_into(
        spark, table,
        spark.createDataFrame(
            [(2, "m", 9, "U"), (3, None, 9, "D")], f"{_SCHEMA}, op string"
        ),
        keys=["k"], version_cols=["ts"], op_col="op", cdf=True,
    )
    plan = {}
    for v in (2, 3, 4):
        # \bExchange\b: shuffle exchanges only, not BroadcastExchange
        batch = txlog.table_changes(spark, table, v - 1, v, keys=["k"])
        executed = batch._jdf.queryExecution().executedPlan().toString()
        plan[v] = (
            len(re.findall(r"\bExchange\b", executed)),
            "sha2" in executed,
        )
    assert plan[2] == (0, False), plan  # append over a DV'd snapshot
    assert plan[3] == (0, False), plan  # DV-only delete
    assert plan[4][0] == 1, plan  # cdf=True merge: one key shuffle
    assert dict(
        (r["k"], r["change"])
        for r in txlog.table_changes(spark, table, 3, 4, keys=["k"]).collect()
    ) == {2: "changed", 3: "removed", 4: "unchanged", 5: "unchanged",
          6: "unchanged"}
    txlog.expire_versions(table, 3)
    with pytest.raises(ValueError, match="expired"):
        txlog.table_changes(spark, table, 2, 3, keys=["k"])
