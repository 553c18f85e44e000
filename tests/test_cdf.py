"""Change data feed from RECORDED change files (Delta's CDF): DML
verbs called with ``cdf=True`` write their change rows (insert /
delete / update_preimage / update_postimage) in the SAME Parquet
write as their data rows, partitioned by ``_change_type``: the data
partition's files are the commit's ``add``, the others its
``change_files``, and the change type rides the path.
``table_changes_cdf`` then serves row-level deltas stamped
``_commit_version``, reading O(changed rows) instead of diffing two
full snapshots; change files written before the type moved into the
path (an in-file ``_change_type`` column) still read back.
Maintenance (dataChange=false) and ALTER commits contribute nothing;
a data-changing commit without change files refuses loudly."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from parquet_combiner_spark.tools import txlog

# the slow build-mutate-read half of the gate (see pytest.ini)
pytestmark = pytest.mark.txlifecycle


def _base(spark, table, n=20):
    txlog.commit(
        spark.createDataFrame(
            [Row(k=i, v=f"v{i}") for i in range(n)], "k int, v string"
        ).coalesce(1),
        table,
        stats_cols=["k"],
    )


def _feed(spark, table, after=0, to=None):
    return sorted(
        (
            r["k"],
            r["v"],
            r["_change_type"],
            r["_commit_version"],
        )
        for r in txlog.table_changes_cdf(
            spark, table, after, to
        ).collect()
    )


def test_cdf_delete_update_insert_roundtrip(spark, tmp_path):
    table = str(tmp_path / "t")
    _base(spark, table)
    txlog.delete_where_expr(spark, table, "k BETWEEN 3 AND 5", cdf=True)
    txlog.update_where_expr(
        spark, table, "k >= 18", {"v": "upper(v)"}, mode="dv", cdf=True
    )
    txlog.commit(
        spark.createDataFrame([Row(k=100, v="new")], "k int, v string"),
        table,
    )
    got = _feed(spark, table)
    assert [r for r in got if r[3] == 1] == [
        (3, "v3", "delete", 1),
        (4, "v4", "delete", 1),
        (5, "v5", "delete", 1),
    ]
    ups = [r for r in got if r[3] == 2]
    assert len(ups) == 4
    assert (18, "v18", "update_preimage", 2) in ups
    assert (18, "V18", "update_postimage", 2) in ups
    assert [r for r in got if r[3] == 3] == [(100, "new", "insert", 3)]
    # to_version bounds the feed; after_version skips the prefix
    assert len(_feed(spark, table, after=1, to=2)) == 4


def test_cdf_cow_and_dv_modes_agree(spark, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    for t in (a, b):
        _base(spark, t)
    txlog.update_where(
        spark, a, "k", 7, 9, {"v": "'x'"}, cdf=True
    )
    txlog.update_where(
        spark, b, "k", 7, 9, {"v": "'x'"}, mode="dv", cdf=True
    )
    txlog.delete_where(spark, a, "k", 0, 1, cdf=True)
    txlog.delete_where(spark, b, "k", 0, 1, mode="dv", cdf=True)
    assert _feed(spark, a) == _feed(spark, b)
    assert len(_feed(spark, a)) == 6 + 2


def test_cdf_skips_maintenance_and_alters(spark, tmp_path):
    table = str(tmp_path / "t")
    _base(spark, table)
    txlog.delete_where_expr(spark, table, "k < 2", cdf=True)
    txlog.optimize(spark, table, target_file_mb=64)  # dataChange=false
    txlog.add_constraint(spark, table, "k_pos", "k >= 0")  # ALTER
    txlog.commit(
        spark.createDataFrame([Row(k=50, v="a")], "k int, v string"),
        table,
    )
    got = _feed(spark, table)
    assert {r[2] for r in got} == {"delete", "insert"}
    assert len(got) == 3


def test_cdf_refuses_unrecorded_dml_and_real_overwrites(
    spark, tmp_path
):
    table = str(tmp_path / "t")
    _base(spark, table)
    txlog.delete_where(spark, table, "k", 0, 0)  # cdf NOT requested
    with pytest.raises(ValueError, match="cdf=True"):
        txlog.table_changes_cdf(spark, table, 0)
    # bounded reads before the gap still work
    assert _feed(spark, table, after=0, to=0) == []
    t2 = str(tmp_path / "t2")
    _base(spark, t2)
    txlog.commit(
        spark.createDataFrame([Row(k=55, v="x")], "k int, v string"),
        t2,
    )
    txlog.restore(t2, 0)  # real rollback: the file list changes
    with pytest.raises(ValueError, match="cdf=True"):
        txlog.table_changes_cdf(spark, t2, 0)
    # (a restore TO the current state would be a metadata-only
    # re-reference and is correctly skipped, not refused)


def test_cdf_under_column_mapping_and_partition_layout(spark, tmp_path):
    """Change files hold PHYSICAL names; the feed resolves them back
    through each commit's own mapping, and partitioned appends
    materialize their path values in the insert rows."""
    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [Row(k=i, day=i % 2, v=f"v{i}") for i in range(10)],
        "k int, day int, v string",
    )
    txlog.commit(df, table, partition_by=["day"], stats_cols=["k"])
    txlog.rename_column(table, "v", "val")
    txlog.update_where_expr(
        spark, table, "k = 4", {"val": "'upd'"}, mode="dv", cdf=True
    )
    txlog.commit(
        spark.createDataFrame(
            [Row(k=77, day=1, val="n")], "k int, day int, val string"
        ),
        table,
    )
    got = txlog.table_changes_cdf(spark, table, after_version=1)
    rows = sorted(
        (r["k"], r["day"], r["val"], r["_change_type"])
        for r in got.collect()
    )
    assert rows == [
        (4, 0, "upd", "update_postimage"),
        (4, 0, "v4", "update_preimage"),
        (77, 1, "n", "insert"),
    ]


def test_cdf_change_files_survive_vacuum_until_expiry(spark, tmp_path):
    table = str(tmp_path / "t")
    _base(spark, table)
    txlog.delete_where_expr(spark, table, "k < 3", cdf=True)
    rec = txlog._last_commit(table)
    assert rec["change_files"]
    ch = rec["change_files"][0]
    assert txlog.vacuum(table, min_age_seconds=0) == []  # referenced
    assert os.path.isfile(os.path.join(table, ch))
    # expiry drops the referencing record → the change file is garbage
    v = txlog.optimize(spark, table, target_file_mb=64)
    txlog.expire_versions(table, keep_from=v)
    gone = txlog.vacuum(table, min_age_seconds=0)
    assert ch in gone
    assert not os.path.exists(os.path.join(table, ch))


def test_cdf_zero_row_dml_records_empty_delta(spark, tmp_path):
    """A cow DML run with cdf=True that zone-map-touches files but
    matches ZERO rows must still record its (empty) change data —
    the feed treats it as a zero-delta commit, not as missing change
    data (which would poison every later table_changes_cdf over the
    range even though the table always ran DML with cdf=True)."""
    t = str(tmp_path / "t")
    _base(spark, t)
    v = txlog.update_where_expr(
        spark, t, "k = 5 AND v = 'nope'", {"v": "'never'"}, cdf=True
    )
    assert v == 1  # cow rewrite committed (byte-equal copy)
    rec = txlog._last_commit(t)
    assert rec["action"] == "replace"
    assert "change_files" in rec  # possibly [] — but RECORDED
    txlog.delete_where_expr(spark, t, "k >= 18", cdf=True)
    feed = _feed(spark, t)
    # zero rows from the no-op update, two deletes from the delete
    assert [x for x in feed if x[3] == 1] == []
    assert [(x[0], x[2]) for x in feed if x[3] == 2] == [
        (18, "delete"),
        (19, "delete"),
    ]


def test_republish_classifier_ignores_stale_dv_entries(spark, tmp_path):
    """_is_metadata_only_republish must compare deletion vectors only
    over the record's own file list: the snapshot can retain a stale
    dv entry for a file a later replace removed, while
    _republish_head filters kept_dvs to current rels — the ALTER
    must still classify metadata-only so incremental readers ride
    through it."""
    t = str(tmp_path / "t")
    _base(spark, t)  # v0: one file
    # v1: DV-delete two rows (dv entry on file A)
    txlog.delete_where(spark, t, "k", 0, 1, mode="dv")
    # v2: cow rewrite removes file A (its dv entry may linger in
    # stale snapshot paths) and adds file B
    txlog.delete_where(spark, t, "k", 2, 3, mode="cow")
    # v3: ALTER-shaped republish (constraint add)
    txlog.add_constraint(spark, t, "k_nonneg", "k >= 0")
    rec = txlog._last_commit(t)
    assert txlog._is_metadata_only_republish(t, rec)
    # incremental consumer rides through the ALTER
    got = txlog.read_appends(spark, t, after_version=2)
    assert got.count() == 0


def _apply_feed(spark, base_rows, feed_df, key_cols, all_cols):
    """Replay a CDF feed onto a base snapshot: drop delete /
    update_preimage rows, add insert / update_postimage rows."""
    drop = {
        tuple(r[c] for c in all_cols)
        for r in feed_df.where(
            F.col("_change_type").isin("delete", "update_preimage")
        ).collect()
    }
    add = [
        tuple(r[c] for c in all_cols)
        for r in feed_df.where(
            F.col("_change_type").isin("insert", "update_postimage")
        ).collect()
    ]
    kept = [t for t in base_rows if t not in drop]
    return sorted(kept + add)


def test_merge_into_cdf_classes_and_replay(spark, tmp_path):
    """merge_into(cdf=True): the recorded feed carries Delta's four
    classes, and replaying it onto the base snapshot reconstructs
    the committed end state exactly — the CDC chain is replayable
    from change files alone, no snapshot diff."""
    t = str(tmp_path / "state")
    base = spark.createDataFrame(
        [Row(k=1, v="a", ver=1), Row(k=2, v="b", ver=1),
         Row(k=3, v="c", ver=1)],
        "k int, v string, ver int",
    ).coalesce(1)
    txlog.commit(base, t, stats_cols=["k"])
    upd = spark.createDataFrame(
        [Row(k=1, v="a2", ver=2, op="U"),   # newer: update
         Row(k=2, v="stale", ver=0, op="U"),  # older: loses, no change
         Row(k=3, v=None, ver=2, op="D"),   # tombstone: delete
         Row(k=4, v="d", ver=1, op="U")],   # fresh key: insert
        "k int, v string, ver int, op string",
    )
    txlog.merge_into(
        spark, t, upd, keys=["k"], version_cols=["ver"],
        op_col="op", cdf=True,
    )
    feed = txlog.table_changes_cdf(spark, t, after_version=0)
    got = sorted(
        (r.k, r.v, r.ver, r._change_type) for r in feed.collect()
    )
    assert got == [
        (1, "a", 1, "update_preimage"),
        (1, "a2", 2, "update_postimage"),
        (3, "c", 1, "delete"),
        (4, "d", 1, "insert"),
    ]
    cols = ["k", "v", "ver"]
    replayed = _apply_feed(
        spark,
        [tuple(r[c] for c in cols) for r in base.collect()],
        feed,
        ["k"],
        cols,
    )
    now = sorted(
        tuple(r[c] for c in cols)
        for r in txlog.read_table(spark, t).collect()
    )
    assert replayed == now == [(1, "a2", 2), (2, "b", 1), (4, "d", 1)]


def test_merge_into_cdf_duplicate_key_base_still_replays(
    spark, tmp_path
):
    """A base with duplicate keys (not the state invariant, but
    reachable) still yields a feed whose replay reconstructs the end
    state: the latest-versioned leaving row is the update_preimage,
    the extra duplicates are plain deletes."""
    t = str(tmp_path / "state")
    base = spark.createDataFrame(
        [Row(k=1, v="old1", ver=1), Row(k=1, v="old2", ver=2),
         Row(k=2, v="b", ver=1)],
        "k int, v string, ver int",
    ).coalesce(1)
    txlog.commit(base, t, stats_cols=["k"])
    upd = spark.createDataFrame(
        [Row(k=1, v="new", ver=5, op="U")],
        "k int, v string, ver int, op string",
    )
    txlog.merge_into(
        spark, t, upd, keys=["k"], version_cols=["ver"],
        op_col="op", cdf=True,
    )
    feed = txlog.table_changes_cdf(spark, t, after_version=0)
    got = sorted(
        (r.k, r.v, r.ver, r._change_type) for r in feed.collect()
    )
    # latest duplicate (ver=2) is the preimage; ver=1 dupe deletes
    assert got == [
        (1, "new", 5, "update_postimage"),
        (1, "old1", 1, "delete"),
        (1, "old2", 2, "update_preimage"),
    ]
    cols = ["k", "v", "ver"]
    replayed = _apply_feed(
        spark,
        [tuple(r[c] for c in cols) for r in base.collect()],
        feed,
        ["k"],
        cols,
    )
    now = sorted(
        tuple(r[c] for c in cols)
        for r in txlog.read_table(spark, t).collect()
    )
    assert replayed == now == [(1, "new", 5), (2, "b", 1)]


def _kv_table(spark, table, n=20):
    txlog.commit(
        spark.createDataFrame(
            [Row(k=i, v=f"v{i}", ver=1) for i in range(n)],
            "k int, v string, ver int",
        ).coalesce(1),
        table,
        stats_cols=["k"],
    )


def _batch(spark, rows):
    return spark.createDataFrame(rows, "k int, val string, ver int, op string")


_VERBS = {
    "merge": lambda spark, t: txlog.merge_into(
        spark, t,
        _batch(
            spark, [(1, "u", 2, "U"), (2, None, 2, "D"), (50, "n", 1, "U")]
        ),
        keys=["k"], version_cols=["ver"], op_col="op", cdf=True,
    ),
    "cow_delete": lambda spark, t: txlog.delete_where_expr(
        spark, t, "k < 3", cdf=True
    ),
    "cow_update": lambda spark, t: txlog.update_where_expr(
        spark, t, "k < 3", {"val": "upper(val)"}, cdf=True
    ),
    "dv_update": lambda spark, t: txlog.update_where_expr(
        spark, t, "k < 3", {"val": "upper(val)"}, mode="dv", cdf=True
    ),
    "dv_delete": lambda spark, t: txlog.delete_where_expr(
        spark, t, "k < 3", mode="dv", cdf=True
    ),
}


@pytest.mark.parametrize("verb", sorted(_VERBS))
def test_cdf_dml_lands_data_and_change_files_in_one_write(
    spark, tmp_path, verb
):
    """Every cdf=True DML verb runs ONE Parquet write: the commit's
    data and change files share the one write directory the verb
    creates, and every file — data or change — holds exactly the
    table's physical columns (``v`` survives the rename to ``val``;
    the change type rides the path, not the file)."""
    import pyarrow.parquet as pq

    def write_dirs():
        return {
            os.path.join(top, d)
            for top in ("data", "changes")
            if os.path.isdir(os.path.join(t, top))
            for d in os.listdir(os.path.join(t, top))
        }

    t = str(tmp_path / "t")
    _kv_table(spark, t)
    txlog.rename_column(t, "v", "val")
    before = write_dirs()
    _VERBS[verb](spark, t)
    rec = txlog._last_commit(t)
    assert rec["version"] == 2 and rec["change_files"]
    # every write action lands in a directory of its own
    write_dir = os.path.join("data", rec["commit_id"])
    assert write_dirs() - before == {write_dir}
    rels = rec["add"] + rec["change_files"]
    assert all(r.startswith(write_dir + os.sep) for r in rels)
    for r in rels:
        assert pq.read_schema(os.path.join(t, r)).names == ["k", "v", "ver"]
    kinds = {txlog._partition_values(r)["_change_type"] for r in rels}
    assert kinds == {
        r["_change_type"]
        for r in txlog.table_changes_cdf(spark, t, 1).collect()
    } | ({None} if rec["add"] else set())


def test_cdf_split_write_enforces_constraints_on_data_rows(
    spark, tmp_path
):
    """A CHECK violation in a cdf=True write raises and publishes
    nothing; a valid one commits with its change rows, and only data
    rows are checked."""
    t = str(tmp_path / "t")
    _kv_table(spark, t)
    txlog.add_constraint(spark, t, "v_set", "length(v) > 0")
    head = txlog.current_version(t)
    with pytest.raises(txlog.ConstraintViolation, match="v_set"):
        txlog.update_where_expr(spark, t, "k < 3", {"v": "''"}, cdf=True)
    assert txlog.current_version(t) == head
    txlog.merge_into(
        spark, t,
        spark.createDataFrame(
            [(1, "w", 2, "U")], "k int, v string, ver int, op string"
        ),
        keys=["k"], version_cols=["ver"], op_col="op", cdf=True,
    )
    assert sorted(
        (r.k, r.v, r._change_type)
        for r in txlog.table_changes_cdf(spark, t, head).collect()
    ) == [(1, "v1", "update_preimage"), (1, "w", "update_postimage")]
    # change rows are history, not table rows: only data rows count
    v = txlog.commit(
        spark.createDataFrame(
            [(30, "ok", 1, None), (31, "", 1, "delete")],
            "k int, v string, ver int, _change_type string",
        ),
        t,
        change_files=txlog.CHANGE_TYPE,
    )
    assert v == head + 2
    assert txlog.read_table(spark, t).where("k >= 30").count() == 1


def test_cdf_merge_edge_cases(spark, tmp_path):
    """A merge whose tombstones empty every touched file publishes a
    replace that adds nothing; a merge that changes nothing (a
    replayed batch) still records change_files: []."""
    t = str(tmp_path / "t")
    _kv_table(spark, t, n=3)
    gone = spark.createDataFrame(
        [(k, None, 9, "D") for k in range(3)],
        "k int, v string, ver int, op string",
    )
    txlog.merge_into(
        spark, t, gone, keys=["k"], version_cols=["ver"], op_col="op",
        cdf=True,
    )
    rec = txlog._last_commit(t)
    assert rec["action"] == "replace" and rec["add"] == []
    assert len(rec["remove"]) == 1
    assert txlog.read_table(spark, t).count() == 0
    assert sorted(_feed(spark, t)) == [
        (k, f"v{k}", "delete", 1) for k in range(3)
    ]
    u = str(tmp_path / "u")
    _kv_table(spark, u, n=3)
    batch = spark.createDataFrame(
        [(1, "w", 2, "U")], "k int, v string, ver int, op string"
    )
    for _ in range(2):
        txlog.merge_into(
            spark, u, batch, keys=["k"], version_cols=["ver"],
            op_col="op", cdf=True,
        )
    assert txlog._last_commit(u)["change_files"] == []
    assert [x[2] for x in _feed(spark, u, after=1)] == []


def test_emptying_replace_publishes_no_file(spark, tmp_path):
    """A copy-on-write replace whose written frame is empty publishes
    ``add: []``, not the empty part file an unpartitioned Spark write
    of no rows leaves: a cdf=False merge of tombstones for every row,
    and a delete that empties the table's only file."""
    t = str(tmp_path / "t")
    _kv_table(spark, t, n=3)
    gone = spark.createDataFrame(
        [(k, None, 9, "D") for k in range(3)],
        "k int, v string, ver int, op string",
    )
    txlog.merge_into(
        spark, t, gone, keys=["k"], version_cols=["ver"], op_col="op"
    )
    u = str(tmp_path / "u")
    _kv_table(spark, u, n=3)
    txlog.delete_where_expr(spark, u, "k >= 0", mode="cow")
    for table in (t, u):
        rec = txlog._last_commit(table)
        assert rec["action"] == "replace" and rec["add"] == []
        assert txlog.read_table(spark, table).count() == 0
        referenced = {r for c in txlog._read_log(table) for r in c["add"]}
        assert all(
            pq.ParquetFile(os.path.join(table, r)).metadata.num_rows > 0
            for r in referenced
        )


def test_cdf_reads_old_layout_change_files(spark, tmp_path):
    """Change files written the earlier way — a separate write under
    changes/ with the type in an in-file ``_change_type`` column,
    recorded through commit(change_files=[...]) — read back next to
    a new-layout merge, through table_changes_cdf and an
    availableNow readChangeFeed stream alike."""
    import uuid

    from parquet_combiner_spark.sources.txtable_source import (
        TxTableChangesDataSource,
    )

    t = str(tmp_path / "t")
    _kv_table(spark, t, n=6)
    snap = txlog.read_table(spark, t)
    rel_dir = os.path.join("changes", uuid.uuid4().hex)
    # the earlier layout: a write of its own, the type in the file
    snap.where("k < 2").withColumn(
        "_change_type", F.lit("delete")
    ).write.parquet(os.path.join(t, rel_dir))
    txlog.commit(
        snap.where("k >= 2"),
        t,
        action="replace",
        remove=[os.path.relpath(f, t) for f in txlog._snapshot_files(t, 0)[0]],
        expected_version=0,
        change_files=txlog._list_added(t, rel_dir),
    )
    txlog.merge_into(
        spark, t,
        spark.createDataFrame(
            [(3, "w", 2, "U"), (9, "n", 1, "U")],
            "k int, v string, ver int, op string",
        ),
        keys=["k"], version_cols=["ver"], op_col="op", cdf=True,
    )
    want = [
        (0, "v0", "delete", 1),
        (1, "v1", "delete", 1),
        (3, "v3", "update_preimage", 2),
        (3, "w", "update_postimage", 2),
        (9, "n", "insert", 2),
    ]
    assert _feed(spark, t) == want
    try:
        spark.dataSource.register(TxTableChangesDataSource)
    except Exception:
        pass
    rows: list = []
    q = (
        spark.readStream.format("txtable_changes")
        .option("path", t)
        .option("from_version", "0")
        .option("read_change_feed", "true")
        .load()
        .writeStream.foreachBatch(
            lambda df, _: rows.extend(
                (r.k, r.v, r._change_type, r._commit_version)
                for r in df.collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(rows) == want


def test_cdc_cycles_change_files_read_back_in_duckdb(spark, tmp_path):
    """Three CDC cycles shaped like the benchmark's (85% upserts of
    live keys, 10% tombstones, 5% fresh inserts, cdf=True): replaying
    table_changes_cdf onto the base reconstructs read_table, and
    DuckDB, reading the recorded change files with hive partitioning,
    counts the same rows per _change_type as Spark."""
    import random
    from collections import Counter

    import duckdb

    t = str(tmp_path / "t")
    n = 200
    _kv_table(spark, t, n=n)
    state = Counter((k, f"v{k}", 1) for k in range(n))
    live, fresh = list(range(n)), n
    for c in range(1, 4):
        picks = random.Random(c).sample(live, 38)
        rows = [(k, f"c{c}", c + 1, "U") for k in picks[:34]]
        rows += [(k, None, c + 1, "D") for k in picks[34:]]
        rows += [(fresh + j, f"n{c}", c + 1, "U") for j in range(2)]
        txlog.merge_into(
            spark, t,
            spark.createDataFrame(rows, "k int, v string, ver int, op string"),
            keys=["k"], version_cols=["ver"], op_col="op", cdf=True,
        )
        live = [k for k in live if k not in picks[34:]] + [fresh, fresh + 1]
        fresh += 2
    feed = txlog.table_changes_cdf(spark, t, 0).collect()
    for v in (1, 2, 3):
        for r in feed:
            if r._commit_version == v:
                row = (r.k, r.v, r.ver)
                if r._change_type in ("delete", "update_preimage"):
                    state[row] -= 1
                else:
                    state[row] += 1
    assert +state == Counter(
        (r.k, r.v, r.ver) for r in txlog.read_table(spark, t).collect()
    )
    spark_counts = Counter(r._change_type for r in feed)
    assert spark_counts == {
        "update_preimage": 102, "update_postimage": 102,
        "delete": 12, "insert": 6,
    }
    files = [
        os.path.join(t, r)
        for rec in txlog._read_log(t)
        for r in rec.get("change_files", [])
    ]
    listed = ", ".join(f"'{f}'" for f in files)
    duck = dict(
        duckdb.connect().execute(
            f"SELECT _change_type, count(*) FROM read_parquet([{listed}], "
            "hive_partitioning = true) GROUP BY 1"
        ).fetchall()
    )
    assert duck == dict(spark_counts)
