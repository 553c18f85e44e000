"""The incremental readers against each other: ``read_appends``, the
``txtable_changes`` stream in plain mode, ``table_changes_cdf`` and
the stream in ``read_change_feed`` mode all take their files from
``txlog._feed_commits``. So over every ``(after, to)`` range of a
table that ran every kind of verb, a batch reader and the stream in
the same mode return the same rows (as multisets) or both refuse.
The stream is driven through ``partitions``/``read`` directly, as
Spark's planner calls them; no streaming query is started."""

from __future__ import annotations

from collections import Counter

import pytest

from pyspark.sql import Row

from parquet_combiner_spark.sources.txtable_source import (
    TxTableChangesStreamReader,
)
from parquet_combiner_spark.tools import txlog

# the slow build-mutate-read half of the gate (see pytest.ini)
pytestmark = pytest.mark.txlifecycle


def _rows(spark, ks, tag="a"):
    return spark.createDataFrame(
        [Row(k=k, v=f"{tag}{k}") for k in ks], "k int, v string"
    ).coalesce(1)


def _stream(spark, table, after, to, mode):
    """What the stream serves for offsets (after, to], read with the
    schema the source resolves when ``to`` is the head."""
    ddl = txlog._snapshot_files(table, to)[1]
    cdf = mode == "cdf"
    schema = spark.createDataFrame(
        [],
        f"{ddl}{', _change_type string' if cdf else ''}, "
        "_commit_version bigint",
    ).schema
    reader = TxTableChangesStreamReader(
        schema, table, after,
        ignore_changes=mode == "ignore_changes", read_change_feed=cdf,
    )
    rows = Counter()
    for part in reader.partitions({"version": after}, {"version": to}):
        for batch in reader.read(part):
            for r in batch.to_pylist():
                if not cdf:
                    r.pop("_commit_version")
                rows[tuple(r.values())] += 1
    return rows


def _batch(spark, table, after, to, mode):
    if mode == "appends":
        df = txlog.read_appends(spark, table, after, to)
    else:
        ddl = txlog._snapshot_files(table, to)[1]
        df = txlog.table_changes_cdf(spark, table, after, to).select(
            *[n for n, _ in txlog._split_ddl(ddl)],
            "_change_type",
            "_commit_version",
        )
    return Counter(tuple(r) for r in df.collect())


def _outcome(read, *args):
    try:
        return read(*args)
    except ValueError:
        return ValueError


def _overwrite_born(spark, table):
    txlog.commit(_rows(spark, [1, 2, 3]), table, action="overwrite")
    txlog.commit(_rows(spark, [4]), table)


def test_overwrite_born_table_reads_the_same_in_batch_and_stream(
    spark, tmp_path
):
    """Version 0's overwrite is the table's birth: every reader serves
    its rows as inserts (the batch readers used to refuse it, and the
    plain stream refused it without ignore_changes)."""
    table = str(tmp_path / "t")
    _overwrite_born(spark, table)
    want = Counter(
        {(1, "a1"): 1, (2, "a2"): 1, (3, "a3"): 1, (4, "a4"): 1}
    )
    assert _batch(spark, table, -1, None, "appends") == want
    assert _stream(spark, table, -1, 1, "appends") == want
    cdf = Counter(
        {(k, v, "insert", 0 if k < 4 else 1): 1 for k, v in want}
    )
    assert _batch(spark, table, -1, None, "cdf") == cdf
    assert _stream(spark, table, -1, 1, "cdf") == cdf


def test_batch_readers_refuse_a_range_below_expired_history(
    spark, tmp_path
):
    """The stream's expired-range rule holds for the batch readers
    too (they used to reach the rebased record and refuse it as an
    overwrite)."""
    table = str(tmp_path / "t")
    for i in range(4):
        txlog.commit(_rows(spark, [i]), table)
    txlog.expire_versions(table, keep_from=2)
    with pytest.raises(ValueError, match="predates the first retained"):
        txlog.read_appends(spark, table, 0)
    with pytest.raises(ValueError, match="predates the first retained"):
        txlog.table_changes_cdf(spark, table, 0)
    assert _outcome(_stream, spark, table, 0, 3, "appends") is ValueError
    # from the retained base on, the feed reads; v2 is the rebased
    # overwrite, which rewrites like any later overwrite
    for read in (_batch, _stream):
        assert _outcome(read, spark, table, 1, 3, "appends") is ValueError
        assert read(spark, table, 2, 3, "appends") == Counter({(3, "a3"): 1})


def test_batch_and_stream_feeds_agree_on_every_range(spark, tmp_path):
    table = str(tmp_path / "t")
    _overwrite_born(spark, table)  # v0 overwrite, v1 append
    txlog.delete_where_expr(spark, table, "k = 1", cdf=True)  # v2 cow
    txlog.update_where_expr(  # v3 dv
        spark, table, "k = 2", {"v": "'u'"}, mode="dv", cdf=True
    )
    txlog.delete_where_expr(spark, table, "k = 3", mode="dv")  # v4
    txlog.update_where_expr(spark, table, "k = 4", {"v": "'w'"})  # v5
    txlog.optimize(spark, table, target_file_mb=64)  # v6
    txlog.add_constraint(spark, table, "k_pos", "k >= 0")  # v7
    txlog.rename_column(table, "v", "text")  # v8
    txlog.restore(table, 1)  # v9
    head = txlog.current_version(table)
    assert head == 9
    ranges = [
        (after, to)
        for after in range(-1, head + 1)
        for to in range(max(after, 0), head + 1)
    ]
    refused = Counter()
    for after, to in ranges:
        got = {}
        for mode in ("appends", "cdf"):
            got[mode] = _outcome(_batch, spark, table, after, to, mode)
            want = _outcome(_stream, spark, table, after, to, mode)
            assert got[mode] == want, (after, to, mode)
            refused[mode] += got[mode] is ValueError
        if got["appends"] is not ValueError:
            # where the append-delta is defined, ignore_changes reads
            # the same files
            assert _stream(
                spark, table, after, to, "ignore_changes"
            ) == got["appends"], (after, to)
    # each mode both reads and refuses; cdf reads the recorded DML
    assert 0 < refused["cdf"] < refused["appends"] < len(ranges)
