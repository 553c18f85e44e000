"""Merge-on-read DELETION VECTORS in the versioned-table layer
(VERDICT r9 order #3): ``delete_where(..., mode="dv")`` records
per-file deleted-position sets in the commit instead of rewriting
files (Delta/Iceberg position deletes); every reader anti-filters by
(file, position) at scan time; OPTIMIZE / compaction purge DVs into
real rewrites; expire+vacuum makes the deletion physical."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from parquet_combiner_spark.tools import txlog

# the slow build-mutate-read half of the gate (see pytest.ini)
pytestmark = pytest.mark.txlifecycle


def _mk_table(spark, path: str, rows_per_file=(1000, 10)) -> list[str]:
    """One commit per file so file boundaries are deterministic:
    file i holds k values [offset_i, offset_i + n_i). Returns the
    snapshot's relative paths in commit order."""
    off = 0
    for n in rows_per_file:
        df = spark.createDataFrame(
            [Row(k=off + i, v=f"v{off + i}") for i in range(n)],
            "k int, v string",
        ).coalesce(1)
        txlog.commit(df, path, stats_cols=["k"])
        off += n
    files = txlog._snapshot(path, None)[0]
    return [os.path.relpath(f, path) for f in files]


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.select("k", "v").collect()))


def test_dv_delete_does_not_rewrite_files(spark, tmp_path):
    """The whole point: a 10-row delete in a big file must not
    rewrite the file — same physical paths, same bytes, one new
    metadata-only commit."""
    table = str(tmp_path / "t")
    rels = _mk_table(spark, table)
    paths = [os.path.join(table, r) for r in rels]
    mtimes = {p: os.path.getmtime(p) for p in paths}
    sizes = {p: os.path.getsize(p) for p in paths}
    base = txlog.current_version(table)

    v = txlog.delete_where(spark, table, "k", 100, 109, mode="dv")
    assert v == base + 1
    # no data file added, removed, or touched
    files_after, _, _, _, dvs, _ = txlog._snapshot(table, None)
    assert sorted(os.path.relpath(f, table) for f in files_after) == sorted(
        rels
    )
    for p in paths:
        assert os.path.getmtime(p) == mtimes[p]
        assert os.path.getsize(p) == sizes[p]
    # exactly the big file carries a 10-position DV
    assert set(dvs) == {rels[0]}
    assert len(dvs[rels[0]]) == 10
    # reads exclude exactly the deleted keys
    got = txlog.read_table(spark, table)
    assert got.count() == 1000
    assert got.where(F.col("k").between(100, 109)).count() == 0
    # time travel still shows them
    assert (
        txlog.read_table(spark, table, base)
        .where(F.col("k").between(100, 109))
        .count()
        == 10
    )


def test_dv_read_parity_with_copy_on_write(spark, tmp_path):
    """DV reads and copy-on-write reads of the same logical delete
    must be row-identical — across plain, pruned, multi-pruned,
    null-pruned reads and fast_count."""
    cow = str(tmp_path / "cow")
    dv = str(tmp_path / "dv")
    for t in (cow, dv):
        _mk_table(spark, t, rows_per_file=(400, 400, 10))
    txlog.delete_where(spark, cow, "k", 350, 449)  # spans both files
    txlog.delete_where(spark, dv, "k", 350, 449, mode="dv")
    assert _rows(txlog.read_table(spark, cow)) == _rows(
        txlog.read_table(spark, dv)
    )
    for t_lo, t_hi in ((0, 500), (300, 500), (440, 460)):
        assert _rows(
            txlog.read_table_pruned(spark, cow, "k", t_lo, t_hi)
        ) == _rows(txlog.read_table_pruned(spark, dv, "k", t_lo, t_hi))
    assert _rows(
        txlog.read_table_pruned_multi(spark, cow, {"k": (100, 800)})
    ) == _rows(txlog.read_table_pruned_multi(spark, dv, {"k": (100, 800)}))
    assert (
        txlog.read_table_null_pruned(spark, cow, "v").count()
        == txlog.read_table_null_pruned(spark, dv, "v").count()
    )
    assert txlog.fast_count(cow) == txlog.fast_count(dv) == 710


def test_dv_deletes_accumulate_and_supersede(spark, tmp_path):
    """A second DV delete on the same file carries the UNION of
    positions (one DV per file in any snapshot — replay keeps only
    the newest record's set)."""
    table = str(tmp_path / "t")
    rels = _mk_table(spark, table, rows_per_file=(100,))
    txlog.delete_where(spark, table, "k", 0, 9, mode="dv")
    txlog.delete_where(spark, table, "k", 5, 14, mode="dv")
    _, _, _, _, dvs, _ = txlog._snapshot(table, None)
    assert len(dvs[rels[0]]) == 15
    assert txlog.read_table(spark, table).count() == 85
    assert txlog.fast_count(table) == 85
    # replaying the same range is a no-op version-wise
    head = txlog.current_version(table)
    assert txlog.delete_where(spark, table, "k", 5, 9, mode="dv") == head


def test_dv_null_rows_survive(spark, tmp_path):
    """NULL predicate values are not in [lo, hi]: DV deletes must
    leave NULL rows untouched (the r8 copy-on-write bug, re-pinned
    for the merge-on-read path)."""
    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=None, v="n"), Row(k=2, v="b")],
        "k int, v string",
    ).coalesce(1)
    txlog.commit(df, table, stats_cols=["k"])
    txlog.delete_where(spark, table, "k", 1, 2, mode="dv")
    got = txlog.read_table(spark, table)
    assert got.count() == 1
    assert got.first()["v"] == "n"


def test_optimize_purges_dvs_and_vacuum_erases(spark, tmp_path):
    """The maintenance story: OPTIMIZE rewrites through the DV filter
    (purging the vectors), and expire+vacuum then physically removes
    the original file — the compliance erasure path."""
    table = str(tmp_path / "t")
    rels = _mk_table(spark, table, rows_per_file=(500, 20))
    txlog.delete_where(spark, table, "k", 10, 19, mode="dv")
    v = txlog.optimize(spark, table, target_file_mb=128)
    _, _, _, _, dvs, _ = txlog._snapshot(table, None)
    assert dvs == {}
    got = txlog.read_table(spark, table)
    assert got.count() == 510
    assert got.where(F.col("k").between(10, 19)).count() == 0
    # erase history below the optimize; the DV'd original becomes
    # unreferenced garbage
    txlog.expire_versions(table, keep_from=v)
    removed = txlog.vacuum(table, min_age_seconds=0)
    assert rels[0] in removed
    assert txlog.read_table(spark, table).count() == 510


def test_compact_small_files_rewrites_dv_files(spark, tmp_path):
    """Incremental compaction treats a DV'd file as rewrite-worthy
    regardless of size — the cadenced purge path that keeps
    merge-on-read debt bounded without a full OPTIMIZE."""
    table = str(tmp_path / "t")
    rels = _mk_table(spark, table, rows_per_file=(800, 5, 5))
    txlog.delete_where(spark, table, "k", 0, 99, mode="dv")
    txlog.compact_small_files(
        spark, table, target_file_mb=128, small_file_mb=0.0001
    )
    files, _, _, _, dvs, _ = txlog._snapshot(table, None)
    assert dvs == {}
    assert rels[0] not in {os.path.relpath(f, table) for f in files}
    assert txlog.read_table(spark, table).count() == 710


def test_dml_on_dv_table_does_not_resurrect(spark, tmp_path):
    """update_where / merge_into / cow-delete survivors must read
    THROUGH the DV filter — a rewrite that forgot the vectors would
    resurrect deleted rows into the new files."""
    table = str(tmp_path / "t")
    _mk_table(spark, table, rows_per_file=(100,))
    txlog.delete_where(spark, table, "k", 0, 49, mode="dv")
    txlog.update_where(spark, table, "k", 50, 59, {"v": "upper(v)"})
    got = txlog.read_table(spark, table)
    assert got.count() == 50
    assert got.where(F.col("k") < 50).count() == 0
    assert got.where(F.col("v") == "V50").count() == 1
    # merge on top
    updates = spark.createDataFrame(
        [Row(k=10, v="back"), Row(k=60, v="upd")], "k int, v string"
    )
    txlog.merge_into(spark, table, updates, keys=["k"], version_cols=["v"])
    got = txlog.read_table(spark, table)
    assert got.where(F.col("k") == 10).count() == 1  # explicit re-insert
    assert got.where((F.col("k") < 50) & (F.col("k") != 10)).count() == 0


def test_dv_commit_blocks_incremental_consumers(spark, tmp_path):
    """A DV commit changes data without adding files: read_appends
    must refuse the range, and the CDF stream reader must refuse it
    without ignore_changes (with it, nothing is re-emitted — deletes
    do not stream, Delta's ignoreChanges contract)."""
    from parquet_combiner_spark.sources.txtable_source import (
        TxTableChangesStreamReader,
    )

    table = str(tmp_path / "t")
    _mk_table(spark, table, rows_per_file=(50,))
    txlog.delete_where(spark, table, "k", 0, 9, mode="dv")
    with pytest.raises(ValueError, match="dv"):
        txlog.read_appends(spark, table, after_version=-1)
    reader = TxTableChangesStreamReader(
        spark.createDataFrame([], "k int, v string, _commit_version bigint").schema,
        table,
        from_version=-1,
        ignore_changes=False,
    )
    with pytest.raises(ValueError, match="rewrites|deletion"):
        reader.partitions({"version": -1}, {"version": 1})
    reader2 = TxTableChangesStreamReader(
        spark.createDataFrame([], "k int, v string, _commit_version bigint").schema,
        table,
        from_version=-1,
        ignore_changes=True,
    )
    parts = reader2.partitions({"version": -1}, {"version": 1})
    assert len(parts) == 1  # only version 0's file; the DV adds none


def test_dv_survives_checkpoint_restore_and_expiry(spark, tmp_path):
    """DV state must ride every metadata vehicle: log checkpoints
    (snapshot seeding), RESTORE (full state round-trip), and the
    expire_versions rebase."""
    table = str(tmp_path / "t")
    _mk_table(spark, table, rows_per_file=(100,))
    txlog.delete_where(spark, table, "k", 0, 9, mode="dv")  # v1
    txlog.checkpoint(table)
    # snapshot seeded from the checkpoint still filters
    assert txlog.read_table(spark, table).count() == 90
    txlog.delete_where(spark, table, "k", 10, 19, mode="dv")  # v2
    assert txlog.read_table(spark, table).count() == 80
    # restore to v1: 90 rows again (DV state of v1, not v2)
    txlog.restore(table, version=1)
    assert txlog.read_table(spark, table).count() == 90
    assert txlog.fast_count(table) == 90
    # expire below the restore commit: rebase carries the DV
    head = txlog.current_version(table)
    txlog.expire_versions(table, keep_from=head)
    assert txlog.read_table(spark, table).count() == 90


def test_dv_python_datasource_applies_positions(spark, tmp_path):
    """The pure-Python txtable reader (Spark 4 DataSource) must apply
    DVs too — an integration surface that silently resurrected
    deleted rows would be worse than none."""
    table = str(tmp_path / "t")
    _mk_table(spark, table, rows_per_file=(100,))
    txlog.delete_where(spark, table, "k", 0, 24, mode="dv")
    from parquet_combiner_spark.sources.txtable_source import (
        TxTableDataSource,
    )

    spark.dataSource.register(TxTableDataSource)
    got = spark.read.format("txtable").option("path", table).load()
    assert got.count() == 75
    assert got.where(F.col("k") < 25).count() == 0
    # time travel through the reader honors the pre-delete snapshot
    v0 = (
        spark.read.format("txtable")
        .option("path", table)
        .option("version", "0")
        .load()
    )
    assert v0.count() == 100


def test_dv_guard_rejects_oversized_vectors(spark, tmp_path):
    """DVs are JSON position lists — the guard forces wide deletes
    back onto copy-on-write instead of exploding commit records."""
    table = str(tmp_path / "t")
    _mk_table(spark, table, rows_per_file=(1000,))
    with pytest.raises(ValueError, match="copy-on-write|max_dv"):
        txlog.delete_where(
            spark, table, "k", 0, 999, mode="dv", max_dv_rows=100
        )


def test_dv_scan_plan_is_broadcast_anti_join(spark, tmp_path):
    """Plan pin: the DV filter rides the scan as a BROADCAST hash
    anti-join (build side = the metadata-sized position frame) — no
    shuffle, no sort-merge; at 100 TB the clean files' branch stays a
    plain vectorized scan. The position frame is a local table, and
    building the read runs no Spark job."""
    import io
    from contextlib import redirect_stdout

    table = str(tmp_path / "t")
    _mk_table(spark, table, rows_per_file=(200, 200))
    txlog.delete_where(spark, table, "k", 0, 9, mode="dv")
    df = txlog.read_table(spark, table)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # exactly one exchange in the whole plan: the broadcast of the
    # position frame (no full-data shuffle anywhere)
    assert plan.count("Exchange") == plan.count("BroadcastExchange"), plan
    # the position frame is a JVM-side local table, not an RDD of
    # Python-serialized rows
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    # building the DV'd read runs no Spark job (no probe of its files)
    sc = spark.sparkContext
    group = "dv-scan-plan-pin"
    sc.setJobGroup(group, "build read_table")
    try:
        before = list(sc.statusTracker().getJobIdsForGroup(group))
        txlog.read_table(spark, table)
        after = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert after == before, after


@pytest.fixture
def shared_cwd(spark, tmp_path, monkeypatch):
    """Work from ``tmp_path`` in BOTH processes, as if the session had
    been launched there: the Python cwd, and the working directory
    Spark's local filesystem resolves relative paths against (fixed at
    JVM launch otherwise)."""
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark._jsc.hadoopConfiguration()
    )
    old = fs.getWorkingDirectory()
    monkeypatch.chdir(tmp_path)
    fs.setWorkingDirectory(jvm.org.apache.hadoop.fs.Path(f"file:{tmp_path}"))
    yield tmp_path
    fs.setWorkingDirectory(old)


def test_dv_dml_on_cwd_relative_table_path(spark, shared_cwd):
    """Vectors key files by ``file:`` + the ABSOLUTE path, the path
    Spark reports for every scanned row, so a table named relative to
    the working directory still keys correctly: DV delete, DV update
    and the anti-filtered read match a copy-on-write twin."""
    for t in ("t", "cow"):
        _mk_table(spark, t, rows_per_file=(100, 100))
    for t, mode in (("t", "dv"), ("cow", "cow")):
        txlog.delete_where(spark, t, "k", 40, 159, mode=mode)
        txlog.update_where(
            spark, t, "k", 0, 9, {"v": "upper(v)"}, mode=mode
        )
    assert txlog._last_commit("t")["action"] == "dv"
    got = _rows(txlog.read_table(spark, "t"))
    assert got == _rows(txlog.read_table(spark, "cow"))
    assert len(got) == 80 and got[0] == (0, "V0")


# --- compact sidecar representation (VERDICT r10 order #5) -----------------


def test_dv_varint_codec_roundtrip():
    import random

    rng = random.Random(7)
    for n in (0, 1, 2, 513, 5000):
        pos = sorted(rng.sample(range(10_000_000), n))
        assert txlog._dv_decode(txlog._dv_encode(pos)) == pos
    # unsorted input is normalized; huge positions survive
    assert txlog._dv_decode(txlog._dv_encode([2**40, 5, 2**33])) == [
        5, 2**33, 2**40,
    ]
    with pytest.raises(ValueError, match="PCSDV1"):
        txlog._dv_decode(b"garbage")


def test_large_dv_moves_to_sidecar_and_record_stays_small(
    spark, tmp_path
):
    """The r10 concession made real: a ~1M-position vector must ride
    the log as a few-hundred-byte sidecar REFERENCE, not megabytes of
    JSON every uncheckpointed replay parses. Readers and the
    metadata-only count stay exact."""
    table = str(tmp_path / "t")
    df = spark.range(1_000_000).select(
        F.col("id").cast("int").alias("k")
    )
    txlog.commit(df.coalesce(1), table, stats_cols=["k"])
    v = txlog.delete_where(spark, table, "k", 0, 999_997, mode="dv")
    rec_path = txlog._log_path(table, v)
    assert os.path.getsize(rec_path) < 4096  # the record is metadata
    rec = txlog._last_commit(table)
    (entry,) = rec["dv"].values()
    assert isinstance(entry, dict) and entry["count"] == 999_998
    side = os.path.join(table, entry["sidecar"])
    assert os.path.isfile(side)
    # ~1 byte/position after delta+deflate on a dense run
    assert os.path.getsize(side) < 64 * 1024
    got = txlog.read_table(spark, table)
    assert got.count() == 2
    assert sorted(r["k"] for r in got.collect()) == [999_998, 999_999]
    assert txlog.fast_count(table) == 2


def test_small_dv_stays_inline(spark, tmp_path):
    table = str(tmp_path / "t")
    _mk_table(spark, table, rows_per_file=(100,))
    txlog.delete_where(spark, table, "k", 0, 9, mode="dv")
    (entry,) = txlog._last_commit(table)["dv"].values()
    assert isinstance(entry, list) and len(entry) == 10


def test_dv_sidecar_checkpoint_restore_and_clone_carry(spark, tmp_path):
    table = str(tmp_path / "t")
    df = spark.range(5000).select(F.col("id").cast("int").alias("k"))
    txlog.commit(df.coalesce(1), table, stats_cols=["k"])
    txlog.delete_where(spark, table, "k", 1000, 3999, mode="dv")
    want = sorted(r["k"] for r in txlog.read_table(spark, table).collect())
    assert len(want) == 2000
    # checkpoint re-publishes the vector: content-addressed, so the
    # SAME sidecar is referenced, nothing duplicated
    txlog.checkpoint(table)
    ck = txlog._checkpoint_at_or_below(table, txlog.current_version(table))
    (ck_entry,) = ck["dv"].values()
    assert isinstance(ck_entry, dict)
    assert (
        sorted(r["k"] for r in txlog.read_table(spark, table).collect())
        == want
    )
    # clone materializes its OWN sidecar under the clone root
    target = str(tmp_path / "c")
    txlog.clone(table, target)
    (cl_entry,) = txlog._last_commit(target)["dv"].values()
    assert isinstance(cl_entry, dict)
    assert os.path.isfile(os.path.join(target, cl_entry["sidecar"]))
    assert (
        sorted(r["k"] for r in txlog.read_table(spark, target).collect())
        == want
    )
    # restore across the vector still resolves it
    pre = 0
    txlog.restore(table, pre)
    assert txlog.read_table(spark, table).count() == 5000


def test_dv_sidecar_vacuum_lifecycle(spark, tmp_path):
    """Referenced sidecars survive vacuum; after OPTIMIZE purges the
    vector and expiry drops the referencing history, vacuum erases
    the sidecar — merge-on-read deletion becomes PHYSICAL for the
    position data too, same discipline as the data files."""
    table = str(tmp_path / "t")
    df = spark.range(5000).select(F.col("id").cast("int").alias("k"))
    txlog.commit(df.coalesce(1), table, stats_cols=["k"])
    txlog.delete_where(spark, table, "k", 0, 999, mode="dv")
    (entry,) = txlog._last_commit(table)["dv"].values()
    side_rel = entry["sidecar"]
    assert txlog.vacuum(table, min_age_seconds=0) == []  # referenced
    v = txlog.optimize(spark, table, target_file_mb=64)
    txlog.expire_versions(table, keep_from=v)
    gone = txlog.vacuum(table, min_age_seconds=0)
    assert side_rel in gone
    assert not os.path.exists(os.path.join(table, side_rel))
    assert txlog.read_table(spark, table).count() == 4000
