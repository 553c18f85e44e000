"""Partition-column layout in the versioned-table layer (VERDICT r9
order #5): ``commit(partition_by=...)`` writes Hive ``col=value``
directories; the spec is table metadata enforced on every write;
reads prune whole partitions from the file list before zone maps; the
native streaming sink partitions its staged files; partition values
materialize as JVM expressions over ``_metadata.file_path`` (no
directory discovery — a txlog snapshot spans many commit dirs, which
Spark's basePath inference rejects)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from parquet_combiner_spark.tools import txlog

# the slow build-mutate-read half of the gate (see pytest.ini)
pytestmark = pytest.mark.txlifecycle


def _mk(spark, path, n=40, days=4, stats=("k", "day")):
    df = spark.createDataFrame(
        [(i, i % days, f"v{i}") for i in range(n)],
        "k int, day int, v string",
    )
    txlog.commit(df, path, partition_by=["day"], stats_cols=list(stats))
    return df


def test_partitioned_commit_roundtrip_and_layout(spark, tmp_path):
    table = str(tmp_path / "t")
    _mk(spark, table)
    rec = txlog._last_commit(table)
    assert rec["partition_by"] == ["day"]
    assert all("day=" in rel for rel in rec["add"])
    got = txlog.read_table(spark, table)
    # schema order preserved (partition column NOT shoved to the end)
    assert got.columns == ["k", "day", "v"]
    assert got.count() == 40
    assert sorted(
        r["day"] for r in got.select("day").distinct().collect()
    ) == [0, 1, 2, 3]
    # values correct row-by-row (day == k % 4 by construction)
    assert got.where(F.col("day") != F.col("k") % 4).count() == 0
    # partition values never land in the data files
    import pyarrow.parquet as pq

    for rel in rec["add"]:
        assert "day" not in pq.ParquetFile(
            os.path.join(table, rel)
        ).schema_arrow.names


def test_read_appends_derives_partition_values(spark, tmp_path):
    """Partition values live in the directory names, not the data
    files: the append delta must derive them from the paths like every
    snapshot read, in schema order."""
    table = str(tmp_path / "t")
    _mk(spark, table)
    txlog.commit(
        spark.createDataFrame([(100, 2, "new")], "k int, day int, v string"),
        table,
        partition_by=["day"],
    )
    got = txlog.read_appends(spark, table, after_version=0)
    assert got.columns == ["k", "day", "v"]
    assert [tuple(r) for r in got.collect()] == [(100, 2, "new")]


def test_partition_spec_is_enforced_table_metadata(spark, tmp_path):
    table = str(tmp_path / "t")
    _mk(spark, table)
    add = spark.createDataFrame([(100, 1, "x")], "k int, day int, v string")
    # appends inherit the spec silently
    txlog.commit(add, table)
    assert all("day=" in r for r in txlog._last_commit(table)["add"])
    assert txlog.partition_by_of(table) == ["day"]
    # a conflicting spec on append raises
    with pytest.raises(ValueError, match="partitioned by"):
        txlog.commit(add, table, partition_by=["v"])
    # overwrite may relayout; time travel still reads the old layout
    txlog.commit(
        spark.createDataFrame([(1, 0, "z")], "k int, day int, v string"),
        table,
        action="overwrite",
    )
    assert txlog.partition_by_of(table) == []
    assert txlog.read_table(spark, table).count() == 1
    assert txlog.read_table(spark, table, 0).count() == 40


def test_partition_pruned_read_via_file_list(spark, tmp_path):
    """The coarse prune: only matching col=value files enter the scan
    (pinned via inputFiles), resolved from the LISTING alone."""
    table = str(tmp_path / "t")
    _mk(spark, table)
    all_files = txlog.read_table(spark, table).inputFiles()
    pr = txlog.read_table_partitioned(spark, table, {"day": 2})
    assert pr.count() == 10
    assert pr.where(F.col("day") != 2).count() == 0
    assert 0 < len(pr.inputFiles()) < len(all_files)
    assert all("day=2" in f for f in pr.inputFiles())


def test_partition_column_zone_maps_from_path(spark, tmp_path):
    """stats_cols on a partition column records min=max=the path
    value (footer stats would say all-NULL and wrongly prune), so
    read_table_pruned works on numeric partition columns unchanged."""
    table = str(tmp_path / "t")
    _mk(spark, table)
    zp = txlog.read_table_pruned(spark, table, "day", 2, 3)
    assert zp.count() == 20
    files = zp.inputFiles()
    assert files and all(("day=2" in f or "day=3" in f) for f in files)
    rec = txlog._last_commit(table)
    some = next(iter(rec["stats"].values()))
    assert some["day"]["min"] == some["day"]["max"]
    assert some["day"]["nulls"] == 0


def test_dml_preserves_partition_layout(spark, tmp_path):
    """Copy-on-write rewrites inherit the spec: rewritten survivors
    land under col=value paths (a flat rewrite would wedge the
    table's directory structure)."""
    table = str(tmp_path / "t")
    _mk(spark, table)
    txlog.delete_where(spark, table, "k", 0, 3)
    rec = txlog._last_commit(table)
    assert rec["action"] == "replace"
    assert all("day=" in rel for rel in rec["add"])
    assert rec["partition_by"] == ["day"]
    txlog.update_where(spark, table, "k", 10, 12, {"v": "'upd'"})
    assert all("day=" in rel for rel in txlog._last_commit(table)["add"])
    got = txlog.read_table(spark, table)
    assert got.count() == 36
    assert got.where(F.col("v") == "upd").count() == 3
    # merge keeps layout too
    ups = spark.createDataFrame([(100, 0, "new")], "k int, day int, v string")
    txlog.merge_into(spark, table, ups, keys=["k"], version_cols=["v"])
    assert all("day=" in rel for rel in txlog._last_commit(table)["add"])
    assert txlog.read_table(spark, table).count() == 37


def test_dv_on_partitioned_table(spark, tmp_path):
    table = str(tmp_path / "t")
    _mk(spark, table)
    v = txlog.delete_where(spark, table, "k", 0, 7, mode="dv")
    assert v == 1
    got = txlog.read_table(spark, table)
    assert got.count() == 32
    assert txlog.fast_count(table) == 32
    # partition values still correct on the DV'd branch
    assert got.where(F.col("day") != F.col("k") % 4).count() == 0
    # optimize purges and keeps the layout
    txlog.optimize(spark, table, target_file_mb=128)
    assert all("day=" in rel for rel in txlog._last_commit(table)["add"])
    assert txlog.read_table(spark, table).count() == 32


def test_python_datasource_injects_partition_values(spark, tmp_path):
    from parquet_combiner_spark.sources.txtable_source import (
        TxTableDataSource,
    )

    table = str(tmp_path / "t")
    _mk(spark, table)
    spark.dataSource.register(TxTableDataSource)
    got = spark.read.format("txtable").option("path", table).load()
    assert got.count() == 40
    assert got.where(F.col("day").isNull()).count() == 0
    assert got.where(F.col("day") != F.col("k") % 4).count() == 0


def test_streaming_sink_partition_by(spark, tmp_path):
    """The native streaming sink accepts partition_by: staged files
    land under col=value paths, the spec is recorded on the first
    commit, and the read-back (JVM and CDF alike) reproduces the
    partition values."""
    root = str(tmp_path)
    table = os.path.join(root, "sink")
    src = os.path.join(root, "src")
    from parquet_combiner_spark.sources.txtable_source import (
        TxTableDataSource,
    )

    spark.dataSource.register(TxTableDataSource)
    spark.range(30).select(
        "id", (F.col("id") % 3).alias("day")
    ).repartition(2).write.parquet(src)
    q = (
        spark.readStream.schema("id long, day long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.format("txtable")
        .option("path", table)
        .option("query_id", "p1")
        .option("partition_by", "day")
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert txlog.partition_by_of(table) == ["day"]
    rec = txlog._last_commit(table)
    assert all("day=" in rel for rel in rec["add"])
    got = txlog.read_table(spark, table)
    assert got.count() == 30
    assert got.where(F.col("day") != F.col("id") % 3).count() == 0
    # partition-pruned read over the streamed table
    pr = txlog.read_table_partitioned(spark, table, {"day": 1})
    assert pr.count() == 10
    assert all("day=1" in f for f in pr.inputFiles())
    # the Python reader injects values from the staged paths too
    ds = spark.read.format("txtable").option("path", table).load()
    assert ds.where(F.col("day") != F.col("id") % 3).count() == 0


def test_partition_spec_survives_expire_and_restore(spark, tmp_path):
    table = str(tmp_path / "t")
    _mk(spark, table)  # v0
    txlog.commit(
        spark.createDataFrame([(100, 1, "x")], "k int, day int, v string"),
        table,
    )  # v1
    txlog.restore(table, version=0)  # v2
    assert txlog.partition_by_of(table) == ["day"]
    assert txlog.read_table(spark, table).count() == 40
    txlog.expire_versions(table, keep_from=2)
    assert txlog.partition_by_of(table) == ["day"]
    # the spec still binds appends after the rebase
    txlog.commit(
        spark.createDataFrame([(101, 2, "y")], "k int, day int, v string"),
        table,
    )
    assert all("day=" in rel for rel in txlog._last_commit(table)["add"])
    got = txlog.read_table(spark, table)
    assert got.count() == 41
    assert got.where(F.col("k") == 101).first()["day"] == 2


def test_null_and_string_partition_values(spark, tmp_path):
    """NULL partition values round-trip through the Hive default
    marker; string values with URL-escaped characters decode back."""
    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [
            Row(k=1, tag="plain", v="a"),
            Row(k=2, tag="with space", v="b"),
            Row(k=3, tag=None, v="c"),
        ],
        "k int, tag string, v string",
    )
    txlog.commit(df, table, partition_by=["tag"])
    got = txlog.read_table(spark, table)
    vals = {r["k"]: r["tag"] for r in got.collect()}
    assert vals == {1: "plain", 2: "with space", 3: None}
    pr = txlog.read_table_partitioned(spark, table, {"tag": None})
    assert [r["k"] for r in pr.collect()] == [3]


def test_update_moves_rows_across_partitions(spark, tmp_path):
    """SET on the partition column itself: rewritten rows must land
    under their NEW col=value directories (the inherited partitionBy
    write re-buckets them) and the moved rows read back with the new
    value — a wrong layout would misreport every moved row."""
    table = str(tmp_path / "t")
    _mk(spark, table)
    txlog.update_where(spark, table, "k", 0, 9, {"day": "9"})
    got = txlog.read_table(spark, table)
    assert got.count() == 40
    assert got.where(F.col("day") == 9).count() == 10
    # moved rows physically live under day=9
    pr = txlog.read_table_partitioned(spark, table, {"day": 9})
    assert pr.count() == 10
    assert all("day=9" in f for f in pr.inputFiles())


def test_in_list_pruned_read(spark, tmp_path):
    """read_table_pruned_in: zone maps keep a file iff ANY probe
    value intersects its [min,max]; the row-level IN keeps the answer
    exact; NULL probes never match (SQL IN semantics)."""
    table = str(tmp_path / "t")
    for lo in (0, 100, 200):
        txlog.commit(
            spark.createDataFrame(
                [(lo + i, f"v{lo + i}") for i in range(50)],
                "k int, v string",
            ).coalesce(1),
            table,
            stats_cols=["k"],
        )
    all_files = txlog.read_table(spark, table).inputFiles()
    got = txlog.read_table_pruned_in(spark, table, "k", [5, 205, None])
    assert sorted(r["k"] for r in got.collect()) == [5, 205]
    assert 0 < len(got.inputFiles()) < len(all_files)
    # empty / all-NULL probe lists: empty result, zero files scanned
    assert txlog.read_table_pruned_in(spark, table, "k", []).count() == 0
    assert (
        txlog.read_table_pruned_in(spark, table, "k", [None]).count() == 0
    )


def test_scoped_optimize_of_one_partition(spark, tmp_path):
    """OPTIMIZE ... WHERE on a partition column: the path-derived
    zone maps (min=max=value) scope the rewrite to exactly that
    partition's files — the nightly compact-yesterday's-partition
    job; out-of-scope partitions keep their physical files."""
    table = str(tmp_path / "t")
    _mk(spark, table, n=80)
    before = {
        rel
        for c in txlog._read_log(table)
        for rel in c["add"]
        if "day=2" not in rel
    }
    v = txlog.optimize(
        spark, table, target_file_mb=128, where=("day", 2, 2)
    )
    rec = txlog._last_commit(table)
    assert rec["action"] == "replace"
    assert all("day=2" in rel for rel in rec["remove"])
    assert all("day=" in rel for rel in rec["add"])  # layout kept
    # out-of-scope files untouched and still referenced
    files_now = {
        os.path.relpath(f, table)
        for f in txlog.read_table(spark, table).inputFiles()
    }
    # (inputFiles returns URIs; compare by suffix membership)
    for rel in before:
        assert any(f.endswith(rel) for f in
                   txlog.read_table(spark, table).inputFiles())
    assert txlog.read_table(spark, table).count() == 80
    assert (
        txlog.read_table(spark, table).where(F.col("day") == 2).count()
        == 20
    )


def test_clone_of_partitioned_dv_table(spark, tmp_path):
    """SHALLOW CLONE of a partitioned, DV-carrying table: partition
    values resolve from the cross-root '../' paths, vectors apply,
    and the clone's own DML keeps the inherited layout."""
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "branch")
    _mk(spark, src, n=40)
    txlog.delete_where(spark, src, "k", 0, 3, mode="dv")
    txlog.clone(src, tgt)
    got = txlog.read_table(spark, tgt)
    assert got.count() == 36
    assert got.where(F.col("day") != F.col("k") % 4).count() == 0
    assert txlog.partition_by_of(tgt) == ["day"]
    pr = txlog.read_table_partitioned(spark, tgt, {"day": 1})
    assert pr.count() == 9  # k=1 deleted by the DV
    # clone-side append inherits the layout under the clone's root
    txlog.commit(
        spark.createDataFrame(
            [(100, 1, "x")], "k int, day int, v string"
        ),
        tgt,
    )
    rec = txlog._last_commit(tgt)
    assert all("day=" in rel and not rel.startswith("..") for rel in rec["add"])
    assert txlog.read_table(spark, tgt).count() == 37
    assert txlog.read_table(spark, src).count() == 36


def test_merge_into_prunes_bucket_layout(spark, tmp_path):
    """Bucket-layout-aware MERGE pruning (VERDICT r12 order #4): on a
    bucket(N, key) table, the batch's key set maps to its bucket set
    — one Spark aggregate, JVM-identical to the writer's path
    arithmetic — and the replace touches at most |batch buckets|
    directories, zero footer reads (no stats recorded anywhere)."""
    import zlib

    table = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, i * 10, "base") for i in range(256)],
        "k long, v long, tag string",
    )
    txlog.commit(base, table, partition_by=["bucket(16, k)"])
    batch_keys = [3, 19, 300]  # 300 is an INSERT
    ups = spark.createDataFrame(
        [(k, k * 100, "upd") for k in batch_keys],
        "k long, v long, tag string",
    )
    txlog.merge_into(spark, table, ups, keys=["k"], version_cols=["v"])
    rec = txlog._last_commit(table)
    assert rec["action"] == "replace"
    want_buckets = {zlib.crc32(str(k).encode()) % 16 for k in batch_keys}
    got_buckets = {
        int(seg.split("=")[1])
        for rel in rec["remove"]
        for seg in rel.split("/")
        if seg.startswith("k_bucket16=")
    }
    # the rewrite opened ONLY the batch's buckets — and strictly
    # fewer directories than the full 16-bucket listing
    assert got_buckets <= want_buckets
    assert len(got_buckets) < 16
    got = txlog.read_table(spark, table)
    assert got.count() == 257
    assert sorted(
        r["v"] for r in got.where(F.col("tag") == "upd").collect()
    ) == [300, 1900, 30000]
    # era-mixed: evolve to bucket(4), append, merge again — both
    # eras prune with their own arithmetic
    txlog.set_partition_spec(table, ["bucket(4, k)"])
    extra = spark.createDataFrame(
        [(1000 + i, i, "era2") for i in range(64)],
        "k long, v long, tag string",
    )
    txlog.commit(extra, table)
    ups2 = spark.createDataFrame(
        [(1003, 99999, "upd2")], "k long, v long, tag string"
    )
    txlog.merge_into(spark, table, ups2, keys=["k"], version_cols=["v"])
    rec2 = txlog._last_commit(table)
    b16 = zlib.crc32(b"1003") % 16
    b4 = zlib.crc32(b"1003") % 4
    for rel in rec2["remove"]:
        assert f"k_bucket16={b16}" in rel or f"k_bucket4={b4}" in rel
    assert (
        txlog.read_table(spark, table)
        .where(F.col("k") == 1003)
        .head()["v"]
        == 99999
    )
