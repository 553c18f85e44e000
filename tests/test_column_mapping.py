"""Column mapping — RENAME/DROP COLUMN as metadata-only commits
(VERDICT r9 order #6, Delta's name-mapping mode): the schema DDL
carries logical names, data files keep their original physical names
forever, every reader resolves through the logical→physical map, and
time travel across the rename still resolves old snapshots with
their own schema."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from parquet_combiner_spark.tools import txlog

# the slow build-mutate-read half of the gate (see pytest.ini)
pytestmark = pytest.mark.txlifecycle


def _mk(spark, table, n=50):
    df = spark.createDataFrame(
        [(i, i % 5, f"v{i}") for i in range(n)],
        "k int, grp int, v string",
    )
    txlog.commit(df, table, stats_cols=["k"])
    return df


def test_rename_is_metadata_only_and_reads_back(spark, tmp_path):
    table = str(tmp_path / "t")
    _mk(spark, table)
    rels = txlog._read_log(table)[-1]["add"]
    mtimes = {
        r: os.path.getmtime(os.path.join(table, r)) for r in rels
    }
    v = txlog.rename_column(table, "grp", "bucket")
    assert v == 1
    # zero data rewritten
    for r, m in mtimes.items():
        assert os.path.getmtime(os.path.join(table, r)) == m
    got = txlog.read_table(spark, table)
    assert got.columns == ["k", "bucket", "v"]
    assert got.where(F.col("bucket") != F.col("k") % 5).count() == 0
    # time travel BEFORE the rename resolves the old logical name
    old = txlog.read_table(spark, table, 0)
    assert old.columns == ["k", "grp", "v"]
    assert old.where(F.col("grp") != F.col("k") % 5).count() == 0
    # the mapping rides the record
    assert txlog._last_commit(table)["column_mapping"] == {"bucket": "grp"}


def test_rename_chain_and_rename_back(spark, tmp_path):
    table = str(tmp_path / "t")
    _mk(spark, table)
    txlog.rename_column(table, "grp", "bucket")
    txlog.rename_column(table, "bucket", "cohort")
    got = txlog.read_table(spark, table)
    assert got.columns == ["k", "cohort", "v"]
    assert got.where(F.col("cohort") != F.col("k") % 5).count() == 0
    assert txlog._last_commit(table)["column_mapping"] == {"cohort": "grp"}
    # renaming back to the physical name drops the identity entry
    txlog.rename_column(table, "cohort", "grp")
    assert txlog._last_commit(table).get("column_mapping", {}) == {}
    assert txlog.read_table(spark, table).columns == ["k", "grp", "v"]


def test_appends_and_dml_after_rename(spark, tmp_path):
    """New writes arrive under LOGICAL names and must land in files
    under PHYSICAL names, so old and new files stay uniform; DML
    pruning on the renamed column keeps its zone maps (keyed
    physical)."""
    table = str(tmp_path / "t")
    _mk(spark, table)
    txlog.rename_column(table, "v", "text")
    txlog.commit(
        spark.createDataFrame(
            [(100, 0, "new-row")], "k int, grp int, text string"
        ),
        table,
        stats_cols=["k"],
    )
    import pyarrow.parquet as pq

    new_rel = txlog._last_commit(table)["add"][0]
    names = pq.ParquetFile(os.path.join(table, new_rel)).schema_arrow.names
    assert "v" in names and "text" not in names  # physical on disk
    got = txlog.read_table(spark, table)
    assert got.count() == 51
    assert got.where(F.col("text") == "new-row").count() == 1
    # pruned read on a column with PRE-rename zone maps still skips
    all_files = txlog.read_table(spark, table).inputFiles()
    zp = txlog.read_table_pruned(spark, table, "k", 100, 100)
    assert zp.count() == 1
    assert len(zp.inputFiles()) < len(all_files)
    # update / delete on the renamed column
    txlog.update_where(spark, table, "k", 100, 100, {"text": "'upd'"})
    assert (
        txlog.read_table(spark, table)
        .where(F.col("text") == "upd")
        .count()
        == 1
    )
    txlog.delete_where(spark, table, "k", 0, 9, mode="dv")
    assert txlog.read_table(spark, table).count() == 41


def test_drop_column_is_metadata_only(spark, tmp_path):
    table = str(tmp_path / "t")
    _mk(spark, table)
    v = txlog.drop_column(table, "v")
    assert v == 1
    got = txlog.read_table(spark, table)
    assert got.columns == ["k", "grp"]
    # the data survives underneath: time travel still shows it
    assert txlog.read_table(spark, table, 0).columns == ["k", "grp", "v"]
    # appends now follow the narrowed schema
    txlog.commit(
        spark.createDataFrame([(100, 0)], "k int, grp int"), table
    )
    assert txlog.read_table(spark, table).count() == 51


def test_rename_guards(spark, tmp_path):
    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 0, "a")], "k int, day int, v string"
    )
    txlog.commit(df, table, partition_by=["day"])
    with pytest.raises(ValueError, match="partition column"):
        txlog.rename_column(table, "day", "dt")
    with pytest.raises(ValueError, match="already exists"):
        txlog.rename_column(table, "v", "k")
    with pytest.raises(ValueError, match="no column"):
        txlog.rename_column(table, "zz", "yy")
    txlog.add_constraint(spark, table, "k_pos", "k > 0")
    with pytest.raises(ValueError, match="CHECK constraint"):
        txlog.rename_column(table, "k", "kk")
    with pytest.raises(ValueError, match="CHECK constraint"):
        txlog.drop_column(table, "k")
    with pytest.raises(ValueError, match="partition column"):
        txlog.drop_column(table, "day")


def test_rename_interacts_with_dv_and_restore(spark, tmp_path):
    table = str(tmp_path / "t")
    _mk(spark, table)
    txlog.delete_where(spark, table, "k", 0, 9, mode="dv")  # v1
    txlog.rename_column(table, "grp", "bucket")  # v2
    got = txlog.read_table(spark, table)
    assert got.count() == 40
    assert got.columns == ["k", "bucket", "v"]
    # checkpoint carries the mapping
    txlog.checkpoint(table)
    assert txlog.read_table(spark, table).count() == 40
    # restore to the pre-rename version brings the old schema back
    txlog.restore(table, version=1)
    got = txlog.read_table(spark, table)
    assert got.columns == ["k", "grp", "v"]
    assert got.count() == 40
    # expire keeps the (now-identity) state consistent
    head = txlog.current_version(table)
    txlog.expire_versions(table, keep_from=head)
    assert txlog.read_table(spark, table).count() == 40


def test_python_datasource_reads_renamed_table(spark, tmp_path):
    from parquet_combiner_spark.sources.txtable_source import (
        TxTableDataSource,
    )

    table = str(tmp_path / "t")
    _mk(spark, table)
    txlog.rename_column(table, "v", "text")
    spark.dataSource.register(TxTableDataSource)
    got = spark.read.format("txtable").option("path", table).load()
    assert got.columns == ["k", "grp", "text"]
    assert got.where(F.col("text").isNull()).count() == 0
    assert got.count() == 50


def test_streaming_publisher_refuses_mapped_table(spark, tmp_path):
    table = str(tmp_path / "t")
    _mk(spark, table)
    txlog.rename_column(table, "v", "text")
    rel = os.path.join("data", "staged-x", "part-0.parquet")
    full = os.path.join(table, rel)
    os.makedirs(os.path.dirname(full), exist_ok=True)
    spark.createDataFrame(
        [Row(k=1, grp=0, text="x")], "k int, grp int, text string"
    ).toPandas().to_parquet(full)
    with pytest.raises(ValueError, match="column mapping"):
        txlog.publish_files(
            table, [rel], "k int, grp int, text string"
        )


def test_optimize_materializes_logical_names(spark, tmp_path):
    """OPTIMIZE (a full overwrite) rewrites under the current logical
    names and resets the mapping — the escape hatch that re-enables
    the streaming publisher after a rename."""
    table = str(tmp_path / "t")
    _mk(spark, table)
    txlog.rename_column(table, "v", "text")
    txlog.optimize(spark, table, target_file_mb=128)
    assert txlog._last_commit(table).get("column_mapping", {}) == {}
    import pyarrow.parquet as pq

    rel = txlog._last_commit(table)["add"][0]
    assert "text" in pq.ParquetFile(
        os.path.join(table, rel)
    ).schema_arrow.names
    got = txlog.read_table(spark, table)
    assert got.columns == ["k", "grp", "text"]
    assert got.count() == 50


def test_read_appends_resolves_renamed_columns(spark, tmp_path):
    """A file appended after a rename keeps the column's PHYSICAL
    name: the append delta must resolve it through the mapping (the
    incremental materialized-view refresh reads this delta), not
    null-fill the logical name."""
    table = str(tmp_path / "t")
    _mk(spark, table, n=10)
    v = txlog.rename_column(table, "v", "text")
    txlog.commit(
        spark.createDataFrame([(100, 0, "new")], "k int, grp int, text string"),
        table,
    )
    got = txlog.read_appends(spark, table, after_version=v)
    assert got.columns == ["k", "grp", "text"]
    assert [tuple(r) for r in got.collect()] == [(100, 0, "new")]


def test_cdf_consumers_get_loud_signal_at_rename_boundary(spark, tmp_path):
    """A rename is an ``overwrite``-class metadata commit: append-
    delta consumers and the commit-log stream source refuse to read
    silently across it (recompute-from-snapshot is the contract, the
    same as Delta CDF without mapping-aware readers); with
    ignore_changes the stream re-emits the snapshot under the NEW
    logical schema with values resolved through the mapping."""
    from parquet_combiner_spark.sources.txtable_source import (
        TxTableChangesStreamReader,
    )

    table = str(tmp_path / "t")
    _mk(spark, table, n=10)
    txlog.rename_column(table, "v", "text")  # v1
    with pytest.raises(ValueError, match="overwrite"):
        txlog.read_appends(spark, table, after_version=-1)
    reader = TxTableChangesStreamReader(
        spark.createDataFrame(
            [], "k int, grp int, text string, _commit_version bigint"
        ).schema,
        table,
        from_version=-1,
        ignore_changes=False,
    )
    with pytest.raises(ValueError, match="rewrites"):
        reader.partitions({"version": -1}, {"version": 1})
    reader2 = TxTableChangesStreamReader(
        spark.createDataFrame(
            [], "k int, grp int, text string, _commit_version bigint"
        ).schema,
        table,
        from_version=-1,
        ignore_changes=True,
    )
    parts = reader2.partitions({"version": 0}, {"version": 1})
    batches = [b for p in parts for b in reader2.read(p)]
    import pyarrow as pa

    tbl = pa.Table.from_batches(batches)
    assert tbl.num_rows == 10
    # values resolved through the mapping, not null-filled
    assert tbl.column("text").null_count == 0


def test_merge_schema_add_column_after_rename(spark, tmp_path):
    """Schema ADD (merge_schema) composes with the rename map: the
    added column is identity-mapped, the renamed one keeps its
    physical name, and reads reconcile all three file eras."""
    table = str(tmp_path / "t")
    _mk(spark, table)
    txlog.rename_column(table, "v", "text")
    txlog.commit(
        spark.createDataFrame(
            [(100, 0, "x", 1.5)],
            "k int, grp int, text string, score double",
        ),
        table,
        merge_schema=True,
    )
    got = txlog.read_table(spark, table)
    assert got.columns == ["k", "grp", "text", "score"]
    assert got.count() == 51
    # old files null-fill the added column; renamed column resolves
    assert got.where(F.col("score").isNotNull()).count() == 1
    assert got.where(F.col("text").isNull()).count() == 0


def test_table_changes_sees_dv_deletes(spark, tmp_path):
    """The key-level CDF (two snapshot reads + hash diff) is DV-aware
    for free because both sides read through _scan: rows deleted by a
    vector classify as removed."""
    table = str(tmp_path / "t")
    _mk(spark, table, n=20)
    txlog.delete_where(spark, table, "k", 0, 4, mode="dv")
    ch = txlog.table_changes(spark, table, from_version=0, keys=["k"])
    removed = sorted(
        r["k"] for r in ch.where(F.col("change") == "removed").collect()
    )
    assert removed == [0, 1, 2, 3, 4]
