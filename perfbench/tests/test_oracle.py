"""Each output checker accepts the right output and rejects a
deliberately corrupted one. DuckDB stands in for the engine here: the
"engine output" is the oracle's own answer, written or fetched the way
the workloads read the engine's."""

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import inputs, oracle


def _write(table: pa.Table, directory: str) -> str:
    os.makedirs(directory, exist_ok=True)
    pq.write_table(table, os.path.join(directory, "part-00000.parquet"))
    return directory


@pytest.fixture(scope="module")
def detections(tmp_path_factory):
    root = tmp_path_factory.mktemp("det")
    rng = np.random.default_rng(5)
    n = 400
    oids = rng.integers(1, 300, n)  # repeated ids: dedup matters
    loc = rng.integers(1, 9, n)
    a = pa.table({
        "geographical_location_oid": pa.array(loc, pa.int64()),
        "video_camera_oid": pa.array(loc * 10 + rng.integers(1, 4, n),
                                     pa.int64()),
        "detection_oid": pa.array(oids, pa.int64()),
        "item_name": pa.array([f"item{i}" for i in rng.integers(0, 6, n)]),
        "timestamp_detected": pa.array(np.arange(n), pa.int64()),
    })
    b = pa.table({
        "geographical_location_oid": pa.array(range(1, 8), pa.int64()),
        "geographical_location": [f"city-{i}" for i in range(1, 8)],
    })
    da = _write(a, str(root / "dataA"))
    db = _write(b, str(root / "dataB"))
    return root, da, db, oracle.detection_expected(da, db, 3)


@pytest.mark.parametrize("name", sorted(oracle.DETECTION_ORACLES))
def test_detection_checker_rejects_corrupted_output(detections, name):
    root, da, db, expected = detections
    con = oracle.connect()
    sql = oracle.DETECTION_ORACLES[name].format(
        dedup=oracle._DEDUP.format(a=da), b=db, top_x=3
    )
    good = con.sql(sql).arrow()
    assert good.num_rows > 1
    out = _write(good, str(root / "out" / name))
    assert oracle.parquet_digest(con, out) == expected[name]

    # one value changed
    col = good.column_names[-1]
    vals = good.column(col).to_pylist()
    vals[0] = vals[1] if vals[0] != vals[1] else None
    bad = good.set_column(good.num_columns - 1, col,
                          pa.array(vals, good.schema.field(col).type))
    out = _write(bad, str(root / "bad-value" / name))
    assert oracle.parquet_digest(con, out) != expected[name]
    # one row lost
    out = _write(good.slice(1), str(root / "bad-row" / name))
    assert oracle.parquet_digest(con, out) != expected[name]
    con.close()


def test_tx_replay_rejects_corrupted_snapshot_and_reads(tmp_path):
    base = inputs._rows_table(
        np.random.default_rng(1), np.arange(1, 2001), np.full(2000, 5)
    )
    base_dir = _write(base, str(tmp_path / "base"))
    r = oracle.TxReplay(base_dir)
    c = inputs.cdc_cycle(3, 0, base_rows=2000)
    for t in c["ingest"]:
        r.ingest(t)
    r.merge(c["merge"])
    r.delete_cameras(c["delete_cameras"])
    # every step changed rows, and the change count is the key-level diff
    assert r.changes > len(c["ingest"][0])

    snap = r.con.sql("SELECT * FROM t").arrow()
    assert r.snapshot_mismatch(snap) == 0
    assert r.snapshot_mismatch(snap.slice(1)) == 1
    items = snap.column("item_name").to_pylist()
    items[0] = items[0] + "x"
    assert r.snapshot_mismatch(
        snap.set_column(3, "item_name", pa.array(items))
    ) == 2

    pred = f"detection_oid = {int(snap.column('detection_oid')[0].as_py())}"
    rel = r.con.sql(f"SELECT * FROM t WHERE {pred}")
    cols, rows = rel.columns, rel.fetchall()
    assert oracle.digest(cols, rows) == r.where_digest(pred)
    assert oracle.digest(cols, []) != r.where_digest(pred)
    bad = [tuple(v + 1 if isinstance(v, int) else v for v in rows[0])]
    assert oracle.digest(cols, bad) != r.where_digest(pred)
    r.close()


def test_corpus_checker_rejects_corrupted_output(tmp_path):
    from parquet_combiner_spark.functions import PIPELINE_ORACLE_SQL

    documents, embeddings = inputs._corpus_tables(4, 300, 60)
    pq.write_table(documents, str(tmp_path / "documents.parquet"))
    pq.write_table(embeddings, str(tmp_path / "embeddings.parquet"))
    expected = oracle.corpus_expected(str(tmp_path))

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tmp_path / (t + '.parquet')}')")
    for key in oracle.CORPUS_KEYS:
        rel = con.sql(PIPELINE_ORACLE_SQL[key])
        cols, rows = rel.columns, rel.fetchall()
        assert rows, key
        assert oracle.digest(cols, rows) == expected[key]
        assert oracle.digest(cols, rows[1:]) != expected[key]
        first = list(rows[0])
        first[-1] = "corrupt" if first[-1] != "corrupt" else "other"
        assert oracle.digest(cols, [tuple(first)] + rows[1:]) != expected[key]
    con.close()
