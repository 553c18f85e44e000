"""The one publish path of the table log: every verb that mints a
version goes through ``txlog._publish``, so its promises are checked
here once per verb.

* A commit record appears whole or not at all: a payload write that
  fails leaves the table at its pre-state and the next commit lands
  at the next version (Delta's put-if-absent of a complete record).
* A publish that fails leaves the pre-state for every publishing
  verb, the written data files are vacuum garbage, and a retry lands
  exactly one version.
* Every record writer carries the six table properties forward
  (``txlog._TABLE_PROPS``), with the documented exceptions.
"""

from __future__ import annotations

import errno
import os
import resource
import shutil
import signal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquet_combiner_spark.tools import txlog

pytestmark = pytest.mark.txlifecycle

SCHEMA = "k int, p int, v string, ver int"
ROWS = [(i, i % 2, f"s{i}", 1) for i in range(8)]


@pytest.fixture()
def arbiter():
    """Install an arbiter for one test; the previous one comes back."""
    installed = []

    def install(arb):
        installed.append(txlog.set_arbiter(arb))
        return arb

    yield install
    for prev in reversed(installed):
        txlog.set_arbiter(prev)


def _rows(spark, table):
    return sorted(map(tuple, txlog.read_table(spark, table).collect()))


def _stage(table, name, rows, partition=None):
    """Write ``rows`` as one parquet file under ``data/`` the way a
    streaming task stages one (under ``p=<partition>`` without the
    ``p`` column when given) and return its table-relative path."""
    types = [pa.int32(), pa.int32(), pa.string(), pa.int32()]
    data = pa.table(
        [pa.array([r[i] for r in rows], t) for i, t in enumerate(types)],
        names=["k", "p", "v", "ver"],
    )
    rel = os.path.join("data", name)
    if partition is not None:
        rel = os.path.join(rel, f"p={partition}")
        data = data.drop(["p"])
    os.makedirs(os.path.join(table, rel), exist_ok=True)
    rel = os.path.join(rel, "part-0.parquet")
    pq.write_table(data, os.path.join(table, rel))
    return rel


class _FileSizeLimit(txlog.FilesystemArbiter):
    """The default arbiter, run while this process may not grow any
    file past one byte: the payload write fails with ``EFBIG``, the
    way a full disk fails it, wherever the arbiter writes it."""

    def publish(self, path, payload):
        soft, hard = resource.getrlimit(resource.RLIMIT_FSIZE)
        prev = signal.signal(signal.SIGXFSZ, signal.SIG_IGN)
        resource.setrlimit(resource.RLIMIT_FSIZE, (1, hard))
        try:
            super().publish(path, payload)
        finally:
            resource.setrlimit(resource.RLIMIT_FSIZE, (soft, hard))
            signal.signal(signal.SIGXFSZ, prev)


def test_failed_payload_write_leaves_no_torn_record(spark, tmp_path):
    table = str(tmp_path / "t")
    txlog.commit(spark.createDataFrame(ROWS, SCHEMA), table)
    before = _rows(spark, table)

    prev = txlog.set_arbiter(_FileSizeLimit())
    try:
        with pytest.raises(OSError):
            txlog.commit(
                spark.createDataFrame([(9, 1, "x", 1)], SCHEMA), table
            )
    finally:
        txlog.set_arbiter(prev)

    assert txlog.current_version(table) == 0
    assert _rows(spark, table) == before
    assert txlog.commit(
        spark.createDataFrame([(9, 1, "x", 1)], SCHEMA), table
    ) == 1
    assert _rows(spark, table) == sorted(before + [(9, 1, "x", 1)])


class _FailOnce(txlog.CommitArbiter):
    """Raises ``OSError`` on the first publish, then publishes."""

    def __init__(self):
        self.inner = txlog.FilesystemArbiter()
        self.failed = False

    def publish(self, path, payload):
        if not self.failed:
            self.failed = True
            raise OSError(errno.EIO, "injected publish failure")
        self.inner.publish(path, payload)


def _v_commit(spark, table):
    return txlog.commit(
        spark.createDataFrame([(9, 1, "x", 1)], SCHEMA), table
    )


def _v_publish_files(spark, table):
    rel = os.path.join("data", "staged", "part-0.parquet")
    if not os.path.exists(os.path.join(table, rel)):
        _stage(table, "staged", [(9, 1, "x", 1)])
    return txlog.publish_files(table, [rel], SCHEMA)


def _v_dv_delete(spark, table):
    return txlog.delete_where_expr(spark, table, "k = 3", mode="dv")


def _v_restore(spark, table):
    return txlog.restore(table, version=0)


def _v_alter(spark, table):
    return txlog.set_checkpoint_interval(table, 7)


# verb -> (run, writes data files, rows after one successful run)
PUBLISHERS = {
    "commit": (_v_commit, True, sorted(ROWS + [(9, 1, "x", 1)])),
    "publish_files": (
        _v_publish_files, True, sorted(ROWS + [(9, 1, "x", 1)])
    ),
    "dv_delete": (_v_dv_delete, False, [r for r in ROWS if r[0] != 3]),
    "restore": (_v_restore, False, ROWS[:4]),
    "alter": (_v_alter, False, ROWS),
}


@pytest.mark.parametrize("verb", sorted(PUBLISHERS) + ["clone"])
def test_failed_publish_leaves_pre_state(spark, tmp_path, arbiter, verb):
    table = str(tmp_path / "t")
    txlog.commit(spark.createDataFrame(ROWS[:4], SCHEMA), table)
    txlog.commit(spark.createDataFrame(ROWS[4:], SCHEMA), table)
    head = txlog.current_version(table)
    if verb == "clone":
        target = str(tmp_path / "c")
        arbiter(_FailOnce())
        with pytest.raises(OSError):
            txlog.clone(table, target)
        assert txlog.current_version(target) == -1
        assert txlog.current_version(table) == head
        assert txlog.vacuum(target, dry_run=True, min_age_seconds=0) == []
        assert txlog.clone(table, target) == 0
        assert txlog.current_version(target) == 0
        assert _rows(spark, target) == sorted(ROWS)
        return
    run, writes_data, after = PUBLISHERS[verb]
    assert txlog.vacuum(table, dry_run=True, min_age_seconds=0) == []
    arbiter(_FailOnce())
    with pytest.raises(OSError):
        run(spark, table)
    assert txlog.current_version(table) == head
    assert _rows(spark, table) == sorted(ROWS)
    orphans = txlog.vacuum(table, dry_run=True, min_age_seconds=0)
    assert bool(orphans) == writes_data
    assert run(spark, table) == head + 1
    assert txlog.current_version(table) == head + 1
    assert _rows(spark, table) == sorted(after)


# --- every record writer carries the table properties ----------------------

PROPS = {
    "constraints": {"k_nonneg": "k >= 0"},
    "partition_by": ["p"],
    "column_mapping": {"w": "v"},
    "bloom_cols": {"k": 100},
    "stats_cols": ["k"],
    "checkpoint_interval": 50,
}
MAPPED = "k int, p int, w string, ver int"


@pytest.fixture(scope="module")
def templates(spark, tmp_path_factory):
    """Two tables with every property set: ``mapped`` (all six) and
    ``plain`` (no rename — ``publish_files`` refuses mapped tables)."""
    root = tmp_path_factory.mktemp("props")
    out = {}
    for name in ("plain", "mapped"):
        t = str(root / name)
        txlog.commit(
            spark.createDataFrame(ROWS, SCHEMA),
            t,
            partition_by=["p"],
            bloom_cols={"k": 100},
        )
        txlog.add_constraint(spark, t, "k_nonneg", "k >= 0")
        txlog.set_stats_cols(t, ["k"])
        txlog.set_checkpoint_interval(t, 50)
        if name == "mapped":
            txlog.rename_column(t, "v", "w")
        out[name] = t
    rec = txlog._last_commit(out["mapped"])
    assert {p: rec[p] for p in txlog._TABLE_PROPS} == PROPS
    return out


def _batch(spark, rows):
    return spark.createDataFrame(rows, MAPPED)


def _merge(spark, t):
    upd = _batch(spark, [(1, 1, "m", 2), (20, 0, "n", 1)])
    txlog.merge_into(spark, t, upd, keys=["k"], version_cols=["ver"])


def _restore_first(spark, t):
    txlog.commit(_batch(spark, [(30, 0, "r", 1)]), t)
    txlog.restore(t, version=0)


def _clone(spark, t):
    txlog.clone(t, t + "-clone")


def _publish_staged(spark, t):
    txlog.publish_files(t, [_stage(t, "staged", [(21, 0, "x", 1)], 0)], SCHEMA)


# writer -> (template, property changes: None drops the property)
WRITERS = {
    "append": (lambda s, t: txlog.commit(_batch(s, [(9, 1, "x", 1)]), t), {}),
    "publish_files": (_publish_staged, {"column_mapping": None}),
    "delete_cow": (lambda s, t: txlog.delete_where_expr(s, t, "k = 3"), {}),
    "delete_dv": (
        lambda s, t: txlog.delete_where_expr(s, t, "k = 3", mode="dv"), {}
    ),
    "update_dv": (
        lambda s, t: txlog.update_where_expr(
            s, t, "k = 3", {"w": "'u'"}, mode="dv"
        ),
        {},
    ),
    "merge_into": (_merge, {}),
    # an overwrite rewrites every file under the logical names
    "optimize": (lambda s, t: txlog.optimize(s, t), {"column_mapping": None}),
    "compact_small_files": (
        lambda s, t: txlog.compact_small_files(s, t), {}
    ),
    "expire_versions": (
        lambda s, t: txlog.expire_versions(t, txlog.current_version(t)), {}
    ),
    "set_checkpoint_interval": (
        lambda s, t: txlog.set_checkpoint_interval(t, 0),
        {"checkpoint_interval": None},
    ),
    "set_stats_cols": (
        lambda s, t: txlog.set_stats_cols(t, ["k", "ver"], backfill=False),
        {"stats_cols": ["k", "ver"]},
    ),
    "set_partition_spec": (
        lambda s, t: txlog.set_partition_spec(t, []), {"partition_by": None}
    ),
    "add_constraint": (
        lambda s, t: txlog.add_constraint(s, t, "ver_pos", "ver > 0"),
        {"constraints": {"k_nonneg": "k >= 0", "ver_pos": "ver > 0"}},
    ),
    "drop_constraint": (
        lambda s, t: txlog.drop_constraint(t, "k_nonneg"),
        {"constraints": None},
    ),
    "rename_column": (
        lambda s, t: txlog.rename_column(t, "w", "z"),
        {"column_mapping": {"z": "v"}},
    ),
    "drop_column": (
        lambda s, t: txlog.drop_column(t, "w"), {"column_mapping": None}
    ),
    # the target's data-state properties (version 0: no constraint, no
    # rename yet), the head's write-side ones
    "restore": (_restore_first, {"constraints": None, "column_mapping": None}),
    "clone": (_clone, {}),
}


@pytest.mark.parametrize("writer", list(WRITERS))
def test_record_writers_carry_table_props(spark, tmp_path, templates, writer):
    run, changes = WRITERS[writer]
    plain = writer == "publish_files"
    t = str(tmp_path / "t")
    shutil.copytree(templates["plain" if plain else "mapped"], t)
    v = txlog.current_version(t)
    run(spark, t)
    out = t + "-clone" if writer == "clone" else t
    if writer not in ("expire_versions", "clone"):
        assert txlog.current_version(out) > v
    rec = txlog._last_commit(out)
    want = {
        p: val
        for p, val in {**PROPS, **changes}.items()
        if val is not None
    }
    assert {p: rec[p] for p in txlog._TABLE_PROPS if p in rec} == want
