"""Point-set (IN-list) pruning in expression DML (VERDICT r13 'Next
round' #4): ``delete_where_expr`` / ``update_where_expr`` on a
``k IN (…)`` predicate probe each file PER KEY through zone maps,
hidden-partition paths, and listing-level bloom sidecars — the
machinery ``merge_into`` already ran for narrow CDC batches, threaded
through :func:`_sql_conjunct_constraints` — so the GDPR point-delete
shape on an UNCLUSTERED key rewrites only the key-holding files
instead of everything the [min, max] envelope spans. Also pins the
Cast-unwrapping that makes extraction see ``cast(k as bigint) IN …``
(analysis wraps the attribute whenever literal types differ)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import Row

from parquet_combiner_spark.tools import txlog

pytestmark = pytest.mark.txlifecycle

INF = float("inf")

SCHEMA = "k long, g long, v long, s string"


@pytest.mark.parametrize(
    "pred,want",
    [
        ("k IN (3, 501, 997)", ({"k": (3, 997)}, {"k": [3, 501, 997]})),
        ("k = 5", ({"k": (5, 5)}, {"k": [5]})),
        ("s IN ('a','b')", ({"s": ("a", "b")}, {"s": ["a", "b"]})),
        # two point conjuncts intersect
        ("k IN (1,2) AND k IN (2,3)", ({"k": (2, 2)}, {"k": [2]})),
        # disjoint point conjuncts: empty set = no row can match
        ("k IN (1,2) AND k IN (8,9)", ({"k": (8, 2)}, {"k": []})),
        # set alongside a band on another column
        (
            "k IN (1,2) AND v > 7",
            ({"k": (1, 2), "v": (7, INF)}, {"k": [1, 2]}),
        ),
        # rendering/semantics-changing casts stay opaque
        ("cast(k as string) = '5'", ({}, {})),
        ("cast(k as double) = 5.0", ({}, {})),
        # OR contributes nothing
        ("k IN (1,2) OR v > 7", ({}, {})),
        # mixed-type equality: ANSI analysis wraps 'x' in a cast to
        # bigint whose eval THROWS, so that conjunct contributes
        # nothing — the extractable half still prunes (sound: a band
        # never widens what the row predicate can match)
        ("k = 5 AND k = 'x'", ({"k": (5, 5)}, {"k": [5]})),
        # same-type contradictions intersect to the empty set
        ("s = 'a' AND s = 'b'", ({"s": ("b", "a")}, {"s": []})),
    ],
)
def test_sql_conjunct_constraints(spark, pred, want):
    assert txlog._sql_conjunct_constraints(spark, SCHEMA, pred) == want


def test_point_set_cap_falls_back_to_envelope(spark):
    vals = ", ".join(str(i) for i in range(1030))
    bands, points = txlog._sql_conjunct_constraints(
        spark, SCHEMA, f"k IN ({vals})"
    )
    assert bands == {"k": (0, 1029)}
    assert points == {}  # above _POINT_SET_CAP: envelope only


def _unclustered_table(spark, tmp_path, bloom=True):
    """10 files, k interleaved so every file's [min, max] envelope
    spans nearly the full key range — envelope pruning is useless."""
    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [Row(k=i, g=i % 10, v=i) for i in range(1000)],
        "k long, g long, v long",
    ).repartition(10, "g")
    kw = {"bloom_cols": {"k": 10_000}} if bloom else {}
    txlog.commit(df, table, stats_cols=["k"], **kw)
    return table


def test_in_delete_rewrites_only_key_holding_files(spark, tmp_path):
    table = _unclustered_table(spark, tmp_path)
    n_files = len(txlog._last_commit(table)["add"])
    assert n_files >= 5  # hash partitioning may fold some g's together
    # keys 3, 501, 997 live in g-partitions 3, 1, 7 → at most 3 files
    # (fewer if partitions hashed together); the envelope alone would
    # rewrite ALL of them
    txlog.delete_where_expr(spark, table, "k IN (3, 501, 997)")
    rec = txlog._last_commit(table)
    assert rec["action"] == "replace"
    assert 1 <= len(rec["remove"]) <= 3 < n_files, rec["remove"]
    got = txlog.read_table(spark, table)
    assert got.count() == 997
    assert got.where("k IN (3, 501, 997)").count() == 0


def test_in_update_dv_targets_only_key_holding_files(spark, tmp_path):
    table = _unclustered_table(spark, tmp_path)
    txlog.update_where_expr(
        spark, table, "k IN (10, 20) AND v >= 0",
        {"v": "v + 100000"}, mode="dv",
    )
    rec = txlog._last_commit(table)
    # merge-on-read: vectors only on the single file holding k=10,20
    # (both ≡ 0 mod 10 → same g-partition)
    assert rec["action"] == "dv"
    assert len(rec["dv"]) == 1, sorted(rec["dv"])
    got = txlog.read_table(spark, table)
    assert sorted(
        r["k"] for r in got.where("v > 99999").collect()
    ) == [10, 20]
    assert got.count() == 1000


def test_disjoint_point_conjuncts_are_a_noop(spark, tmp_path):
    table = _unclustered_table(spark, tmp_path)
    v0 = txlog.current_version(table)
    # no row satisfies both IN lists: prune proves it from metadata,
    # nothing is rewritten, and the result matches row-level truth
    assert (
        txlog.delete_where_expr(spark, table, "k IN (1,2) AND k IN (8,9)")
        == v0
    )
    assert txlog.read_table(spark, table).count() == 1000


def test_point_set_without_bloom_still_sound(spark, tmp_path):
    """No sidecars: per-key zone/path probes keep every candidate
    file (envelope spans all), delete stays correct — the point set
    only ever REFINES, never invents a skip."""
    table = _unclustered_table(spark, tmp_path, bloom=False)
    txlog.delete_where_expr(spark, table, "k IN (3, 501, 997)")
    got = txlog.read_table(spark, table)
    assert got.count() == 997
    assert got.where("k IN (3, 501, 997)").count() == 0


def test_read_table_where_prunes_and_is_exact(spark, tmp_path):
    """read_table_where: the READ-side twin — IN-list point probes
    skip files from the LISTING (inputFiles pin) and the row-level
    predicate makes the result exactly the filtered snapshot."""
    table = _unclustered_table(spark, tmp_path)
    got = txlog.read_table_where(
        spark, table, "k IN (3, 501, 997) AND v >= 0"
    )
    assert sorted(r["k"] for r in got.collect()) == [3, 501, 997]
    n_files = len(txlog._last_commit(table)["add"])
    assert 1 <= len(got.inputFiles()) <= 3 < n_files
    # unextractable OR shape: prunes nothing, still exact
    got2 = txlog.read_table_where(spark, table, "k = 3 OR v = 501")
    assert sorted(r["k"] for r in got2.collect()) == [3, 501]
    assert len(got2.inputFiles()) == n_files


def test_point_set_respects_bucket_layout(spark, tmp_path):
    """On a bucket(8, k) hidden-partition layout the per-key PATH
    probe alone (no stats, no bloom) pins the rewrite to the keys'
    bucket directories."""
    table = str(tmp_path / "b")
    df = spark.createDataFrame(
        [Row(k=i, v=i) for i in range(500)], "k long, v long"
    )
    txlog.commit(df, table, partition_by=["bucket(8, k)"])
    import zlib

    want_buckets = {
        zlib.crc32(str(k).encode()) % 8 for k in (17, 253)
    }
    txlog.delete_where_expr(spark, table, "k IN (17, 253)")
    rec = txlog._last_commit(table)
    removed_buckets = {
        rel.split("k_bucket8=")[1].split("/")[0]
        for rel in rec["remove"]
    }
    assert removed_buckets == {str(b) for b in want_buckets}
    got = txlog.read_table(spark, table)
    assert got.count() == 498
    assert got.where("k IN (17, 253)").count() == 0


NAN = float("nan")


@pytest.mark.parametrize(
    "ddl,vals",
    [
        ("bigint", [5, 3, 9, 3]),
        ("double", [1.5, NAN, -0.0, 0.0, NAN, -2.0]),
        ("double", [NAN, NAN]),
        ("float", [0.0, -0.0, 2.5, NAN]),
        ("string", ["b", "a", "é", "z", "a"]),
        ("decimal(10,2)", ["1.50", "-3.25", "1.50"]),
        ("date", ["2024-03-01", "1999-12-31", "2024-03-01"]),
        ("timestamp", ["2024-03-01 10:00:00", "1999-12-31 23:59:59"]),
        ("timestamp_ntz", ["2024-03-01 10:00:00", "1999-12-31 23:59:59"]),
        ("boolean", ["true", "false", "true"]),
        ("bigint", [3, None, 1]),  # a NULL key: no point set
        ("bigint", [None, None]),
        ("bigint", list(range(1100, 0, -1))),  # over the cap
    ],
)
def test_merge_batch_keys_match_spark_aggregate(spark, ddl, vals):
    """``merge_into``'s batch summary equals Spark's own ``min``/
    ``max``/``count`` and ``distinct``, exactly (``repr`` tells NaN
    and -0.0 apart), whichever way it was computed."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(None if v is None else str(v),) for v in vals], "s string"
    ).select(F.col("s").cast(ddl).alias("k"))
    bounds, points = txlog._merge_batch_keys(df, "k")
    want = df.agg(
        F.min("k").alias("lo"),
        F.max("k").alias("hi"),
        F.count(F.lit(1)).alias("n"),
        F.count("k").alias("n_key"),
    ).first()
    assert {k: repr(v) for k, v in bounds.items()} == {
        k: repr(want[k]) for k in ("lo", "hi", "n", "n_key")
    }
    if want["n_key"] < want["n"] or want["n"] > txlog._POINT_SET_CAP:
        assert points is None
    else:
        distinct = [r[0] for r in df.distinct().collect()]
        assert sorted(map(repr, points)) == sorted(map(repr, distinct))


def test_small_merge_reads_its_batch_once(spark, tmp_path):
    """A 10-row MERGE into a 100-row, one-file table runs 3 Spark jobs,
    with or without ``cdf``: one Arrow collect of the batch keys gives
    the bounds, the counts and the point set (the bounds aggregate and
    the distinct pass took 2 jobs each), then the merge and its
    write."""
    sc = spark.sparkContext
    ups = spark.createDataFrame(
        [(i * 3, 1000 + i) for i in range(10)], "k long, v long"
    )
    for cdf in (False, True):
        table = str(tmp_path / f"t{cdf}")
        txlog.commit(
            spark.createDataFrame(
                [(i, i) for i in range(100)], "k long, v long"
            ).coalesce(1),
            table,
        )
        group = f"merge-jobs-{cdf}"
        sc.setJobGroup(group, "merge_into")
        try:
            txlog.merge_into(
                spark, table, ups, keys=["k"], version_cols=["v"], cdf=cdf
            )
            jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(jobs) == 3, (cdf, jobs)
        got = txlog.read_table(spark, table)
        assert got.count() == 100
        assert got.where("v >= 1000").count() == 10
