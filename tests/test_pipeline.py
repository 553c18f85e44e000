"""Behavioral parity with the reference's test scenarios.

Each test cites the reference scenario it ports (SURVEY.md §5.1-5.2;
files under /root/reference/src/test/scala/com/htx/).
"""

from __future__ import annotations

from conftest import make_data_a, make_data_b

from parquet_combiner_spark.pipeline import (
    all_aggregations,
    item_count,
    location_stats,
    top_items,
)

# Canonical 18-row fixture (ParquetCombinerRDDIntegrationTest.scala:81-105):
# loc1: apple x2, banana x2 (+dup oid 1005), cherry
# loc2: apple x2 (+dup oid 2005), banana, orange, grape
# loc3: watermelon x2, apple, banana, orange, grape
CANONICAL_A = [
    (1, 101, 1001, "apple", 1000),
    (1, 101, 1002, "apple", 1001),
    (1, 102, 1003, "banana", 1002),
    (1, 102, 1004, "banana", 1003),
    (1, 102, 1005, "banana", 1004),
    (1, 103, 1005, "banana", 1005),  # dup oid 1005
    (1, 103, 1006, "cherry", 1006),
    (2, 201, 2001, "apple", 2000),
    (2, 201, 2002, "apple", 2001),
    (2, 202, 2005, "apple", 2002),
    (2, 202, 2003, "banana", 2003),
    (2, 203, 2005, "apple", 2004),  # dup oid 2005
    (2, 203, 2004, "orange", 2005),
    (2, 204, 2006, "grape", 2006),
    (3, 301, 3001, "watermelon", 3000),
    (3, 301, 3002, "watermelon", 3001),
    (3, 302, 3003, "apple", 3002),
    (3, 302, 3004, "banana", 3003),
]
CANONICAL_B = [(1, "New York"), (2, "San Francisco"), (3, "Los Angeles")]


def rows_set(df):
    return {tuple(r) for r in df.collect()}


def test_dedup_and_join_correctness(spark):
    """Duplicate detection_oid counted once (UnitTest.scala:61-102)."""
    a = make_data_a(spark, CANONICAL_A)
    b = make_data_b(spark, CANONICAL_B)
    out = item_count(a, b)
    got = {(r[0], r[1]): r[2] for r in out.collect()}
    # loc1: banana has 4 rows but oid 1005 duplicated -> 3
    assert got[(1, "banana")] == 3
    assert got[(1, "apple")] == 2
    # loc2: apple has 4 rows, oid 2005 duplicated -> 3 distinct oids
    assert got[(2, "apple")] == 3
    assert got[(3, "watermelon")] == 2


def test_rank_order_and_stringness(spark):
    """Ranks are strings '1','2',... in count-desc order
    (UnitTest.scala:105-156; IntegrationTest.scala:188-211)."""
    a = make_data_a(spark, CANONICAL_A)
    b = make_data_b(spark, CANONICAL_B)
    out = top_items(a, b, top_x=5)
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "string",
        "string",
        "string",
    ]
    ny = {r["item_rank"]: r["item_name"] for r in out.collect()
          if r["geographical_location"] == "New York"}
    assert ny["1"] == "banana"  # 3 after dedup
    assert ny["2"] == "apple"   # 2
    assert ny["3"] == "cherry"  # 1


def test_topx_parameter(spark):
    """topX=2 on canonical fixture -> exactly 6 rows, ranks sequential
    (IntegrationTest.scala:267-319; UnitTest.scala:307-355)."""
    a = make_data_a(spark, CANONICAL_A)
    b = make_data_b(spark, CANONICAL_B)
    out = top_items(a, b, top_x=2).collect()
    assert len(out) == 6
    for loc in ("New York", "San Francisco", "Los Angeles"):
        ranks = sorted(r["item_rank"] for r in out
                       if r["geographical_location"] == loc)
        assert ranks == ["1", "2"]


def test_empty_input(spark):
    """Empty dataA -> empty result (UnitTest.scala:357-377)."""
    a = make_data_a(spark, [])
    b = make_data_b(spark, CANONICAL_B)
    assert top_items(a, b, 5).count() == 0


def test_unknown_location_and_no_detection_location(spark):
    """Location missing from dataB -> 'Unknown'; location with no
    detections -> absent (UnitTest.scala:594-628; RDD.scala:189)."""
    a = make_data_a(spark, [(7, 701, 7001, "kiwi", 1)])
    b = make_data_b(spark, [(1, "Ghost Town")])  # loc 7 unknown; loc 1 silent
    out = top_items(a, b, 5).collect()
    assert len(out) == 1
    assert out[0]["geographical_location"] == "Unknown"
    assert out[0]["item_name"] == "kiwi"


def test_null_and_empty_item_names_survive(spark):
    """null and '' are legal group keys (UnitTest.scala:667-702)."""
    a = make_data_a(
        spark,
        [
            (1, 101, 1, None, 10),
            (1, 101, 2, None, 11),
            (1, 102, 3, "", 12),
            (1, 102, 4, "apple", 13),
        ],
    )
    b = make_data_b(spark, [(1, "X")])
    out = top_items(a, b, 5).collect()
    items = {r["item_name"] for r in out}
    assert None in items and "" in items and "apple" in items
    by_rank = {r["item_rank"]: r["item_name"] for r in out}
    assert by_rank["1"] is None  # count 2, null sorts first on tiebreak


def test_topx_greater_than_available(spark):
    """topX > distinct items -> all items, ranks still sequential
    (UnitTest.scala:631-664)."""
    a = make_data_a(spark, [(1, 101, 1, "a", 1), (1, 101, 2, "b", 2)])
    b = make_data_b(spark, [(1, "X")])
    out = top_items(a, b, 99).collect()
    assert sorted(r["item_rank"] for r in out) == ["1", "2"]


def test_heavy_duplication_collapses(spark):
    """oids 1001x3 + 1002x2 -> 2 surviving detections
    (IntegrationTest.scala:321-378)."""
    a = make_data_a(
        spark,
        [
            (1, 101, 1001, "apple", 1),
            (1, 102, 1001, "apple", 2),
            (1, 103, 1001, "apple", 3),
            (1, 101, 1002, "banana", 4),
            (1, 102, 1002, "banana", 5),
        ],
    )
    b = make_data_b(spark, [(1, "X")])
    got = {(r[1]): r[2] for r in item_count(a, b).collect()}
    assert got == {"apple": 1, "banana": 1}


def test_location_stats(spark):
    """total=3 / unique=2 / most_active_camera=101
    (UnitTest.scala:462-525)."""
    a = make_data_a(
        spark,
        [
            (1, 101, 1, "apple", 1),
            (1, 101, 2, "banana", 2),
            (1, 102, 3, "apple", 3),
            (2, 201, 4, "cherry", 4),
        ],
    )
    out = {r["geographical_location_oid"]: r for r in
           location_stats(make_data_a(spark, []).unionByName(a)).collect()}
    assert out[1]["total_detections"] == 3
    assert out[1]["unique_items"] == 2
    assert out[1]["most_active_camera"] == 101
    assert out[2]["total_detections"] == 1


def test_all_aggregations_shared_dedup(spark):
    """all_aggregations serves the three reference queries from one
    persisted dedup and agrees with each standalone query."""
    da = make_data_a(spark, CANONICAL_A)
    db = make_data_b(spark, CANONICAL_B)
    res = all_aggregations(da, db, top_x=5)
    try:
        assert sorted(map(tuple, res["top_items"].collect())) == sorted(
            map(tuple, top_items(da, db, 5).collect())
        )
        assert sorted(map(tuple, res["item_count"].collect())) == sorted(
            map(tuple, item_count(da).collect())
        )
        assert sorted(map(tuple, res["location_stats"].collect())) == sorted(
            map(tuple, location_stats(da).collect())
        )
    finally:
        res["_deduped"].unpersist()


def test_dedup_across_locations(spark):
    """Same detection_oid appearing under two locations counts once
    globally — first-wins arbitrary representative
    (UnitTest.scala:158-228: 5 not 6)."""
    a = make_data_a(
        spark,
        [
            (1, 101, 1, "a", 1),
            (1, 101, 2, "a", 2),
            (1, 101, 3, "b", 3),
            (2, 201, 3, "b", 4),  # dup oid crossing locations
            (2, 201, 4, "c", 5),
            (2, 201, 5, "d", 6),
        ],
    )
    total = item_count(a, None).agg({"count": "sum"}).collect()[0][0]
    assert total == 5


# Edge rows for the shared-count parity test, (loc, camera, oid, item, ts):
# loc 1: NULL items; loc 2: NULL is the most frequent camera; loc 3: a
# camera tie when it keeps oid 9 (301 and 302 twice each, lowest wins);
# a NULL location; loc 4 is missing from dataB; oid 9 appears under
# loc 3 and loc 4.
EDGE_A = [
    (1, 101, 1, None, 1),
    (1, 101, 2, None, 2),
    (1, 102, 3, "apple", 3),
    (1, None, 4, "apple", 4),
    (2, None, 5, "pear", 5),
    (2, None, 6, "pear", 6),
    (2, None, 7, "fig", 7),
    (2, 201, 8, "fig", 8),
    (3, 302, 9, "kiwi", 9),
    (3, 302, 10, "kiwi", 10),
    (3, 301, 11, "lime", 11),
    (3, 301, 12, None, 12),
    (4, 401, 9, "kiwi", 13),  # duplicate oid 9, other location
    (4, 401, 13, "plum", 14),
    (None, 501, 14, "plum", 15),
    (None, None, 15, None, 16),
    (None, 501, 16, "plum", 17),
]
EDGE_B = [(1, "One"), (2, "Two"), (3, "Three")]


def _node_names(df) -> list[str]:
    """Physical node names of ``df``'s executed plan, down through
    adaptive query stages but not into the plans that built a cached
    relation (an in-memory scan is a leaf here)."""
    names, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        names.append(name)
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        elif "QueryStage" in name:
            stack.append(node.plan())
        else:
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
    return names


def test_all_aggregations_edge_parity(spark):
    """The shared count frame gives the same three outputs as the
    standalone queries and as group_stats' generic count-distinct
    formula, on NULL items, NULL cameras (also as the mode), camera
    ties, a NULL location, a location missing from dataB and an oid
    duplicated across locations. No output plan has an Expand, and
    item_count is a scan of the cache with no Exchange."""
    from parquet_combiner_spark.operators.aggregate import group_stats
    from parquet_combiner_spark.operators.dedup import dedup_first_wins
    from parquet_combiner_spark.pipeline import LOC

    # one input partition: dropDuplicates keeps the same survivor of
    # oid 9 in every plan, so the standalone queries are comparable
    da = make_data_a(spark, EDGE_A).coalesce(1)
    db = make_data_b(spark, EDGE_B)
    res = all_aggregations(da, db, top_x=2)
    try:
        got = {k: sorted(map(tuple, res[k].collect()), key=repr)
               for k in ("top_items", "item_count", "location_stats")}
        for name, query in (
            ("top_items", top_items(da, db, 2)),
            ("item_count", item_count(da)),
            ("location_stats", location_stats(da)),
        ):
            assert got[name] == sorted(map(tuple, query.collect()), key=repr)
        generic = group_stats(
            dedup_first_wins(
                da.select(LOC, "video_camera_oid", "detection_oid",
                          "item_name"),
                ["detection_oid"],
            ),
            group_col=LOC,
            item_col="item_name",
            mode_col="video_camera_oid",
        )
        assert got["location_stats"] == sorted(
            map(tuple, generic.collect()), key=repr
        )
        stats = {r[0]: r[1:] for r in got["location_stats"]}
        assert stats[1] == (4, 1, 101)  # NULL items: counted, not unique
        assert stats[2] == (4, 2, -1)  # NULL camera is the mode
        assert stats[3][2] == 301  # tie: lowest camera
        assert stats[None] == (3, 1, -1)  # NULL location
        assert stats[3][0] + stats[4][0] == 5  # oid 9 counted once
        assert any(  # loc 4 is not in dataB
            r[0] == "Unknown" and r[2] == "plum" for r in got["top_items"]
        )
        for name in ("top_items", "item_count", "location_stats"):
            plan = res[name]._jdf.queryExecution().executedPlan().toString()
            assert "Expand" not in plan, (name, plan)
        names = _node_names(res["item_count"])
        assert "InMemoryTableScan" in names, names
        assert not any("Exchange" in n for n in names), names
    finally:
        res["_deduped"].unpersist()


def test_all_aggregations_one_unpersist_releases_all(spark, tmp_path):
    """``results["_deduped"].unpersist()`` releases every frame that
    all_aggregations persisted: no RDD stays persisted and no cache
    entry is left, so a second call on a rewritten dataA returns the
    new counts instead of the cached old ones."""
    from parquet_combiner_spark.sources.io import read_data_a

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    path = str(tmp_path / "dataA")
    db = make_data_b(spark, CANONICAL_B)

    def counts_after_one_call(rows):
        make_data_a(spark, rows).write.mode("overwrite").parquet(path)
        res = all_aggregations(read_data_a(spark, path), db, top_x=5)
        try:
            return sorted(map(tuple, res["item_count"].collect()))
        finally:
            res["_deduped"].unpersist()
            assert set(jsc.getPersistentRDDs().keySet()) == before
            cache = spark._jsparkSession.sharedState().cacheManager()
            assert cache.lookupCachedData(res["item_count"]._jdf).isEmpty()

    first = counts_after_one_call(CANONICAL_A)
    assert (1, "banana", 3) in first
    rewritten = [r for r in CANONICAL_A if r[3] != "banana"]
    second = counts_after_one_call(rewritten)
    assert second == sorted(map(tuple, item_count(
        make_data_a(spark, rewritten)
    ).collect()))
    assert all(r[1] != "banana" for r in second)
