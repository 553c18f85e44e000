"""Operator-level tests VERDICT r1 flagged as missing: skew parity,
summary stats, distinct count, deterministic dedup, table sniffing,
dim-join semantics, mode tiebreak precision, parquet round-trip, and
the SQL surface.
"""

from __future__ import annotations

import os

from conftest import make_data_a, make_data_b
from pyspark.sql import Row
from pyspark.sql import functions as F

from parquet_combiner_spark.operators.aggregate import (
    distinct_count,
    group_counts,
    group_stats,
    summary_stats,
)
from parquet_combiner_spark.operators.dedup import dedup_deterministic
from parquet_combiner_spark.operators.join import broadcast_dim_join
from parquet_combiner_spark.operators.skew import salted_count
from parquet_combiner_spark.pipeline import process_parquet_files, top_items
from parquet_combiner_spark.schemas import infer_table_kind
from parquet_combiner_spark.sources.io import load_tables


def rows_set(df):
    return {tuple(r) for r in df.collect()}


# --- skew parity (reference ParquetCombinerRDDUnitTest.scala:528-591) ---


def test_salted_count_equals_plain_count_on_skewed_data(spark):
    """Salted two-phase aggregation must produce the same counts as
    the normal path on a 10:1:1-skewed fixture (FIXTURES.md)."""
    rows = (
        [(1, 101, 1000 + i, "apple", 5000 + i) for i in range(50)]
        + [(2, 201, 2000 + i, "banana", 6000 + i) for i in range(5)]
        + [(3, 301, 3000 + i, "cherry", 7000 + i) for i in range(5)]
    )
    a = make_data_a(spark, rows)
    plain = group_counts(
        a, ["geographical_location_oid", "item_name"], "count"
    )
    salted = salted_count(
        a,
        ["geographical_location_oid", "item_name"],
        salt_col="detection_oid",
        num_salts=8,
    )
    assert rows_set(plain) == rows_set(salted)


def test_salted_count_rejects_group_column_salt(spark):
    a = make_data_a(spark, [(1, 101, 1001, "apple", 1000)])
    import pytest

    with pytest.raises(ValueError, match="group column"):
        salted_count(
            a, ["geographical_location_oid"], salt_col="geographical_location_oid"
        )


# --- summary stats / distinct count / deterministic dedup ---


def test_summary_stats_values(spark):
    a = make_data_a(
        spark,
        [
            (1, 101, 1001, "apple", 10),
            (1, 102, 1002, "banana", 20),
            (2, 201, 1003, "cherry", 30),
        ],
    )
    stats = {
        r["column"]: r for r in summary_stats(a, ["timestamp_detected"]).collect()
    }
    s = stats["timestamp_detected"]
    assert s["count"] == 3.0
    assert s["mean"] == 20.0
    assert s["min"] == 10.0 and s["max"] == 30.0
    assert abs(s["stddev"] - 10.0) < 1e-9  # sample stddev of 10,20,30


def test_distinct_count_exact_and_approx(spark):
    a = make_data_a(
        spark,
        [(1, 101, oid, "apple", 0) for oid in [1, 1, 2, 2, 3, 4]],
    )
    assert distinct_count(a, "detection_oid").collect()[0][0] == 4
    approx = distinct_count(a, "detection_oid", approx=True).collect()[0][0]
    assert abs(approx - 4) <= 1  # HLL on 4 values is near-exact


def test_approx_distinct_within_rsd(spark):
    # the 100 TB scale path must stay within its advertised 1% rsd on
    # a real table (HLL++ error is relative, so assert the ratio)
    from parquet_combiner_spark.queries import (
        distinct_parts,
        distinct_parts_approx,
    )

    sf = "/root/testdata/sf0.001"
    exact = distinct_parts(spark, sf).collect()[0][0]
    approx = distinct_parts_approx(spark, sf).collect()[0][0]
    assert abs(approx - exact) / exact <= 0.05  # 5 sigma of 1% rsd


def test_approx_percentile_within_bound(spark):
    # GK sketch at accuracy 10000 => rank error <= 1/10000; on n rows
    # the returned value must lie between the exact values at ranks
    # floor(q*n) +- ceil(n/10000)
    from parquet_combiner_spark.queries import (
        price_percentiles,
        price_percentiles_approx,
    )

    sf = "/root/testdata/sf0.001"
    exact = {
        r["l_returnflag"]: r for r in price_percentiles(spark, sf).collect()
    }
    approx = {
        r["l_returnflag"]: r
        for r in price_percentiles_approx(spark, sf).collect()
    }
    assert set(exact) == set(approx)
    for flag, row in approx.items():
        # exact p25/p95 bracket widened by the interpolation gap; the
        # sketch returns an actual data value near the target rank, so
        # it must land within a small relative band of the exact value
        assert abs(row["p50_approx"] - exact[flag]["p50"]) / exact[flag]["p50"] < 0.02
        assert abs(row["p95_approx"] - exact[flag]["p95"]) / exact[flag]["p95"] < 0.02


def test_dedup_deterministic_keeps_ordered_first(spark):
    a = make_data_a(
        spark,
        [
            (1, 103, 1001, "late", 300),
            (1, 101, 1001, "early", 100),
            (1, 102, 1001, "middle", 200),
            (2, 201, 2001, "only", 400),
        ],
    )
    out = dedup_deterministic(
        a, ["detection_oid"], ["timestamp_detected", "video_camera_oid"]
    )
    got = {r["detection_oid"]: r["item_name"] for r in out.collect()}
    assert got == {1001: "early", 2001: "only"}


# --- schema sniffing (reference tools/ReadParquet.scala:137-160) ---


def test_infer_table_kind():
    assert (
        infer_table_kind(
            [
                "geographical_location_oid",
                "video_camera_oid",
                "detection_oid",
                "item_name",
                "timestamp_detected",
            ]
        )
        == "dataA"
    )
    assert (
        infer_table_kind(["geographical_location_oid", "geographical_location"])
        == "dataB"
    )
    assert (
        infer_table_kind(["geographical_location", "item_rank", "item_name"])
        == "top_items_output"
    )
    assert infer_table_kind(["mystery"]) == "unknown"


# --- dim-join semantics (ADVICE r1) ---


def test_dim_join_duplicate_dim_keys_do_not_fan_out(spark):
    """collectAsMap() semantics: one row per dim key even when the dim
    has duplicates (reference ParquetCombinerRDD.scala:178-180)."""
    fact = make_data_a(spark, [(1, 101, 1001, "apple", 0)])
    dim = make_data_b(spark, [(1, "Alpha"), (1, "Beta"), (2, "Gamma")])
    out = broadcast_dim_join(
        fact, dim, key="geographical_location_oid",
        defaults={"geographical_location": "Unknown"},
    )
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["geographical_location"] == "Alpha"  # lowest payload wins


def test_dim_join_null_attribute_on_match_is_preserved(spark):
    """getOrElse substitutes only on key miss: a matched key with a
    genuinely NULL attribute keeps NULL (ADVICE r1 #3)."""
    fact = make_data_a(
        spark, [(1, 101, 1001, "apple", 0), (9, 901, 9001, "durian", 0)]
    )
    dim = make_data_b(spark, [(1, None)])  # matched key, null name
    out = broadcast_dim_join(
        fact, dim, key="geographical_location_oid",
        defaults={"geographical_location": "Unknown"},
    )
    got = {
        r["geographical_location_oid"]: r["geographical_location"]
        for r in out.collect()
    }
    assert got[1] is None  # matched: NULL preserved
    assert got[9] == "Unknown"  # miss: default applied


# --- mode tiebreak precision (VERDICT r1 "what's wrong" #2) ---


def test_mode_tiebreak_exact_above_2_53(spark):
    """Two large camera oids differing only in the low bits must not
    compare equal (the old double cast lost integer precision)."""
    big_a = (1 << 53) + 1
    big_b = (1 << 53) + 2  # indistinguishable as doubles
    a = make_data_a(
        spark,
        [
            (1, big_b, 1, "x", 0),
            (1, big_a, 2, "x", 0),  # tie: 1 detection each
        ],
    )
    out = group_stats(
        a,
        group_col="geographical_location_oid",
        item_col="item_name",
        mode_col="video_camera_oid",
        mode_alias="most_active_camera",
    )
    assert out.collect()[0]["most_active_camera"] == big_a  # lowest wins


# --- parquet round-trip (reference IntegrationTest.scala:79-211) ---


def test_process_parquet_files_round_trip(spark, tmp_path):
    """Write fixtures → run end-to-end → read output back → assert
    the 3×nullable-StringType schema and snappy compression."""
    a_dir, b_dir, out_dir = (
        str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "out")
    )
    make_data_a(
        spark,
        [
            (1, 101, 1001, "apple", 0),
            (1, 101, 1001, "apple", 1),  # planted dup oid
            (1, 102, 1002, "banana", 2),
            (9, 901, 9001, "durian", 3),  # loc missing from dataB
        ],
    ).write.mode("overwrite").parquet(a_dir)
    make_data_b(spark, [(1, "Singapore")]).write.mode("overwrite").parquet(b_dir)

    result = process_parquet_files(spark, a_dir, b_dir, out_dir, top_x=5)
    back = spark.read.parquet(out_dir)
    assert [
        (f.name, f.dataType.simpleString(), f.nullable) for f in back.schema
    ] == [
        ("geographical_location", "string", True),
        ("item_rank", "string", True),
        ("item_name", "string", True),
    ]
    got = rows_set(back)
    assert got == rows_set(result)
    assert ("Singapore", "1", "apple") in got  # dup counted once → rank 1 tie→apple
    assert ("Unknown", "1", "durian") in got
    assert any(f.endswith(".snappy.parquet") for f in os.listdir(out_dir))
    # overwrite semantics: second run replaces, not appends
    process_parquet_files(spark, a_dir, b_dir, out_dir, top_x=1)
    assert spark.read.parquet(out_dir).count() == 2  # 1 per location


# --- SQL surface (SURVEY.md §3.4; reference IntegrationTest.scala:243-251) ---


def test_sql_and_dataframe_paths_agree(spark):
    a = make_data_a(
        spark,
        [
            (1, 101, 1001, "apple", 0),
            (1, 102, 1002, "banana", 1),
            (1, 103, 1003, "apple", 2),
        ],
    )
    b = make_data_b(spark, [(1, "New York")])
    top_items(a, b, top_x=5).createOrReplaceTempView("top_items_out")
    sql_rows = spark.sql(
        """
        SELECT geographical_location, count(DISTINCT item_rank) AS n_ranks,
               min(item_rank) AS min_rank, max(item_rank) AS max_rank
        FROM top_items_out GROUP BY geographical_location
        """
    ).collect()
    assert len(sql_rows) == 1
    r = sql_rows[0]
    assert (r["n_ranks"], r["min_rank"], r["max_rank"]) == (2, "1", "2")
    ny = spark.sql(
        "SELECT item_name FROM top_items_out "
        "WHERE geographical_location = 'New York' AND item_rank = '1'"
    ).collect()
    assert ny[0]["item_name"] == "apple"


def test_schema_enforced_read_fails_fast(spark, tmp_path):
    """S1's fail-fast claim: a schema-enforced read of a file missing
    a declared column errors at read-definition time with a clear
    message — NOT null-filled silently (Spark's default) and not a
    task-runtime getAs failure (the reference's behavior,
    DataReader.scala:16-23)."""
    import pytest

    from parquet_combiner_spark.sources.io import read_data_a

    p = str(tmp_path / "wrong")
    spark.range(3).write.parquet(p)  # only an 'id' column
    with pytest.raises(ValueError, match="missing declared column"):
        read_data_a(spark, p)


def test_reread_of_unchanged_parquet_starts_no_job(spark, tmp_path):
    """A second read of the same local files takes the schema Spark
    inferred the first time (no footer job), with or without a
    declared schema; a rewrite, or a conf that steers inference, is
    inferred afresh, and a file under a partition directory counts."""
    import pytest

    from parquet_combiner_spark.sources.io import read_data_a, read_parquet

    sc = spark.sparkContext
    group = "footer-schema-reuse"

    def jobs_of(build):
        sc.setJobGroup(group, "build a read")
        try:
            before = len(sc.statusTracker().getJobIdsForGroup(group))
            df = build()
            return df, len(sc.statusTracker().getJobIdsForGroup(group)) - before
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    p = str(tmp_path / "a")
    make_data_a(spark, [(1, 10, 100, "apple", 5)]).write.parquet(p)
    _, first = jobs_of(lambda: read_data_a(spark, p))
    assert first >= 1
    df, again = jobs_of(lambda: read_data_a(spark, p))
    assert again == 0 and df.count() == 1
    _, undeclared = jobs_of(lambda: read_parquet(spark, p))
    assert undeclared == 0

    # rewritten without a declared column: the check sees the new footer
    spark.range(3).write.mode("overwrite").parquet(p)
    with pytest.raises(ValueError, match="missing declared column"):
        read_data_a(spark, p)
    assert read_parquet(spark, p).columns == ["id"]

    # a conf that changes what inference returns is part of the key
    # (written without Spark's own schema, which inference would prefer)
    import pyarrow as pa
    import pyarrow.parquet as pq

    s = str(tmp_path / "s.parquet")
    pq.write_table(pa.table({"b": pa.array([b"xy"], pa.binary())}), s)
    assert dict(read_parquet(spark, s).dtypes)["b"] == "binary"
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        assert dict(read_parquet(spark, s).dtypes)["b"] == "string"
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert dict(read_parquet(spark, s).dtypes)["b"] == "binary"

    # a new partition directory changes the listing, so its column and
    # rows are seen
    t = str(tmp_path / "t")
    spark.createDataFrame([(1, "x")], "v long, k string").write.partitionBy(
        "k"
    ).parquet(t)
    assert read_parquet(spark, t).count() == 1
    spark.createDataFrame([(2, "y")], "v long, k string").write.mode(
        "append"
    ).partitionBy("k").parquet(t)
    back = read_parquet(spark, t)
    assert back.columns == ["v", "k"]
    assert sorted(map(tuple, back.collect())) == [(1, "x"), (2, "y")]


def test_load_tables_registers_views(spark):
    tables = load_tables(spark, "/root/testdata/sf0.001", names=("region", "nope"))
    assert set(tables) == {"region"}
    assert spark.sql("SELECT count(*) FROM region").collect()[0][0] == 5


def test_dedup_keep_min_packed_matches_struct_form(spark):
    import pytest

    from parquet_combiner_spark.operators.dedup import (
        dedup_keep_min,
        dedup_keep_min_packed,
    )

    df = spark.createDataFrame(
        [
            # key (1, 1): lexicographic min payload is (2, 9), not (3, 1)
            Row(k1=1, k2=1, a=3, b=1),
            Row(k1=1, k2=1, a=2, b=9),
            Row(k1=1, k2=1, a=2, b=5),
            Row(k1=2, k2=1, a=7, b=7),
        ]
    )
    expect = sorted(
        map(tuple, dedup_keep_min(df, ["k1", "k2"], ["a", "b"]).collect())
    )
    got_df = dedup_keep_min_packed(df, ["k1", "k2"], ["a", "b"])
    assert sorted(map(tuple, got_df.collect())) == expect == [
        (1, 1, 2, 5),
        (2, 1, 7, 7),
    ]
    assert got_df.columns == df.columns
    # the whole point: no SortAggregate fallback anywhere in the plan
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan

    with pytest.raises(ValueError, match="whole payload"):
        dedup_keep_min_packed(df.withColumn("c", F.lit(1)), ["k1"], ["a", "b"])


def test_dedup_keep_min_packed_guards_range_and_dtype(spark):
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from parquet_combiner_spark.operators.dedup import dedup_keep_min_packed

    # negative ordering value (int32 parquet columns CAN hold these)
    # must raise at execution, not silently mis-pack and pick the
    # wrong survivor
    neg = spark.createDataFrame(
        [Row(k=1, a=-3, b=1), Row(k=1, a=2, b=9)]
    )
    with pytest.raises(SparkRuntimeException, match="out of \\[0, 2\\^31\\)"):
        dedup_keep_min_packed(neg, ["k"], ["a", "b"]).collect()
    # >= 2^31 longs likewise
    big = spark.createDataFrame([Row(k=1, a=1 << 31, b=1)])
    with pytest.raises(SparkRuntimeException, match="out of \\[0, 2\\^31\\)"):
        dedup_keep_min_packed(big, ["k"], ["a", "b"]).collect()
    # non-integer dtype fails loudly at plan time
    bad = spark.createDataFrame([Row(k=1, a=1.5, b="x")])
    with pytest.raises(ValueError, match="integer-typed"):
        dedup_keep_min_packed(bad, ["k"], ["a", "b"])


def test_ensure_ts_nanos_all_representations_tz_independent(spark):
    """ensure_ts_nanos must yield identical integer nanos for every
    physical representation of the same instant, and the
    timestamp_ntz path (wall-clock arithmetic) must not depend on the
    session timezone — a driver-owned session could run under any TZ,
    and DuckDB's epoch_ns treats naive values as UTC."""
    from datetime import datetime

    import pytest
    from pyspark.sql import types as T

    from parquet_combiner_spark.sources.io import ensure_ts_nanos

    wall = datetime(2024, 3, 15, 12, 30, 45, 123456)  # naive wall clock
    expect_ns = 1710505845123456000  # epoch nanos of that wall time as UTC

    # bigint: pass-through
    df_long = spark.createDataFrame(
        [(expect_ns,)], T.StructType([T.StructField("ts", T.LongType())])
    )
    assert ensure_ts_nanos(df_long).collect()[0]["ts"] == expect_ns

    # timestamp_ntz: wall-clock arithmetic, invariant under session TZ
    df_ntz = spark.createDataFrame(
        [(wall,)],
        T.StructType([T.StructField("ts", T.TimestampNTZType())]),
    )
    saved_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/New_York", "Asia/Tokyo"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            got = ensure_ts_nanos(df_ntz).collect()[0]["ts"]
            assert got == expect_ns, f"ntz conversion drifted under {tz}"
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved_tz)

    # timestamp (an instant): unix_micros path
    df_ts = spark.createDataFrame(
        [(wall,)], T.StructType([T.StructField("ts", T.TimestampType())])
    )
    # created under UTC session TZ, so the instant equals the wall time
    assert ensure_ts_nanos(df_ts).collect()[0]["ts"] == expect_ns

    # unsupported types fail loudly
    df_str = spark.createDataFrame(
        [("x",)], T.StructType([T.StructField("ts", T.StringType())])
    )
    with pytest.raises(TypeError, match="cannot normalize"):
        ensure_ts_nanos(df_str)


def test_jsonl_round_trip_schema_enforced(spark, tmp_path):
    """JSONL source/sink: round-trip preserves rows and types under a
    declared schema; a missing declared field fails fast instead of
    silently null-filling; malformed lines fail the read (FAILFAST)."""
    import pytest
    from pyspark.sql import types as T

    from parquet_combiner_spark.sources.io import read_jsonl, write_jsonl

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    rows = [(1, "hello world", "en"), (2, "der hund", "de"), (3, None, None)]
    df = spark.createDataFrame(rows, schema)
    p = str(tmp_path / "docs_jsonl")
    write_jsonl(df, p)

    back = read_jsonl(spark, p, schema=schema)
    assert back.schema == schema
    assert sorted(tuple(r) for r in back.collect()) == sorted(rows)

    # a declared field SPARSE in (or absent from) the sample is fine:
    # the schema-enforced read null-fills it — only zero overlap with
    # the declared schema (wrong table entirely) fails fast
    sparse = T.StructType(
        schema.fields + [T.StructField("absent_col", T.LongType())]
    )
    sparse_back = read_jsonl(spark, p, schema=sparse)
    assert sparse_back.where("absent_col IS NOT NULL").count() == 0
    assert sparse_back.count() == 3
    disjoint = T.StructType(
        [T.StructField("x", T.LongType()), T.StructField("y", T.StringType())]
    )
    with pytest.raises(ValueError, match="shares no field"):
        read_jsonl(spark, p, schema=disjoint)

    # malformed line: FAILFAST surfaces the parse error as a job
    # failure instead of a silent null row
    bad = tmp_path / "bad_jsonl"
    bad.mkdir()
    (bad / "part-0.json").write_text(
        '{"doc_id": 1, "text": "ok", "lang": "en"}\n{broken\n'
    )
    with pytest.raises(Exception, match="(?i)malformed|failfast|parse"):
        read_jsonl(spark, str(bad), schema=schema).collect()


def test_orc_round_trip_schema_enforced(spark, tmp_path):
    """ORC source/sink: round-trip preserves rows and complex types
    (arrays — a thing CSV can't carry) under a declared schema; a
    missing declared column fails fast at the footer check instead of
    silently null-filling; partitioned writes prune on the partition
    predicate."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from parquet_combiner_spark.sources.io import read_orc, write_orc

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("emb", T.ArrayType(T.FloatType())),
        ]
    )
    rows = [
        (1, "en", [0.5, 1.0]),
        (2, "de", [2.0, -1.0]),
        (3, None, None),
    ]
    df = spark.createDataFrame(rows, schema)
    p = str(tmp_path / "docs_orc")
    write_orc(df, p)

    back = read_orc(spark, p, schema=schema)
    assert back.schema == schema
    assert sorted(
        (r.doc_id, r.lang, tuple(r.emb) if r.emb is not None else None)
        for r in back.collect()
    ) == sorted((i, l, tuple(e) if e is not None else None) for i, l, e in rows)

    missing = T.StructType(
        schema.fields + [T.StructField("absent_col", T.LongType())]
    )
    with pytest.raises(ValueError, match="missing declared column"):
        read_orc(spark, p, schema=missing)

    # partitioned layout: the lang predicate prunes to one directory
    pp = str(tmp_path / "docs_orc_parted")
    write_orc(df.where("lang IS NOT NULL"), pp, partition_by=["lang"])
    only_en = read_orc(spark, pp).where(F.col("lang") == "en")
    assert [r.doc_id for r in only_en.collect()] == [1]
    plan = only_en._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan


def test_asof_join_backward_semantics(spark):
    """Point-in-time join: inclusive at-or-before match, NULL on
    no-match (left semantics), newest-wins among earlier dim rows,
    and a dim payload whose FIELDS are NULL still wins over an older
    non-null payload (the struct-carry property)."""
    from parquet_combiner_spark.operators.asof import asof_join_backward

    fact = spark.createDataFrame(
        [(1, 1, 100), (2, 1, 50), (3, 1, 20), (4, 2, 100), (5, 3, 100)],
        "fid long, k long, t long",
    )
    dim = spark.createDataFrame(
        [(1, 30, "a"), (1, 50, "b"), (1, 90, None), (2, 101, "z")],
        "k long, t long, v string",
    )
    got = {
        r["fid"]: r["v"]
        for r in asof_join_backward(
            fact, dim, on=["k"], fact_time="t", dim_time="t",
            value_cols=["v"],
        ).collect()
    }
    assert got == {
        1: None,  # dim row at t=90 wins over "b" even though v is NULL
        2: "b",   # EXACT-time match is inclusive (50 >= 50)
        3: None,  # no dim at-or-before t=20
        4: None,  # dim exists only after the fact (101 > 100)
        5: None,  # key with no dim rows at all
    }


def test_asof_join_validates_value_cols(spark):
    import pytest

    from parquet_combiner_spark.operators.asof import asof_join_backward

    fact = spark.createDataFrame([(1, 1, 10)], "fid long, k long, t long")
    dim = spark.createDataFrame([(1, 5, "a")], "k long, t long, v string")
    with pytest.raises(ValueError, match="not in dim columns"):
        asof_join_backward(fact, dim, ["k"], "t", "t", ["nope"])
    with pytest.raises(ValueError, match="collide with fact columns"):
        asof_join_backward(fact, dim, ["k"], "t", "t", ["t"])


def test_interval_join_semantics(spark):
    """Bucketed range join: inclusive on BOTH ends, k matching
    intervals -> k rows, intervals spanning multiple buckets still
    match facts in every covered bucket, non-overlapping facts drop
    (inner semantics)."""
    from parquet_combiner_spark.operators.asof import interval_join

    fact = spark.createDataFrame(
        [(1, 1, 10), (2, 1, 25), (3, 1, 31), (4, 1, 99), (5, 2, 10)],
        "fid long, k long, t long",
    )
    intervals = spark.createDataFrame(
        # [10,30] spans buckets 1-3 at width 10; [20,31] overlaps it
        [(100, 1, 10, 30), (200, 1, 20, 31), (300, 2, 50, 60)],
        "iid long, k long, s long, e long",
    )
    got = sorted(
        (r["fid"], r["iid"])
        for r in interval_join(
            fact, intervals, on=["k"], fact_time="t",
            start_col="s", end_col="e", bucket_width=10,
        ).collect()
    )
    assert got == [
        (1, 100),            # t=10 == start: inclusive
        (2, 100), (2, 200),  # two overlapping intervals -> two rows
        (3, 200),            # t=31 == end: inclusive (not in [10,30])
    ]

    import pytest

    with pytest.raises(ValueError, match="bucket_width must be positive"):
        interval_join(fact, intervals, ["k"], "t", "s", "e", 0)


def test_jsonl_empty_path_returns_empty_frame(spark, tmp_path):
    """An empty input directory is NO DATA, not 'every declared field
    missing': the schema-enforced read returns an empty DataFrame of
    the declared schema (parquet-reader parity) instead of raising."""
    from pyspark.sql import types as T

    from parquet_combiner_spark.sources.io import read_jsonl

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    empty = tmp_path / "empty_jsonl"
    empty.mkdir()
    (empty / "part-0.json").write_text("")
    out = read_jsonl(spark, str(empty), schema=schema)
    assert out.schema == schema
    assert out.count() == 0


def test_jsonl_partitioned_write(spark, tmp_path):
    from pyspark.sql import functions as F

    from parquet_combiner_spark.sources.io import read_jsonl, write_jsonl

    df = spark.createDataFrame(
        [(i, f"d{i}", "en" if i % 2 else "de") for i in range(10)],
        "doc_id long, text string, lang string",
    )
    p = str(tmp_path / "by_lang")
    write_jsonl(df, p, partition_by=["lang"])
    back = read_jsonl(spark, p)
    assert back.count() == 10
    only_en = read_jsonl(spark, p).where(F.col("lang") == "en")
    assert only_en.count() == 5


def test_csv_round_trip_schema_enforced(spark, tmp_path):
    """CSV source/sink: round-trip preserves rows and types under a
    declared schema; a header that does not match the schema fails
    the read (enforceSchema=false) instead of silently mis-mapping
    columns; malformed rows fail the read (FAILFAST)."""
    import pytest
    from pyspark.sql import types as T

    from parquet_combiner_spark.sources.io import read_csv, write_csv

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    rows = [(1, 0.5, "en"), (2, 1.25, "de")]
    df = spark.createDataFrame(rows, schema)
    p = str(tmp_path / "docs_csv")
    write_csv(df, p, compression=None)

    back = read_csv(spark, p, schema=schema)
    assert back.schema == schema
    assert sorted(tuple(r) for r in back.collect()) == sorted(rows)

    # header drift: same arity, different names -> read must fail,
    # not silently apply the schema positionally
    drifted = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("rating", T.DoubleType()),  # was "score"
            T.StructField("lang", T.StringType()),
        ]
    )
    with pytest.raises(Exception, match="(?i)header|schema"):
        read_csv(spark, p, schema=drifted).collect()

    # malformed row: non-numeric value in a typed column
    bad = tmp_path / "bad_csv"
    bad.mkdir()
    (bad / "part-0.csv").write_text("doc_id,score,lang\n1,ok,en\n")
    with pytest.raises(Exception, match="(?i)malformed|failfast|parse"):
        read_csv(spark, str(bad), schema=schema).collect()


def test_csv_untyped_inference_and_partitioned_write(spark, tmp_path):
    from pyspark.sql import Row

    from parquet_combiner_spark.sources.io import read_csv, write_csv

    df = spark.createDataFrame(
        [Row(k=1, lang="en"), Row(k=2, lang="de"), Row(k=3, lang="en")]
    )
    p = str(tmp_path / "part_csv")
    write_csv(df, p, compression=None, partition_by=["lang"])
    import os

    assert sorted(
        d for d in os.listdir(p) if d.startswith("lang=")
    ) == ["lang=de", "lang=en"]
    back = read_csv(spark, p)  # schema inferred
    assert back.count() == 3
    assert dict(back.dtypes)["k"] == "int"


def test_write_sorted_narrows_rowgroup_stats(spark, tmp_path):
    """The physical property write_sorted buys: per-file parquet
    min/max ranges of the sort column are narrow and pairwise
    disjoint (each file covers its own slice), where the unsorted
    layout makes every file span ~the whole domain — so range
    predicates can skip files/row groups. Verified from the parquet
    footers with an independent reader (pyarrow)."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from parquet_combiner_spark.sources.io import write_sorted

    df = spark.range(20_000).select(
        (F.xxhash64("id") % 10_000).alias("k"), F.col("id").alias("v")
    )
    sorted_p = str(tmp_path / "clustered")
    plain_p = str(tmp_path / "plain")
    write_sorted(df, sorted_p, ["k"], num_files=4)
    df.repartition(4).write.parquet(plain_p)

    def ranges(path):
        out = []
        for f in sorted(glob.glob(f"{path}/*.parquet")):
            md = pq.ParquetFile(f).metadata
            ks = [
                md.row_group(i).column(0).statistics
                for i in range(md.num_row_groups)
            ]
            out.append((min(s.min for s in ks), max(s.max for s in ks)))
        return out

    srt = sorted(ranges(sorted_p))
    plain = ranges(plain_p)
    assert len(srt) == 4
    # disjoint slices: each file's max < next file's min
    assert all(srt[i][1] <= srt[i + 1][0] for i in range(len(srt) - 1))
    domain = srt[-1][1] - srt[0][0]
    # every unsorted file spans ~the whole domain; sorted files don't
    assert all((hi - lo) > 0.8 * domain for lo, hi in plain)
    assert all((hi - lo) < 0.5 * domain for lo, hi in srt)

    # round-trip intact
    back = spark.read.parquet(sorted_p)
    assert back.count() == 20_000


def test_count_min_heavy_hitters_bound(spark):
    """CMS guarantee on real data: est >= exact, and est <= exact +
    eps * N (eps 0.001, N = events rows) for every event type."""
    from parquet_combiner_spark.operators.aggregate import approx_item_counts

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_total = sum(exact.values())
    est = {
        r["event_type"]: r["est_n"]
        for r in approx_item_counts(
            ev, "event_type", sorted(exact)
        ).collect()
    }
    assert set(est) == set(exact)
    for t, n in exact.items():
        assert n <= est[t] <= n + 0.001 * n_total, (t, n, est[t])


def test_write_zordered_bounds_both_dimensions(spark, tmp_path):
    """Z-order layout: every file covers a small RECTANGLE of the 2-D
    domain — per-file footer min/max ranges must be materially
    narrower than the domain on BOTH columns (a 1-D sort can only
    bound one), verified with pyarrow."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from parquet_combiner_spark.sources.io import write_zordered

    # uniform 2-D grid, shuffled row order
    n = 128
    df = (
        spark.range(n * n)
        .select(
            (F.col("id") % n).alias("x"),
            (F.col("id") / n).cast("long").alias("y"),
            F.xxhash64("id").alias("noise"),
        )
        .orderBy("noise")
    )
    p = str(tmp_path / "zorder")
    write_zordered(df, p, ["x", "y"], num_files=16)

    back = spark.read.parquet(p)
    assert back.count() == n * n
    assert "__z" not in back.columns  # curve key not persisted

    def col_ranges(path, idx):
        out = []
        for f in sorted(glob.glob(f"{path}/*.parquet")):
            md = pq.ParquetFile(f).metadata
            st = [
                md.row_group(i).column(idx).statistics
                for i in range(md.num_row_groups)
            ]
            out.append(
                max(s.max for s in st) - min(s.min for s in st)
            )
        return out

    # 16 files over a 128x128 grid: Z-layout files cover small
    # rectangles, except the few straddling a curve-quadrant boundary
    # (a file across the y-midline jump legitimately sweeps the full
    # x range). The honest claim is about the AVERAGE: on BOTH axes
    # the mean file span is a fraction of the domain — while the 1-D
    # sorted control below bounds one axis and leaves the other at
    # ~the full domain for every file.
    for idx in (0, 1):
        spans = col_ranges(p, idx)
        assert len(spans) == 16
        assert sum(spans) / len(spans) <= 0.5 * n, (idx, spans)

    from parquet_combiner_spark.sources.io import write_sorted

    ctl = str(tmp_path / "xsorted")
    write_sorted(df, ctl, ["x"], num_files=16)
    y_spans = col_ranges(ctl, 1)
    assert sum(y_spans) / len(y_spans) >= 0.9 * n, y_spans


def test_write_zordered_rejects_bad_cols_and_empty(spark, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    from parquet_combiner_spark.sources.io import write_zordered

    df = spark.range(4).select(F.col("id").alias("x"), F.col("id").alias("y"))
    with pytest.raises(ValueError, match="2\\+ columns"):
        write_zordered(df, str(tmp_path / "z1"), ["x"])
    empty = df.where("x < 0")
    p = str(tmp_path / "z2")
    write_zordered(empty, p, ["x", "y"])  # empty input: plain write
    assert spark.read.parquet(p).count() == 0


def test_asof_cogrouped_matches_jvm_operator(spark):
    """The cogrouped pandas merge_asof formulation must reproduce the
    union+window operator exactly on the edge cases: inclusive exact
    time, no-match NULL, dim-only-after, key with no dim rows."""
    from parquet_combiner_spark.operators.asof import (
        asof_join_backward,
        asof_join_cogrouped,
    )

    fact = spark.createDataFrame(
        [(1, 1, 100), (2, 1, 50), (3, 1, 20), (4, 2, 100), (5, 3, 100)],
        "fid long, k long, t long",
    )
    dim = spark.createDataFrame(
        [(1, 30, "a", 7), (1, 50, "b", 8), (2, 101, "z", 9)],
        "k long, t long, v string, w long",
    )
    kw = dict(on=["k"], fact_time="t", dim_time="t", value_cols=["v", "w"])
    jvm = sorted(tuple(r) for r in asof_join_backward(fact, dim, **kw).collect())
    pdx = sorted(tuple(r) for r in asof_join_cogrouped(fact, dim, **kw).collect())
    assert jvm == pdx
    # long value column carries NULL (not NaN/0) through Arrow
    by_fid = {r[0]: r for r in pdx}
    assert by_fid[3][-1] is None and by_fid[5][-1] is None


def test_fuzzy_value_pairs_semantics(spark):
    """Edit-distance pairs: substitution/insertion/deletion all found
    within the bound, over-threshold pairs absent, output is
    value-ordered with per-value row counts, and the candidate join is
    a banded equi-join (no cartesian)."""
    from pyspark.sql import Row

    from parquet_combiner_spark.operators.fuzzy import fuzzy_value_pairs
    from parquet_combiner_spark.plans import assert_no_cartesian_product

    df = spark.createDataFrame(
        [
            Row(name="widget"),
            Row(name="widget"),       # dup row → n=2
            Row(name="widgets"),      # insertion, dist 1
            Row(name="wadget"),       # substitution, dist 1
            Row(name="idget"),        # deletion, dist 1
            Row(name="gadget"),       # dist 2 from widget
            Row(name="sprocket"),     # far from everything (>2)
            Row(name=None),           # ignored
        ]
    )
    out = fuzzy_value_pairs(df, "name", max_dist=2)
    assert_no_cartesian_product(out)
    got = {(r["val_a"], r["val_b"]): r for r in out.collect()}
    assert got[("widget", "widgets")]["dist"] == 1
    assert got[("wadget", "widget")]["dist"] == 1
    assert got[("idget", "widget")]["dist"] == 1
    assert got[("gadget", "widget")]["dist"] == 2
    assert not any("sprocket" in p for p in got)
    # counts ride the pair; orientation is lexicographic
    r = got[("widget", "widgets")]
    assert (r["n_a"], r["n_b"]) == (2, 1)
    assert all(a < b for a, b in got)
    # max_dist=0 degenerates to nothing (distinct values never pair)
    assert fuzzy_value_pairs(df, "name", max_dist=0).count() == 0


def test_outlier_and_histogram_queries_on_planted_data(spark, tmp_path):
    """Drive the REAL registry queries on a planted sf_dir: the
    outlier screen emits exactly the planted >3-sigma row (signed z),
    and the histogram bins boundary-exact values identically to the
    oracle formula — including values constructed to land ON bin
    edges, where width_bucket's trunc(n*(x-lo)/(hi-lo)) and the
    mirrored floor((x-lo)/((hi-lo)/n)) disagree."""
    import datetime

    import duckdb
    from pyspark.sql import Row

    from parquet_combiner_spark.queries import (
        event_value_outliers,
        order_price_histogram,
    )

    sf = str(tmp_path)
    # events: 10 zeros and one spike -> z(100) ~ 3.16 > 3; plus a
    # CONSTANT group (sigma=0) that must be guarded, not divided —
    # the raw division throws DIVIDE_BY_ZERO under ANSI mode
    ts0 = datetime.datetime(2024, 1, 1)
    spark.createDataFrame(
        [
            Row(event_id=i, ts=ts0, user_id=1, event_type="t",
                value=(100.0 if i == 10 else 0.0), props="{}")
            for i in range(11)
        ]
        + [
            Row(event_id=90 + i, ts=ts0, user_id=2, event_type="const",
                value=7.0, props="{}")
            for i in range(3)
        ]
    ).write.parquet(f"{sf}/events.parquet")
    out = event_value_outliers(spark, sf).collect()
    assert [r["event_id"] for r in out] == [10]
    assert out[0]["z"] > 3

    # orders: lo=0, hi=20 plus values planted exactly on bin edges
    # (k * (hi-lo)/n for k=1..19) — the adversarial FP boundary set
    edges = [k * (20.0 - 0.0) / 20 for k in range(1, 20)]
    prices = [0.0, 20.0, 7.3, 13.9] + edges
    spark.createDataFrame(
        [Row(o_orderkey=i, o_custkey=1, o_orderstatus="F",
             o_totalprice=p, o_orderdate=ts0, o_orderpriority="1")
         for i, p in enumerate(prices)]
    ).write.parquet(f"{sf}/orders.parquet")
    got = {
        r["bin"]: (r["n"], r["bin_lo"])
        for r in order_price_histogram(spark, sf).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{sf}/orders.parquet/*.parquet')"
    )
    from parquet_combiner_spark.queries import ORACLE_SQL

    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(ORACLE_SQL["order_price_histogram"]).fetchall()
    }
    assert got == want
    assert sum(n for n, _ in got.values()) == len(prices)
    assert got[21][0] == 1  # the max value lands in the overflow bucket


def test_user_funnel_depth_semantics(spark, tmp_path):
    """Funnel ordering and deadlines: a click BEFORE the first view
    doesn't advance the funnel; a step past its 24h deadline doesn't
    count; depth histogram and conversion latency are exact."""
    import datetime

    from pyspark.sql import Row

    from parquet_combiner_spark.queries import user_funnel_depths

    t0 = datetime.datetime(2024, 1, 1)

    def at(hours):
        return t0 + datetime.timedelta(hours=hours)

    rows = [
        # user 1: full funnel inside deadlines (view@0, click@1, buy@2)
        (1, "view", 0), (1, "click", 1), (1, "purchase", 2),
        # user 2: click happens BEFORE the first view → depth 1
        (2, "click", 0), (2, "view", 1), (2, "purchase", 2),
        # user 3: click 30h after view (deadline 24h) → depth 1
        (3, "view", 0), (3, "click", 30), (3, "purchase", 31),
        # user 4: click in time, purchase 25h after click → depth 2
        (4, "view", 0), (4, "click", 1), (4, "purchase", 27),
        # user 5: no view at all → depth 0
        (5, "signup", 0), (5, "purchase", 1),
    ]
    spark.createDataFrame(
        [
            Row(event_id=i, ts=at(h), user_id=u, event_type=e,
                value=1.0, props="{}")
            for i, (u, e, h) in enumerate(rows)
        ]
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = {
        r["depth"]: (r["n_users"], r["avg_convert_ms"])
        for r in user_funnel_depths(spark, str(tmp_path)).collect()
    }
    assert {d: n for d, (n, _) in got.items()} == {0: 1, 1: 2, 2: 1, 3: 1}
    # user 1's view→purchase latency: 2h in ms
    assert got[3][1] == 2 * 3600 * 1000.0
    assert got[2][1] is None  # no conversions at depth 2


def test_user_retention_cohort_matrix(spark, tmp_path):
    """Two cohorts, staggered activity: the matrix counts each
    cohort's users at each weeks-since offset exactly once regardless
    of how many events they fired in that week."""
    import datetime

    from pyspark.sql import Row

    from parquet_combiner_spark.queries import user_retention_cohorts

    epoch = datetime.datetime(1970, 1, 1)

    def wk(w, h=0):
        return epoch + datetime.timedelta(weeks=w, hours=h)

    rows = [
        # cohort week 100: users 1,2. user1 returns wk101 (twice) and
        # wk102; user2 never returns.
        (1, wk(100)), (1, wk(101)), (1, wk(101, 5)), (1, wk(102)),
        (2, wk(100, 1)),
        # cohort week 101: user 3 returns in week 103
        (3, wk(101)), (3, wk(103)),
    ]
    spark.createDataFrame(
        [
            Row(event_id=i, ts=t, user_id=u, event_type="view",
                value=1.0, props="{}")
            for i, (u, t) in enumerate(rows)
        ]
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = {
        (r["cohort_week"], r["weeks_since"]): r["n_users"]
        for r in user_retention_cohorts(spark, str(tmp_path)).collect()
    }
    assert got == {
        (100, 0): 2,  # both users active in their cohort week
        (100, 1): 1,  # only user 1 returned (double events count once)
        (100, 2): 1,
        (101, 0): 1,
        (101, 2): 1,  # user 3 skipped a week
    }


def test_weekly_gap_filling_materializes_zero_weeks(spark, tmp_path):
    """Densification: weeks with no orders appear as explicit zero
    rows; observed weeks keep their counts; the spine spans exactly
    min..max."""
    import datetime

    from pyspark.sql import Row

    from parquet_combiner_spark.queries import weekly_order_volume_filled

    epoch = datetime.datetime(1970, 1, 1)

    def wk(w):
        return epoch + datetime.timedelta(weeks=w, hours=3)

    # orders in weeks 10, 10, 13 → weeks 11 and 12 must appear as 0
    spark.createDataFrame(
        [
            Row(o_orderkey=i, o_custkey=1, o_orderstatus="F",
                o_totalprice=1.0, o_orderdate=d, o_orderpriority="1")
            for i, d in enumerate([wk(10), wk(10), wk(13)])
        ]
    ).write.parquet(f"{tmp_path}/orders.parquet")
    got = {
        r["week"]: r["n"]
        for r in weekly_order_volume_filled(spark, str(tmp_path)).collect()
    }
    assert got == {10: 2, 11: 0, 12: 0, 13: 1}


def test_regression_aggregates_hand_computed(spark, tmp_path):
    """corr/slope/intercept on a hand-computable frame: a perfect
    y=3x+10 line gives corr 1, slope 3, intercept 10; a constant-y
    group gives slope exactly 0 and NULL correlation (zero variance —
    the ANSI-safe guard, pinned so a silent definition change
    surfaces)."""
    import pytest
    from pyspark.sql import Row

    from parquet_combiner_spark.queries import (
        lineitem_price_quantity_regression,
    )

    import datetime

    ship = datetime.datetime(2024, 1, 1)
    rows = [
        Row(l_orderkey=i, l_partkey=1, l_suppkey=1, l_linenumber=1,
            l_quantity=float(q), l_extendedprice=3.0 * q + 10.0,
            l_discount=0.0, l_tax=0.0, l_returnflag="L",
            l_linestatus="O", l_shipdate=ship)
        for i, q in enumerate([1, 2, 3, 4, 5])
    ] + [
        Row(l_orderkey=100 + i, l_partkey=1, l_suppkey=1, l_linenumber=1,
            l_quantity=float(q), l_extendedprice=42.0,
            l_discount=0.0, l_tax=0.0, l_returnflag="C",
            l_linestatus="O", l_shipdate=ship)
        for i, q in enumerate([1, 2, 3])
    ]
    spark.createDataFrame(rows).write.parquet(f"{tmp_path}/lineitem.parquet")
    out = {
        r["l_returnflag"]: r
        for r in lineitem_price_quantity_regression(
            spark, str(tmp_path)
        ).collect()
    }
    line = out["L"]
    assert line["n"] == 5
    assert line["price_qty_corr"] == pytest.approx(1.0)
    assert line["slope"] == pytest.approx(3.0)
    assert line["intercept"] == pytest.approx(10.0)
    # constant y: zero covariance → slope 0, intercept = the constant,
    # corr NULL (the variance guard — Spark's raw corr THROWS
    # DIVIDE_BY_ZERO under ANSI mode on this input)
    const = out["C"]
    assert const["slope"] == pytest.approx(0.0)
    assert const["intercept"] == pytest.approx(42.0)
    assert const["price_qty_corr"] is None


def test_canonicalize_values_frequency_vote_and_transitivity(spark):
    """Entity canonicalization: variants within transitive distance
    collapse to ONE canonical chosen by frequency (tie → lexicographic
    min); unrelated values map to themselves; row counts ride the
    map."""
    from pyspark.sql import Row

    from parquet_combiner_spark.operators.fuzzy import canonicalize_values

    rows = (
        # cluster {widget, widgets, widgett}: 'widgets' most frequent;
        # widget~widgets~widgett chain is transitive (widget↔widgett
        # dist 1 anyway)
        [Row(name="widget")] * 2
        + [Row(name="widgets")] * 5
        + [Row(name="widgett")] * 1
        # tie cluster {bolt, bolts} 3-3 → lexicographic 'bolt' wins
        + [Row(name="bolt")] * 3
        + [Row(name="bolts")] * 3
        # singleton
        + [Row(name="sprocket")] * 4
    )
    out = {
        r["value"]: (r["canonical"], r["n"])
        for r in canonicalize_values(
            spark.createDataFrame(rows), "name", max_dist=2
        ).collect()
    }
    assert out["widget"] == ("widgets", 2)
    assert out["widgets"] == ("widgets", 5)
    assert out["widgett"] == ("widgets", 1)
    assert out["bolt"] == ("bolt", 3)
    assert out["bolts"] == ("bolt", 3)
    assert out["sprocket"] == ("sprocket", 4)


def test_threshold_family_approx_twins_within_bound(spark):
    """The percentile-threshold family's 100 TB twins: quartile
    bucketing and RFM scoring driven by approx_percentile (GK sketch,
    accuracy 10000 => rank error <= n/10000) must agree with the
    exact-threshold formulations except for rows within the sketch's
    rank error of a boundary."""
    from parquet_combiner_spark.queries import (
        customer_rfm_segments,
        customer_rfm_segments_approx,
        order_price_quartiles,
        order_price_quartiles_approx,
    )

    sf = "/root/testdata/sf0.001"
    exact_q = {
        r["quartile"]: r for r in order_price_quartiles(spark, sf).collect()
    }
    approx_q = {
        r["quartile"]: r
        for r in order_price_quartiles_approx(spark, sf).collect()
    }
    assert set(exact_q) == set(approx_q) == {1, 2, 3, 4}
    n = sum(r["n_orders"] for r in exact_q.values())
    assert n == sum(r["n_orders"] for r in approx_q.values())
    for q in exact_q:
        # each bucket's population shifts by at most the rank error
        # (+1 for the value-vs-interpolation boundary convention)
        assert (
            abs(approx_q[q]["n_orders"] - exact_q[q]["n_orders"])
            <= n / 10000 + 1
        )

    exact_seg = {
        r["o_custkey"]: r["rfm_segment"]
        for r in customer_rfm_segments(spark, sf).collect()
    }
    approx_seg = {
        r["o_custkey"]: r["rfm_segment"]
        for r in customer_rfm_segments_approx(spark, sf).collect()
    }
    assert set(exact_seg) == set(approx_seg)
    diff = sum(1 for k in exact_seg if exact_seg[k] != approx_seg[k])
    # only customers AT a tercile boundary can flip; frequency/recency
    # are small integers with heavy ties, so allow the tied band
    assert diff / len(exact_seg) <= 0.05, f"{diff}/{len(exact_seg)} flipped"


def test_salted_join_parity_and_validation(spark):
    """Replicate-and-salt join must produce EXACTLY the plain
    equi-join (inner and left), spread a hot key over multiple salt
    buckets, and reject self-salting / ambiguous columns."""
    import pytest as _pytest
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from parquet_combiner_spark.operators.skew import salted_join

    # hot key: k=1 carries 200 of 220 rows
    big = spark.createDataFrame(
        [Row(k=1, rid=i, x=i * 1.0) for i in range(200)]
        + [Row(k=j, rid=1000 + j, x=-1.0) for j in range(2, 22)]
    )
    small = spark.createDataFrame(
        [Row(k=i, label=f"k{i}") for i in range(0, 15)]
    )
    for how in ("inner", "left"):
        got = salted_join(big, small, "k", "rid", num_salts=4, how=how)
        want = big.join(small, "k", how)
        assert sorted(map(tuple, got.select(*want.columns).collect())) == (
            sorted(map(tuple, want.collect()))
        )
    # the hot key's rows really landed in >1 salt bucket
    salts = (
        big.withColumn("s", F.pmod(F.xxhash64("rid"), F.lit(4)))
        .where("k = 1")
        .select("s")
        .distinct()
        .count()
    )
    assert salts > 1
    with _pytest.raises(ValueError, match="vary within"):
        salted_join(big, small, "k", "k")
    with _pytest.raises(ValueError, match="ambiguous"):
        salted_join(big, big.withColumnRenamed("k", "k2"), "rid", "x")


def test_merge_additive_contract_and_sums(spark):
    """Per-key sums add, one-sided keys pass through, schema drift is
    rejected, and (documented) replay double-counts — additive merge
    needs an idempotence key upstream."""
    import pytest as _pytest
    from pyspark.sql import Row

    from parquet_combiner_spark.operators.merge import merge_additive

    base = spark.createDataFrame(
        [Row(k="a", n=3, s=1.5), Row(k="b", n=1, s=0.5)]
    )
    upd = spark.createDataFrame(
        [Row(k="a", n=2, s=2.5), Row(k="c", n=7, s=7.0)]
    )
    got = {
        r["k"]: (r["n"], r["s"])
        for r in merge_additive(base, upd, ["k"], ["n", "s"]).collect()
    }
    assert got == {"a": (5, 4.0), "b": (1, 0.5), "c": (7, 7.0)}
    replay = merge_additive(
        spark.createDataFrame(
            [Row(k=k, n=n, s=s) for k, (n, s) in got.items()]
        ),
        upd,
        ["k"],
        ["n", "s"],
    )
    assert {r["k"]: r["n"] for r in replay.collect()}["a"] == 7  # 5+2
    with _pytest.raises(ValueError, match="exactly keys"):
        merge_additive(base, upd.withColumnRenamed("s", "t"), ["k"], ["n", "s"])


def test_round8_kernels_handle_empty_inputs(spark):
    """Empty-frame behavior of the round-8 kernels: no crashes, sane
    empty/identity results — the edge every composed pipeline
    eventually feeds them."""
    from pyspark.sql import Row

    from parquet_combiner_spark.functions.graph import triangle_counts
    from parquet_combiner_spark.functions.sampling import (
        select_by_token_budget,
    )
    from parquet_combiner_spark.operators.merge import (
        merge_additive,
        merge_upsert,
        scd2_intervals,
    )

    empty_pairs = spark.createDataFrame(
        [], "doc_id_a long, doc_id_b long"
    )
    assert triangle_counts(empty_pairs).count() == 0

    empty_docs = spark.createDataFrame([], "doc_id long, n long, s double")
    assert select_by_token_budget(empty_docs, 100, "s", "n").count() == 0

    empty_cdc = spark.createDataFrame([], "k long, v long, p string")
    ops = spark.createDataFrame(
        [("a",)], "x string"
    ).selectExpr("1 as k", "1 as v", "'p' as p", "'U' as op")
    # empty base + ops, and base + empty ops
    assert merge_upsert(empty_cdc, ops, ["k"], ["v"], op_col="op").count() == 1
    assert (
        merge_upsert(
            ops.drop("op"), ops.limit(0), ["k"], ["v"], op_col="op"
        ).count()
        == 1
    )

    assert merge_additive(
        empty_cdc.select("k", "v"), empty_cdc.select("k", "v"), ["k"], ["v"]
    ).count() == 0

    assert scd2_intervals(
        spark.createDataFrame([], "k long, a string, ts long"),
        ["k"], "ts", ["a"],
    ).count() == 0


def test_asof_tolerance_masks_stale_matches(spark):
    """tolerance: a match at exactly the bound attributes (inclusive,
    pandas.merge_asof convention); one past it attributes NULLs; no
    tolerance keeps the unbounded behavior."""
    from pyspark.sql import Row

    from parquet_combiner_spark.operators.asof import asof_join_backward

    fact = spark.createDataFrame(
        [Row(fid=1, k=1, t=100), Row(fid=2, k=1, t=500), Row(fid=3, k=2, t=50)]
    )
    dim = spark.createDataFrame(
        [Row(k=1, dt=90, v="recent"), Row(k=1, dt=300, v="older-then")]
    )
    # fid=1: match at gap 10; fid=2: best match dt=300 gap 200;
    # fid=3: no dim at all
    out = {
        r["fid"]: r["v"]
        for r in asof_join_backward(
            fact, dim, ["k"], "t", "dt", ["v"], tolerance=100
        ).collect()
    }
    assert out == {1: "recent", 2: None, 3: None}
    # exactly-at-bound is inclusive
    out2 = {
        r["fid"]: r["v"]
        for r in asof_join_backward(
            fact, dim, ["k"], "t", "dt", ["v"], tolerance=200
        ).collect()
    }
    assert out2[2] == "older-then"
    # unbounded behavior unchanged
    out3 = {
        r["fid"]: r["v"]
        for r in asof_join_backward(
            fact, dim, ["k"], "t", "dt", ["v"]
        ).collect()
    }
    assert out3 == {1: "recent", 2: "older-then", 3: None}
    # cogrouped-map formulation parity (pandas.merge_asof's native
    # tolerance, same inclusive bound)
    from parquet_combiner_spark.operators.asof import asof_join_cogrouped

    for tol, want in ((100, out), (200, out2), (None, out3)):
        got = {
            r["fid"]: r["v"]
            for r in asof_join_cogrouped(
                fact, dim, ["k"], "t", "dt", ["v"], tolerance=tol
            ).collect()
        }
        assert got == want, tol


def test_event_association_rules_invariants(spark):
    """Association-rule identities that hold for ANY data, checked on
    sf0.001 (the values themselves are oracle-hash-checked against
    DuckDB): both rule directions exist with equal n_pair and equal
    lift (lift is symmetric), confidence stays in (0, 1], and a
    pair's support can't exceed either item's."""
    from parquet_combiner_spark.queries import event_association_rules

    rows = event_association_rules(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    by_dir = {(r["antecedent"], r["consequent"]): r for r in rows}
    for (a, b), r in by_dir.items():
        rev = by_dir[(b, a)]  # the mirrored rule must exist
        assert rev["n_pair"] == r["n_pair"]
        assert abs(rev["lift"] - r["lift"]) < 1e-9
        assert 0 < r["confidence"] <= 1
        # confidence = n_pair/n_a, so n_pair <= n_a; and by the
        # mirror, n_pair <= n_b
        assert r["n_pair"] * 1.0 / r["confidence"] >= r["n_pair"]


def test_sketch_distinct_store_lossless_merge_and_bound(spark):
    """HLL partials are MERGEABLE state: however the rows are batched
    when the partials are built, the unioned estimate tracks the
    one-shot sketch (within the two estimators'
    combined noise, <2.5%) and both sit within the sketch's error bound of the exact
    count."""
    from pyspark.sql import functions as F

    from parquet_combiner_spark.operators.aggregate import (
        sketch_distinct_estimate,
        sketch_distinct_partials,
    )

    df = spark.range(30000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 7919).alias("u"),  # ~2640 distinct per group
    )
    one_shot = {
        r["g"]: r["n_distinct_est"]
        for r in sketch_distinct_estimate(
            sketch_distinct_partials(df, ["g"], "u"), ["g"]
        ).collect()
    }
    # batch three ways -> three partial frames -> union -> estimate
    parts = [
        sketch_distinct_partials(
            df.where(F.col("id") % 4 == m), ["g"], "u"
        )
        for m in range(4)
    ]
    merged_frame = parts[0]
    for p in parts[1:]:
        merged_frame = merged_frame.unionAll(p)
    merged = {
        r["g"]: r["n_distinct_est"]
        for r in sketch_distinct_estimate(merged_frame, ["g"]).collect()
    }
    for g in one_shot:  # batching-independent up to mode-transition wiggle
        assert abs(merged[g] - one_shot[g]) / one_shot[g] < 0.025
    exact = {
        r["g"]: r["n"]
        for r in df.groupBy("g")
        .agg(F.countDistinct("u").alias("n"))
        .collect()
    }
    for g, est in merged.items():
        assert abs(est - exact[g]) / exact[g] < 0.05, (g, est, exact[g])
