"""Plan-shape regression tests: pin the physical-plan properties that
make each query scale (SURVEY.md §4 — what the reference hand-built,
Catalyst must be SHOWN to be doing)."""

from __future__ import annotations

from pyspark.sql import functions as F

from parquet_combiner_spark.functions import dedup_text, similarity
from parquet_combiner_spark.pipeline import top_items
from parquet_combiner_spark.plans import (
    assert_broadcast_join,
    assert_in_plan,
    assert_no_cartesian_product,
    assert_partial_aggregate,
    assert_pushed_filters,
)
from parquet_combiner_spark.schemas import DATA_A_SCHEMA
from tests.conftest import make_data_a, make_data_b

ROWS_A = [(1, 11, i, "car", 1_700_000_000 + i) for i in range(10)]
ROWS_B = [(1, "New York"), (2, "Boston")]


def test_top_items_plan_shape(spark):
    out = top_items(make_data_a(spark, ROWS_A), make_data_b(spark, ROWS_B), 5)
    plan = assert_broadcast_join(out)
    assert_partial_aggregate(out)
    assert_no_cartesian_product(out)
    # top-K via window rank computes group limits map-side first
    assert "WindowGroupLimit" in plan
    # the dim join stays broadcast; the fact side is never sort-merged
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_reaches_scan(spark, tmp_path):
    p = str(tmp_path / "pushdown")
    spark.createDataFrame(ROWS_A, DATA_A_SCHEMA).write.parquet(p)
    df = (
        spark.read.parquet(p)
        .where(F.col("geographical_location_oid") == 1)
        .select("detection_oid")
    )
    plan = assert_pushed_filters(df)
    # column pruning: scan reads only the two needed columns
    assert "timestamp_detected" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_ngram_pair_join_aggregates_sizes_inline(spark):
    """The exact-Jaccard pair plan must finish at the pair
    aggregation: per-doc set sizes ride through the explode as
    grouping keys, so NO join sits above the final HashAggregate (the
    old shape re-joined a sizes aggregation onto the pair stream
    twice — two extra shuffles of the pair stream)."""
    import re

    from parquet_combiner_spark.plans import plan_text

    docs = spark.createDataFrame(
        [(i, "some words repeated here " * 3) for i in range(6)],
        "doc_id long, text string",
    )
    plan = plan_text(dedup_text.ngram_jaccard_pairs(docs), mode="simple")
    first_agg = plan.find("HashAggregate")
    first_join = re.search(r"\w*Join", plan).start()
    assert 0 <= first_agg < first_join, plan
    # sizes are grouping keys of the pair aggregation, not join inputs
    agg_keys = plan.split("HashAggregate(keys=[")[1].split("]")[0]
    assert "n_sh" in agg_keys, plan


def test_partitioned_write_prunes_partitions_at_read(spark, tmp_path):
    """The 100 TB payoff of write_parquet(partition_by=...): an
    equality filter on the partition column must prune at the scan
    (PartitionFilters), so a per-location query reads one directory,
    not the whole table."""
    from parquet_combiner_spark.plans import plan_text
    from parquet_combiner_spark.sources.io import write_parquet

    p = str(tmp_path / "partitioned")
    write_parquet(
        spark.createDataFrame(ROWS_A, DATA_A_SCHEMA),
        p,
        partition_by=["geographical_location_oid"],
    )
    df = spark.read.parquet(p).where(
        F.col("geographical_location_oid") == 1
    )
    plan = plan_text(df)
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "geographical_location_oid" in pf, plan


def test_minhash_plan_no_cartesian(spark):
    docs = spark.createDataFrame(
        [(i, "some words repeated here " * 3) for i in range(6)],
        "doc_id long, text string",
    )
    assert_no_cartesian_product(dedup_text.minhash_near_dup_pairs(docs))
    assert_no_cartesian_product(dedup_text.simhash_near_dup_pairs(docs))
    assert_no_cartesian_product(dedup_text.ngram_jaccard_pairs(docs))


def test_embedding_near_dup_plan_no_cartesian(spark):
    import warnings

    embs = spark.createDataFrame(
        [(i, [float(i)] * 8, "x") for i in range(6)],
        "vec_id long, embedding array<double>, label string",
    )
    # production LSH knobs against a 15-pair fixture trip the
    # candidate-density guard BY DESIGN (the guard working on tiny
    # data); silence it here so real warnings stay visible in the
    # suite output (VERDICT r9 order #7)
    with warnings.catch_warnings():
        warnings.filterwarnings(
            "ignore", message=".*LSH candidate density.*",
            category=RuntimeWarning,
        )
        assert_no_cartesian_product(
            similarity.embedding_near_dup_pairs(embs, dim=8, num_tables=2)
        )


def test_lsh_topk_plan_no_cartesian(spark):
    embs = spark.createDataFrame(
        [(i, [float(i % 3)] * 8, "x") for i in range(8)],
        "vec_id long, embedding array<double>, label string",
    )
    q = embs.where(F.col("vec_id") < 2)
    assert_no_cartesian_product(
        similarity.cosine_topk_lsh(embs, q, k=2, dim=8)
    )


def test_aqe_splits_skewed_join_partition(spark):
    """The reference hand-rolls salting for skewed joins
    (utils/SkewedDataHandler.scala:26-65); this engine's position
    (SURVEY.md §4) is that AQE does it at runtime. Prove it: execute a
    join where one key holds ~95% of rows and assert the final
    adaptive plan actually split the skewed partition (skew=true in
    AQEShuffleRead)."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        fact = spark.range(210_000).select(
            F.when(F.col("id") < 200_000, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        joined = fact.join(dim, "k")
        assert len(joined.collect()) == 210_000
        # the *executed* (final adaptive) plan of this very DataFrame
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, f"AQE did not split the skew:\n{plan}"
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_pack_sequences_plan_single_exchange_no_global_window(spark):
    """The scale property sequence packing exists for: the plan has
    exactly ONE full-data exchange (hash on the deterministic range
    bucket feeding the window) and the window clusters by __bkt —
    never the naive global single-partition window cumsum."""
    from parquet_combiner_spark.functions.packing import pack_sequences
    from parquet_combiner_spark.plans import plan_text

    docs = spark.range(5000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 9 + 1).alias("n_tokens")
    )
    out = pack_sequences(docs, "n_tokens", 256)
    # simple mode: each node printed once, so count == #exchanges
    plan = plan_text(out, mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert "hashpartitioning(__bkt" in plan, plan
    assert "SinglePartition" not in plan, plan
    # window is the per-bucket cumsum, clustered by the bucket column
    win_spec = plan.split("Window [")[1].split("\n")[0]
    assert "[__bkt" in win_spec, plan


def test_native_session_window_plan_stays_jvm_side(spark):
    """The whole point of user_sessions_native: session assignment and
    aggregation run inside the JVM — no Arrow/Python eval node
    anywhere in the plan (the custom applyInPandasWithState operator
    is the Python path BY DESIGN; the native one must never be), and
    the aggregation is the session-window merge."""
    from parquet_combiner_spark.plans import plan_text
    from parquet_combiner_spark.queries import user_sessions_native

    out = user_sessions_native(spark, "/root/testdata/sf0.001")
    plan = plan_text(out, mode="simple")
    for python_node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                       "FlatMapGroupsInPandas"):
        assert python_node not in plan, plan
    assert "session_window" in plan.lower(), plan


def test_asof_join_plan_no_join_single_exchange(spark):
    """The as-of operator's scale claim, pinned: NO join node of any
    kind (a range join would degenerate to a per-key partial cross
    product) and exactly ONE exchange of the unioned stream, hashed on
    the key, feeding the ordered window."""
    import re

    from parquet_combiner_spark.operators.asof import asof_join_backward
    from parquet_combiner_spark.plans import plan_text

    fact = spark.range(1000).select(
        F.col("id").alias("fid"), (F.col("id") % 7).alias("k"),
        (F.col("id") * 3).alias("t"),
    )
    dim = spark.range(100).select(
        (F.col("id") % 7).alias("k"), (F.col("id") * 11).alias("t"),
        F.col("id").alias("v"),
    )
    out = asof_join_backward(fact, dim, ["k"], "t", "t", ["v"])
    plan = plan_text(out, mode="simple")
    assert not re.search(r"\w*Join", plan), plan
    assert plan.count("Exchange") == 1, plan
    assert "hashpartitioning(k" in plan, plan
    assert "Window" in plan, plan


def test_interval_join_plan_is_equi_join_not_nested_loop(spark):
    """The range join's scale claim, pinned: the physical join is an
    EQUI-join on (key, bucket) — hash- or sort-merge-based — never the
    BroadcastNestedLoopJoin/CartesianProduct a raw BETWEEN predicate
    would plan to."""
    from parquet_combiner_spark.operators.asof import interval_join
    from parquet_combiner_spark.plans import plan_text

    fact = spark.range(1000).select(
        F.col("id").alias("fid"), (F.col("id") % 7).alias("k"),
        (F.col("id") * 3).alias("t"),
    )
    intervals = spark.range(200).select(
        (F.col("id") % 7).alias("k"), (F.col("id") * 11).alias("s"),
        (F.col("id") * 11 + 40).alias("e"),
    )
    out = interval_join(fact, intervals, ["k"], "t", "s", "e", 50)
    plan = plan_text(out, mode="simple")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_group_counts_partial_aggregation(spark):
    da = make_data_a(spark, ROWS_A)
    counts = da.groupBy("geographical_location_oid", "item_name").agg(
        F.count(F.lit(1)).alias("n")
    )
    assert_partial_aggregate(counts)


def test_dedup_keep_min_is_aggregate_not_sort(spark):
    from parquet_combiner_spark.operators.dedup import dedup_keep_min

    da = make_data_a(spark, ROWS_A)
    deduped = dedup_keep_min(
        da, ["detection_oid"], ["timestamp_detected", "video_camera_oid"]
    )
    plan = assert_partial_aggregate(deduped)
    assert "Window" not in plan  # the whole point: no shuffle-and-sort
    assert_in_plan(deduped, "min_by")


def test_shipping_priority_plan_topk_and_pushdown(spark):
    """TPC-H Q3 shape: the global top-10 must be TakeOrderedAndProject
    (never a full Sort), and every filter must reach its parquet
    scan."""
    from parquet_combiner_spark.queries import shipping_priority

    df = shipping_priority(spark, "/root/testdata/sf0.001")
    plan = assert_no_cartesian_product(df)
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "LessThan(o_orderdate" in plan
    assert "GreaterThan(l_shipdate" in plan


def test_local_supplier_volume_locality_rides_supplier_join(spark):
    """TPC-H Q5 shape: the c_nationkey = s_nationkey locality
    predicate must be part of the supplier join's key set (no extra
    exchange or post-filter), and the dims must broadcast."""
    import re

    from parquet_combiner_spark.queries import local_supplier_volume

    df = local_supplier_volume(spark, "/root/testdata/sf0.001")
    plan = assert_no_cartesian_product(df)
    # formatted mode prints join keys as "Left keys [n]: [...]"
    assert re.search(
        r"Left keys \[2\]: \[l_suppkey\S* c_nationkey\S*\]", plan
    ), plan
    assert re.search(
        r"Right keys \[2\]: \[s_suppkey\S* s_nationkey\S*\]", plan
    ), plan


def test_partitioned_sink_enables_dynamic_partition_pruning(spark, tmp_path):
    """The 100 TB reason write_parquet has partition_by: a join whose
    dim side is filtered prunes fact PARTITIONS at runtime (DPP) — the
    scan's PartitionFilters must carry a dynamicpruningexpression fed
    by the broadcast dim subquery, so only matching partition
    directories are ever listed/read."""
    from pyspark.sql import Row

    from parquet_combiner_spark.plans import plan_text
    from parquet_combiner_spark.sources.io import write_parquet

    fact_p = str(tmp_path / "fact_dpp")
    fact = spark.createDataFrame(
        [Row(k=i, status=("A" if i % 3 else "B"), v=float(i)) for i in range(300)]
    )
    write_parquet(fact, fact_p, partition_by=["status"])
    dim = spark.createDataFrame(
        [Row(status="A", name="active"), Row(status="B", name="blocked")]
    )
    j = (
        spark.read.parquet(fact_p)
        .join(dim, "status")
        .where(F.col("name") == "active")
    )
    plan = plan_text(j)
    assert "dynamicpruningexpression" in plan, plan
    n = j.count()
    assert n == 200  # i%3 != 0 rows carry status A


def test_correlated_subqueries_decorrelate(spark):
    """The correlated scalar subqueries must decorrelate into
    aggregate + join plans — no per-row subquery re-execution: the
    executed plan has aggregates and joins but no correlated
    ScalarSubquery node over the orders scan per customer row."""
    from parquet_combiner_spark.queries import customers_above_avg_order

    df = customers_above_avg_order(spark, "/root/testdata/sf0.001")
    plan = assert_no_cartesian_product(df)
    assert_partial_aggregate(df)
    # the per-customer max becomes an aggregate joined on o_custkey
    assert "max(o_totalprice)" in plan
    n = df.count()
    assert n > 0  # non-vacuous on the testdata


def test_like_prefix_pushes_to_scan(spark):
    """The LIKE 'red %' prefix must reach the parquet scan as
    StringStartsWith — never a post-scan-only filter."""
    from parquet_combiner_spark.queries import red_parts_by_brand

    df = red_parts_by_brand(spark, "/root/testdata/sf0.001")
    plan = assert_pushed_filters(df)
    assert "StringStartsWith(p_name,red )" in plan, plan


def test_runtime_bloom_filter_injects_on_selective_join(spark, tmp_path):
    """Runtime row-level filtering: when the dim side of a non-broadcast
    join carries a selective predicate, Catalyst injects a
    bloom_filter_agg on the dim keys and applies might_contain on the
    fact scan — rows that cannot join die BEFORE the shuffle. At 100 TB
    the default thresholds (creation side < 10 MB, application side
    scan > 10 GB) trigger this naturally; testdata is far below the
    application threshold, so the test lowers it to 0 to pin the
    rewrite itself."""
    fact_p = str(tmp_path / "bloom_fact")
    dim_p = str(tmp_path / "bloom_dim")
    spark.range(0, 50_000).selectExpr(
        "id AS k", "id % 97 AS payload"
    ).write.parquet(fact_p)
    spark.range(0, 5_000).selectExpr(
        "id AS k", "CAST(id % 7 AS INT) AS grp"
    ).write.parquet(dim_p)

    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    thr_key = (
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold"
    )
    old_thr = spark.conf.get(thr_key)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(thr_key, "0")
        fact = spark.read.parquet(fact_p)
        dim = spark.read.parquet(dim_p).where("grp = 3")
        j = fact.join(dim, "k").select("k", "payload")
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
        # and the rewrite preserves the answer
        assert j.count() == 5_000 // 7 + (1 if 3 < 5_000 % 7 else 0)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set(thr_key, old_thr)


def test_large_volume_customers_plan_broadcast_agg_topk(spark):
    """TPC-H Q18 shape: the HAVING-qualified quantity rollup
    broadcasts into the orders join (the fact side is probed by the
    aggregate's result, not shuffled against it), the customer dim
    broadcasts, the top-100 is TakeOrderedAndProject, and the only
    full-data exchange is the rollup's own partial-aggregated
    shuffle."""
    from parquet_combiner_spark.plans import plan_text
    from parquet_combiner_spark.queries import large_volume_customers

    df = large_volume_customers(spark, "/root/testdata/sf0.001")
    plan = assert_no_cartesian_product(df)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan
    simple = plan_text(df, mode="simple")
    # exchanges: 1 hash (the rollup) + broadcasts; no other hash shuffles
    hash_exchanges = [
        l for l in simple.splitlines()
        if "Exchange hashpartitioning" in l
    ]
    assert len(hash_exchanges) == 1, simple


def test_sole_return_suppliers_correlations_are_joins(spark):
    """TPC-H Q21 shape: the EXISTS and NOT EXISTS correlations must
    compile to LeftSemi / LeftAnti JOINS on the order key (with the
    supplier inequality as a residual condition), never per-row
    subquery re-execution, and the supplier dim must broadcast."""
    from parquet_combiner_spark.plans import plan_text
    from parquet_combiner_spark.queries import sole_return_suppliers

    df = sole_return_suppliers(spark, "/root/testdata/sf0.001")
    plan = assert_no_cartesian_product(df)
    simple = plan_text(df, mode="simple")
    assert "LeftSemi" in simple, simple
    assert "LeftAnti" in simple, simple
    assert "BroadcastHashJoin" in simple, simple
    assert_partial_aggregate(df)


def test_parquet_aggregate_pushdown_reads_footers_not_data(spark, tmp_path):
    """count(*)/min/max-only aggregations push INTO the parquet scan
    (PushedAggregation in BatchScan) — answered from row-group footer
    statistics without decoding data pages. Requires the V2 parquet
    source: `spark.sql.parquet.aggregatePushdown` (an engine default)
    has no effect under the default V1 path, which is why this test
    pins the WORKING combination rather than just the conf."""
    p = str(tmp_path / "agg_push")
    spark.range(0, 100_000).selectExpr(
        "id", "id % 97 AS v"
    ).write.parquet(p)
    old = spark.conf.get("spark.sql.sources.useV1SourceList")
    try:
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        agg = spark.read.parquet(p).agg(
            F.count(F.lit(1)).alias("n"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregation" in plan, plan
        assert "count(*)" in plan
        row = agg.head()
        assert (row["n"], row["lo"], row["hi"]) == (100_000, 0, 96)
    finally:
        spark.conf.set("spark.sql.sources.useV1SourceList", old)


def test_round8_operators_plan_shapes(spark):
    """Plan pins for the round-8 operators: the triangle wedge/closure
    joins and the salted join are equi-joins (never cartesian), the
    small side of the salted join replicates via a narrow Generate
    (explode) not a join node, and sliding windows expand rows
    executor-side with NO join anywhere."""
    from pyspark.sql import Row

    from parquet_combiner_spark.functions.graph import triangle_counts
    from parquet_combiner_spark.operators.skew import salted_join
    from parquet_combiner_spark.plans import plan_text
    from parquet_combiner_spark.queries import sliding_event_type_counts

    pairs = spark.createDataFrame(
        [Row(doc_id_a=1, doc_id_b=2), Row(doc_id_a=2, doc_id_b=3)]
    )
    tri_plan = plan_text(triangle_counts(pairs))
    assert "CartesianProduct" not in tri_plan
    assert "BroadcastNestedLoopJoin" not in tri_plan

    big = spark.createDataFrame([Row(k=1, rid=1, x=1.0)])
    small = spark.createDataFrame([Row(k=1, label="a")])
    sj_plan = plan_text(salted_join(big, small, "k", "rid", num_salts=4))
    assert "CartesianProduct" not in sj_plan
    assert "BroadcastNestedLoopJoin" not in sj_plan
    # replication is a narrow Generate (explode), not a join node
    assert "Generate" in sj_plan and "explode" in sj_plan

    slide_plan = plan_text(
        sliding_event_type_counts(spark, "/root/testdata/sf0.001")
    )
    assert "Join" not in slide_plan  # per-row window expansion only
    assert_partial_aggregate(
        sliding_event_type_counts(spark, "/root/testdata/sf0.001")
    )


def test_q6_q13_q15_plan_shapes(spark):
    """Plan pins for the Q6/Q13/Q15 shapes: Q6's predicates all reach
    the parquet scan (scan-only query — no join node at all); Q13
    keeps the LEFT OUTER spine (the zero bucket depends on it) with
    partial aggregation; Q15's max-and-probe reuse broadcasts the
    1-row max (never a cartesian)."""
    from parquet_combiner_spark.plans import plan_text
    from parquet_combiner_spark.queries import (
        customer_order_distribution,
        forecast_revenue_change,
        top_revenue_suppliers,
    )

    sf = "/root/testdata/sf0.001"

    q6 = plan_text(forecast_revenue_change(spark, sf))
    assert "Join" not in q6
    assert "GreaterThanOrEqual(l_shipdate" in q6
    assert "GreaterThanOrEqual(l_discount" in q6
    assert "LessThan(l_quantity" in q6

    q13 = plan_text(customer_order_distribution(spark, sf))
    assert "LeftOuter" in q13
    assert "EqualTo(o_orderpriority,1-URGENT)" in q13
    assert_partial_aggregate(customer_order_distribution(spark, sf))

    q15 = plan_text(top_revenue_suppliers(spark, sf))
    assert "CartesianProduct" not in q15
    assert "BroadcastNestedLoopJoin" not in q15
    assert "BroadcastHashJoin" in q15


def test_q2_q9_q12_q16_q20_plan_shapes(spark):
    """Plan pins for the last five TPC-H shapes. Q2: the correlated
    min-per-group decorrelates into aggregates + equi-joins (no
    cartesian, dims broadcast); Q9: part/supplier/nation broadcast,
    no SMJ; Q12: the shipdate year filter reaches the lineitem scan;
    Q16: the NOT IN is a LEFT ANTI against the broadcast complaint
    list; Q20: the qualifying supplier set arrives as a LEFT SEMI
    with partial aggregation underneath."""
    from parquet_combiner_spark.plans import plan_text
    from parquet_combiner_spark.queries import (
        late_shipment_priority,
        min_cost_supplier,
        part_supplier_counts,
        potential_part_promotion,
        product_type_profit,
    )

    sf = "/root/testdata/sf0.001"

    q2 = plan_text(min_cost_supplier(spark, sf))
    assert "CartesianProduct" not in q2
    assert "BroadcastNestedLoopJoin" not in q2
    assert "SortMergeJoin" not in q2
    assert q2.count("BroadcastHashJoin") >= 3, q2
    assert_partial_aggregate(min_cost_supplier(spark, sf))

    q9 = plan_text(product_type_profit(spark, sf))
    assert "CartesianProduct" not in q9
    assert "SortMergeJoin" not in q9
    assert q9.count("BroadcastHashJoin") >= 3, q9
    assert "StringContains(p_name,red)" in q9  # LIKE pushed to the dim scan

    q12 = plan_text(late_shipment_priority(spark, sf))
    assert "CartesianProduct" not in q12
    assert "GreaterThanOrEqual(l_shipdate" in q12  # year filter at the scan
    assert_partial_aggregate(late_shipment_priority(spark, sf))

    q16 = plan_text(part_supplier_counts(spark, sf))
    assert "CartesianProduct" not in q16
    assert "LeftAnti" in q16
    assert "BroadcastHashJoin" in q16

    q20 = plan_text(potential_part_promotion(spark, sf))
    assert "CartesianProduct" not in q20
    assert "LeftSemi" in q20
    assert_partial_aggregate(potential_part_promotion(spark, sf))


def test_embedding_dim_stats_partial_aggregate_no_join(spark):
    """The per-dimension stats pass must stay a narrow explode into a
    dims-sized partial aggregate: no join, partial HashAggregate
    before the single exchange."""
    from parquet_combiner_spark.functions import q_embedding_dim_stats
    from parquet_combiner_spark.plans import plan_text

    df = q_embedding_dim_stats(spark, "/root/testdata/sf0.001")
    plan = plan_text(df)
    assert "Join" not in plan
    assert_partial_aggregate(df)


def test_bm25_plan_broadcast_postings_and_topk(spark):
    """BM25 plan: query terms and the query-term df broadcast onto
    the postings (never a shuffle of the big side against them), the
    per-query top-k is WindowGroupLimit-pruned, and the only
    nested-loop is the intentional 1-row corpus-stats broadcast."""
    from parquet_combiner_spark.functions import q_doc_bm25_topk
    from parquet_combiner_spark.plans import plan_text

    df = q_doc_bm25_topk(spark, "/root/testdata/sf0.001")
    plan = plan_text(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan


def test_shuffle_exchange_budgets(spark):
    """SCALE.md's shuffle budgets, made executable: the number of
    shuffle Exchange nodes in each headline plan must not grow. The
    counts are formatted-explain node counts (AQE prints the plan
    tree pre-execution; \\bExchange\\b excludes BroadcastExchange and
    ReusedExchange), so they are a regression TRIPWIRE, not a logical
    shuffle tally — a lost broadcast (SMJ shuffles both sides) or an
    accidental repartition trips the cap immediately."""
    import re

    from parquet_combiner_spark.plans import plan_text

    import __spark_entry__ as entry

    budgets = {
        "pricing_summary": 2,
        "events_by_type": 2,
        "filtered_orders": 0,
        "forecast_revenue_change": 2,
        "embedding_dim_stats": 2,
        "supplier_stats": 4,
        "customer_order_distribution": 4,
        "monthly_revenue_growth": 4,
        "top_revenue_suppliers": 6,
        "top_parts_per_supplier": 8,
        # bloom prefilter must not ADD exchanges over the exact path
        # beyond its two bitmap-build aggs (which are metadata-sized)
        "doc_decontaminate": 4,
        "doc_decontaminate_bloom": 6,
        # bigram LM: pair-stream aggs + probe; the formatted plan
        # prints the pair subtree once per consumer branch
        "doc_unigram_logprob": 8,
        "doc_bigram_logprob": 12,
        # r15 semantic decontamination: the candidate join is
        # broadcast and vectors never ride an exchange — the budget
        # is the ids-only hit agg + the flag-attach join (formatted
        # plan prints both SMJ sides; AQE reuses the agg exchange)
        "embedding_decontaminate": 4,
        # corpus path: BM25 doc lengths are token-array sizes, not a
        # second aggregate of the postings; the n-gram length filter
        # sits in the self-join and adds no exchange
        "doc_bm25_topk": 14,
        "hybrid_rrf_topk": 22,
        "ngram_jaccard_pairs": 16,
    }
    qs = entry.queries()
    sf = "/root/testdata/sf0.001"
    for name, cap in budgets.items():
        plan = plan_text(qs[name](spark, sf))
        n = len(re.findall(r"\bExchange\b", plan))
        assert n <= cap, f"{name}: {n} shuffle exchanges > budget {cap}"


def test_epoch_shuffle_plan_single_exchange_no_global_window(spark):
    """epoch_shuffle's reason to exist: dense global positions with
    exactly ONE full-data exchange (hash on the literal range
    bucket) and a window clustered by that bucket — never the naive
    global-sort / single-partition row_number."""
    from parquet_combiner_spark.functions.sampling import epoch_shuffle
    from parquet_combiner_spark.plans import plan_text

    docs = spark.range(5000).select(F.col("id").alias("doc_id"))
    out = epoch_shuffle(docs, "doc_id", seed="e1")
    plan = plan_text(out, mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert "hashpartitioning(__bkt" in plan, plan
    assert "SinglePartition" not in plan, plan
    win_spec = plan.split("Window [")[1].split("\n")[0]
    assert "[__bkt" in win_spec, plan


def test_classifier_loop_frame_featurizes_at_scan_parallelism(spark):
    """VERDICT r10 order #1: the GD-loop feature frame must NOT fold
    a coalesce into the featurization stage (the old hard-coded
    ``coalesce(4)`` ran the full five-regexp text pass in 4 tasks).
    The packing must be a real RoundRobin exchange ABOVE the scan —
    featurization keeps scan parallelism; only the narrow (id, label,
    f0..f4) frame shuffles down — and the inference plan returned to
    users must stay a pure projection: no Exchange, no Coalesce."""
    from parquet_combiner_spark import functions as fx
    from parquet_combiner_spark.plans import plan_text

    sf = "/root/testdata/sf0.001"
    feats = fx._classifier_train_feats(spark, sf)
    try:
        plan = plan_text(feats, mode="simple")
        assert "Coalesce" not in plan, plan
        # a REAL exchange above the featurization Project (k=1 renders
        # as SinglePartition, k>1 as RoundRobinPartitioning — both are
        # REPARTITION_BY_NUM, neither can fold into the scan stage)
        assert "REPARTITION_BY_NUM" in plan, plan
        head, _, below = plan.partition("Exchange")
        assert "regexp_replace" not in head  # featurize BELOW it
        assert "regexp_replace" in below
        # tiny corpus → the floor (1); the dial is rows/10M at scale
        assert feats.rdd.getNumPartitions() == fx._CLS_MIN_LOOP_PARTS
    finally:
        feats.unpersist()
    scores = fx.q_doc_quality_classifier_scores(spark, sf)
    splan = plan_text(scores, mode="simple")
    assert "Exchange" not in splan, splan
    assert "Coalesce" not in splan, splan
    assert "InMemoryTableScan" not in splan, splan  # no unpersisted-cache ref
