"""SparkSession factory with scale-oriented defaults.

The reference hand-tunes ``spark.sql.shuffle.partitions=200``,
``spark.rdd.compress`` and RDD persist levels
(reference ParquetCombinerRDD.scala:31-34). Here the equivalent knobs
are AQE (runtime partition coalescing, skew-join splitting) plus a
shuffle-partition count sized from the env, so the same code runs on
local[32] tests and a 1000-executor cluster without edits.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Configs that matter at 100 TB:
# - AQE on: runtime re-planning, skew splitting, partition coalescing.
# - Arrow on: Pandas UDF / toPandas boundary is vectorized.
# - maxPartitionBytes 128m: sane scan-side parallelism for big files.
_DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.filterPushdown": "true",
    # NOTE: aggregate pushdown only engages under the V2 parquet
    # source — and the default spark.sql.sources.useV1SourceList
    # INCLUDES parquet, so this conf is inert until parquet is
    # removed from that list; the working combination is pinned in
    # test_plans.py
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # TIMESTAMP(NANOS) parquet columns (events.ts in the testdata) are
    # rejected by the vectorized reader unless read as raw nanos longs;
    # an engine default, so query code need not mutate session conf
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # No _SUCCESS markers: visibility/atomicity of every engine write
    # is carried by the txlog commit record (files stage under a
    # private data/<uuid> dir and only become readable when the log
    # publishes them) or by the caller's own sink contract — the
    # marker is a dead FS write per job (~60 ms/write measured
    # locally; one extra object-store PUT per commit at scale, and
    # Delta/Iceberg disable it for the same reason).
    "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs": (
        "false"
    ),
    # Commit algorithm v2: task outputs move to the destination at
    # TASK commit instead of a second sequential rename pass at JOB
    # commit (measured −0.2 s/lifecycle line locally; the job-commit
    # pass is O(files) driver-side FS calls at scale). Safe here
    # because no engine sink exposes a directory mid-job: txlog
    # writes stage under a private data/<uuid> dir that only the
    # published log record makes visible, and the plain sinks are
    # overwrite-mode directories where a failed job invalidates the
    # destination under either algorithm (a rerun rewrites it).
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    # Compile each generated class once per session. Spark's code
    # cache (static, JVM-wide, LRU) holds 100 classes by default; one
    # batch_analytics iteration (top-X job + corpus path) needs 188
    # distinct ones, so every iteration recompiled about 220 identical
    # classes with Janino and C2 JIT-compiled them again. At 500 a
    # repeat compiles none: measured-iteration CPU 37.3 -> 27.2 s
    # (12 pairs, 4 vCPUs), steady-state wall 10.7 -> 6.1 s.
    "spark.sql.codegen.cache.maxEntries": "500",
    # The whole-stage class name carries the codegen-stage id, which
    # AQE can number differently from one call of the same query to
    # the next, so identical code got a new cache key (with 1000
    # entries, hybrid_rrf_topk still recompiled up to 18 classes per
    # call).
    "spark.sql.codegen.useIdInClassName": "false",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.extraJavaOptions": "-Duser.timezone=UTC",
    "spark.executor.extraJavaOptions": "-Duser.timezone=UTC",
}


def default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return f"local[{cpus}]" if cpus else "local[*]"


def get_spark(
    app_name: str = "parquet-combiner-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied.

    ``shuffle_partitions`` defaults to 2x local cores for local mode;
    on a real cluster leave it high (AQE coalesces down for free).
    """
    builder = SparkSession.builder.appName(app_name).master(
        master or default_master()
    )
    conf = dict(_DEFAULT_CONF)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
