"""Zero-cost pipeline observability via ``DataFrame.observe``.

A 100 TB pipeline cannot afford a second pass to answer "how many
rows flowed through this stage, and how many had null keys?" —
``observe`` attaches named aggregate metrics that are computed BY THE
ACTION ITSELF (accumulator-style, merged across tasks), so data-
quality counters ride along for free with whatever job runs anyway.

This module standardizes the metric set: ``quality_observation``
builds a :class:`pyspark.sql.Observation` and attaches the
conventional counters (row count, per-column null counts). After any
action on the returned frame, ``observation.get`` yields the metrics
dict — no listener plumbing, no extra job.

Batch only — streaming queries report the same metrics through
``StreamingQueryProgress.observedMetrics`` instead.

``codegen_compiles`` reads the JVM's count of generated classes
compiled so far, so a caller can see whether a repeated query reused
the compiled code or paid Janino (and then the JIT) again.

Usage::

    obs, observed = quality_observation(df)
    observed.write.parquet(out)        # the action computes metrics
    m = obs.get                        # {'n_rows': ..., 'null_k': ...}
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def quality_observation(
    df: DataFrame,
    *extra: Column,
    null_cols: list[str] | None = None,
) -> tuple[Observation, DataFrame]:
    """Attach the conventional metric set: ``n_rows`` plus
    ``null_<col>`` for each of ``null_cols`` (default: every top-level
    column), plus any ``extra`` aggregate columns. Returns
    ``(observation, observed_df)``; run any action on ``observed_df``
    then read ``observation.get``. Free at action time — no extra
    pass, no caching, metrics merged across tasks like accumulators.
    """
    cols = df.columns if null_cols is None else list(null_cols)
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    metrics += [
        F.count(F.when(F.col(c).isNull(), 1)).alias(f"null_{c}")
        for c in cols
    ]
    obs = Observation()
    return obs, df.observe(obs, *metrics, *extra)


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes compiled in this JVM so far: every miss of
    Spark's code cache, whole-stage or expression class, counts once.
    Read from ``CodegenMetrics``' compilation-time histogram, whose
    count is exact (only its timing samples are a reservoir)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
