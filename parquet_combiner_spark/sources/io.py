"""Parquet sources and sinks (SURVEY.md §2.1, S1-S7).

The reference reads Parquet then immediately drops to row-oriented
RDDs of case classes (reference utils/DataReader.scala:14-36),
forfeiting the vectorized reader and column pruning. These readers
stay in DataFrames: Catalyst pushes filters and prunes columns into
the scan, which is the difference between reading 5 columns and
reading 2 at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_combiner_spark import schemas


def ensure_ts_nanos(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to integer nanos-since-epoch.

    Event tables show up with three physical representations across
    parquet writers, and the engine's session/gap semantics are all
    exact integer math, so every reader funnels through this:

    - ``bigint`` — TIMESTAMP(NANOS) read as a long via the legacy
      ``nanosAsLong`` conf (or an already-integer column): pass-through;
    - ``timestamp_ntz`` — a wall-clock value; converted with
      timestamp-difference arithmetic against the ntz epoch so the
      result is session-timezone-INDEPENDENT and equals DuckDB's
      ``epoch_ns`` of the same naive value;
    - ``timestamp`` — an instant; ``unix_micros``.

    Micros-precision inputs become exact ``micros * 1000`` nanos.
    """
    t = dict(df.dtypes).get(col)
    if t is None:
        raise TypeError(
            f"ensure_ts_nanos: column {col!r} not found in {df.columns}"
        )
    if t == "bigint":
        return df
    if t == "timestamp_ntz":
        conv = F.expr(
            f"timestampdiff(MICROSECOND, "
            f"TIMESTAMP_NTZ '1970-01-01 00:00:00', {col}) * 1000"
        )
    elif t == "timestamp":
        conv = F.unix_micros(F.col(col)) * F.lit(1000)
    else:
        raise TypeError(f"cannot normalize {col!r} of type {t} to nanos")
    return df.withColumn(col, conv.cast("long"))


def _read_self_describing(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None,
    fmt: str,
) -> DataFrame:
    """Shared fail-fast reader for self-describing columnar formats
    (parquet/ORC — both carry a footer schema). Spark's
    schema-on-read silently NULL-fills columns absent from the files,
    so passing ``reader.schema(...)`` alone does NOT catch a missing
    column: check the footer's column set up front (metadata only, no
    data scan) and raise immediately — contrast the reference, where
    a missing column surfaces as a getAs failure at task runtime
    (reference DataReader.scala:16-23).

    Without a declared schema the files' own schema is passed to the
    reader, so a read of unchanged files starts no inference job (see
    :func:`footer_schema`)."""
    reader = spark.read
    if schema is None:
        schema = footer_schema(spark, path, fmt)
    else:
        footer = footer_schema(spark, path, fmt).names
        actual = {f.lower() for f in footer}
        missing = [
            f.name for f in schema.fields if f.name.lower() not in actual
        ]
        if missing:
            raise ValueError(
                f"{fmt} at {path} is missing declared column(s) "
                f"{missing}; found {sorted(actual)}"
            )
    return reader.schema(schema).format(fmt).load(path)


# Session confs that change the schema Spark infers from the same files.
_INFERENCE_CONFS = (
    "spark.sql.caseSensitive",
    "spark.sql.files.ignoreCorruptFiles",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.orc.mergeSchema",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
# (fmt, absolute path) -> (file and conf signature, inferred schema),
# least recently used first
_FOOTER_SCHEMAS: dict[tuple, tuple[tuple, T.StructType]] = {}
_FOOTER_SCHEMAS_MAX = 256


def file_listing(path: str) -> tuple:
    """``(path, size, mtime_ns)`` of ``path`` itself when it is a
    file, else of every file under it — changes whenever the data
    under ``path`` is rewritten."""
    paths = [path] if os.path.isfile(path) else sorted(
        os.path.join(d, f) for d, _, files in os.walk(path) for f in files
    )
    stats = [(p, os.stat(p)) for p in paths]
    return tuple((p, st.st_size, st.st_mtime_ns) for p, st in stats)


def footer_schema(spark: SparkSession, path: str, fmt: str) -> T.StructType:
    """The schema Spark infers for the ``fmt`` files at ``path``.

    Spark reads footers in a Spark job of its own on every ``load``
    that is given no schema. For an absolute local path the result is
    kept with the path's :func:`file_listing` and the confs that steer
    inference: reading the same files again starts no job, and a
    rewrite is inferred afresh. Other paths (a URI, a relative path, a
    glob) are inferred every time."""
    if (
        not os.path.isabs(path)
        or any(c in path for c in "*?[{")
        or not os.path.exists(path)
    ):
        return spark.read.format(fmt).load(path).schema
    key = (fmt, os.path.normpath(path))
    sig = (
        file_listing(path),
        tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS),
    )
    hit = _FOOTER_SCHEMAS.pop(key, None)
    if hit is None or hit[0] != sig:
        hit = (sig, spark.read.format(fmt).load(path).schema)
        while len(_FOOTER_SCHEMAS) >= _FOOTER_SCHEMAS_MAX:
            _FOOTER_SCHEMAS.pop(next(iter(_FOOTER_SCHEMAS)))
    _FOOTER_SCHEMAS[key] = hit
    return hit[1]


def read_parquet(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Parquet scan, optionally schema-enforced (fail-fast) — see
    :func:`_read_self_describing`."""
    return _read_self_describing(spark, path, schema, "parquet")


def read_data_a(spark: SparkSession, path: str) -> DataFrame:
    """S1: detections fact table (reference DataReader.scala:14-25)."""
    return read_parquet(spark, path, schemas.DATA_A_SCHEMA)


def read_data_b(spark: SparkSession, path: str) -> DataFrame:
    """S2: locations dim table (reference DataReader.scala:28-36)."""
    return read_parquet(spark, path, schemas.DATA_B_SCHEMA)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str = "snappy",
    partition_by: list[str] | None = None,
) -> None:
    """S3/S4: snappy Parquet sink (reference ParquetCombinerRDD.scala:204-207).

    ``partition_by`` is the 100 TB addition: a partitioned layout turns
    downstream equality predicates into partition pruning.
    """
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


_JSONL_INFER_LINES = 1000  # bound on the field-presence sample


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    mode: str = "FAILFAST",
) -> DataFrame:
    """JSON-lines scan — the raw-ingestion format of an LLM data
    pipeline (one document object per line). Optionally
    schema-enforced with the same fail-fast posture as
    :func:`read_parquet`: JSON schema-on-read silently NULL-fills
    fields absent from the data, so with a declared schema the field
    set is first checked against an inferred sample (JSON has no
    footer — inference reads data, but only to derive the schema),
    and malformed lines fail the job (``FAILFAST``) instead of
    becoming silent nulls (permissive mode's default).

    Scale note: line-delimited JSON splits by line across tasks like
    any text source, but costs a full parse per read — ingest once,
    then operate on parquet (:func:`write_parquet`).

    The field-presence check is SAMPLE-BOUND (first
    ``_JSONL_INFER_LINES`` lines): a full inference pass would parse
    the entire dataset a second time just to derive names. Because a
    sample can legitimately miss a SPARSE optional field (which the
    schema-enforced read null-fills correctly), the check only fails
    when the sample shares NO field with the declared schema — the
    "you pointed at the wrong table" case; a partial overlap reads
    fine. An empty path is NO DATA, not "every field missing" — it
    returns an empty DataFrame with the declared schema, matching
    the parquet reader's empty-input behavior.
    """
    if schema is not None:
        sample = [
            r[0] for r in spark.read.text(path).limit(_JSONL_INFER_LINES).collect()
        ]
        if not sample:
            return spark.createDataFrame([], schema)
        actual = {
            f.lower()
            for f in spark.read.json(
                spark.sparkContext.parallelize(sample)
            ).schema.names
        }
        declared = {f.name.lower() for f in schema.fields}
        if actual and not (declared & actual):
            raise ValueError(
                f"jsonl at {path} shares no field with the declared "
                f"schema {sorted(declared)} in the first "
                f"{_JSONL_INFER_LINES} lines; found {sorted(actual)}"
            )
        return spark.read.schema(schema).option("mode", mode).json(path)
    return spark.read.option("mode", mode).json(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str | None = "gzip",
    partition_by: list[str] | None = None,
) -> None:
    """JSON-lines sink — the export format downstream training
    consumers read. Same partitioned-layout option as the parquet
    sink; gzip by default (line-JSON is verbose — ~4-10x parquet)."""
    writer = df.write.mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.json(path)


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    num_files: int | None = None,
    mode: str = "overwrite",
    compression: str = "snappy",
    bloom_filter_cols: dict | None = None,
) -> None:
    """Clustered parquet sink: range-partition by ``sort_cols`` then
    sort within each partition before writing.

    This is the data-layout half of predicate pushdown: parquet
    stores min/max statistics per row group, and a reader skips any
    row group whose [min, max] cannot satisfy the filter — but on
    randomly-laid-out data every row group spans nearly the full
    value range, so nothing skips. Sorting makes the ranges NARROW
    and DISJOINT, so a range/equality predicate on the sort columns
    touches O(selectivity) of the file bytes instead of all of them —
    the same reason warehouses Z-ORDER/cluster fact tables. Pay one
    range shuffle at write time; every subsequent filtered scan wins.

    ``repartitionByRange`` samples the data to build balanced range
    bounds, so files come out evenly sized even on skewed keys
    (modulo heavy single-value skew, which lands in one range).

    ``bloom_filter_cols`` ({column: expected distinct values}) embeds
    a PARQUET BLOOM FILTER per row group for columns the sort does
    NOT cluster: min/max skipping only helps the sort columns, but a
    point lookup on an unclustered high-cardinality column (the
    ``WHERE user_id = <uuid>`` shape) matches every row group's
    [min, max] and scans everything — the bloom answers "definitely
    absent" per row group and the reader skips it, executor-side, at
    any scale (~1.2 bytes/value at the parquet default FPP).
    """
    parted = (
        df.repartitionByRange(num_files, *sort_cols)
        if num_files is not None
        else df.repartitionByRange(*sort_cols)
    )
    writer = (
        parted.sortWithinPartitions(*sort_cols)
        .write.mode(mode)
        .option("compression", compression)
    )
    for c, ndv in sorted((bloom_filter_cols or {}).items()):
        writer = writer.option(
            f"parquet.bloom.filter.enabled#{c}", "true"
        ).option(f"parquet.bloom.filter.expected.ndv#{c}", str(int(ndv)))
    writer.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    mode: str = "FAILFAST",
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    """CSV scan with the same fail-fast posture as the JSONL source.

    With a declared ``schema``, ``enforceSchema`` is turned OFF
    deliberately: Spark's default (true) silently applies the schema
    positionally and IGNORES the file's header names, so a column
    reorder upstream would corrupt every typed read without an error.
    With it off, Spark validates the header against the schema's
    field names and fails the read on drift. Malformed rows fail the
    job (``FAILFAST``) instead of becoming silent nulls.

    Scale note: like JSONL, CSV splits by line and costs a full parse
    per read, and carries no column pruning or predicate pushdown —
    ingest once, then operate on parquet (:func:`write_parquet`).
    Without a schema, inference itself scans the data; pass a schema
    for anything larger than a sample.
    """
    reader = (
        spark.read.option("mode", mode)
        .option("header", header)
        .option("sep", sep)
    )
    if schema is not None:
        return (
            reader.schema(schema).option("enforceSchema", False).csv(path)
        )
    return reader.option("inferSchema", True).csv(path)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str | None = "gzip",
    header: bool = True,
    sep: str = ",",
    partition_by: list[str] | None = None,
) -> None:
    """CSV sink for interchange with non-columnar consumers. Complex
    columns (arrays/structs/binary) are not CSV-representable —
    project or serialize them first; Spark raises otherwise."""
    writer = df.write.mode(mode).option("header", header).option("sep", sep)
    if compression:
        writer = writer.option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.csv(path)


def read_orc(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """ORC scan with the same fail-fast posture as :func:`read_parquet`
    (one shared implementation — :func:`_read_self_describing`).

    ORC is the other self-describing columnar format large deployments
    standardize on (Hive-era warehouses, some vendor exports); like
    parquet it carries a footer schema and per-stripe min/max
    statistics, so predicate pushdown and column pruning work the
    same way and it splits by stripe across tasks.
    """
    return _read_self_describing(spark, path, schema, "orc")


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str = "zstd",
    partition_by: list[str] | None = None,
) -> None:
    """ORC sink for interchange with Hive-era consumers. Same
    partitioned-layout option as the parquet sink; zstd by default
    (ORC's best size/speed codec on modern Spark)."""
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed parquet table: rows are hash-partitioned into
    ``num_buckets`` files by ``bucket_cols`` AT WRITE TIME, so a later
    join or aggregation on those columns needs NO exchange — the
    shuffle was paid once, at write, instead of on every query.

    This is the 100 TB answer for repeatedly-joined fact tables
    (e.g. lineitem ⋈ orders on the order key): two tables bucketed the
    same way join with zero network movement. Requires a metastore
    table (``saveAsTable``) because bucket metadata lives in the
    catalog, not the files.
    """
    writer = df.write.mode(mode).bucketBy(int(num_buckets), *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table_name)


def _fs_size_bytes(spark: SparkSession, path: str) -> int:
    """Total byte size of a path via Spark's Hadoop FS layer (works on
    local/HDFS/S3 alike)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.getContentSummary(hpath).getLength()


def combine_parquet(
    spark: SparkSession,
    input_paths: str | list[str],
    output_path: str,
    target_file_mb: int = 128,
    compression: str = "snappy",
    partition_by: list[str] | None = None,
    shuffle: bool = False,
) -> int:
    """The namesake operation: compact one or more Parquet datasets
    into ``output_path`` with sensibly-sized files.

    Small-file sprawl is the classic large-pipeline failure mode (a
    100 TB table in 1 KB files is unreadable); this sizes the output
    file count from the ACTUAL input bytes (Hadoop FS metadata, no
    scan) and ``coalesce``s down to it — a narrow, shuffle-free plan.
    Pass ``shuffle=True`` to ``repartition`` instead when inputs are
    skewed and evenly-sized output files matter more than avoiding
    one exchange; with ``partition_by``, repartitioning by the
    partition columns routes each output directory's rows to one
    writer. Returns the target file count.
    """
    paths = [input_paths] if isinstance(input_paths, str) else list(input_paths)
    df = spark.read.parquet(*paths)
    total = sum(_fs_size_bytes(spark, p) for p in paths)
    n_files = max(1, -(-total // (target_file_mb * 1024 * 1024)))
    if partition_by:
        # without a shuffle the best available compaction is a
        # coalesce (each task still writes one file per partition
        # value it holds); shuffle=True routes each partition
        # directory's rows to few writers and is the recommended
        # combination with partition_by
        out = (
            df.repartition(int(n_files), *partition_by)
            if shuffle
            else df.coalesce(int(n_files))
        )
    elif shuffle:
        out = df.repartition(int(n_files))
    else:
        out = df.coalesce(int(n_files))
    write_parquet(
        out,
        output_path,
        compression=compression,
        partition_by=partition_by,
    )
    return int(n_files)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = schemas.TESTDATA_TABLES,
    register_views: bool = True,
) -> dict[str, DataFrame]:
    """Load driver testdata tables; optionally register temp views so
    the same queries run via spark.sql (the SQL surface the reference
    only touched in tests — SURVEY.md §3.4 makes it primary here)."""
    out: dict[str, DataFrame] = {}
    for name in names:
        p = table_path(sf_dir, name)
        try:
            # Let Spark's own FS layer resolve the path (works on
            # HDFS/S3/local alike — an os.path.exists() check here
            # would silently skip every table on a remote FS).
            df = spark.read.parquet(p)
        except AnalysisException:
            continue
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int | None = None,
    mode: str = "overwrite",
    compression: str = "snappy",
) -> None:
    """Z-order (Morton-curve) clustered parquet sink — the raw-parquet
    twin of ``tools/txlog.optimize(zorder_by=...)``, sharing its rank
    machinery.

    A 1-D sort makes row-group min/max stats narrow on ONE column;
    filters on a second column still touch every file. Interleaving
    the bits of each column's quantile-rank buckets orders rows along
    a space-filling curve, so every file covers a small
    hyper-rectangle of the domain — predicates on ANY listed column
    skip most files. This is the layout move warehouses call
    Z-ORDER/clustering, built from pure JVM expressions (no UDF) plus
    the range-partition + sort write.

    Quantization is rank-based (approx-quantile cut points, one
    multi-column pass), so heavy value skew still spreads across the
    curve — the upgrade over min/max linear scaling this docstring
    used to promise. Columns may be numeric, string, binary, date, or
    timestamp (non-numerics cluster through the order-preserving
    proxies of ``tools/txlog._zorder_proxy``); two or more columns.
    """
    from parquet_combiner_spark.tools.txlog import _zorder_with_key

    if len(cols) < 2:
        raise ValueError(
            f"write_zordered interleaves 2+ columns, got {cols}"
        )
    tagged = _zorder_with_key(df, cols)
    parted = (
        tagged.repartitionByRange(num_files, "__z")
        if num_files is not None
        else tagged.repartitionByRange("__z")
    )
    # the projection dropping the curve key preserves row order, so
    # the files stay curve-sorted without persisting __z
    (
        parted.sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .option("compression", compression)
        .parquet(path)
    )
