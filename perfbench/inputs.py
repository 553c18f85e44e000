"""Seeded input builder for the benchmark workloads.

Every input is a pure function of ``(seed, size)``: the same seed gives
byte-identical files. Inputs are cached on disk under
``<work>/inputs/<kind>-s<seed>-<size>/``; a directory is published by an
atomic rename only once complete, so an interrupted build leaves nothing
a later run could mistake for a finished input.

The detections fact table comes from the engine's own generator
(``tools.generate.generate_detection_data``) and is written with a hash
partitioning and a total sort order, so its bytes do not depend on task
scheduling. The location dimension is built here: the engine's
``generate_location_data`` caps at its 25-city vocabulary, and the
workload has 10K locations. The corpus, the txtable base and the CDC
batches are drawn with NumPy and need no Spark session.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The detections workload: the paper's shape (15% duplicates, skew 5
# on location 1, a 10K-row location dimension) at a quarter of its 1M
# rows, so that a cold and a measured iteration fit in one run's budget.
DETECTION_ROWS = 250_000
DETECTION_LOCATIONS = 10_000
DUPLICATION_RATE = 0.15
SKEW_FACTOR = 5.0
SKEW_LOCATION = 1

# txtable_cdc: base table and per-cycle change sizes.
TX_BASE_ROWS = 20_000
TX_LOCATIONS = 200
TX_INGEST_FILES = 1
TX_INGEST_ROWS = 1_000
TX_MERGE_ROWS = 1_000
TX_MERGE_DELETE_SHARE = 0.10
TX_MERGE_INSERT_SHARE = 0.05
TX_DELETE_CAMERAS = 3
# ~1% of the base's 30-day timestamp span
TX_RANGE_SPAN_S = 26_000

# corpus_near_dup: the sf0.01-sf0.1 corpus shape (31-word vocabulary,
# 10-100 words per document) at 40% of sf0.1's 5000 documents.
CORPUS_DOCS = 2_000
CORPUS_EMBEDDINGS = 800
EMBEDDING_DIM = 64
NEAR_DUP_SHARE = 0.06
EXACT_DUP_SHARE = 0.002

_VOCAB = (
    "spark scan join sort hash agg window filter group order row column "
    "table stream batch merge query key value data line part fast slow "
    "big small vector customer the a"
).split()
_LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
_CITIES = (
    "Oslo", "Lima", "Pune", "Kyiv", "Doha", "Baku", "Riga", "Suva",
    "Apia", "Male", "Bern", "Rome", "Nice", "Graz", "Cork", "Turku",
)

DATA_A_ARROW = pa.schema(
    [
        ("geographical_location_oid", pa.int64()),
        ("video_camera_oid", pa.int64()),
        ("detection_oid", pa.int64()),
        ("item_name", pa.string()),
        ("timestamp_detected", pa.int64()),
    ]
)


def input_root(work: str) -> str:
    return os.path.join(work, "inputs")


def dir_digest(path: str) -> str:
    """sha256 over (relative name, bytes) of every file under ``path``."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            full = os.path.join(root, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, name))
        for root, _, files in os.walk(path)
        for name in files
    )


def _cached(work: str, key: str, build) -> str:
    """Return ``<inputs>/<key>``, building it with ``build(tmp_dir)``
    first if no complete copy exists."""
    final = os.path.join(input_root(work), key)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, final)
    return final


def cached_json(path: str, compute):
    """Load ``path``, or write ``compute()`` there (atomically) first."""
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(compute(), f)
        os.rename(tmp, path)
    with open(path) as f:
        return json.load(f)


def _normalize_spark_output(path: str) -> None:
    """Give Spark part files stable names (their default names carry a
    per-write UUID) and drop checksum side files, so equal content
    means equal bytes on disk."""
    parts = sorted(
        n for n in os.listdir(path) if n.startswith("part-")
    )
    for n in os.listdir(path):
        if n not in parts:
            os.remove(os.path.join(path, n))
    for i, n in enumerate(parts):
        os.rename(
            os.path.join(path, n),
            os.path.join(path, f"part-{i:05d}.snappy.parquet"),
        )


def _write_spark(df, path: str, partitions: int) -> None:
    """Write ``df`` as ``partitions`` files whose bytes depend only on
    its rows: hash-partitioned by key, every file sorted on all columns
    (a round-robin split would depend on the order tasks deliver rows)."""
    df.repartition(partitions, "detection_oid").sortWithinPartitions(
        *df.columns
    ).write.parquet(path)
    _normalize_spark_output(path)


def location_dim(spark, n: int, seed: int):
    """dataB: ``n`` locations, ids 1..n, seeded city names made unique
    by the id (``"Oslo-17"``)."""
    from pyspark.sql import functions as F

    cities = F.array(*[F.lit(c) for c in _CITIES])
    pick = F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(len(_CITIES))) + 1
    return spark.range(1, n + 1).select(
        F.col("id").alias("geographical_location_oid"),
        F.concat_ws(
            "-", F.element_at(cities, pick.cast("int")), F.col("id")
        ).alias("geographical_location"),
    )


def detections_dir(work: str, seed: int, rows: int = DETECTION_ROWS,
                   locations: int = DETECTION_LOCATIONS) -> str:
    return os.path.join(
        input_root(work), f"detections-s{seed}-n{rows}-l{locations}"
    )


def detections(spark, work: str, seed: int, rows: int = DETECTION_ROWS,
               locations: int = DETECTION_LOCATIONS) -> dict:
    """dataA (``rows`` detections, 15% duplicate ids, skew 5 on location
    1) and dataB (``locations`` rows), built on ``spark`` once per
    ``(seed, size)``; ``spark`` may be None once they are cached.
    Returns the two directories and the cache directory."""
    from parquet_combiner_spark.tools.generate import generate_detection_data

    def build(tmp: str) -> None:
        data_a = generate_detection_data(
            spark,
            rows,
            num_locations=locations,
            duplication_rate=DUPLICATION_RATE,
            skew_location_id=SKEW_LOCATION,
            skew_factor=SKEW_FACTOR,
            seed=seed,
        )
        _write_spark(data_a, os.path.join(tmp, "dataA"), 4)
        location_dim(spark, locations, seed).coalesce(1).write.parquet(
            os.path.join(tmp, "dataB")
        )
        _normalize_spark_output(os.path.join(tmp, "dataB"))

    root = _cached(
        work, os.path.basename(detections_dir(work, seed, rows, locations)),
        build,
    )
    return {
        "dataA": os.path.join(root, "dataA"),
        "dataB": os.path.join(root, "dataB"),
        "rows": rows,
        "dir": root,
    }


def tx_base(work: str, seed: int, rows: int = TX_BASE_ROWS) -> str:
    """The txtable_cdc base snapshot: unique detection ids 1..rows (no
    duplicates, because the change feed diffs by key), timestamps over
    the 30 days before the generator's base time."""
    from parquet_combiner_spark.tools.generate import (
        DEFAULT_BASE_TIME,
        SECONDS_30_DAYS,
    )

    def build(tmp: str) -> None:
        rng = np.random.default_rng([seed, 11])
        ts = DEFAULT_BASE_TIME - rng.integers(0, SECONDS_30_DAYS, rows)
        table = _rows_table(rng, np.arange(1, rows + 1), ts)
        os.makedirs(os.path.join(tmp, "base"))
        # four files, as a 4-way parallel write would leave them
        step = -(-rows // 4)
        for i in range(4):
            pq.write_table(
                table.slice(i * step, step),
                os.path.join(tmp, "base", f"part-{i:05d}.parquet"),
            )

    root = _cached(work, f"txbase-s{seed}-n{rows}", build)
    return os.path.join(root, "base")


def _rows_table(rng, oids, ts) -> pa.Table:
    from parquet_combiner_spark.tools.generate import BASE_ITEMS

    n = len(oids)
    loc = rng.integers(1, TX_LOCATIONS + 1, n)
    cam = loc * 10 + rng.integers(1, 11, n)
    items = np.array(BASE_ITEMS[:10], dtype=object)[rng.integers(0, 10, n)]
    return pa.table(
        [
            pa.array(loc, pa.int64()),
            pa.array(cam, pa.int64()),
            pa.array(oids, pa.int64()),
            pa.array(items, pa.string()),
            pa.array(ts, pa.int64()),
        ],
        schema=DATA_A_ARROW,
    )


def cdc_cycle(seed: int, cycle: int, base_rows: int = TX_BASE_ROWS) -> dict:
    """One txtable_cdc cycle's change inputs, drawn from
    ``(seed, cycle)``:

    * ``ingest``: ``TX_INGEST_FILES`` tables of fresh detection ids;
    * ``merge``: a batch of upserts over existing ids, a share of
      tombstones (``op = 'D'``) and a share of fresh inserts, every row
      newer than anything in the table;
    * ``delete_cameras``: the camera IN-list of the narrow delete;
    * ``point_oid`` / ``range_lo`` / ``range_hi``: the read predicates.
    """
    from parquet_combiner_spark.tools.generate import DEFAULT_BASE_TIME

    rng = np.random.default_rng([seed, cycle])
    fresh_per_cycle = TX_INGEST_FILES * TX_INGEST_ROWS + TX_MERGE_ROWS
    fresh0 = base_rows + 1 + cycle * fresh_per_cycle
    new_ts = DEFAULT_BASE_TIME + 1_000 + cycle * 10
    ingest = []
    for j in range(TX_INGEST_FILES):
        oids = np.arange(TX_INGEST_ROWS) + fresh0 + j * TX_INGEST_ROWS
        ingest.append(
            _rows_table(rng, oids, np.full(len(oids), new_ts))
        )
    n_ins = int(TX_MERGE_ROWS * TX_MERGE_INSERT_SHARE)
    n_del = int(TX_MERGE_ROWS * TX_MERGE_DELETE_SHARE)
    existing = rng.choice(base_rows, TX_MERGE_ROWS - n_ins, replace=False) + 1
    inserts = np.arange(n_ins) + fresh0 + TX_INGEST_FILES * TX_INGEST_ROWS
    oids = np.concatenate([existing, inserts])
    merge = _rows_table(rng, oids, np.full(len(oids), new_ts + 1))
    ops = np.array(["U"] * len(oids), dtype=object)
    ops[:n_del] = "D"
    merge = merge.append_column("op", pa.array(ops, pa.string()))
    cam_locs = rng.choice(TX_LOCATIONS, TX_DELETE_CAMERAS, replace=False) + 1
    cameras = sorted(
        int(c) for c in cam_locs * 10 + rng.integers(1, 11, TX_DELETE_CAMERAS)
    )
    lo = DEFAULT_BASE_TIME - int(rng.integers(TX_RANGE_SPAN_S, 86400 * 29))
    return {
        "ingest": ingest,
        "merge": merge,
        "delete_cameras": cameras,
        "point_oid": int(rng.integers(1, base_rows + 1)),
        "range_lo": lo,
        "range_hi": lo + TX_RANGE_SPAN_S,
    }


def _corpus_tables(seed: int, docs: int, vecs: int):
    rng = np.random.default_rng([seed, 7])
    vocab = np.array(_VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(docs):
        u = rng.random()
        if i > 10 and u < EXACT_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and u < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(max(1, len(words) // 30)):
                words[int(rng.integers(0, len(words)))] = vocab[
                    int(rng.integers(0, len(vocab)))
                ]
            texts.append(" ".join(words))
            continue
        n = int(rng.integers(10, 101))
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), n)]))
    langs = np.array(_LANGS, dtype=object)[rng.integers(0, len(_LANGS), docs)]
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, vecs)
    centers = rng.normal(0.0, 1.0, (10, EMBEDDING_DIM))
    emb = centers[labels] + rng.normal(0.0, 0.8, (vecs, EMBEDDING_DIM))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(vecs), pa.int64()),
            "embedding": pa.array(
                list(emb.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return documents, embeddings


def corpus(work: str, seed: int, docs: int = CORPUS_DOCS,
           vecs: int = CORPUS_EMBEDDINGS) -> dict:
    """A synthetic LLM corpus in the engine's testdata layout
    (``documents.parquet`` and ``embeddings.parquet`` in one directory),
    with planted near-duplicate and exact-duplicate documents."""

    def build(tmp: str) -> None:
        documents, embeddings = _corpus_tables(seed, docs, vecs)
        pq.write_table(documents, os.path.join(tmp, "documents.parquet"))
        pq.write_table(embeddings, os.path.join(tmp, "embeddings.parquet"))

    root = _cached(work, f"corpus-s{seed}-d{docs}-v{vecs}", build)
    return {"dir": root, "docs": docs, "vecs": vecs}
