"""Session defaults: the engine's session compiles each generated class
once. Spark's code cache is JVM-wide and LRU; with its default 100
entries and stage ids in class names, a repeated sequence of the same
queries recompiled every class on every repeat."""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from parquet_combiner_spark import functions as fns
from parquet_combiner_spark import pipeline
from parquet_combiner_spark.session import get_spark
from parquet_combiner_spark.sources import io
from parquet_combiner_spark.tools.generate import (
    generate_detection_data,
    generate_location_data,
)
from parquet_combiner_spark.tools.observe import codegen_compiles

CACHE = "spark.sql.codegen.cache.maxEntries"
ID_IN_NAME = "spark.sql.codegen.useIdInClassName"


def test_session_compiles_once_defaults(spark):
    """The shared session carries both values; ``extra_conf`` still
    overrides the runtime one (the static cache size is fixed at
    JVM start)."""
    assert spark.sparkContext.getConf().get(CACHE) == "500"
    assert spark.conf.get(CACHE) == "500"
    assert spark.conf.get(ID_IN_NAME) == "false"
    try:
        again = get_spark(
            app_name="pcs-tests",
            shuffle_partitions=8,
            extra_conf={ID_IN_NAME: "true"},
        )
        assert again is spark
        assert spark.conf.get(ID_IN_NAME) == "true"
    finally:
        spark.conf.set(ID_IN_NAME, "false")


def _corpus(root: str, docs: int = 300, vecs: int = 100) -> None:
    """documents.parquet + embeddings.parquet with planted exact and
    near duplicates, in the layout the corpus functions read."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    texts: list[str] = []
    for i in range(docs):
        if i > 10 and rng.random() < 0.1:
            words = texts[rng.randrange(i)].split(" ")
            words[rng.randrange(len(words))] = rng.choice(vocab)
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choices(vocab, k=rng.randint(10, 60))))
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
        }),
        os.path.join(root, "documents.parquet"),
    )
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(vecs), pa.int64()),
            "embedding": pa.array(
                [[rng.gauss(0.0, 1.0) for _ in range(16)] for _ in range(vecs)],
                pa.list_(pa.float32()),
            ),
        }),
        os.path.join(root, "embeddings.parquet"),
    )


def test_repeated_ops_compile_no_class_twice(spark, tmp_path):
    """The paper's job and the corpus path (top-X pipeline, all three
    aggregations written, n-gram pairs, clusters, hybrid RRF) generate
    more distinct classes than Spark's default cache holds, and the
    hybrid query's stage ids vary between calls. A second run of the
    same sequence must compile nothing. Streaming queries running
    beside it would compile their own classes, so none may be
    active."""
    assert not spark.streams.active, spark.streams.active
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    generate_detection_data(spark, 5000, 100).write.parquet(a)
    generate_location_data(spark, 100).write.parquet(b)
    _corpus(str(tmp_path))
    corpus = str(tmp_path)

    def run(i: int) -> int:
        before = codegen_compiles(spark)
        pipeline.process_parquet_files(
            spark, a, b, str(tmp_path / f"top{i}"), top_x=5
        )
        res = pipeline.all_aggregations(
            io.read_data_a(spark, a), io.read_data_b(spark, b), 5
        )
        try:
            for name in ("top_items", "item_count", "location_stats"):
                io.write_parquet(res[name], str(tmp_path / f"agg{i}" / name))
        finally:
            res["_deduped"].unpersist()
        fns.clear_ngram_pair_cache()
        try:
            fns.q_ngram_jaccard_pairs(spark, corpus).collect()
            fns.q_near_dup_clusters(spark, corpus).collect()
        finally:
            fns.clear_ngram_pair_cache()
        fns.q_hybrid_rrf_topk(spark, corpus).collect()
        return codegen_compiles(spark) - before

    run(0)
    assert run(1) == 0
