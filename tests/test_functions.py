"""Tests for the LLM-data-pipeline operators: text analysis, dedup
families (MinHash-LSH / SimHash / exact), similarity search, and
multimodal plumbing. Includes the plan-shape guarantee that no
candidate-generation join is a cartesian product.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from parquet_combiner_spark.functions import (
    dedup_text,
    multimodal,
    sampling,
    similarity,
    text,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the green forest tonight"
    )
    near = base.replace("green", "dark")  # 1-token edit → near-dup
    rows = [
        Row(doc_id=1, text=base, lang="en", source="s1"),
        Row(doc_id=2, text=near, lang="en", source="s1"),
        Row(doc_id=3, text=base, lang="en", source="s2"),  # exact dup of 1
        Row(
            doc_id=4,
            text="completely different words about spark shuffles and joins",
            lang="en",
            source="s2",
        ),
        Row(doc_id=5, text="der hund und die katze ist das haus", lang="de", source="s3"),
    ]
    return spark.createDataFrame(rows)


# --- text analysis ---


def test_token_counts_and_quality(spark, docs):
    out = {r["doc_id"]: r for r in text.doc_quality(docs).collect()}
    assert out[1]["n_tokens"] == 18
    assert 0.0 <= out[1]["quality"] <= 1.0
    assert out[1]["stop_ratio"] > out[4]["stop_ratio"]  # "the...and" heavy


def test_bpe_token_count_counts_punctuation(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="hello, world! x2")])
    row = df.select(
        text.token_count("text").alias("ws"),
        text.regex_token_count("text").alias("bpe"),
    ).collect()[0]
    assert row["ws"] == 3
    # hello , world ! x 2 → 6 BPE-ish pieces
    assert row["bpe"] == 6


def test_lang_id_predicts_marker_language(spark, docs):
    out = {r["doc_id"]: r["predicted_lang"] for r in text.doc_lang_id(docs).collect()}
    assert out[1] == "en"
    assert out[5] == "de"


def test_fingerprints_exact_vs_rolling(spark, docs):
    fp = {r["doc_id"]: r for r in text.doc_fingerprints(docs).collect()}
    assert fp[1]["fp_md5"] == fp[3]["fp_md5"]  # exact dups share md5
    assert fp[1]["fp_md5"] != fp[2]["fp_md5"]  # near-dup does NOT
    # rolling fingerprint is edit-tolerant: doc2 differs by one token
    # but shares most shingles, so min-hash is likely equal; at minimum
    # exact dups must agree
    assert fp[1]["fp_rolling"] == fp[3]["fp_rolling"]


# --- dedup families ---


def test_exact_dedup_docs(spark, docs):
    out = dedup_text.exact_dedup_docs(docs)
    groups = {r["keeper_doc_id"]: r["n_copies"] for r in out.collect()}
    assert groups[1] == 2  # docs 1+3 collapse, keeper = min id
    assert out.count() == 4


def test_minhash_finds_near_and_exact_dups(spark, docs):
    pairs = dedup_text.minhash_near_dup_pairs(docs, threshold=0.5)
    got = {(r["doc_id_a"], r["doc_id_b"]): r for r in pairs.collect()}
    assert (1, 3) in got and got[(1, 3)]["jaccard"] == 1.0
    assert (1, 2) in got and got[(1, 2)]["jaccard"] >= 0.5
    assert not any(4 in p or 5 in p for p in got)  # unrelated docs absent


def test_minhash_no_cartesian_product(spark, docs):
    """The LSH candidate join must be an equi-join on bucket keys —
    never a cartesian/broadcast-nested-loop expansion."""
    pairs = dedup_text.minhash_near_dup_pairs(docs)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_jaccard_exact_pairs(spark, docs):
    pairs = dedup_text.ngram_jaccard_pairs(docs, threshold=0.3)
    got = {(r["doc_id_a"], r["doc_id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 3)] == 1.0  # identical text → jaccard exactly 1
    assert (1, 2) in got and 0.3 <= got[(1, 2)] < 1.0
    assert not any(4 in p or 5 in p for p in got)  # unrelated docs absent
    # exact algorithm: must agree with verify_jaccard's set arithmetic
    # for the overlapping pair (same shingle definition both paths)
    cand = spark.createDataFrame([(1, 2)], "doc_id_a long, doc_id_b long")
    v = dedup_text.verify_jaccard(cand, docs).collect()[0]["jaccard"]
    assert abs(got[(1, 2)] - v) < 1e-9


def test_hash_split_deterministic_total_and_proportional(spark):
    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = sampling.hash_split(df, "doc_id", splits, seed="v1")
    b = sampling.hash_split(df, "doc_id", splits, seed="v1")
    # exactly-one-split coverage and run-to-run determinism
    assert a.count() == 5000
    assert a.exceptAll(b).count() == 0
    counts = {r["split"]: r["n"] for r in
              a.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 5000 - 0.8) < 0.03
    assert abs(counts["val"] / 5000 - 0.1) < 0.02
    # a different seed decorrelates the assignment
    c = sampling.hash_split(df, "doc_id", splits, seed="v2")
    moved = (
        a.join(c.withColumnRenamed("split", "split2"), "doc_id")
        .where(F.col("split") != F.col("split2"))
        .count()
    )
    assert moved > 1000  # ~32% expected under independence


def test_hash_sample_rate_edges_and_subset(spark):
    import pytest

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    assert sampling.hash_sample(df, "doc_id", 0.0).count() == 0
    assert sampling.hash_sample(df, "doc_id", 1.0).count() == 2000
    s25 = sampling.hash_sample(df, "doc_id", 0.25, seed="s")
    n = s25.count()
    assert abs(n / 2000 - 0.25) < 0.05
    # nested property: a lower-rate sample with the same seed is a
    # strict subset (thresholds are prefixes of the same hash)
    s10 = sampling.hash_sample(df, "doc_id", 0.10, seed="s")
    assert s10.exceptAll(s25).count() == 0
    with pytest.raises(ValueError, match="rate"):
        sampling.hash_sample(df, "doc_id", 1.5)


def test_near_dup_clusters_transitive_chain(spark):
    # near-duplication is transitive in practice: pairs (1,2) (2,3)
    # (3,4) must collapse into ONE cluster labeled by the min id, even
    # though (1,4) was never detected as a pair; separate component
    # (10,11) keeps its own label; keeper = min id of each cluster
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)],
        "doc_id_a long, doc_id_b long",
    )
    clusters = dedup_text.near_dup_clusters(pairs)
    got = {r["doc_id"]: r["cluster_id"] for r in clusters.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    keepers = {
        r["doc_id"]: r["keep"]
        for r in dedup_text.dedup_keepers(clusters).collect()
    }
    assert keepers == {1: True, 2: False, 3: False, 4: False,
                       10: True, 11: False}
    # a long path exercises multi-round propagation (diameter 6)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(20, 26)], "doc_id_a long, doc_id_b long"
    )
    got_chain = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_text.near_dup_clusters(chain).collect()
    }
    assert got_chain == {i: 20 for i in range(20, 27)}


def test_ngram_jaccard_stop_shingle_cap(spark):
    # planted stop-shingle corpus: 100 docs that are pure shared
    # boilerplate plus one unique token each. Uncapped, the boilerplate
    # posting lists expand to ~C(100,2) high-jaccard pairs; with the
    # document-frequency cap those shingles drop out of intersection
    # counting, so boilerplate-only pairs vanish while a genuine
    # distinct near-dup pair is still found exactly.
    boiler = "click here to subscribe to our newsletter for daily updates"
    real = "an original essay on the economics of open source software"
    rows = [Row(doc_id=100 + i, text=f"{boiler} item{i}") for i in range(100)]
    rows += [Row(doc_id=1, text=real), Row(doc_id=2, text=real)]
    docs = spark.createDataFrame(rows)
    capped = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in dedup_text.ngram_jaccard_pairs(
            docs, threshold=0.3, max_doc_freq=10
        ).collect()
    }
    assert capped == {(1, 2): 1.0}
    # cap high enough to be a no-op -> boilerplate pairs come back
    uncapped = dedup_text.ngram_jaccard_pairs(
        docs, threshold=0.3, max_doc_freq=None
    ).count()
    assert uncapped > 100 * 99 // 2  # boilerplate pairs + the real one


def test_simhash_near_dups(spark, docs):
    # A 1-token edit in an 18-token doc measurably lands at hamming 11
    # (short docs flip many vote sums); the pigeonhole bucketing
    # guarantees recall for any pair within max_hamming, so 12 must
    # surface the near-dup pair and 3 must not.
    pairs = dedup_text.simhash_near_dup_pairs(docs, max_hamming=12)
    got = {(r["doc_id_a"], r["doc_id_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(1, 3)] == 0  # identical text → identical simhash
    assert (1, 2) in got and 0 < got[(1, 2)] <= 12
    assert all(h <= 12 for h in got.values())
    tight = dedup_text.simhash_near_dup_pairs(docs, max_hamming=3)
    tight_got = {
        (r["doc_id_a"], r["doc_id_b"]): r["hamming"] for r in tight.collect()
    }
    assert tight_got == {(1, 3): 0}
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


# --- similarity search ---


@pytest.fixture(scope="module")
def embs(spark):
    import math

    def unit(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    rows = [
        Row(vec_id=0, embedding=unit(0.0), label=0),
        Row(vec_id=1, embedding=unit(0.05), label=0),  # ~0 angle from 0
        Row(vec_id=2, embedding=unit(1.57), label=1),  # orthogonal
        Row(vec_id=3, embedding=unit(3.14), label=1),  # opposite
        Row(vec_id=4, embedding=unit(0.1), label=0),
    ]
    df = spark.createDataFrame(rows)
    return df.withColumn("embedding", F.col("embedding").cast("array<float>"))


def test_bruteforce_topk_orders_by_cosine(spark, embs):
    queries = embs.where(F.col("vec_id") == 0)
    out = similarity.cosine_topk_bruteforce(embs, queries, k=4)
    ranked = [r["n_id"] for r in out.orderBy("rank").collect()]
    assert ranked == [1, 4, 2, 3]  # by decreasing cosine to vec 0


def test_pandas_topk_matches_bruteforce(spark, embs):
    q = embs.where(F.col("vec_id") < 2)
    jvm = similarity.cosine_topk_bruteforce(embs, q, k=3)
    arrow = similarity.cosine_topk_pandas(embs, q, k=3)
    assert sorted(map(tuple, jvm.collect())) == sorted(
        map(tuple, arrow.collect())
    )


def test_ivf_topk_subset_and_recall(spark, embs):
    q = embs.where(F.col("vec_id") < 2)
    exact = {
        (r["q_id"], r["n_id"])
        for r in similarity.cosine_topk_bruteforce(embs, q, k=3).collect()
    }
    ivf = {
        (r["q_id"], r["n_id"])
        for r in similarity.cosine_topk_ivf(
            embs, q, k=3, n_centroids=4, nprobe=4
        ).collect()
    }
    # nprobe == n_centroids probes every cell -> recall is exactly 1
    assert ivf == exact
    partial = {
        (r["q_id"], r["n_id"])
        for r in similarity.cosine_topk_ivf(
            embs, q, k=3, n_centroids=4, nprobe=1
        ).collect()
    }
    assert partial <= exact  # fewer probes: a subset, never junk


def test_lsh_topk_is_subset_of_bruteforce(spark, embs):
    queries = embs.where(F.col("vec_id") == 0)
    brute = {
        (r["q_id"], r["n_id"])
        for r in similarity.cosine_topk_bruteforce(embs, queries, k=4).collect()
    }
    lsh = similarity.cosine_topk_lsh(embs, queries, k=4, dim=4, num_planes=4)
    got = {(r["q_id"], r["n_id"]) for r in lsh.collect()}
    assert got <= brute
    assert (0, 1) in got  # the near-identical vector shares every bucket


def test_embedding_near_dup_pairs(spark, embs):
    import warnings

    # same intentional-warning silence as test_plans.py: production
    # LSH knobs on a tiny fixture trip the candidate-density guard by
    # design — keep the suite warning-free so real warnings show
    with warnings.catch_warnings():
        warnings.filterwarnings(
            "ignore", message=".*LSH candidate density.*",
            category=RuntimeWarning,
        )
        pairs = similarity.embedding_near_dup_pairs(
            embs, min_cosine=0.99, dim=4, num_planes=4
        )
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got
    assert all(a < b for a, b in got)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


# --- multimodal plumbing ---


def test_extract_image_features_batch_shape(spark):
    rows = [
        Row(media_id=1, payload=b"fake-jpeg-bytes-1", mime_type="image/jpeg",
            width=64, height=48),
        Row(media_id=2, payload=b"fake-jpeg-bytes-22", mime_type="image/jpeg",
            width=32, height=32),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = {r["media_id"]: r for r in
             multimodal.extract_image_features(media, dim=8).collect()}
    assert feats[1]["n_bytes"] == 17
    assert len(feats[1]["sha256"]) == 64
    assert len(feats[1]["feature"]) == 8
    assert all(0.0 <= x <= 1.0 for x in feats[1]["feature"])
    # deterministic: same payload → same feature
    again = multimodal.extract_image_features(media, dim=8).collect()
    assert {r["media_id"]: r["feature"] for r in again} == {
        m: r["feature"] for m, r in feats.items()
    }


def test_binary_metadata_builtins_match_python(spark):
    import hashlib

    payload = b"\x00\x01binary!"
    df = spark.createDataFrame(
        [Row(media_id=7, payload=payload, mime_type="application/octet-stream",
             width=None, height=None)],
        multimodal.MEDIA_SCHEMA,
    )
    row = multimodal.binary_metadata(df, "payload", "media_id").collect()[0]
    assert row["n_bytes"] == len(payload)
    assert row["sha256"] == hashlib.sha256(payload).hexdigest()


def test_decode_image_is_stubbed():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"anything")


def test_pandas_topk_tiebreak_on_duplicate_embeddings(spark):
    # duplicate embeddings (exactly what a dedup corpus contains) tie
    # at the k-th boundary of the per-batch partial top-k; the partial
    # stage must keep the lowest n_id or the final exact rank diverges
    # from the (sim desc, n_id asc) total order
    rows = [Row(vec_id=i, embedding=[1.0, 0.0, 0.0, 0.0]) for i in range(10)]
    embs = spark.createDataFrame(rows).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    q = embs.where(F.col("vec_id") == 0)
    got = similarity.cosine_topk_pandas(embs, q, k=3).orderBy("rank").collect()
    assert [r["n_id"] for r in got] == [1, 2, 3]


def test_simhash_bucket_cap_drops_degenerate_buckets(spark):
    # web-scale degenerate case: hundreds of byte-identical docs share
    # every chunk bucket, whose quadratic expansion the cap must drop
    # while small buckets still surface genuine near-dup pairs
    mass = "spam spam spam wonderful spam and eggs again " * 3
    real = "a genuinely distinct document about distributed query engines"
    rows = [Row(doc_id=100 + i, text=mass) for i in range(300)]
    rows += [Row(doc_id=1, text=real), Row(doc_id=2, text=real)]
    docs = spark.createDataFrame(rows)
    capped = {
        (r["doc_id_a"], r["doc_id_b"]): r["hamming"]
        for r in dedup_text.simhash_near_dup_pairs(
            docs, max_hamming=3, max_bucket_size=50
        ).collect()
    }
    assert capped == {(1, 2): 0}
    # with the cap lifted the same operator returns the full expansion
    n_uncapped = dedup_text.simhash_near_dup_pairs(
        docs, max_hamming=3, max_bucket_size=10**6
    ).count()
    assert n_uncapped == 300 * 299 // 2 + 1


def test_simhash_max_hamming_zero(spark):
    # max_hamming=0 -> a single 64-bit chunk; its all-ones mask must
    # not overflow LongType
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over it"),
            Row(doc_id=2, text="the quick brown fox jumps over it"),
            Row(doc_id=3, text="completely different words entirely now"),
        ]
    )
    got = {
        (r["doc_id_a"], r["doc_id_b"]): r["hamming"]
        for r in dedup_text.simhash_near_dup_pairs(docs, max_hamming=0).collect()
    }
    assert got == {(1, 2): 0}


def test_lsh_dim_inferred_from_data(spark, embs):
    # the fixture is 4-dim; without an explicit dim the hyperplanes
    # must still match the vector length (a mismatch null-pads every
    # dot product and collapses all vectors into LSH bucket 0)
    queries = embs.where(F.col("vec_id") == 0)
    explicit = similarity.cosine_topk_lsh(
        embs, queries, k=4, dim=4, num_planes=4
    )
    inferred = similarity.cosine_topk_lsh(embs, queries, k=4, num_planes=4)
    assert sorted(map(tuple, explicit.collect())) == sorted(
        map(tuple, inferred.collect())
    )


def test_vector_dim_raises_on_empty(spark, embs):
    with pytest.raises(ValueError, match="cannot infer embedding dim"):
        similarity._vector_dim(embs.where(F.lit(False)), "embedding")


@pytest.fixture(scope="module")
def planted_embeddings(spark):
    """64-dim corpus with 20 PLANTED near-dup pairs at cosine ≈ 0.98
    and 300 near-orthogonal distractors — the production-shaped corpus
    the registry's 0.4/5-plane testdata configuration cannot stand in
    for (its synthetic vectors have no true near-dups at all).
    Deterministic: seeded generator, so recall/density are fixed
    numbers, not flaky samples."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for i in range(20):
        v = rng.standard_normal(64)
        v /= np.linalg.norm(v)
        noise = rng.standard_normal(64)
        noise -= (noise @ v) * v  # orthogonal perturbation direction
        # unit vector + 0.2 orthogonal noise -> cos = 1/sqrt(1.04) ~ .98
        d = v + 0.2 * noise / np.linalg.norm(noise)
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in d]))
    for j in range(300):
        v = rng.standard_normal(64)
        rows.append((1000 + j, [float(x) for x in v / np.linalg.norm(v)]))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_embedding_lsh_planted_recall_at_production_knobs(
    spark, planted_embeddings
):
    """At PRODUCTION-like knobs (min_cosine 0.95, 10 planes, 12
    tables) the multi-table LSH must find every planted ≥0.95 pair
    (OR-amplified collision probability ≈ 0.9994 at cos 0.98) while
    the candidate set stays SPARSE — the bucket-pruning property the
    registry's dense testdata configuration masks. No density warning
    may fire here."""
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        got = {
            (r["id_a"], r["id_b"])
            for r in similarity.embedding_near_dup_pairs(
                planted_embeddings,
                min_cosine=0.95,
                num_planes=10,
                num_tables=12,
            ).collect()
        }
    planted = {(2 * i, 2 * i + 1) for i in range(20)}
    assert planted <= got  # full recall on the planted pairs
    # precision is exact by construction (cosine is re-verified), so
    # anything extra would be a genuinely-similar random pair: none
    # exist at 0.95 among near-orthogonal 64-dim distractors
    assert got == planted


def test_embedding_lsh_density_guard_warns_when_degenerate(
    spark, planted_embeddings
):
    """The no-silent-caps guard: knobs that collapse the bucketing
    (1 plane -> 2 buckets per table) make the candidate set
    near-all-pairs, and the builder must say so instead of silently
    shipping an O(n²) plan wearing an equi-join."""
    with pytest.warns(RuntimeWarning, match="candidate density"):
        similarity.embedding_near_dup_pairs(
            planted_embeddings, min_cosine=0.95, num_planes=1, num_tables=4
        )


def test_embedding_near_dup_string_ids_pass_through(spark):
    """Arrow paths must carry NON-long id columns untouched (the JVM
    formulation always did): string ids flow through coding, the
    self-join, and pair scoring with the input type preserved."""
    import numpy as np

    rng = np.random.default_rng(3)
    v = rng.standard_normal(16)
    v /= np.linalg.norm(v)
    rows = [
        ("doc-a", [float(x) for x in v]),
        ("doc-b", [float(x) for x in v]),  # exact dup -> cos 1.0
        ("doc-c", [float(x) for x in rng.standard_normal(16)]),
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    out = similarity.embedding_near_dup_pairs(
        df, min_cosine=0.95, num_planes=4, num_tables=4, density_warn=None
    )
    assert dict(out.dtypes)["id_a"] == "string"
    got = [(r["id_a"], r["id_b"], r["sim"]) for r in out.collect()]
    assert got == [("doc-a", "doc-b", 1.0)]


# --- planted-recall fixture for the rows-only near-dup estimators ---
#
# minhash_near_dup_pairs / simhash_near_dup_pairs are xxhash64-based and
# get only the driver's rows-only check — nothing there bounds their
# RECALL, which is exactly the number a dedup user trusts. This corpus
# plants near-dup pairs at known Jaccard levels and measures recall
# against the exact ngram_jaccard_pairs truth (recall-1 inverted index
# on the same shingle definition). Everything is deterministic: xxhash64
# is seeded, the corpus is literal, so the measured recall is a fixed
# number, not a flaky sample. (Reference analog: the heavy-duplication
# scenario, ParquetCombinerRDDIntegrationTest.scala:321-378,
# generalized to near-duplicates.)

_PLANT_N_TOK = 50  # 48 3-shingles per doc


@pytest.fixture(scope="module")
def planted_docs(spark):
    """~200 docs: 48 planted pairs at J ≈ {.88, .78, .68, .60, .45, .28}
    plus 100 unrelated distractors.

    Each pair is (base, mutated): the base doc is 50 tokens of
    pair-private vocabulary (no cross-pair token overlap, so the truth
    graph is exactly the planted pairs); the mutation replaces m
    isolated positions spaced 3 apart, so each replacement breaks
    exactly 3 shingles: J = (S - 3m) / (S + 3m) with S = 48 shingles.
    """
    rows = []
    pid = 0
    for m in (1, 2, 3, 4, 6, 9):
        for _ in range(8):
            base = [f"p{pid}w{j}" for j in range(_PLANT_N_TOK)]
            mut = list(base)
            for i in range(m):
                mut[2 + 3 * i] = f"p{pid}x{i}"
            rows.append(Row(doc_id=2 * pid, text=" ".join(base)))
            rows.append(Row(doc_id=2 * pid + 1, text=" ".join(mut)))
            pid += 1
    for d in range(100):
        rows.append(
            Row(
                doc_id=10_000 + d,
                text=" ".join(f"d{d}t{j}" for j in range(_PLANT_N_TOK)),
            )
        )
    return spark.createDataFrame(rows)


@pytest.fixture(scope="module")
def planted_truth(spark, planted_docs):
    """Exact Jaccard ground truth: (pair -> jaccard). Completeness is
    asserted by test_planted_truth_exact_join_finds_all_pairs (not
    here, so a corpus regression surfaces as ONE clear FAIL instead of
    errors in every dependent test)."""
    return {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in dedup_text.ngram_jaccard_pairs(
            planted_docs, threshold=0.2
        ).collect()
    }


def test_planted_truth_exact_join_finds_all_pairs(spark, planted_truth):
    """The exact inverted-index join has recall 1 on the planted
    corpus: every one of the 48 planted pairs (8 per mutation level)
    is found, and only planted pairs are (pair-private vocabulary)."""
    assert len(planted_truth) == 48
    # distractor docs (ids >= 10_000) never appear in any pair
    assert all(a < 10_000 and b < 10_000 for a, b in planted_truth)


def _minhash_found(docs, num_hashes, num_bands):
    return {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dedup_text.minhash_near_dup_pairs(
            docs, threshold=0.2, num_hashes=num_hashes, num_bands=num_bands
        ).collect()
    }


def test_minhash_planted_recall_at_registry_knobs(
    spark, planted_docs, planted_truth
):
    """The registry's production knob (REGISTRY_MINHASH_HASHES/BANDS
    in functions/__init__.py — read from there so this guard tracks
    retunes) must keep recall >= 0.9 for J >= 0.7 pairs — the
    regression guard behind the speed-motivated drop from 64/16.
    Measured recall on this corpus is 1.0 (16/16); the 0.9 bound
    leaves slack for corpus tweaks without letting a real recall
    regression through. Precision needs no bound: the verify stage
    recomputes exact Jaccard, so found ⊆ truth."""
    from parquet_combiner_spark.functions import (
        REGISTRY_MINHASH_BANDS,
        REGISTRY_MINHASH_HASHES,
    )

    found = _minhash_found(
        planted_docs,
        num_hashes=REGISTRY_MINHASH_HASHES,
        num_bands=REGISTRY_MINHASH_BANDS,
    )
    high = {p for p, j in planted_truth.items() if j >= 0.7}
    recall = len(found & high) / len(high)
    assert recall >= 0.9
    assert found <= set(planted_truth)  # exact-verify: no false pairs


def test_minhash_more_hashes_never_lose_recall(
    spark, planted_docs, planted_truth
):
    """64/16 (the quality-first default) must dominate 32/8 at every
    planted similarity level — more hash functions widen the s-curve,
    they never narrow it. Converts the 'dial num_hashes back up for
    recall-critical sweeps' docstring claim into a check.

    NOTE this dominance is deterministic (not merely expected) only
    because minhash_signatures derives h_i = xxhash64(shingle, i)
    independently of num_hashes, making 32/8's 8 four-row bands an
    exact PREFIX of 64/16's 16 bands: every band bucket that fires at
    32/8 also exists at 64/16, so found_32 ⊆ found_64 structurally.
    If hash derivation were ever seeded by num_hashes (or the band
    layout changed), the property would become probabilistic and this
    test could fail spuriously on a corpus tweak — re-derive before
    blaming the corpus."""
    found_32 = _minhash_found(planted_docs, num_hashes=32, num_bands=8)
    found_64 = _minhash_found(planted_docs, num_hashes=64, num_bands=16)
    assert found_32 <= found_64  # the prefix-band property, directly
    for jmin in (0.7, 0.5, 0.35):
        tier = {p for p, j in planted_truth.items() if j >= jmin}
        rec_32 = len(found_32 & tier) / len(tier)
        rec_64 = len(found_64 & tier) / len(tier)
        assert rec_64 >= rec_32, f"64/16 lost recall at J>={jmin}"
    # and both find everything actually similar (J >= 0.7)
    high = {p for p, j in planted_truth.items() if j >= 0.7}
    assert high <= found_64


def test_simhash_planted_pigeonhole_recall_is_total(
    spark, planted_docs, planted_truth
):
    """Pigeonhole guarantee under the cap: EVERY pair within the
    hamming budget must be found (max_hamming+1 chunks -> a qualifying
    pair agrees exactly on >= 1 chunk). Ground truth comes from the
    signatures themselves, so the test pins candidate generation, not
    the hash function."""
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in dedup_text.simhash_signatures(planted_docs).collect()
    }
    within = {
        (a, b)
        for (a, b) in planted_truth
        if bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1") <= 3
    }
    assert len(within) > 0  # the corpus plants hamming<=3 pairs
    found = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dedup_text.simhash_near_dup_pairs(
            planted_docs, max_hamming=3
        ).collect()
    }
    assert within <= found  # recall exactly 1 below the cap
    # and nothing outside the budget sneaks in
    assert all(
        bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1") <= 3
        for (a, b) in found
    )


def test_ngram_pair_cache_bounded_lru_eviction(spark, tmp_path):
    """The shared pair cache must stay bounded (2 sf_dirs), unpersist
    what it evicts, and keep both consumers correct when an evicted
    sf_dir is re-entered (the pair join is deterministic, so a
    recompute yields the identical pair set)."""
    import shutil

    from parquet_combiner_spark import functions as fmod

    fmod.clear_ngram_pair_cache()
    dirs = []
    for i in range(3):
        d = tmp_path / f"sf_{i}"
        d.mkdir()
        shutil.copy(
            "/root/testdata/sf0.001/documents.parquet",
            d / "documents.parquet",
        )
        dirs.append(str(d))

    first = fmod._ngram_pairs_cached(spark, dirs[0])
    n_first = first.count()
    assert first.storageLevel.useMemory or first.storageLevel.useDisk

    fmod._ngram_pairs_cached(spark, dirs[1])
    assert len(fmod._NGRAM_PAIR_CACHE) == 2

    fmod._ngram_pairs_cached(spark, dirs[2])
    cached_dirs = [k[1] for k in fmod._NGRAM_PAIR_CACHE]
    assert len(cached_dirs) == 2
    assert dirs[0] not in cached_dirs  # LRU evicted
    assert not (first.storageLevel.useMemory or first.storageLevel.useDisk)

    # re-entering the evicted dir recomputes the identical pair set,
    # and the downstream consumer still works on top of it
    assert fmod.q_ngram_jaccard_pairs(spark, dirs[0]).count() == n_first
    assert fmod.q_near_dup_clusters(spark, dirs[0]).count() > 0

    fmod.clear_ngram_pair_cache()
    assert len(fmod._NGRAM_PAIR_CACHE) == 0


def test_ngram_pair_cache_sees_rewritten_documents(spark, tmp_path):
    """The pair cache is keyed on the documents' file listing, so a
    ``documents.parquet`` rewritten within one session yields the new
    corpus's pairs, not the cached ones."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_combiner_spark import functions as fmod

    words = [f"w{i}" for i in range(200)]
    docs = pa.table({
        "doc_id": pa.array(range(8), pa.int64()),
        "text": [" ".join(words[d * 25:(d + 1) * 25]) for d in range(8)],
    })
    path = tmp_path / "documents.parquet"
    pq.write_table(docs, path)

    def pairs():
        return sorted(
            (r["doc_id_a"], r["doc_id_b"])
            for r in fmod.q_ngram_jaccard_pairs(spark, str(tmp_path))
            .collect()
        )

    fmod.clear_ngram_pair_cache()
    before = pairs()
    # rewrite: one extra exact copy of doc 0 forms a new pair
    copy = docs.slice(0, 1).set_column(
        0, "doc_id", pa.array([10**6], pa.int64())
    )
    pq.write_table(pa.concat_tables([docs, copy]), path)
    after = pairs()
    assert (0, 10**6) in after and (0, 10**6) not in before
    assert after == sorted(
        (r["doc_id_a"], r["doc_id_b"])
        for r in dedup_text.ngram_jaccard_pairs(
            spark.read.parquet(str(path)), threshold=0.3
        ).collect()
    )
    fmod.clear_ngram_pair_cache()


def test_resize_images_deterministic_payload_contract(spark):
    """Resize plumbing: binary in -> binary out at the raster budget,
    payload exactly the deterministic fake (hexdigest repeated)."""
    import hashlib

    from parquet_combiner_spark.functions import multimodal

    media = spark.createDataFrame(
        [(1, b"hello"), (2, b"")], "media_id long, payload binary"
    )
    got = {
        r["media_id"]: r
        for r in multimodal.resize_images(media, 8, 8).collect()
    }
    for mid, raw in ((1, b"hello"), (2, b"")):
        expect = (hashlib.sha256(raw).hexdigest() * 3)[:192].encode()
        assert bytes(got[mid]["payload"]) == expect
        assert got[mid]["n_bytes"] == 192
        assert (got[mid]["width"], got[mid]["height"]) == (8, 8)


def test_sample_frames_explodes_rows(spark):
    """Frame sampling must EXPLODE media rows executor-side: a payload
    spanning k fake frames yields ceil(k/every_n) rows with frame
    indices 0, every_n, ... and deterministic per-frame hashes."""
    import hashlib

    from parquet_combiner_spark.functions import multimodal

    big = b"x" * (multimodal.FAKE_BYTES_PER_FRAME * 9)  # 10 fake frames
    media = spark.createDataFrame(
        [(1, big), (2, b"tiny")], "media_id long, payload binary"
    )
    rows = multimodal.sample_frames(media, every_n=4).collect()
    by_media: dict[int, list] = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r)
    # 10 frames sampled every 4th -> indices 0, 4, 8
    assert sorted(r["frame_idx"] for r in by_media[1]) == [0, 4, 8]
    assert [r["frame_idx"] for r in by_media[2]] == [0]
    for r in by_media[1]:
        expect = hashlib.sha256(
            big + b":" + str(r["frame_idx"]).encode()
        ).hexdigest()
        assert r["frame_sha256"] == expect

    with pytest.raises(ValueError, match="every_n must be positive"):
        multimodal.sample_frames(media, every_n=0)


def test_semdedup_planted_duplicates_collapse(spark):
    """SemDedup: planted identical (and near-identical) embeddings
    must land in one dup group with exactly the min id kept;
    orthogonal vectors must all survive. Singletons (never in any
    pair) keep their own id as dup_group."""
    import numpy as np
    from pyspark.sql import Row

    rng = np.random.default_rng(7)
    dim = 16

    def unit(v):
        v = np.asarray(v, dtype=np.float64)
        return [float(x) for x in v / np.linalg.norm(v)]

    base = rng.normal(size=dim)
    near = base + rng.normal(scale=1e-3, size=dim)  # cos ~ 1
    # orthogonal basis vectors: pairwise cos = 0
    rows = [
        Row(vec_id=1, embedding=unit(base), label=0),
        Row(vec_id=2, embedding=unit(base), label=0),   # exact dup of 1
        Row(vec_id=3, embedding=unit(near), label=0),   # near dup of 1
    ] + [
        Row(vec_id=10 + i, embedding=unit(np.eye(dim)[i]), label=1)
        for i in range(6)
    ]
    out = {
        r["vec_id"]: r
        for r in similarity.semdedup(
            spark.createDataFrame(rows), n_centroids=4, min_cosine=0.95
        ).collect()
    }
    assert len(out) == 9  # one row per input vector
    # the dup triple collapses onto min id 1; only 1 keeps
    assert out[1]["dup_group"] == 1 and out[1]["keep"]
    assert out[2]["dup_group"] == 1 and not out[2]["keep"]
    assert out[3]["dup_group"] == 1 and not out[3]["keep"]
    # orthogonal singletons: own group, all kept
    for i in range(6):
        assert out[10 + i]["dup_group"] == 10 + i and out[10 + i]["keep"]


def test_embedding_decontaminate_planted(spark):
    """A train vector identical to an eval vector must be flagged
    with cosine ~1 and the SMALLEST eval id among equal-cosine ties
    (the int64 pack's tie-break); a far-from-everything train vector
    stays clean with (false, 0, NULL, NULL)."""
    import numpy as np
    from pyspark.sql import Row

    rng = np.random.default_rng(11)
    dim = 16

    def unit(v):
        v = np.asarray(v, dtype=np.float64)
        return [float(x) for x in v / np.linalg.norm(v)]

    hot = rng.normal(size=dim)
    train = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=unit(hot)),
            Row(vec_id=2, embedding=unit(np.eye(dim)[0])),
        ]
    )
    # two IDENTICAL eval vectors: equal cosines → nearest is min id
    ev = spark.createDataFrame(
        [
            Row(vec_id=200, embedding=unit(hot)),
            Row(vec_id=100, embedding=unit(hot)),
        ]
    )
    cents = similarity.hyperplanes(dim, 4, seed=7)
    out = {
        r["vec_id"]: r
        for r in similarity.embedding_decontaminate(
            train, ev, min_cosine=0.9, nprobe_eval=4, centroids=cents
        ).collect()
    }
    assert out[1]["contaminated"] and out[1]["n_hits"] == 2
    assert abs(out[1]["max_eval_cosine"] - 1.0) < 1e-6
    assert out[1]["nearest_eval_id"] == 100  # tie → smallest eval id
    assert not out[2]["contaminated"] and out[2]["n_hits"] == 0
    assert out[2]["max_eval_cosine"] is None
    assert out[2]["nearest_eval_id"] is None


def test_embedding_decontaminate_exact_at_full_probe(spark):
    """With nprobe_eval = n_centroids every (train, eval) pair is a
    candidate (the train vector's single cell is always among the
    eval vector's probes), so the cell-gated answer must equal the
    brute-force one — the IVF exactness-at-full-probe argument.
    Brute force is recomputed in numpy with the same micro-cosine
    pack semantics."""
    import numpy as np
    from pyspark.sql import Row

    rng = np.random.default_rng(5)
    dim, n_tr, n_ev, tau = 16, 30, 6, 0.2
    tvecs = rng.normal(size=(n_tr, dim))
    evecs = rng.normal(size=(n_ev, dim))
    train = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in tvecs[i]])
         for i in range(n_tr)]
    )
    ev = spark.createDataFrame(
        [Row(vec_id=1000 + j, embedding=[float(x) for x in evecs[j]])
         for j in range(n_ev)]
    )
    cents = similarity.hyperplanes(dim, 8, seed=7)
    got = {
        r["vec_id"]: r
        for r in similarity.embedding_decontaminate(
            train, ev, min_cosine=tau, nprobe_eval=8, centroids=cents
        ).collect()
    }
    tn = tvecs / np.linalg.norm(tvecs, axis=1, keepdims=True)
    en = evecs / np.linalg.norm(evecs, axis=1, keepdims=True)
    cos = tn @ en.T
    assert len(got) == n_tr
    for i in range(n_tr):
        hits = [
            (int(round(cos[i, j] * 1e6)), 1000 + j)
            for j in range(n_ev)
            if cos[i, j] >= tau
        ]
        r = got[i]
        assert r["n_hits"] == len(hits), i
        assert r["contaminated"] == bool(hits), i
        if hits:
            mx = max(ri for ri, _ in hits)
            near = min(e for ri, e in hits if ri == mx)
            assert abs(r["max_eval_cosine"] - mx / 1e6) < 1e-12, i
            assert r["nearest_eval_id"] == near, i


def test_embedding_decontaminate_broadcasts_eval(spark, embs):
    """The scale claim: the metadata-sized eval side rides a
    broadcast, so the candidate join is a BroadcastHashJoin — the
    corpus never shuffles to meet the eval suite."""
    from parquet_combiner_spark.plans import plan_text

    out = similarity.embedding_decontaminate(
        embs.where(F.col("vec_id") % 2 == 0),
        embs.where(F.col("vec_id") % 2 == 1),
        min_cosine=0.5,
        nprobe_eval=2,
        centroids=similarity.hyperplanes(4, 4, seed=7),
    )
    plan = plan_text(out)
    assert "BroadcastHashJoin" in plan
    assert out.count() == 3  # one row per train vector


def test_semdedup_deterministic_across_runs(spark, embs):
    a = sorted(tuple(r) for r in similarity.semdedup(embs, n_centroids=4, min_cosine=0.4).collect())
    b = sorted(tuple(r) for r in similarity.semdedup(embs, n_centroids=4, min_cosine=0.4).collect())
    assert a == b


def test_semdedup_fixed_centroids_skip_training(spark):
    """`centroids=` pins the quantizer geometry: the assignment is a
    pure function of (vector, literals) — identical verdicts across
    runs, planted dups still collapse, and the sample/seed training
    knobs are provably ignored (the MATCH-twin contract of
    embedding_semdedup_fixed)."""
    import numpy as np
    from pyspark.sql import Row

    rng = np.random.default_rng(3)
    dim = 8
    cents = similarity.hyperplanes(dim, 4, seed=7)

    def unit(v):
        v = np.asarray(v, dtype=np.float64)
        return [float(x) for x in v / np.linalg.norm(v)]

    base = rng.normal(size=dim)
    rows = [
        Row(vec_id=1, embedding=unit(base), label=0),
        Row(vec_id=2, embedding=unit(base), label=0),  # exact dup
        Row(vec_id=9, embedding=unit(rng.normal(size=dim)), label=1),
    ]
    df = spark.createDataFrame(rows)
    a = {
        r["vec_id"]: tuple(r)
        for r in similarity.semdedup(
            df, min_cosine=0.95, centroids=cents
        ).collect()
    }
    # training knobs must be inert under a fixed quantizer
    b = {
        r["vec_id"]: tuple(r)
        for r in similarity.semdedup(
            df, min_cosine=0.95, centroids=cents, sample=1, seed=999,
            n_centroids=2,
        ).collect()
    }
    assert a == b
    assert a[1][2:] == (1, True) and a[2][2:] == (1, False)
    assert a[9][2:] == (9, True)


def test_quantization_error_bound_and_range(spark, embs):
    """int8 quantization guarantee: every component error is at most
    scale/2 (round-to-nearest), q values stay in [-127, 127], and a
    zero vector quantizes to zeros with no NaN."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    stats = similarity.quantization_error_stats(embs).collect()
    assert stats
    for r in stats:
        assert r["max_abs_err"] <= r["scale"] / 2 + 1e-12

    q = similarity.quantize_embeddings(embs)
    rng = q.select(
        F.array_max("qvec").alias("hi"), F.array_min("qvec").alias("lo")
    ).collect()
    assert all(-127 <= r["lo"] and r["hi"] <= 127 for r in rng)

    zero = spark.createDataFrame(
        [Row(vec_id=1, embedding=[0.0] * 8, label=0)]
    )
    zq = similarity.quantize_embeddings(zero).collect()[0]
    assert list(zq["qvec"]) == [0] * 8


def test_source_cap_limits_and_determinism(spark):
    from parquet_combiner_spark.functions import (
        _SOURCE_CAP,
        q_doc_source_capped,
    )

    sf = "/root/testdata/sf0.01"
    a = q_doc_source_capped(spark, sf).collect()
    per_source = {}
    for r in a:
        per_source.setdefault(r["source"], []).append(r["doc_id"])
    assert all(len(v) <= _SOURCE_CAP for v in per_source.values())
    b = q_doc_source_capped(spark, sf).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_unigram_logprob_hand_computed(spark):
    """Toy corpus: 'a a b' + 'c'. total=4 tokens; p(a)=1/2, p(b)=1/4,
    p(c)=1/4. Doc1 avg = (ln.5+ln.5+ln.25)/3, doc2 avg = ln .25.
    The vocabulary side must broadcast (Zipf: vocab << corpus)."""
    import math

    from pyspark.sql import Row

    from parquet_combiner_spark.plans import assert_broadcast_join

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a a b"), Row(doc_id=2, text="c")]
    )
    out = text.doc_unigram_logprob(docs)
    assert_broadcast_join(out)
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[1]["n_tokens"] == 3 and got[2]["n_tokens"] == 1
    exp1 = round((2 * math.log(0.5) + math.log(0.25)) / 3, 4)
    assert got[1]["avg_logp"] == pytest.approx(exp1, abs=1e-4)
    assert got[2]["avg_logp"] == pytest.approx(round(math.log(0.25), 4), abs=1e-4)


def test_bigram_logprob_hand_computed_and_transition_aware(spark):
    """Corpus 'a b a b a' + 'b a'. Bigrams: doc1 = ab,ba,ab,ba;
    doc2 = ba. c(ab)=2, c(ba)=3; contexts c(a)=2, c(b)=3; V=2.
    With alpha=0.1: logP(b|a)=ln(2.1/2.2), logP(a|b)=ln(3.1/3.2).
    Also the semantic claim: under a corpus with a dominant word
    order, a scrambled doc ties the fluent one on UNIGRAMS but
    scores strictly lower on BIGRAMS (transition-awareness)."""
    import math

    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a b a b a"), Row(doc_id=2, text="b a")]
    )
    got = {
        r["doc_id"]: r for r in text.doc_bigram_logprob(docs).collect()
    }
    p_ab = math.log(2.1 / 2.2)
    p_ba = math.log(3.1 / 3.2)
    assert got[1]["n_bigrams"] == 4 and got[2]["n_bigrams"] == 1
    assert got[1]["avg_logp"] == pytest.approx(
        round((2 * p_ab + 2 * p_ba) / 4, 4), abs=1e-4
    )
    assert got[2]["avg_logp"] == pytest.approx(round(p_ba, 4), abs=1e-4)
    # a one-token doc has no bigrams and no row
    single = spark.createDataFrame([Row(doc_id=9, text="a")])
    assert text.doc_bigram_logprob(single).count() == 0

    fluent = "the cat sat . " * 10
    corpus = [Row(doc_id=i, text=fluent.strip()) for i in range(10)]
    scrambled = Row(doc_id=99, text=("sat the . cat " * 10).strip())
    df = spark.createDataFrame(corpus + [scrambled])
    uni = {r["doc_id"]: r["avg_logp"] for r in text.doc_unigram_logprob(df).collect()}
    bi = {r["doc_id"]: r["avg_logp"] for r in text.doc_bigram_logprob(df).collect()}
    # identical unigram bags -> unigram cannot separate
    assert uni[99] == pytest.approx(uni[0], abs=1e-4)
    # improbable transitions -> bigram strictly lower
    assert bi[99] < bi[0] - 0.1


def test_doc_chunks_coverage_and_overlap(spark):
    """120 tokens at chunk=64/overlap=16 (stride 48): chunks start at
    0, 48, 96 — ceil((120-16)/48) = 3; consecutive chunks share
    exactly the 16-token overlap; concatenating each chunk's NEW
    tokens (dropping the first `overlap` of chunks > 0) reconstructs
    the document exactly."""
    from pyspark.sql import Row

    words = [f"w{i}" for i in range(120)]
    docs = spark.createDataFrame([Row(doc_id=1, text=" ".join(words))])
    rows = sorted(
        text.doc_chunks(docs, chunk_tokens=64, overlap_tokens=16).collect(),
        key=lambda r: r["chunk_idx"],
    )
    assert [r["chunk_start"] for r in rows] == [0, 48, 96]
    assert [r["n_chunk_tokens"] for r in rows] == [64, 64, 24]
    rebuilt: list[str] = []
    for r in rows:
        toks = r["chunk_text"].split(" ")
        assert toks == words[r["chunk_start"] : r["chunk_start"] + 64]
        rebuilt.extend(toks if r["chunk_idx"] == 0 else toks[16:])
    assert rebuilt == words


def test_doc_chunks_short_doc_single_chunk(spark):
    """A document shorter than one chunk (even shorter than the
    overlap) still yields exactly one chunk carrying the whole text."""
    from pyspark.sql import Row

    docs = spark.createDataFrame([Row(doc_id=7, text="just three words")])
    rows = text.doc_chunks(docs, chunk_tokens=64, overlap_tokens=16).collect()
    assert len(rows) == 1
    assert rows[0]["chunk_idx"] == 0 and rows[0]["chunk_start"] == 0
    assert rows[0]["n_chunk_tokens"] == 3
    assert rows[0]["chunk_text"] == "just three words"


def test_doc_chunks_rejects_non_advancing_window():
    import pytest as _pytest

    from pyspark.sql import DataFrame

    with _pytest.raises(ValueError, match="must exceed"):
        text.doc_chunks(None, chunk_tokens=16, overlap_tokens=16)


def test_doc_tfidf_keywords_hand_computed(spark):
    """Corpus of 3 docs. 'cat' appears in 1/3 docs → idf ln(3);
    'the' in all 3 → idf 0 (never a keyword unless nothing else
    exists); doc 1's top term must be 'cat' with tfidf
    2 * ln(3) (tf=2). Vocabulary joins must broadcast."""
    import math

    from pyspark.sql import Row

    from parquet_combiner_spark.plans import assert_broadcast_join

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the cat sat the cat"),
            Row(doc_id=2, text="the dog sat"),
            Row(doc_id=3, text="the bird flew"),
        ]
    )
    out = text.doc_tfidf_keywords(docs, k=2)
    assert_broadcast_join(out)
    got = {(r["doc_id"], r["rank"]): r for r in out.collect()}
    top1 = got[(1, 1)]
    assert top1["term"] == "cat"
    assert top1["tfidf"] == pytest.approx(round(2 * math.log(3.0), 4))
    # ties on score fall back to term order: doc 3's 'bird' and 'flew'
    # both have tf=1, df=1 → rank 1 is 'bird' (alphabetical)
    assert got[(3, 1)]["term"] == "bird"
    assert got[(3, 2)]["term"] == "flew"
    # every doc emits at most k rows
    per_doc: dict[int, int] = {}
    for (d, _), _r in got.items():
        per_doc[d] = per_doc.get(d, 0) + 1
    assert all(v <= 2 for v in per_doc.values())


def test_pii_scrub_planted_patterns(spark):
    """Each PII pattern redacts its planted instance; clean word-soup
    text passes through byte-identical (the over-matching failure
    mode); counts are per-pattern."""
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="contact bob.smith+x@example.co.uk today"),
            Row(doc_id=2, text="ssn 123-45-6789 and phone 555-867-5309"),
            Row(doc_id=3, text="server at 10.0.255.7 rebooted"),
            Row(doc_id=4, text="key agg row scan slow fast table value"),
        ]
    )
    out = {r["doc_id"]: r for r in text.doc_pii_scrub(docs).collect()}
    assert out[1]["n_email"] == 1
    assert out[1]["clean_text"] == "contact <EMAIL> today"
    # SSN pattern wins over phone for the 3-2-4 shape; 3-3-4 is phone
    assert (out[2]["n_ssn"], out[2]["n_phone"]) == (1, 1)
    assert out[2]["clean_text"] == "ssn <SSN> and phone <PHONE>"
    assert out[3]["n_ipv4"] == 1
    assert out[3]["clean_text"] == "server at <IP> rebooted"
    clean = out[4]
    assert clean["clean_text"] == "key agg row scan slow fast table value"
    assert (
        clean["n_email"] + clean["n_ssn"] + clean["n_phone"] + clean["n_ipv4"]
        == 0
    )


def test_blocklist_flags_token_semantics(spark):
    """Blocklist matches whole whitespace tokens only (no substring
    hits), hit_terms is distinct+sorted, n_hits counts occurrences,
    and unflagged docs are absent from the output."""
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="spark shuffle spark join"),
            Row(doc_id=2, text="sparkly hashing reshuffle"),  # substrings only
            Row(doc_id=3, text="plain words here"),
            Row(doc_id=4, text="Hash map"),  # case-folded token hit
        ]
    )
    out = {r["doc_id"]: r for r in text.doc_blocklist_flags(docs).collect()}
    assert set(out) == {1, 4}
    assert out[1]["n_hits"] == 3
    assert out[1]["hit_terms"] == "shuffle,spark"
    assert out[4]["n_hits"] == 1
    assert out[4]["hit_terms"] == "hash"


def test_corpus_mixture_shares(spark):
    """Mixture cells partition the corpus: doc/token shares sum to 1,
    token counts are whitespace-token sums, totals ride a broadcast."""
    from pyspark.sql import Row

    from parquet_combiner_spark.functions import corpus
    from parquet_combiner_spark.plans import assert_in_plan

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, source="a", lang="en", text="one two three"),
            Row(doc_id=2, source="a", lang="de", text="eins zwei"),
            Row(doc_id=3, source="b", lang="en", text="uno"),
        ]
    )
    out = corpus.corpus_mixture(docs)
    # 1-row totals side: a broadcast nested-loop (the degenerate
    # broadcast), never a shuffled join
    assert_in_plan(out, "BroadcastNestedLoopJoin")
    rows = {(r["source"], r["lang"]): r for r in out.collect()}
    assert rows[("a", "en")]["n_tokens"] == 3
    assert rows[("b", "en")]["token_share"] == pytest.approx(1 / 6, abs=1e-6)
    assert sum(r["doc_share"] for r in rows.values()) == pytest.approx(1.0, abs=1e-5)
    assert sum(r["token_share"] for r in rows.values()) == pytest.approx(1.0, abs=1e-5)


def test_pagerank_against_python_reference(spark):
    """PageRank on a small graph vs an independent numpy power
    iteration: same values, mass conserved, symmetric leaves tie, hub
    outranks leaves; iters=0 is the uniform start."""
    import numpy as np
    from pyspark.sql import Row

    from parquet_combiner_spark.functions import graph

    # star (1 hub, 3 spokes) + a disjoint path of 3
    edge_list = [(1, 2), (1, 3), (1, 4), (10, 11), (11, 12)]
    pairs = spark.createDataFrame(
        [Row(doc_id_a=a, doc_id_b=b) for a, b in edge_list]
    )
    iters, d = 5, 0.85
    out = {r["node"]: r for r in graph.pagerank(pairs, iters, d).collect()}

    nodes = sorted({x for e in edge_list for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    A = np.zeros((n, n))
    for a, b in edge_list:
        A[idx[a], idx[b]] = A[idx[b], idx[a]] = 1.0
    share = A / A.sum(axis=1, keepdims=True)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        r = (1 - d) / n + d * (share.T @ r)
    for v in nodes:
        assert out[v]["pagerank"] == pytest.approx(r[idx[v]], abs=1e-8)

    assert sum(x["pagerank"] for x in out.values()) == pytest.approx(1.0, abs=1e-6)
    assert out[2]["pagerank"] == out[3]["pagerank"] == out[4]["pagerank"]
    assert out[1]["pagerank"] > out[2]["pagerank"]
    assert out[1]["degree"] == 3
    # iters=0: the uniform start
    z = graph.pagerank(pairs, 0, d).collect()
    assert all(x["pagerank"] == pytest.approx(1.0 / n, abs=1e-8) for x in z)


def test_weighted_sample_weight_bias_and_determinism(spark):
    """ES weighted sampling: determinism across partitionings, heavy
    items strongly over-represented vs their population share,
    non-positive weights excluded, k respected."""
    from pyspark.sql import Row

    rows = [Row(doc_id=i, w=(1000 if i < 50 else 1)) for i in range(1000)]
    rows += [Row(doc_id=9999, w=0), Row(doc_id=9998, w=-5)]
    df = spark.createDataFrame(rows)
    out = sampling.weighted_sample(df, "doc_id", "w", k=100, seed="t")
    got = [r["doc_id"] for r in out.collect()]
    assert len(got) == 100
    assert 9999 not in got and 9998 not in got
    # 50 heavy items carry 1000/1950ths of the total mass each — with
    # k=100 essentially all of them are selected; the naive uniform
    # expectation would be ~5.
    heavy = sum(1 for d in got if d < 50)
    assert heavy >= 45
    # deterministic under repartitioning
    again = [
        r["doc_id"]
        for r in sampling.weighted_sample(
            df.repartition(13), "doc_id", "w", k=100, seed="t"
        ).collect()
    ]
    assert got == again
    # a different seed selects a (mostly) different light tail
    other = {
        r["doc_id"]
        for r in sampling.weighted_sample(
            df, "doc_id", "w", k=100, seed="u"
        ).collect()
    }
    assert set(got) != other


def test_clean_text_planted_artifacts(spark):
    """Planted web-scrape artifacts: control chars and zero-width
    characters removed, whitespace runs collapsed, edges trimmed;
    clean text passes through byte-identical; n_removed counts the
    character delta."""
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a\x00b​c"),          # ctrl + zwsp
            Row(doc_id=2, text="  too   many\t\nspaces "),
            Row(doc_id=3, text="already clean text"),
            Row(doc_id=4, text="x\x1f\x7f﻿y"),
        ]
    )
    out = {r["doc_id"]: r for r in text.doc_clean_text(docs).collect()}
    assert out[1]["clean_text"] == "abc"
    assert out[2]["clean_text"] == "too many spaces"
    assert out[3]["clean_text"] == "already clean text"
    assert out[3]["n_removed"] == 0
    assert out[4]["clean_text"] == "xy"
    assert out[4]["n_removed"] == 3


def test_incremental_dedup_against_persistent_index(spark, tmp_path):
    """Multi-batch ingestion dedup: batch 1 establishes the index;
    batch 2's cross-batch AND within-batch duplicates are dropped;
    the index advances one atomic version per batch and time travel
    reproduces the after-batch-1 index."""
    from pyspark.sql import Row

    from parquet_combiner_spark.tools import txlog

    index = str(tmp_path / "fp_index")
    b1 = spark.createDataFrame(
        [Row(doc_id=1, text="alpha"), Row(doc_id=2, text="beta")]
    )
    s1 = dedup_text.incremental_dedup(spark, b1, index)
    assert sorted(r["doc_id"] for r in s1.collect()) == [1, 2]
    assert txlog.current_version(index) == 0

    b2 = spark.createDataFrame(
        [
            Row(doc_id=10, text="alpha"),   # dup of batch 1 → dropped
            Row(doc_id=11, text="gamma"),   # fresh
            Row(doc_id=12, text="gamma"),   # within-batch dup → dropped
            Row(doc_id=13, text="delta"),   # fresh
        ]
    )
    s2 = dedup_text.incremental_dedup(spark, b2, index)
    assert sorted(r["doc_id"] for r in s2.collect()) == [11, 13]
    assert txlog.current_version(index) == 1
    # the index now holds all four fingerprints; version 0 held two
    assert txlog.read_table(spark, index).count() == 4
    assert txlog.read_table(spark, index, version=0).count() == 2

    # replaying batch 2 contributes nothing new AND commits nothing —
    # the index version must not churn on idempotent replays
    s2b = dedup_text.incremental_dedup(spark, b2, index)
    assert s2b.count() == 0
    assert txlog.current_version(index) == 1

    # stale-base protection: a commit pinned to an old base loses
    import pytest

    with pytest.raises(txlog.CommitConflict):
        txlog.commit(
            spark.createDataFrame([("zz",)], "fp string"),
            index,
            expected_version=0,
        )


def test_mmr_rerank_diversity_and_reference(spark):
    """MMR on a planted pool: rank 1 is the most-relevant candidate,
    a near-duplicate of it is DEMOTED below a less-similar-but-diverse
    candidate at rank 2 (the property plain top-k lacks), and scores
    match an independent numpy greedy reference."""
    import numpy as np
    from pyspark.sql import Row

    # q=[1,0]; c1 best relevance; c2 a near-dup of c1 (same side);
    # c3 equally relevant but on the OTHER side of q — after c1 is
    # taken, c3's low redundancy must beat c2's ~1.0 redundancy
    vecs = {
        100: [1.0, 0.0],
        1: [0.95, 0.312],
        2: [0.95, 0.3125],
        3: [0.95, -0.312],
    }
    vectors = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in vecs.items()]
    )
    cands = spark.createDataFrame(
        [Row(q_id=100, n_id=i) for i in (1, 2, 3)]
    )
    out = similarity.mmr_rerank(cands, vectors, k=3, lam=0.7)
    got = {r["mmr_rank"]: r for r in out.collect()}
    assert got[1]["n_id"] == 1          # most relevant first
    assert got[2]["n_id"] == 3          # diverse candidate beats the near-dup
    assert got[3]["n_id"] == 2

    # independent greedy reference on the same floats
    m = np.array([vecs[1], vecs[2], vecs[3]])
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    q = np.array(vecs[100]); q = q / np.linalg.norm(q)
    qs = m @ q; pw = m @ m.T
    sel, rem = [], [0, 1, 2]
    for rank in (1, 2, 3):
        best, best_s = None, -np.inf
        for i in rem:
            red = max(pw[i][j] for j in sel) if sel else 0.0
            sc = 0.7 * qs[i] - 0.3 * red
            if sc > best_s:
                best, best_s = i, sc
        sel.append(best); rem.remove(best)
        assert got[rank]["n_id"] == best + 1
        assert got[rank]["mmr_score"] == pytest.approx(best_s, abs=1e-6)


def test_logstar_components_equal_label_propagation(spark):
    """The O(log n) large-star/small-star formulation must produce
    EXACTLY the label-propagation clusters on: a transitive chain, a
    long path (diameter 40 — the shape logstar exists for), disjoint
    components, and a pseudo-random graph."""
    import random

    cases = [
        [(1, 2), (2, 3), (3, 4), (10, 11)],
        [(i, i + 1) for i in range(100, 140)],  # long path
    ]
    rng = random.Random(7)
    cases.append(
        [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    )
    for edge_list in cases:
        edge_list = [(a, b) for a, b in edge_list if a != b]
        pairs = spark.createDataFrame(
            edge_list, "doc_id_a long, doc_id_b long"
        )
        # the diameter-40 path needs >25 label-prop rounds (the default
        # cap raises — exactly the O(diameter) weakness the logstar
        # variant exists to remove; logstar runs the SAME case at its
        # default cap)
        lp = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup_text.near_dup_clusters(
                pairs, max_iter=60
            ).collect()
        }
        ls = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup_text.near_dup_clusters_logstar(pairs).collect()
        }
        assert lp == ls, f"divergence on {edge_list[:6]}..."


def test_cosine_zero_vector_degrades_to_null_not_crash(spark):
    """A zero vector (padding/null-embedding row) must yield NULL
    similarity and be excluded from top-k — NOT an ANSI
    DIVIDE_BY_ZERO job failure."""
    from pyspark.sql import Row

    vecs = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0]),
            Row(vec_id=2, embedding=[0.8, 0.6]),
            Row(vec_id=3, embedding=[0.0, 0.0]),  # the hazard
        ]
    )
    out = similarity.cosine_topk_bruteforce(
        vecs, vecs.where("vec_id = 1"), k=5
    ).collect()
    pairs = {(r["q_id"], r["n_id"]): r["sim"] for r in out}
    assert pairs[(1, 2)] == 0.8
    # the zero vector ranks LAST (NULL sim, desc puts nulls last)
    ranks = {r["n_id"]: r["rank"] for r in out}
    assert ranks[3] == max(ranks.values())
    assert pairs[(1, 3)] is None


def test_payload_energy_windows_hand_computed(spark):
    """Window splitting and byte sums on a hand-computable payload:
    full windows, a short tail window, empty payloads skipped, and
    window count = ceil(len/W)."""
    from pyspark.sql import Row

    media = spark.createDataFrame(
        [
            Row(media_id=1, payload=bytes([1, 2, 3, 4, 5])),  # W=2: 3 windows
            Row(media_id=2, payload=b""),                      # skipped
        ],
        "media_id long, payload binary",
    )
    out = {
        (r["media_id"], r["window_idx"]): (r["n_bytes"], r["energy"])
        for r in multimodal.payload_energy_windows(
            media, window_bytes=2
        ).collect()
    }
    assert out == {
        (1, 0): (2, 3),   # 1+2
        (1, 1): (2, 7),   # 3+4
        (1, 2): (1, 5),   # tail
    }

    import pytest

    with pytest.raises(ValueError, match="window_bytes"):
        multimodal.payload_energy_windows(media, window_bytes=0)


def test_ivf_persisted_centroids_parity(spark, tmp_path):
    """Train-once path: a quantizer committed to a txlog table and
    loaded back must give cosine_topk_ivf results identical to
    training in-query (same seed/sample), and the committed table is
    versioned (a re-train appends a new version; the old one stays
    pinnable)."""
    from parquet_combiner_spark.functions import similarity
    from parquet_combiner_spark.tools import txlog

    sf = "/root/testdata/sf0.001"
    embs = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = embs.where("vec_id < 8")
    table = str(tmp_path / "quantizer")

    v0 = similarity.persist_ivf_centroids(embs, table, n_centroids=8)
    cents = similarity.load_ivf_centroids(spark, table)
    assert len(cents) == 8

    trained_now = similarity.cosine_topk_ivf(
        embs, queries, k=3, n_centroids=8, nprobe=3
    )
    from_table = similarity.cosine_topk_ivf(
        embs, queries, k=3, nprobe=3, centroids=cents
    )
    assert sorted(map(tuple, trained_now.collect())) == sorted(
        map(tuple, from_table.collect())
    )

    # re-train commits a NEW version; the old quantizer stays readable
    v1 = similarity.persist_ivf_centroids(embs, table, n_centroids=4)
    assert v1 == v0 + 1
    assert len(similarity.load_ivf_centroids(spark, table)) == 4
    assert len(similarity.load_ivf_centroids(spark, table, version=v0)) == 8
    # history carries the training provenance
    meta = txlog.history(table)[0]["meta"]
    assert meta["n_centroids"] == 4 and meta["seed"] == 42


def test_lsh_persisted_planes_parity(spark, tmp_path):
    """The hash-geometry companion of the persisted quantizer: sign-
    LSH hyperplanes committed to a txlog table and loaded back must
    give cosine_topk_lsh results identical to in-query generation
    (same seed/dim), and a re-hash commits a NEW version with the old
    geometry still pinnable — ANN serving state fully versioned."""
    from parquet_combiner_spark.functions import similarity
    from parquet_combiner_spark.tools import txlog

    sf = "/root/testdata/sf0.001"
    embs = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = embs.where("vec_id < 8")
    dim = similarity._vector_dim(embs, "embedding")
    table = str(tmp_path / "planes")

    v0 = similarity.persist_lsh_planes(spark, table, dim, num_planes=6)
    planes = similarity.load_lsh_planes(spark, table)
    assert len(planes) == 6 and len(planes[0]) == dim

    generated = similarity.cosine_topk_lsh(embs, queries, k=3, num_planes=6)
    pinned = similarity.cosine_topk_lsh(embs, queries, k=3, planes=planes)
    assert sorted(map(tuple, generated.collect())) == sorted(
        map(tuple, pinned.collect())
    )

    v1 = similarity.persist_lsh_planes(spark, table, dim, num_planes=8)
    assert v1 == v0 + 1
    assert len(similarity.load_lsh_planes(spark, table)) == 8
    assert len(similarity.load_lsh_planes(spark, table, version=v0)) == 6
    meta = txlog.history(table)[0]["meta"]
    assert meta["num_planes"] == 8 and meta["dim"] == dim


def test_bpe_encoder_matches_python_reference(spark):
    """The codegen'd BPE replace chain must reproduce a pure-Python
    implementation of the same spec (space every char, two
    left-to-right replace passes per merge, in table order) — and
    basic tokenizer invariants: merged count <= char count, merging
    never yields zero tokens on non-empty text, multi-level merges
    ('the', 'ing') actually fire."""
    from pyspark.sql import Row

    from parquet_combiner_spark.functions import text as T

    samples = [
        "the cat in the hat",
        "query the table for a window row",
        "thththe       thhh",   # repeated-pair stragglers
        "and and and",          # immediate repetition (two-pass rule)
        "x",                    # single char
        "ingesting interesting things",
    ]

    def py_encode(s: str) -> list[str]:
        sp = " " + "".join(c + " " for c in s.lower())
        for a, b in T.BPE_MERGES:
            pat, rep = f" {a} {b} ", f" {a}{b} "
            sp = sp.replace(pat, rep).replace(pat, rep)
        return sp.split()

    df = spark.createDataFrame([Row(doc_id=i, text=s) for i, s in enumerate(samples)])
    got = {
        r["doc_id"]: r
        for r in T.doc_bpe_token_stats(df).collect()
    }
    for i, s in enumerate(samples):
        ref = py_encode(s)
        assert got[i]["n_bpe_tokens"] == len(ref), (s, ref)
        n_chars = len(s.replace(" ", ""))
        assert got[i]["n_chars"] == n_chars
        assert got[i]["n_bpe_tokens"] <= n_chars
        assert got[i]["n_bpe_tokens"] >= 1
    # multi-level merges fire: 'the' collapses to ONE token
    assert py_encode("the")== ["the"]
    assert got[0]["n_bpe_tokens"] < got[0]["n_chars"]  # real compression


def test_triangle_counts_planted_graph(spark):
    """Degree-ordered triangle counting on a planted graph where the
    naive and oriented answers must agree: a K4 clique (4 triangles,
    every vertex in 3), a star (0 triangles — the shape the
    orientation exists to keep cheap), a separate triangle hanging
    off the star's hub, and duplicate/reversed input pairs (the edge
    canonicalization must absorb them)."""
    from pyspark.sql import Row

    from parquet_combiner_spark.functions.graph import triangle_counts

    edges = [
        # K4 on 1..4
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        # star: hub 10 with leaves 11..15 (no triangles among leaves)
        (10, 11), (10, 12), (10, 13), (10, 14), (10, 15),
        # triangle through the hub: 10-11-16
        (11, 16), (16, 10),
        # noise: duplicates + reversed orientation + self-loop
        (2, 1), (3, 1), (4, 4),
    ]
    pairs = spark.createDataFrame(
        [Row(doc_id_a=a, doc_id_b=b) for a, b in edges]
    )
    got = {r["doc_id"]: r["n_triangles"] for r in triangle_counts(pairs).collect()}
    want = {1: 3, 2: 3, 3: 3, 4: 3, 10: 1, 11: 1, 16: 1}
    assert got == want
    # total participation = 3 * triangle count (K4 has 4, +1 at hub)
    assert sum(got.values()) == 3 * 5


def test_containment_finds_subset_jaccard_misses(spark):
    """The discriminating case for max-containment: a short excerpt
    fully embedded in a long doc has containment 1.0 but Jaccard far
    below any usable threshold — the asymmetric metric finds it, the
    symmetric one structurally cannot."""
    from pyspark.sql import Row

    from parquet_combiner_spark.functions import dedup_text

    long_words = [f"w{i}" for i in range(300)]
    excerpt = " ".join(long_words[100:110])  # 10 words inside the doc
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=" ".join(long_words)),
            Row(doc_id=2, text=excerpt),
            Row(doc_id=3, text=" ".join(f"z{i}" for i in range(50))),
        ]
    )
    cont = {
        (r["doc_id_a"], r["doc_id_b"]): r["containment"]
        for r in dedup_text.ngram_containment_pairs(
            docs, threshold=0.9
        ).collect()
    }
    assert cont == {(1, 2): 1.0}  # excerpt fully contained
    jac = dedup_text.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    assert jac == []  # Jaccard ~8/298 — invisible at any real threshold


def test_dedup_keepers_by_policy(spark):
    """Keeper-by-score: highest score wins, min-id breaks ties,
    exactly one keeper per cluster, and the policy actually differs
    from the min-id convention when the longest member isn't the
    lowest id."""
    from pyspark.sql import Row

    from parquet_combiner_spark.functions.dedup_text import (
        dedup_keepers,
        dedup_keepers_by,
    )

    clusters = spark.createDataFrame(
        [
            Row(doc_id=1, cluster_id=1),
            Row(doc_id=5, cluster_id=1),
            Row(doc_id=9, cluster_id=1),
            Row(doc_id=2, cluster_id=2),
            Row(doc_id=7, cluster_id=2),
        ]
    )
    scores = spark.createDataFrame(
        [
            Row(doc_id=1, s=10), Row(doc_id=5, s=99), Row(doc_id=9, s=99),
            Row(doc_id=2, s=4), Row(doc_id=7, s=4),
        ]
    )
    got = {
        r["doc_id"]: r["keep"]
        for r in dedup_keepers_by(clusters, scores, "s").collect()
    }
    # cluster 1: 5 and 9 tie at 99 -> min id 5; cluster 2: tie -> 2
    assert got == {1: False, 5: True, 9: False, 2: True, 7: False}
    minid = {
        r["doc_id"]: r["keep"] for r in dedup_keepers(clusters).collect()
    }
    assert minid[1] is True and got[1] is False  # policies really differ


def test_phash_near_dup_planted_edits(spark):
    """Perceptual-hash dedup on planted payloads: a tiny byte edit of
    a large payload stays within the Hamming threshold (found), an
    unrelated payload does not (absent), and the pigeonhole banding's
    recall within the threshold is exact — verified against a direct
    numpy all-pairs Hamming computation."""
    import itertools

    from pyspark.sql import Row

    from parquet_combiner_spark.functions import multimodal

    base = bytes(range(256)) * 64  # 16 KiB structured payload
    edited = bytearray(base)
    for i in range(0, 64, 16):
        edited[i] = 255  # touch a few bytes -> few grid cells move
    rows = [
        Row(media_id=1, payload=base),
        Row(media_id=2, payload=bytes(edited)),
        Row(media_id=3, payload=bytes(reversed(base))),  # different
        Row(media_id=4, payload=b"\x00" * 1000),          # flat/unrelated
    ]
    df = spark.createDataFrame(rows)
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.phash_near_dup_pairs(df, max_hamming=10).collect()
    }
    assert (1, 2) in got and got[(1, 2)] <= 10

    # exact-recall check: banding finds EVERY pair the brute-force
    # Hamming threshold admits
    hashes = {
        r["media_id"]: r["phash"]
        for r in multimodal.payload_phash(df).collect()
    }
    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(hashes), 2)
        if bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1") <= 10
    }
    assert set(got) == want


def test_repeated_spans_planted_cross_doc_quote(spark):
    """The span-removal semantics on planted data: a 10-token quote
    embedded in two docs is found with exact boundaries in each;
    within-doc-only repetition is NOT flagged; docs shorter than
    min_tokens contribute nothing; two overlapping covered windows
    merge into ONE maximal span; strip_repeated_spans excises exactly
    the spanned tokens (original casing kept) and reinstates
    untouched docs verbatim."""
    from parquet_combiner_spark.functions import dedup_text

    quote = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    docs = spark.createDataFrame(
        [
            (1, "one two " + quote + " three four"),
            (2, quote.upper() + " five six seven"),  # case-folded match
            (3, "unrelated words only here nothing shared at all x"),
            (4, "rep rep rep rep rep rep rep rep rep rep"),  # intra-doc only
            (5, "short doc"),
        ],
        "doc_id long, text string",
    )
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_tokens"])
        for r in dedup_text.repeated_spans(docs, min_tokens=8).collect()
    }
    assert spans == {1: (2, 11, 10), 2: (0, 9, 10)}

    stripped = {
        r["doc_id"]: (r["clean_text"], r["n_kept"])
        for r in dedup_text.strip_repeated_spans(docs, min_tokens=8).collect()
    }
    assert stripped[1] == ("one two three four", 4)
    assert stripped[2] == ("five six seven", 3)  # original casing excised
    assert stripped[3][0] == "unrelated words only here nothing shared at all x"
    assert stripped[4][0] == "rep rep rep rep rep rep rep rep rep rep"
    assert stripped[5] == ("short doc", 2)

    # overlap merge: docs sharing two 8-runs whose windows overlap
    # (positions 0..7 and 2..9 of doc 10) produce ONE 10-token span
    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    docs2 = spark.createDataFrame(
        [
            (10, base),
            (11, "x " + " ".join(base.split()[0:8]) + " zzz"),
            (12, "y1 y2 " + " ".join(base.split()[2:10])),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["span_start"], r["span_end"])
        for r in dedup_text.repeated_spans(docs2, min_tokens=8).collect()
    }
    assert got[10] == (0, 9)  # merged, not two overlapping intervals

    with pytest.raises(ValueError, match="min_tokens"):
        dedup_text.repeated_spans(docs, min_tokens=1)

    # plan posture: no cartesian product anywhere; every window
    # partitioned (by doc) — the operator never global-sorts
    plan = (
        dedup_text.repeated_spans(docs, min_tokens=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    for frag in plan.split("windowspecdefinition(")[1:]:
        assert frag.split(",")[0].startswith("doc_id"), plan


def test_select_by_token_budget_matches_window_reference(spark):
    """The sort-free budget selector must equal the global-window
    formulation row-for-row, including ties at the boundary score
    (id-ordered) and the crossing row (included); budget beyond the
    corpus keeps everything; non-positive budget raises."""
    import pytest as _pytest
    from pyspark.sql import Row

    from parquet_combiner_spark.functions.sampling import (
        select_by_token_budget,
    )

    rows = [
        Row(doc_id=1, n_tokens=100, s=0.9),
        Row(doc_id=2, n_tokens=100, s=0.8),
        Row(doc_id=4, n_tokens=100, s=0.7),   # tie: id order decides
        Row(doc_id=3, n_tokens=100, s=0.7),
        Row(doc_id=5, n_tokens=100, s=0.7),
        Row(doc_id=6, n_tokens=100, s=0.1),
    ]
    df = spark.createDataFrame(rows)

    def reference(budget):
        ordered = sorted(rows, key=lambda r: (-r["s"], r["doc_id"]))
        keep, c = [], 0
        for r in ordered:
            if c < budget:
                keep.append(r["doc_id"])
            c += r["n_tokens"]
        return sorted(keep)

    for budget in (1, 100, 150, 250, 301, 399, 400, 401, 599, 600, 10_000):
        got = sorted(
            r["doc_id"]
            for r in select_by_token_budget(
                df, budget, "s", "n_tokens"
            ).collect()
        )
        assert got == reference(budget), budget
    with _pytest.raises(ValueError, match="positive"):
        select_by_token_budget(df, 0, "s", "n_tokens")


def test_select_by_token_budget_all_ties_partition_safe(spark):
    """The degenerate case the r8 verdict flagged: every document
    shares ONE score, so the whole corpus is the boundary bucket.
    The selection must still match the window reference (id order
    decides), and the plan must resolve the slice with a PARTITIONED
    window (the distributed sub-bucket prefix sum), never an
    unpartitioned one. NULL scores are rejected loudly."""
    import pytest as _pytest

    from parquet_combiner_spark.functions.sampling import (
        select_by_token_budget,
    )

    n = 500
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7 + 1).cast("long").alias("n_tokens"),
        F.lit(0.5).alias("s"),  # all-ties: one score bucket
    )
    rows = sorted(
        [(i, i % 7 + 1) for i in range(n)], key=lambda r: r[0]
    )  # score ties ⇒ pure id order
    budget = sum(t for _, t in rows) // 3
    keep, c = [], 0
    for i, t in rows:
        if c < budget:
            keep.append(i)
        c += t
    out = select_by_token_budget(df, budget, "s", "n_tokens")
    got = sorted(r["doc_id"] for r in out.collect())
    assert got == keep
    # plan pin: every window spec is partitioned (on the sub-bucket)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "windowspecdefinition(" in plan
    for frag in plan.split("windowspecdefinition(")[1:]:
        assert frag.split(",")[0].startswith("__sbkt"), plan

    null_df = df.withColumn(
        "s", F.when(F.col("doc_id") == 3, None).otherwise(F.col("s"))
    )
    with _pytest.raises(ValueError, match="NULL"):
        select_by_token_budget(null_df, budget, "s", "n_tokens")


def test_incremental_near_dup_across_batches(spark, tmp_path):
    """Near-dup ingestion against the persistent MinHash index:
    batch-1 admits originals and rejects a within-batch paraphrase;
    batch-2's near-copy of an ADMITTED doc is rejected while its
    genuinely-new doc is admitted; replaying batch-2 admits nothing
    new and commits nothing (index version unchanged)."""
    from pyspark.sql import Row

    from parquet_combiner_spark.functions import dedup_text
    from parquet_combiner_spark.tools import txlog

    base_text = " ".join(f"tok{i}" for i in range(120))
    near = base_text.replace("tok5 ", "tok5x ").replace("tok50 ", "")
    other = " ".join(f"zzz{i}" for i in range(80))
    idx = str(tmp_path / "ndidx")

    b1 = spark.createDataFrame(
        [
            Row(doc_id=1, text=base_text),
            Row(doc_id=2, text=near),      # within-batch near-dup of 1
            Row(doc_id=3, text=other),
        ]
    )
    s1 = dedup_text.incremental_near_dup(spark, b1, idx, threshold=0.6)
    assert sorted(r["doc_id"] for r in s1.collect()) == [1, 3]
    v1 = txlog.current_version(idx)

    b2 = spark.createDataFrame(
        [
            Row(doc_id=10, text=near),     # near-copy of ADMITTED doc 1
            Row(doc_id=11, text=" ".join(f"qq{i}" for i in range(90))),
        ]
    )
    s2 = dedup_text.incremental_near_dup(spark, b2, idx, threshold=0.6)
    assert sorted(r["doc_id"] for r in s2.collect()) == [11]
    v2 = txlog.current_version(idx)
    assert v2 == v1 + 1

    # replay: nothing fresh, no commit
    s2b = dedup_text.incremental_near_dup(spark, b2, idx, threshold=0.6)
    assert sorted(r["doc_id"] for r in s2b.collect()) == []
    assert txlog.current_version(idx) == v2


def test_cluster_safe_split_has_zero_leakage(spark):
    """The repair contract: hashing on the near-dup cluster
    representative puts every cluster in ONE split, so re-running the
    leakage audit's predicate over the cluster-safe assignment finds
    nothing — zero by construction, not by luck. Checked against the
    very pair set the audit uses. Also pins totality (every document
    assigned exactly one split)."""
    from pyspark.sql import functions as F

    from parquet_combiner_spark.functions import (
        _ngram_pairs_cached,
        q_doc_split_cluster_safe,
    )

    sf = "/root/testdata/sf0.01"
    assign = q_doc_split_cluster_safe(spark, sf)
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert assign.count() == n_docs
    assert assign.where(F.col("split").isNull()).count() == 0

    pairs = _ngram_pairs_cached(spark, sf)
    sa = assign.select(
        F.col("doc_id").alias("doc_id_a"), F.col("split").alias("split_a")
    )
    sb = assign.select(
        F.col("doc_id").alias("doc_id_b"), F.col("split").alias("split_b")
    )
    leaky = (
        pairs.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .where(F.col("split_a") != F.col("split_b"))
    )
    assert leaky.count() == 0
    # ... while the per-doc hash split (the audited baseline) does
    # leak on the same pairs — the repair is doing real work
    from parquet_combiner_spark.functions import q_doc_split

    base = q_doc_split(spark, sf)
    ba = base.select(
        F.col("doc_id").alias("doc_id_a"), F.col("split").alias("split_a")
    )
    bb = base.select(
        F.col("doc_id").alias("doc_id_b"), F.col("split").alias("split_b")
    )
    base_leaky = (
        pairs.join(ba, "doc_id_a")
        .join(bb, "doc_id_b")
        .where(F.col("split_a") != F.col("split_b"))
    )
    assert base_leaky.count() > 0


def test_hybrid_rrf_invariants(spark):
    """RRF identities: every score is in (0, 2/(C+1)]; a candidate in
    BOTH ranker pools outscores any single-ranker candidate at equal
    ranks; the per-query result is exactly top-5 with dense ranks
    1..5 (values themselves are oracle-hash-checked)."""
    from parquet_combiner_spark.functions import (
        _RRF_C,
        q_hybrid_rrf_topk,
    )

    rows = q_hybrid_rrf_topk(spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        assert sorted(r["rank"] for r in rs) == list(range(1, len(rs) + 1))
        assert len(rs) <= 5
        for r in rs:
            assert 0 < r["rrf"] <= round(2.0 / (_RRF_C + 1), 6) + 1e-9
        # ranks ordered by rrf desc (ties broken by id asc upstream)
        scores = [r["rrf"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert scores == sorted(scores, reverse=True)


def test_personalized_pagerank_localizes_to_seed_components(spark):
    """PPR identities on the sf0.001 pair graph: total mass is
    conserved at 1 (undirected graph, no dangling nodes), every node
    in a component disjoint from all seeds has rank exactly 0, and
    every node in a seed's component has rank > 0 (teleport mass
    reaches the whole component in iters >= diameter rounds or is
    seeded directly)."""
    from pyspark.sql import functions as F

    from parquet_combiner_spark.functions import (
        _ngram_pairs_cached,
        q_doc_graph_ppr,
    )
    from parquet_combiner_spark.functions.dedup_text import (
        near_dup_clusters,
    )

    sf = "/root/testdata/sf0.001"
    rows = q_doc_graph_ppr(spark, sf).collect()
    assert rows
    assert abs(sum(r["ppr"] for r in rows) - 1.0) < 1e-6

    pairs = _ngram_pairs_cached(spark, sf)
    comp = {
        r["doc_id"]: r["cluster_id"]
        for r in near_dup_clusters(pairs).collect()
    }
    seed_nodes = sorted(comp)[:3]
    seed_comps = {comp[s] for s in seed_nodes}
    for r in rows:
        if comp[r["node"]] in seed_comps:
            assert r["ppr"] > 0, r
        else:
            assert r["ppr"] == 0.0, r


def _py_bpe_train(hist, n, min_count=2):
    """Reference BPE trainer (Sennrich et al. 2016) on a word
    histogram: pair counts weighted by word count, argmax with the
    (count desc, pair lexicographic asc) tie-break, leftmost-first
    greedy rewrite — the spec bpe_train_merges distributes."""
    vocab = {}
    for w, c in hist.items():
        k = tuple(w)
        vocab[k] = vocab.get(k, 0) + c
    out = []
    for rank in range(1, n + 1):
        pc = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pc[p] = pc.get(p, 0) + c
        if not pc:
            break
        (a, b), cnt = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if cnt < min_count:
            break
        out.append((rank, a, b, a + b, cnt))
        nv = {}
        for syms, c in vocab.items():
            res = []
            for s in syms:
                if res and res[-1] == a and s == b:
                    res[-1] = a + b
                else:
                    res.append(s)
            k = tuple(res)
            nv[k] = nv.get(k, 0) + c
        vocab = nv
    return out


def test_bpe_train_merges_matches_python_reference(spark):
    """Distributed BPE training is exact: merge-for-merge equality
    with the pure-Python reference on the same corpus — including
    order, tie-breaks, pair counts, overlapping-run rewrites
    ("aaaa"), and the min_pair_count early stop."""
    docs = [
        "the theme thesis the the banana bandana",
        "low lower lowest low low slow slower",
        "aaaa aaaa aa banana the lowest",
        "zq xv",  # singleton junk: below min_pair_count
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = [
        tuple(r)
        for r in text.bpe_train_merges(df, num_merges=12).collect()
    ]
    hist = {}
    for t in docs:
        for w in t.lower().split():
            hist[w] = hist.get(w, 0) + 1
    ref = _py_bpe_train(hist, 12)
    assert got == ref
    assert 1 <= len(got) <= 12
    # the trained table is usable and compresses: re-encode with the
    # learned merges via the same greedy rewrite the trainer used
    first = got[0]
    assert first[3] == first[1] + first[2]


def test_bpe_train_merges_early_stop_and_vocab_cap(spark):
    """min_pair_count stops training when the best pair is rare;
    max_vocab trains on the deterministic top-N histogram cut."""
    df = spark.createDataFrame(
        [(0, "ab ab cd"), (1, "ab xy")], "doc_id long, text string"
    )
    # "ab" appears 3x -> (a,b) count 3; every other pair count 1
    m = [
        tuple(r)
        for r in text.bpe_train_merges(
            df, num_merges=10, min_pair_count=2
        ).collect()
    ]
    assert m == [(1, "a", "b", "ab", 3)]
    # cap the vocab to the single most frequent word ("ab", corpus
    # count 3): only its pairs can be learned, at the capped
    # histogram's full weight
    m2 = [
        tuple(r)
        for r in text.bpe_train_merges(
            df, num_merges=1, max_vocab=1, min_pair_count=1
        ).collect()
    ]
    assert m2 == [(1, "a", "b", "ab", 3)]


def test_epoch_shuffle_is_a_deterministic_permutation(spark):
    """Positions are a dense permutation of 0..n-1; identical across
    runs and partitionings; a different seed produces a genuinely
    different order; and the distributed prefix-count positions equal
    the naive global-sort formulation exactly."""
    from parquet_combiner_spark.functions.sampling import (
        _hash_u32,
        epoch_shuffle,
    )

    docs = spark.range(777).select(F.col("id").alias("doc_id"))
    out = {
        r["doc_id"]: r["position"]
        for r in epoch_shuffle(docs, "doc_id", seed="e1").collect()
    }
    assert sorted(out.values()) == list(range(777))
    # repartitioned input, same answer (order is content-addressed)
    out2 = {
        r["doc_id"]: r["position"]
        for r in epoch_shuffle(
            docs.repartition(13), "doc_id", seed="e1"
        ).collect()
    }
    assert out == out2
    # naive reference: global sort by (hash, key)
    keyed = docs.select(
        "doc_id", _hash_u32(F.col("doc_id"), "e1").alias("k")
    ).collect()
    ref = {
        r["doc_id"]: i
        for i, r in enumerate(
            sorted(keyed, key=lambda r: (r["k"], r["doc_id"]))
        )
    }
    assert out == ref
    # another epoch reshuffles
    out_e2 = {
        r["doc_id"]: r["position"]
        for r in epoch_shuffle(docs, "doc_id", seed="e2").collect()
    }
    assert sorted(out_e2.values()) == list(range(777))
    assert out_e2 != out


def test_corpus_drift_report_hand_computed(spark):
    """JS endpoints: identical slices -> 0; disjoint vocabularies ->
    ln 2. Vocabulary jaccard and volumes match by hand."""
    import math

    from pyspark.sql import Row

    from parquet_combiner_spark.functions.corpus import (
        corpus_drift_report,
    )

    a = spark.createDataFrame(
        [Row(doc_id=1, text="x y x"), Row(doc_id=2, text="y")]
    )
    same = corpus_drift_report(a, a).collect()[0]
    assert same["js_divergence"] == pytest.approx(0.0, abs=1e-9)
    assert same["vocab_jaccard"] == 1.0
    assert same["n_tokens_a"] == same["n_tokens_b"] == 4

    b = spark.createDataFrame([Row(doc_id=3, text="p q p q")])
    disj = corpus_drift_report(a, b).collect()[0]
    assert disj["js_divergence"] == pytest.approx(
        round(math.log(2), 6), abs=1e-6
    )
    assert disj["vocab_jaccard"] == 0.0
    assert (disj["vocab_a"], disj["vocab_b"]) == (2, 2)

    # asymmetric overlap, hand-checked: A = {x:3, y:1}, B = {x:1, y:1}
    a2 = spark.createDataFrame([Row(doc_id=5, text="x x x y")])
    c = spark.createDataFrame([Row(doc_id=4, text="x y")])
    r = corpus_drift_report(a2, c).collect()[0]
    p = {"x": 3 / 4, "y": 1 / 4}
    q = {"x": 1 / 2, "y": 1 / 2}
    js = 0.5 * sum(
        p[w] * math.log(p[w] / ((p[w] + q[w]) / 2)) for w in p
    ) + 0.5 * sum(
        q[w] * math.log(q[w] / ((p[w] + q[w]) / 2)) for w in q
    )
    assert r["js_divergence"] == pytest.approx(round(js, 6), abs=1e-6)


def test_bm25_persisted_index_parity_and_time_travel(spark, tmp_path):
    """Served-from-index BM25 == rebuild-now BM25 row-for-row (one
    scoring kernel over one state definition); versioning the index
    gives point-in-time retrieval — after the corpus (and index)
    grows, version=0 still answers from the ORIGINAL state."""
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="red apple pie with red sugar"),
            Row(doc_id=2, text="green apple tart"),
            Row(doc_id=3, text="red brick house"),
        ]
    )
    queries = {"q0": "red apple", "q1": "house"}
    qterms = spark.createDataFrame(
        [
            (qid, t)
            for qid, q in sorted(queries.items())
            for t in sorted(set(q.lower().split()))
        ],
        "query_id string, term string",
    )
    root = str(tmp_path / "idx")
    versions = text.bm25_build_index(docs, root)
    assert set(versions) == {
        "postings", "doclen", "termdf", "stats", "manifest",
    }

    now = sorted(
        map(tuple, text.doc_bm25_topk(docs, queries, k=2).collect())
    )
    served = sorted(
        map(
            tuple,
            text.bm25_topk_from_index(spark, root, qterms, k=2).collect(),
        )
    )
    assert served == now

    # corpus grows; index rebuilt as NEW versions of the same tables
    docs2 = docs.unionAll(
        spark.createDataFrame([Row(doc_id=4, text="red red red house")])
    )
    text.bm25_build_index(docs2, root)
    v1 = sorted(
        map(
            tuple,
            text.bm25_topk_from_index(spark, root, qterms, k=2).collect(),
        )
    )
    assert v1 == sorted(
        map(tuple, text.doc_bm25_topk(docs2, queries, k=2).collect())
    )
    assert v1 != served  # doc 4 changes the 'red'/'house' rankings
    # point-in-time: version 0 still answers from the original state
    v0 = sorted(
        map(
            tuple,
            text.bm25_topk_from_index(
                spark, root, qterms, k=2, version=0
            ).collect(),
        )
    )
    assert v0 == served


def test_bm25_manifest_makes_rebuild_atomic_for_readers(spark, tmp_path):
    """VERDICT r9 order #4: a reader racing a rebuild must never
    observe a MIXED quadruple. Simulate the race window — a rebuild
    that has committed new component versions but has NOT yet
    published its manifest — and assert the reader still scores
    against the OLD consistent state; publishing the manifest then
    flips all four atomically."""
    from pyspark.sql import Row

    from parquet_combiner_spark.tools import txlog

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="red apple pie"),
            Row(doc_id=2, text="green apple tart"),
            Row(doc_id=3, text="red brick house"),
        ]
    )
    qterms = spark.createDataFrame(
        [("q0", "red"), ("q0", "apple")], "query_id string, term string"
    )
    root = str(tmp_path / "idx")
    text.bm25_build_index(docs, root)
    before = sorted(
        map(
            tuple,
            text.bm25_topk_from_index(spark, root, qterms, k=3).collect(),
        )
    )

    # a rebuild in flight: new component versions exist, manifest not
    # yet published (crash window / mid-rebuild window)
    docs2 = docs.unionAll(
        spark.createDataFrame([Row(doc_id=4, text="red red red apple")])
    )
    tf, dl, df_, corpus = text._bm25_frames(docs2, "text", "doc_id")
    staged = {}
    for name, frame in (
        ("postings", tf),
        ("doclen", dl),
        ("termdf", df_),
        ("stats", corpus),
    ):
        staged[name] = txlog.commit(
            frame, f"{root}/{name}", action="overwrite"
        )
    # reader during the window: OLD answer, not a postings@new /
    # termdf@old franken-state
    during = sorted(
        map(
            tuple,
            text.bm25_topk_from_index(spark, root, qterms, k=3).collect(),
        )
    )
    assert during == before
    # the manifest publish is the atomic flip
    manifest = spark.createDataFrame(
        sorted(staged.items()), "component string, version bigint"
    )
    txlog.commit(manifest, f"{root}/manifest", action="overwrite")
    after = sorted(
        map(
            tuple,
            text.bm25_topk_from_index(spark, root, qterms, k=3).collect(),
        )
    )
    assert after == sorted(
        map(
            tuple,
            text.doc_bm25_topk(docs2, {"q0": "red apple"}, k=3).collect(),
        )
    )
    assert after != before
    # point-in-time: manifest version 0 still answers the old state
    v0 = sorted(
        map(
            tuple,
            text.bm25_topk_from_index(
                spark, root, qterms, k=3, version=0
            ).collect(),
        )
    )
    assert v0 == before
