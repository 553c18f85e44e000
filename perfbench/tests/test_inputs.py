"""The same seed gives byte-identical inputs; another seed does not."""

import pytest

from perfbench import inputs


def test_corpus_is_byte_identical_per_seed(tmp_path):
    a = inputs.corpus(str(tmp_path / "a"), 3, docs=200, vecs=40)
    b = inputs.corpus(str(tmp_path / "b"), 3, docs=200, vecs=40)
    c = inputs.corpus(str(tmp_path / "c"), 4, docs=200, vecs=40)
    assert inputs.dir_digest(a["dir"]) == inputs.dir_digest(b["dir"])
    assert inputs.dir_digest(a["dir"]) != inputs.dir_digest(c["dir"])


def test_tx_base_is_byte_identical_per_seed(tmp_path):
    def digest(where, seed):
        return inputs.dir_digest(
            inputs.tx_base(str(tmp_path / where), seed, rows=500)
        )

    assert digest("a", 5) == digest("b", 5) != digest("c", 6)


def test_corpus_cache_is_reused(tmp_path):
    a = inputs.corpus(str(tmp_path), 3, docs=200, vecs=40)
    stamp = (tmp_path / "inputs").stat().st_mtime_ns
    assert inputs.corpus(str(tmp_path), 3, docs=200, vecs=40) == a
    assert (tmp_path / "inputs").stat().st_mtime_ns == stamp


def test_cdc_cycles_are_identical_per_seed_and_differ_per_cycle():
    one, two = inputs.cdc_cycle(9, 2), inputs.cdc_cycle(9, 2)
    assert one["merge"].equals(two["merge"])
    assert all(x.equals(y) for x, y in zip(one["ingest"], two["ingest"]))
    assert one["delete_cameras"] == two["delete_cameras"]
    assert (one["point_oid"], one["range_lo"]) == (
        two["point_oid"], two["range_lo"]
    )
    assert not inputs.cdc_cycle(9, 3)["merge"].equals(one["merge"])
    assert not inputs.cdc_cycle(10, 2)["merge"].equals(one["merge"])


@pytest.fixture(scope="module")
def spark():
    from parquet_combiner_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]",
                  shuffle_partitions=4)
    yield s
    s.stop()


def test_detections_are_byte_identical_per_seed(spark, tmp_path):
    def build(where, seed):
        d = inputs.detections(spark, str(tmp_path / where), seed,
                              rows=3000, locations=40)
        return inputs.dir_digest(d["dataA"]), inputs.dir_digest(d["dataB"])

    first = build("a", 5)
    assert build("b", 5) == first
    # a second call in the same place reuses the cached copy
    assert build("a", 5) == first
    other = build("c", 6)
    assert other[0] != first[0] and other[1] != first[1]
