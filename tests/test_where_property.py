"""Property-based soundness for expression-predicate pruning
(`read_table_where`, and therefore the expr DML verbs' shared
`_sql_conjunct_constraints` → `_band_touched` stack): for ANY
predicate the grammar below generates — IN lists, equalities, ranges,
conjunctions, cross-type coercion shapes ('042' = 42), int probes on
decimal bucket layouts — the pruned read must return EXACTLY the
rows a full-scan `.where(pred)` returns. Both paths share the
row-level filter, so any divergence is a wrong file skip: the class
of bug ADVICE r13 found twice (rendering-inconsistent bucket/bloom
probes). The tables are built once with deliberately adversarial
layouts: interleaved keys (envelopes span everything), zero-padded
string keys under a bucket transform + bloom sidecars, and a
decimal-keyed bucket layout whose path rendering ('42.00') never
matches str(42)."""

from __future__ import annotations

import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import Row

from parquet_combiner_spark.tools import txlog

pytestmark = pytest.mark.txlifecycle


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("whereprop")
    rows = [
        Row(ik=i, sk=f"{i % 60:03d}", dk=f"{i % 25}.00", v=float(i))
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "ik long, sk string, dk string, v double"
    ).selectExpr("ik", "sk", "cast(dk as decimal(10,2)) as dk", "v")
    # A: string-bucketed layout, bloom + stats on the int key,
    # interleaved so zone envelopes span everything
    a = str(root / "a")
    txlog.commit(
        df.repartition(8, "sk"), a,
        partition_by=["bucket(4, sk)"],
        stats_cols=["ik", "sk"],
        bloom_cols={"ik": 1000, "sk": 1000},
    )
    # B: decimal-bucketed layout (the '42.00'-rendering hazard)
    b = str(root / "b")
    txlog.commit(
        df.repartition(8, "ik"), b,
        partition_by=["bucket(4, dk)"],
        stats_cols=["ik"],
    )
    return a, b


_INT = st.integers(-3, 210)
_STR = st.one_of(
    st.integers(0, 65).map(lambda i: f"{i:03d}"),  # zero-padded hits
    st.integers(0, 65).map(str),                   # unpadded ('42')
)


@st.composite
def _predicate(draw):
    def atom():
        kind = draw(
            st.sampled_from(
                ["ik_eq", "ik_in", "ik_between", "ik_ge",
                 "sk_eq", "sk_in", "sk_eq_int", "dk_eq", "dk_in",
                 "v_lt"]
            )
        )
        if kind == "ik_eq":
            return f"ik = {draw(_INT)}"
        if kind == "ik_in":
            vals = draw(st.lists(_INT, min_size=1, max_size=6))
            return f"ik IN ({', '.join(map(str, vals))})"
        if kind == "ik_between":
            a, b = draw(_INT), draw(_INT)
            return f"ik BETWEEN {min(a, b)} AND {max(a, b)}"
        if kind == "ik_ge":
            return f"ik >= {draw(_INT)}"
        if kind == "sk_eq":
            return f"sk = '{draw(_STR)}'"
        if kind == "sk_in":
            vals = draw(st.lists(_STR, min_size=1, max_size=5))
            return "sk IN ({})".format(
                ", ".join(f"'{v}'" for v in vals)
            )
        if kind == "sk_eq_int":
            # int literal vs zero-padded string column: row-level
            # numeric coercion matches '042' = 42 — the wrong-skip
            # shape the bloom/bucket type gates exist for (all sk
            # values are numeric-looking, so ANSI coercion is safe)
            return f"sk = {draw(st.integers(0, 65))}"
        if kind == "dk_eq":
            return f"dk = {draw(st.integers(0, 30))}"
        if kind == "dk_in":
            vals = draw(
                st.lists(st.integers(0, 30), min_size=1, max_size=4)
            )
            return f"dk IN ({', '.join(map(str, vals))})"
        return f"v < {draw(st.integers(-5, 220))}.5"

    return " AND ".join(atom() for _ in range(draw(st.integers(1, 3))))


@given(pred=_predicate(), which=st.sampled_from([0, 1]))
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
def test_read_table_where_never_drops_matching_rows(
    spark, tables, pred, which
):
    table = tables[which]
    got = sorted(
        tuple(r) for r in
        txlog.read_table_where(spark, table, pred).collect()
    )
    want = sorted(
        tuple(r) for r in
        txlog.read_table(spark, table).where(pred).collect()
    )
    assert got == want, (table, pred)


@pytest.mark.parametrize("which", [0, 1])
@pytest.mark.parametrize(
    "shape, sql",
    [
        (("band", "ik", 40, 90), "ik BETWEEN 40 AND 90"),
        (
            ("multi", {"ik": (20, 150), "sk": ("010", "030")}),
            "ik BETWEEN 20 AND 150 AND sk BETWEEN '010' AND '030'",
        ),
        (("in", "ik", [5, 42, None, 77]), "ik IN (5, 42, 77)"),
    ],
)
def test_narrow_readers_agree_with_read_table_where(
    spark, tables, which, shape, sql
):
    """Every narrow reader is one pruned read: it returns the rows of
    a full-scan ``.where`` and scans exactly the files
    ``read_table_where`` scans for the equivalent SQL."""
    table = tables[which]
    kind, *args = shape
    reader = {
        "band": txlog.read_table_pruned,
        "multi": txlog.read_table_pruned_multi,
        "in": txlog.read_table_pruned_in,
    }[kind]
    got = reader(spark, table, *args)
    want = txlog.read_table(spark, table).where(sql)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    assert sorted(got.inputFiles()) == sorted(
        txlog.read_table_where(spark, table, sql).inputFiles()
    )
