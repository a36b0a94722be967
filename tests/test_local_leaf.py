"""Driver-built leaves (session.small_local_df) and the edge adjacency
that bound transitive-closure reads keep across queries."""

import datetime
import math
import time
import uuid

import pytest
from pyspark.sql import types as T

from inputlayer_spark import session
from inputlayer_spark.engine import IQLEngine

from tests.conftest import rows

SCHEMA = T.StructType(
    [
        T.StructField("i", T.LongType(), True),
        T.StructField("d", T.DoubleType(), True),
        T.StructField("s", T.StringType(), True),
        T.StructField("b", T.BooleanType(), True),
        T.StructField("v", T.ArrayType(T.FloatType(), True), True),
    ]
)
ROWS = [
    (None, float("nan"), "ünïcødé ✓", True, [0.5, None, -1.25]),
    (-(2**63), float("inf"), None, False, []),
    (2**63 - 1, float("-inf"), "", None, None),
    (0, None, "plain", True, [None]),
]


def _plain(values):
    """Rows with NaN made comparable (NaN != NaN in Python)."""
    return [
        tuple("NaN" if isinstance(x, float) and math.isnan(x) else x for x in r)
        for r in values
    ]


def _leaf(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


@pytest.mark.parametrize("cap,leaf", [(100, "LocalRelation"), (0, "LogicalRDD")])
def test_small_local_df_keeps_rows_and_schema_on_both_sides_of_cap(
    spark, monkeypatch, cap, leaf
):
    monkeypatch.setattr(session, "LOCAL_LEAF_MAX_ROWS", cap)
    df = session.small_local_df(spark, ROWS, SCHEMA)
    assert _leaf(df) == leaf
    assert df.schema == SCHEMA
    assert _plain(df.collect()) == _plain(ROWS)
    empty = session.small_local_df(spark, [], SCHEMA)
    assert empty.schema == SCHEMA and empty.collect() == []


def test_small_local_df_keeps_local_timestamps(spark, monkeypatch):
    """Spark reads a naive datetime as local time; the Arrow build must
    too, or every timestamp shifts by the UTC offset."""
    schema = T.StructType([T.StructField("t", T.TimestampType(), True)])
    values = [(datetime.datetime(2024, 3, 1, 12, 30, 5, 123456),), (None,)]
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        got = session.small_local_df(spark, values, schema).collect()
    finally:
        monkeypatch.undo()
        time.tzset()
    assert [tuple(r) for r in got] == values


def test_small_local_df_refuses_float_in_integer_column(spark):
    schema = T.StructType([T.StructField("c0", T.LongType(), True)])
    with pytest.raises(TypeError):
        session.small_local_df(spark, [(1.5,)], schema)


def test_pinned_view_keeps_local_relation_leaf(engine):
    """A small recursive view comes back from the driver-local closure as
    an unpinned LocalRelation; maintenance must not checkpoint it again."""
    engine.execute("+e[(1, 2), (2, 3), (3, 4)]")
    engine.execute("+tc(X, Y) <- e(X, Y)\n+tc(X, Z) <- e(X, Y), tc(Y, Z)")
    engine.query("?tc(X, Y)").count()
    cached = engine._cached_view_get("tc")
    assert _leaf(cached) == "LocalRelation"
    assert engine._pinned_view("tc") is cached


TC = "+reach(X, Y) <- edge(X, Y)\n+reach(X, Z) <- edge(X, Y), reach(Y, Z)"
EDGES = "+edge[(1, 2), (2, 3), (3, 4), (10, 11)]"


def _fresh_answer(spark, program: str, query: str):
    fresh = IQLEngine(spark)
    fresh.execute(program)
    return rows(fresh.query(query))


@pytest.mark.parametrize(
    "write,query",
    [
        ("+edge[(4, 5)]", "?reach(1, Y)"),
        ("-edge(2, 3)", "?reach(1, Y)"),
        ("edge(4, 6)", "?reach(1, Y)"),
        ("+edge[(0, 3)]", "?reach(X, 4)"),
    ],
)
def test_adjacency_cache_follows_edge_writes(engine, spark, write, query):
    engine.execute(EDGES)
    engine.execute(TC)
    rows(engine.query(query))  # builds the adjacency
    forward = query.startswith("?reach(1")
    assert ("default", "edge", forward) in engine._adjacency
    engine.execute(write)
    want = _fresh_answer(spark, "\n".join([EDGES, TC, write]), query)
    assert rows(engine.query(query)) == want
    assert rows(engine.query(query)) == want  # a warm read agrees too


def test_warm_bound_read_runs_at_most_one_job(engine, spark):
    engine.execute(EDGES)
    engine.execute(TC)
    assert rows(engine.query("?reach(1, Y)")) == [(1, 2), (1, 3), (1, 4)]
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    tag = f"warm-bound-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        got = rows(engine.query("?reach(2, Y)"))
    finally:
        sc.removeJobTag(tag)
    jsc.listenerBus().waitUntilEmpty()
    assert got == [(2, 3), (2, 4)]
    assert len(jsc.statusTracker().getJobIdsForTag(tag)) <= 1
