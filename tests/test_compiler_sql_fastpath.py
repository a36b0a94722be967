"""Pins for the compiler's single SQL compile path.

compile_body/compile_head render every term to a SQL string (one
F.expr / selectExpr / filter(str) round-trip) instead of building
Column towers. These statements used to run through both that SQL path
and a Column-expression twin, with identical schema and rows required of
the two. The twin is gone; its output for each statement is pinned
below (recorded from the Column path before its removal), so the SQL
path still cannot silently change what a query computes.
"""

from __future__ import annotations

import pytest

from inputlayer_spark import compiler
from tests.conftest import rows


# Statement battery: literals of every type (quoting/escaping edge
# cases), arithmetic incl. / and %, null semantics, every standard
# aggregate incl. the saturating sum battery, ranking aggregates,
# repeated vars / constants in atoms, negation. Each entry is
# (statements, result column types, sorted rows).
CASES = [
    # scans, constants, repeated vars
    (
        "+r(1, 2.5, \"a'b\\\\c\", true)\n+r(2, -0.75, \"x\\ny\", false)\n"
        "+r(3, 1e-07, \"\", true)\n+r(1, 2.5, \"a'b\\\\c\", true)\n"
        "+q(X, S) <- r(X, _, S, true)\n?q(X, S)",
        ["bigint", "string"],
        [(1, "a'b\\c"), (2, "x\ny"), (3, "")],
    ),
    (
        "+r(1, 1)\n+r(1, 2)\n+r(3, 3)\n+same(X) <- r(X, X)\n?same(X)",
        ["bigint"],
        [(1,), (3,)],
    ),
    (
        "+r(1, \"k\")\n+r(2, \"m\")\n+pick(X) <- r(X, \"k\")\n?pick(X)",
        ["bigint"],
        [(1,)],
    ),
    # comparisons: every op, null equality, string ordering quirks
    (
        "+v(1, 10)\n+v(2, null)\n+v(3, 0)\n"
        "+keep(X) <- v(X, N), N != 0\n?keep(X)",
        ["bigint"],
        [(1,), (2,)],
    ),
    (
        "+v(1, 10)\n+v(2, 20)\n+w(X, Y) <- v(X, A), v(Y, B), A < B\n?w(X, Y)",
        ["bigint", "bigint"],
        [(1, 2)],
    ),
    (
        "+s(\"apple\")\n+s(\"pear\")\n+lt(X) <- s(X), X < \"m\"\n?lt(X)",
        ["string"],
        [("apple",)],
    ),
    # bindings & arithmetic: nesting, %, /, int/float mix
    (
        "+n(7)\n+n(10)\n+m(X, Y, Z, W) <- n(X), Y = X % 3, Z = X / 4,"
        " W = (X + 1) * (X - 2)\n?m(X, Y, Z, W)",
        ["bigint", "bigint", "double", "bigint"],
        [(7, 1, 1.75, 40), (10, 1, 2.5, 88)],
    ),
    (
        "+n(5)\n+big(X, Y) <- n(X), Y = X + 9000000000\n?big(X, Y)",
        ["bigint", "bigint"],
        [(5, 9000000005)],
    ),
    # aggregates: all standard ones, grouped and global
    (
        "+o(1, 10)\n+o(1, 20)\n+o(2, 5)\n"
        "+agg(K, count<V>, sum<V>, min<V>, max<V>, avg<V>, count_distinct<V>)"
        " <- o(K, V)\n?agg(K, C, S, MN, MX, A, CD)",
        ["bigint", "bigint", "bigint", "bigint", "bigint", "double", "bigint"],
        [(1, 2, 30, 10, 20, 15.0, 2), (2, 1, 5, 5, 5, 5.0, 1)],
    ),
    # saturating sum: i64 overflow clamps, float truncation, strings
    (
        "+h(1, 9223372036854775807)\n+h(2, 9223372036854775807)\n"
        "+t(sum<V>) <- h(_, V)\n?t(S)",
        ["bigint"],
        [(9223372036854775807,)],
    ),
    (
        "+h(1, -9223372036854775807)\n+h(2, -9223372036854775807)\n"
        "+t(sum<V>) <- h(_, V)\n?t(S)",
        ["bigint"],
        [(-9223372036854775808,)],
    ),
    (
        "+f(1, 0.1)\n+f(2, 0.2)\n+f(3, 0.3)\n+t(sum<V>) <- f(_, V)\n?t(S)",
        ["bigint"],
        [(0,)],
    ),
    (
        "+g(1, \"aa\")\n+g(2, \"bb\")\n+t(sum<V>) <- g(_, V)\n?t(S)",
        ["bigint"],
        [(0,)],
    ),
    # ranking aggregates: top_k both arities, threshold, within_radius
    (
        "+sc(\"a\", 1, 10)\n+sc(\"a\", 2, 30)\n+sc(\"a\", 3, 20)\n"
        "+sc(\"b\", 4, 5)\n"
        "+top(G, top_k<2, P, S:desc>) <- sc(G, P, S)\n?top(G, P, S)",
        ["string", "bigint", "bigint"],
        [("a", 2, 30), ("a", 3, 20), ("b", 4, 5)],
    ),
    (
        "+sc(1, 10)\n+sc(2, 30)\n+sc(3, 20)\n"
        "+top(top_k<2, S:asc>) <- sc(_, S)\n?top(S)",
        ["bigint"],
        [(10,), (20,)],
    ),
    (
        "+sc(1, 10)\n+sc(2, 30)\n+sc(3, 20)\n"
        "+top(top_k_threshold<2, 15, P, S:desc>) <- sc(P, S)\n?top(P, S)",
        ["bigint", "bigint"],
        [(2, 30), (3, 20)],
    ),
    (
        "+sc(1, 10)\n+sc(2, 30)\n+sc(3, 20)\n"
        "+near(within_radius<15, P, S:asc>) <- sc(P, S)\n?near(P, S)",
        ["bigint", "bigint"],
        [(1, 10)],
    ),
    # negation over shared keys
    (
        "+a(1)\n+a(2)\n+a(3)\n+b(2)\n+only(X) <- a(X), !b(X)\n?only(X)",
        ["bigint"],
        [(1,), (3,)],
    ),
]
PINNED = {stmts: (schema, want) for stmts, schema, want in CASES}


def _run(engine_factory, stmts: str):
    eng = engine_factory()
    df = eng.query(stmts)
    return [f.dataType.simpleString() for f in df.schema.fields], rows(df)


@pytest.mark.parametrize("stmts", list(PINNED))
def test_sql_fastpath_matches_column_path(spark, stmts):
    from inputlayer_spark.engine import IQLEngine

    schema, got = _run(lambda: IQLEngine(spark), stmts)
    assert (schema, got) == PINNED[stmts]


def test_sql_const_rendering_types(spark):
    """sql_of_const produces literals with F.lit's exact type and value."""
    import math

    from pyspark.sql import functions as F

    vals = [
        None,
        True,
        False,
        0,
        -1,
        2147483647,
        -2147483648,
        2147483648,
        -2147483649,
        9223372036854775807,
        -9223372036854775808,
        0.0,
        -0.0,
        2.5,
        1e-07,
        1.7976931348623157e308,
        5e-324,
        float("inf"),
        float("-inf"),
        float("nan"),
        "",
        "a'b",
        'a"b',
        "a\\b",
        "line1\nline2",
        "cr\rhere",
        "tab\there",
    ]
    sqls = [compiler.sql_of_const(v) for v in vals]
    a = spark.range(1).select(
        *[F.lit(v).alias(f"c{i}") for i, v in enumerate(vals)]
    )
    b = spark.range(1).selectExpr(
        *[f"{s} AS c{i}" for i, s in enumerate(sqls)]
    )
    assert [f.dataType for f in a.schema.fields] == [
        f.dataType for f in b.schema.fields
    ]
    nan_at = vals.index(next(v for v in vals if isinstance(v, float) and v != v))
    (ra,), (rb,) = a.collect(), b.collect()
    assert math.isnan(ra[nan_at]) and math.isnan(rb[nan_at])
    assert [x for i, x in enumerate(ra) if i != nan_at] == [
        x for i, x in enumerate(rb) if i != nan_at
    ]
    assert compiler.sql_of_const(float("inf")) == "CAST('Infinity' AS DOUBLE)"


def test_int_literal_beyond_int64_is_a_compile_error(engine):
    """No Spark literal holds it: the compiler names the literal instead
    of letting F.lit fail inside py4j. 1e400 is a float and stays inf."""
    with pytest.raises(compiler.CompileError, match="99999999999999999999"):
        engine.query("+n(1)\n?n(X), Y = X + 99999999999999999999")
    with pytest.raises(compiler.CompileError, match="-9223372036854775809"):
        compiler.sql_of_const(-(1 << 63) - 1)
    df = engine.query("+n(1)\n?n(X), Y = X + 1e400")
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["bigint", "double"]
    assert rows(df) == [(1, float("inf"))]


def test_delete_int_literal_beyond_int64_is_a_compile_error(engine):
    """Delete patterns render their constants through the same SQL
    literal path as queries: a literal no Spark type holds is a
    CompileError naming it, and the relation keeps its rows."""
    engine.execute("+big(1, 2)\n+big(3, 4)")
    with pytest.raises(compiler.CompileError, match="99999999999999999999"):
        engine.execute("-big(99999999999999999999, _)")
    with pytest.raises(compiler.CompileError, match="99999999999999999999"):
        engine.execute("-big(99999999999999999999, Y) <- big(1, Y)")
    assert rows(engine.query("?big(X, Y)")) == [(1, 2), (3, 4)]


@pytest.mark.parametrize("name", ["__score", "__val", "__rn", "_g"])
def test_ranking_aggregate_over_internal_looking_names(engine, name):
    """Body variables may be named like the ranking window's internal
    columns (the VARIABLE token is [A-Z_][A-Za-z0-9_]*); they must not
    shadow them."""
    prog = (
        "+sc(1, 10)\n+sc(2, 30)\n+sc(3, 20)\n"
        f"+top(top_k<2, {name}, S:desc>) <- sc({name}, S)\n?top(P, S)\n"
    )
    assert rows(engine.query(prog)) == [(2, 30), (3, 20)]
    prog = (
        "+sc(1, 10)\n+sc(2, 30)\n+sc(3, 20)\n"
        f"+low(top_k<2, P, {name}:asc>) <- sc(P, {name})\n?low(P, S)\n"
    )
    assert rows(engine.query(prog)) == [(1, 10), (3, 20)]


def test_cosine_binding_builds_in_few_py4j_round_trips(engine):
    """A 16-d cosine binding compiles to one SQL expression: tens of
    py4j round-trips, not the ~600 a Column tower of the same
    expression costs."""
    from py4j.clientserver import ClientServerConnection

    q = ", ".join(f"{(i - 8) / 10!r}" for i in range(16))
    engine.query(f"+emb(1, [{q}])\n?emb(Id, V)").collect()
    calls = [0]
    send = ClientServerConnection.send_command

    def counted(conn, command, *args, **kwargs):
        calls[0] += 1
        return send(conn, command, *args, **kwargs)

    ClientServerConnection.send_command = counted
    try:
        df = engine.query(f"?emb(Id, V), C = cosine(V, [{q}]), C < 0.7")
    finally:
        ClientServerConnection.send_command = send
    assert calls[0] <= 100
    assert [r[0] for r in df.collect()] == [1]
