"""Property-based arithmetic/numeric-safety tests (model:
reference tests/property_arithmetic.rs and numeric_safety_tests.rs).

Each example batches many generated rows into ONE relation and compares
the engine's evaluation of IQL arithmetic against a host-side model of
the intended semantics (JVM: `/` promotes to double, `%` keeps the
dividend's sign), so a property run costs a handful of Spark jobs, not
one per case.
"""

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from inputlayer_spark.engine import IQLEngine

ints = st.integers(min_value=-(10**9), max_value=10**9)
floats = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False, width=64
)


def _model(op: str, a, b):
    if op == "+":
        return a + b
    if op == "-":
        return a - b
    if op == "*":
        return a * b
    if op == "/":
        return a / b  # IQL: division promotes to float (docs/spec/types.md:179)
    if op == "%":
        # JVM remainder: sign of the dividend (Rust % agrees)
        return math.fmod(a, b)
    raise AssertionError(op)


@settings(max_examples=3, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.tuples(ints, ints.filter(lambda v: v != 0)), min_size=1, max_size=40))
def test_int_arithmetic_matches_model(spark, pairs):
    eng = IQLEngine(spark)
    eng.current.relations.pop("p", None)
    eng.execute("+p(a: int, b: int)")
    eng._insert_rows("p", pairs)
    df = eng.query(
        "calc(A, B, S, D, M, Q, R) <- p(A, B), "
        "S = A + B, D = A - B, M = A * B, Q = A / B, R = A % B\n"
        "?calc(A, B, S, D, M, Q, R)"
    )
    got = {(r["A"], r["B"]): r for r in df.collect()}
    for a, b in pairs:
        r = got[(a, b)]
        assert r["S"] == a + b
        assert r["D"] == a - b
        assert r["M"] == a * b
        assert r["Q"] == pytest.approx(_model("/", a, b), rel=1e-12)
        assert r["R"] == pytest.approx(_model("%", a, b), rel=1e-12)


@settings(max_examples=3, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(floats, floats.filter(lambda v: abs(v) > 1e-6)),
        min_size=1,
        max_size=40,
    )
)
def test_float_arithmetic_matches_model(spark, pairs):
    eng = IQLEngine(spark)
    eng.execute("+q(a: float, b: float)")
    eng._insert_rows("q", pairs)
    df = eng.query(
        "fcalc(A, B, S, M, Q) <- q(A, B), S = A + B, M = A * B, Q = A / B\n"
        "?fcalc(A, B, S, M, Q)"
    )
    got = {(r["A"], r["B"]): r for r in df.collect()}
    for a, b in pairs:
        r = got[(a, b)]
        assert r["S"] == pytest.approx(a + b, rel=1e-12, abs=1e-12)
        assert r["M"] == pytest.approx(a * b, rel=1e-12, abs=1e-12)
        assert r["Q"] == pytest.approx(a / b, rel=1e-12, abs=1e-12)


@settings(max_examples=3, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(
            st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
            min_size=4,
            max_size=16,
        ),
        min_size=1,
        max_size=10,
    )
)
def test_quantize_roundtrip_error_bound(spark, vecs):
    """quantize_symmetric → dequantize_scaled reconstructs within half a
    quantization step (reference numeric-safety invariant)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from inputlayer_spark.functions import vector as V

    schema = T.StructType(
        [
            T.StructField("i", T.LongType()),
            T.StructField("v", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame(list(enumerate(vecs)), schema=schema)
    max_abs = F.array_max(F.transform(F.col("v"), lambda x: F.abs(x.cast("double"))))
    max_abs_sql = "array_max(transform(`v`, e -> abs(CAST(e AS DOUBLE))))"
    recon = F.expr(
        V.dequantize_scaled(V.quantize_symmetric("`v`"), f"({max_abs_sql} / 127.0D)")
    )
    err = F.array_max(
        F.zip_with(F.col("v"), recon, lambda a, b: F.abs(a.cast("double") - b))
    )
    rows = df.select("i", err.alias("err"), max_abs.alias("ma")).collect()
    for r in rows:
        bound = (r["ma"] / 127.0) * 0.5 + 1e-9 if r["ma"] else 1e-9
        assert r["err"] is None or r["err"] <= bound
