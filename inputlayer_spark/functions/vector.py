"""Vector builtins as Spark SQL renderers.

Parity targets (semantics, not code) from the reference
`/root/reference/src/vector_ops.rs`:
  euclidean :87, cosine :139 (returns 1 - similarity, i.e. a distance),
  dot :175, manhattan :194, hamming :232, normalize :390, vec_add :402,
  vec_scale :410, vec_dim :416, vector_norm :381,
  quantize_linear :450 (min-max → [-128,127]), quantize_symmetric :487
  (±max_abs → ±127, zero-preserving), dequantize :535, dequantize_scaled
  :547, int8 distances :562+, lsh_bucket :1038 (sign hash over
  deterministic per-table hyperplanes).

Each builtin is ONE renderer: it takes its operands as SQL text and
returns SQL text, and the caller parses the whole expression with a
single `F.expr` / `selectExpr` / `filter(str)` py4j round-trip. The IQL
compiler renders operands from terms; library callers pass quoted
column names (`compiler.sql_ident`) or `vec_literal` text. The
expressions are JVM-side higher-order functions, so whole-stage codegen
applies. All arithmetic is done in double precision (elements are cast)
so results match a float64 oracle to ~1e-12 regardless of input being
float32. The LSH bucket and multi-probe hashes are the exception: their
hyperplane family is a Python PRNG, so they run as Arrow-batched pandas
UDFs (see the LSH section).
"""

from __future__ import annotations

import math

from pyspark.sql import Column

# Lambda parameter names in rendered SQL. Operand text is spliced into
# lambda bodies (vec_scale, normalize, quantize_*), and Spark resolves
# lambda variables case-insensitively before columns, so these names
# sit outside the IQL variable grammar ([A-Z_][A-Za-z0-9_]*): no operand
# column can be captured by them.
_X, _Y, _ACC = "`$x`", "`$y`", "`$acc`"

_SQL_INF = "CAST('Infinity' AS DOUBLE)"


def float_sql(v: float) -> str:
    """SQL literal with the DOUBLE type and value of F.lit(float(v))."""
    v = float(v)
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return _SQL_INF if v > 0 else "CAST('-Infinity' AS DOUBLE)"
    # repr() is the shortest exact round-trip decimal; the D suffix makes
    # the literal DOUBLE (a bare decimal parses as DECIMAL)
    return repr(v) + "D"


def vec_literal(values, element_type: str = "float") -> str:
    """Literal vector: ONE parse instead of two py4j round-trips per
    component for `F.array(*[F.lit(x) ...])`, bit-equal to that form."""
    body = ",".join(float_sql(v) for v in values)
    return f"CAST(ARRAY({body}) AS ARRAY<{element_type.upper()}>)"


def _d(x: str) -> str:
    return f"CAST({x} AS DOUBLE)"


def _fold_sum(arr: str) -> str:
    return f"aggregate({arr}, 0.0D, ({_ACC}, {_X}) -> {_ACC} + {_X})"


def _zip(a: str, b: str, body: str) -> str:
    return f"zip_with({a}, {b}, ({_X}, {_Y}) -> {body})"


def _same_dim(a: str, b: str, expr: str) -> str:
    """Distances are infinite on a dimension mismatch (vector_ops.rs:175)."""
    return f"CASE WHEN size({a}) != size({b}) THEN {_SQL_INF} ELSE {expr} END"


def vec_dim(a: str) -> str:
    return f"CAST(size({a}) AS BIGINT)"


def _dot_raw(a: str, b: str) -> str:
    return _fold_sum(_zip(a, b, f"{_d(_X)} * {_d(_Y)}"))


def vector_norm(a: str) -> str:
    return f"sqrt({_fold_sum(f'transform({a}, {_X} -> {_d(_X)} * {_d(_X)})')})"


def dot(a: str, b: str) -> str:
    return _same_dim(a, b, _dot_raw(a, b))


def euclidean(a: str, b: str) -> str:
    diff = f"({_d(_X)} - {_d(_Y)})"
    return _same_dim(a, b, f"sqrt({_fold_sum(_zip(a, b, f'{diff} * {diff}'))})")


def manhattan(a: str, b: str) -> str:
    return _same_dim(a, b, _fold_sum(_zip(a, b, f"abs({_d(_X)} - {_d(_Y)})")))


def cosine(a: str, b: str) -> str:
    """Cosine *distance* = 1 − cosine similarity (vector_ops.rs:139).

    Zero-norm input → distance 0.0 ("treat zero vectors as identical",
    vector_ops.rs:158-160); similarity clamped to [-1, 1] before the
    subtraction, as the reference does.
    """
    na, nb = vector_norm(a), vector_norm(b)
    sim = f"least(greatest({_dot_raw(a, b)} / ({na} * {nb}), -1.0D), 1.0D)"
    dist = f"CASE WHEN ({na} = 0.0D) OR ({nb} = 0.0D) THEN 0.0D ELSE 1.0D - {sim} END"
    return _same_dim(a, b, dist)


def hamming(a: str, b: str) -> str:
    """Count of differing positions (vector_ops.rs:232); null on a
    dimension mismatch."""
    raw = f"CAST(size(filter({_zip(a, b, f'{_X} != {_Y}')}, {_X} -> {_X})) AS BIGINT)"
    return f"CASE WHEN size({a}) != size({b}) THEN CAST(NULL AS BIGINT) ELSE {raw} END"


def normalize(a: str) -> str:
    n = vector_norm(a)
    return (
        f"CASE WHEN ({n} = 0.0D) THEN CAST({a} AS ARRAY<DOUBLE>)"
        f" ELSE transform({a}, {_X} -> {_d(_X)} / {n}) END"
    )


def vec_add(a: str, b: str) -> str:
    return _zip(a, b, f"{_d(_X)} + {_d(_Y)}")


def vec_scale(a: str, s: str) -> str:
    return f"transform({a}, {_X} -> {_d(_X)} * {_d(s)})"


def distance(metric: str, a: str, b: str) -> str:
    """Ranking distance of an index metric: smaller is nearer, so `dot`
    is negated (max dot == min negative dot)."""
    if metric == "dot":
        return f"(- {dot(a, b)})"
    return {
        "cosine": cosine,
        "euclidean": euclidean,
        "l2": euclidean,
        "manhattan": manhattan,
    }[metric](a, b)


# ------------------------------------------------------------ quantization


def _zero_i8(a: str) -> str:
    return f"transform({a}, {_X} -> CAST(0 AS TINYINT))"


def _clamp_i8(lo: str, x: str) -> str:
    return f"CAST(greatest({lo}, least(127.0D, round({x}))) AS TINYINT)"


def quantize_linear(a: str) -> str:
    """Min-max quantize to int8: min→-128, max→127 (vector_ops.rs:450)."""
    mn = f"CAST(array_min({a}) AS DOUBLE)"
    rng = f"(CAST(array_max({a}) AS DOUBLE) - {mn})"
    q = _clamp_i8("-128.0D", f"((({_d(_X)} - {mn}) / {rng}) * 255.0D) - 128.0D")
    return (
        f"CASE WHEN ({rng} = 0.0D) THEN {_zero_i8(a)}"
        f" ELSE transform({a}, {_X} -> {q}) END"
    )


def quantize_symmetric(a: str) -> str:
    """Symmetric quantize: ±max_abs → ±127, 0 → 0 (vector_ops.rs:487)."""
    max_abs = f"array_max(transform({a}, {_X} -> abs({_d(_X)})))"
    q = _clamp_i8("-127.0D", f"{_d(_X)} * (127.0D / {max_abs})")
    return (
        f"CASE WHEN ({max_abs} = 0.0D) THEN {_zero_i8(a)}"
        f" ELSE transform({a}, {_X} -> {q}) END"
    )


def dequantize(a: str) -> str:
    """int8 → double verbatim (vector_ops.rs:535)."""
    return f"transform({a}, {_X} -> {_d(_X)})"


def dequantize_scaled(a: str, scale: str) -> str:
    return f"transform({a}, {_X} -> {_d(_X)} * {_d(scale)})"


# int8 distances are the same expressions — elements cast to double anyway.
euclidean_int8 = euclidean
cosine_int8 = cosine
dot_int8 = dot
manhattan_int8 = manhattan


# ------------------------------------------------------------ LSH

# Reference-exact deterministic random-hyperplane family. The reference
# derives every hyperplane coefficient from a seeded PRNG:
# DefaultHasher (SipHash-1-3, keys (0,0)) over the u64 seed
# table*1_000_000_007 + h*31337 + d, low 32 bits mapped to [-1, 1] as f32
# (vector_ops.rs:891-927). Replicating SipHash-1-3 here reproduces the
# reference's bucket ids bit-for-bit (goldens 31_lsh/01..05,
# 16_vectors/10), so LSH results are portable across both engines.

import struct
from functools import lru_cache

import numpy as np
import pandas as pd

_SIP_MASK = (1 << 64) - 1


def _rotl64(x: int, b: int) -> int:
    return ((x << b) | (x >> (64 - b))) & _SIP_MASK


def _sipround(v0, v1, v2, v3):
    v0 = (v0 + v1) & _SIP_MASK
    v1 = _rotl64(v1, 13) ^ v0
    v0 = _rotl64(v0, 32)
    v2 = (v2 + v3) & _SIP_MASK
    v3 = _rotl64(v3, 16) ^ v2
    v0 = (v0 + v3) & _SIP_MASK
    v3 = _rotl64(v3, 21) ^ v0
    v2 = (v2 + v1) & _SIP_MASK
    v1 = _rotl64(v1, 17) ^ v2
    v2 = _rotl64(v2, 32)
    return v0, v1, v2, v3


def _siphash13(data: bytes) -> int:
    """SipHash-1-3 with zero keys — Rust std DefaultHasher::new()."""
    v0 = 0x736F6D6570736575
    v1 = 0x646F72616E646F6D
    v2 = 0x6C7967656E657261
    v3 = 0x7465646279746573
    n = len(data)
    i = 0
    while i + 8 <= n:
        m = int.from_bytes(data[i : i + 8], "little")
        v3 ^= m
        v0, v1, v2, v3 = _sipround(v0, v1, v2, v3)
        v0 ^= m
        i += 8
    b = (n & 0xFF) << 56 | int.from_bytes(data[i:n], "little")
    v3 ^= b
    v0, v1, v2, v3 = _sipround(v0, v1, v2, v3)
    v0 ^= b
    v2 ^= 0xFF
    for _ in range(3):
        v0, v1, v2, v3 = _sipround(v0, v1, v2, v3)
    return (v0 ^ v1 ^ v2 ^ v3) & _SIP_MASK


def _rand_f32(seed: int) -> float:
    bits = _siphash13(struct.pack("<Q", seed & _SIP_MASK)) & 0xFFFFFFFF
    unit = bits / 0xFFFFFFFF
    return struct.unpack("f", struct.pack("f", unit * 2.0 - 1.0))[0]


@lru_cache(maxsize=512)
def _ref_planes(table: int, num_bits: int, dim: int):
    """(num_bits, dim) float32 hyperplane matrix, identical to the
    reference's generate_hyperplanes (vector_ops.rs:909-927)."""
    data = [
        _rand_f32((table * 1_000_000_007 + h * 31337 + d) & _SIP_MASK)
        for h in range(min(num_bits, 62))
        for d in range(dim)
    ]
    return np.asarray(data, dtype=np.float32).reshape(min(num_bits, 62), dim)


def _ref_bucket(v, table: int, num_bits: int) -> int:
    """f32-accumulated sign hash (vector_ops.rs:991-1003)."""
    if v is None or len(v) == 0 or num_bits <= 0:
        return 0
    x = np.asarray(v, dtype=np.float32)
    dots = _ref_planes(table, num_bits, len(x)) @ x
    bucket = 0
    for h, d in enumerate(dots):
        if d > 0.0:
            bucket |= 1 << h
    return bucket


def _ref_probes(bucket: int, num_bits: int, num_probes: int):
    """Hamming-ball probe order: self, 1-bit flips, 2-bit flips
    (vector_ops.rs:1127-1160)."""
    if num_probes <= 0:
        return []
    nb = min(num_bits, 62)
    probes = [bucket]
    for bit in range(nb):
        if len(probes) >= num_probes:
            return probes
        probes.append(bucket ^ (1 << bit))
    for i in range(nb):
        for j in range(i + 1, nb):
            if len(probes) >= num_probes:
                return probes
            probes.append(bucket ^ (1 << i) ^ (1 << j))
    return probes


def _ref_multi_probe(v, table: int, num_bits: int, num_probes: int):
    """Boundary-distance-ranked probes (lsh_bucket_with_distances f64
    accumulation + lsh_probes_ranked, vector_ops.rs:1198-1400)."""
    if num_probes <= 0:
        return []
    if v is None or len(v) == 0 or num_bits <= 0:
        return [0]
    x64 = np.asarray(v, dtype=np.float64)
    planes = _ref_planes(table, num_bits, len(x64)).astype(np.float64)
    dots = planes @ x64
    bucket = 0
    for h, d in enumerate(dots):
        if d > 0.0:
            bucket |= 1 << h
    order = sorted(range(len(dots)), key=lambda h: abs(dots[h]))
    probes = [bucket]
    for bit in order:
        if len(probes) >= num_probes:
            return probes
        probes.append(bucket ^ (1 << bit))
    for i in range(len(order)):
        for j in range(i + 1, len(order)):
            if len(probes) >= num_probes:
                return probes
            probes.append(bucket ^ (1 << order[i]) ^ (1 << order[j]))
    for i in range(len(order)):
        for j in range(i + 1, len(order)):
            for k in range(j + 1, len(order)):
                if len(probes) >= num_probes:
                    return probes
                probes.append(
                    bucket ^ (1 << order[i]) ^ (1 << order[j]) ^ (1 << order[k])
                )
    return probes


def _bucket_kernel(s: pd.Series, t: int, nb: int) -> pd.Series:
    # vectorized per Arrow batch: group rows by dimension and compute
    # one (rows x dim) @ (dim x bits) f32 matmul per group — orders of
    # magnitude over per-row Python on wide corpora
    arrs = s.tolist()
    dims = [len(v) if v is not None else 0 for v in arrs]
    out = np.zeros(len(arrs), dtype=np.int64)
    for dim in set(dims):
        if dim == 0 or nb <= 0:
            continue
        idx = [i for i, d in enumerate(dims) if d == dim]
        m = np.asarray([arrs[i] for i in idx], dtype=np.float32)
        dots = m @ _ref_planes(t, nb, dim).T  # (n, nb) float32
        bits = (dots > 0.0).astype(np.int64)
        out[idx] = (bits << np.arange(nb, dtype=np.int64)).sum(axis=1)
    return pd.Series(out)


def _multi_probe_kernel(s: pd.Series, t: int, nb: int, np_: int) -> pd.Series:
    return s.map(lambda v: [float(p) for p in _ref_multi_probe(v, t, nb, np_)])


def lsh_bucket(a: Column, table: int = 0, num_bits: int = 16) -> Column:
    """Sign-hash bucket id in [0, 2^num_bits) (vector_ops.rs:1038).

    Arrow-batched pandas kernel: the hyperplane family is the reference's
    seeded-SipHash PRNG (not expressible as a JVM hash), the planes matrix
    is cached per (table, bits, dim), and the per-batch work is one
    float32 matmul. Index set-up calls this Column form; IQL reaches the
    same kernel through `lsh_bucket_sql`. The scale-path dedup/similarity
    operators keep their all-JVM xxhash64 family (operators/dedup.py)."""
    from pyspark.sql.functions import pandas_udf

    t, nb = int(table), min(int(num_bits), 62)

    @pandas_udf("long")
    def _bucket(s: pd.Series) -> pd.Series:
        return _bucket_kernel(s, t, nb)

    return _bucket(a)


def lsh_multi_probe(
    a: Column, table: int = 0, num_bits: int = 16, num_probes: int = 8
) -> Column:
    """lsh_multi_probe(v, table_idx, num_hyperplanes, num_probes) →
    boundary-ranked probe buckets as a float32 vector
    (vector_ops.rs:1392-1400). Column form for index probing; IQL uses
    `lsh_multi_probe_sql`."""
    from pyspark.sql.functions import pandas_udf

    t, nb, np_ = int(table), min(int(num_bits), 62), int(num_probes)

    @pandas_udf("array<float>")
    def _probes(s: pd.Series) -> pd.Series:
        return _multi_probe_kernel(s, t, nb, np_)

    return _probes(a)


# The same two kernels as SQL functions, so an IQL call renders to SQL
# text like every other builtin. Registered in a session the first time
# an IQL call renders one; the int parameters arrive as constant
# columns (the compiler only accepts int literals for them).
_SQL_BUCKET = "ilspark_lsh_bucket"
_SQL_MULTI_PROBE = "ilspark_lsh_multi_probe"


def _ensure_sql_functions() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql.functions import pandas_udf

    spark = SparkSession.active()
    if spark.catalog.functionExists(_SQL_BUCKET):
        return

    def first(p: pd.Series) -> int:
        return int(p.iloc[0]) if len(p) else 0

    @pandas_udf("long")
    def bucket(s: pd.Series, table: pd.Series, bits: pd.Series) -> pd.Series:
        return _bucket_kernel(s, first(table), min(first(bits), 62))

    @pandas_udf("array<float>")
    def multi_probe(
        s: pd.Series, table: pd.Series, bits: pd.Series, probes: pd.Series
    ) -> pd.Series:
        return _multi_probe_kernel(
            s, first(table), min(first(bits), 62), first(probes)
        )

    spark.udf.register(_SQL_MULTI_PROBE, multi_probe)
    spark.udf.register(_SQL_BUCKET, bucket)


def lsh_bucket_sql(a: str, table: int = 0, num_bits: int = 16) -> str:
    _ensure_sql_functions()
    return f"{_SQL_BUCKET}({a}, {int(table)}, {int(num_bits)})"


def lsh_multi_probe_sql(
    a: str, table: int = 0, num_bits: int = 16, num_probes: int = 8
) -> str:
    _ensure_sql_functions()
    return (
        f"{_SQL_MULTI_PROBE}({a}, {int(table)}, {int(num_bits)}, {int(num_probes)})"
    )


def lsh_probes(bucket: str, num_bits: int = 16, num_probes: int = 8) -> str:
    """lsh_probes(bucket, num_hyperplanes, num_probes) → probe buckets as a
    float32 vector (the reference casts probe ids to f32,
    code_generator/mod.rs:3030-3041). Pure bit math over literal masks —
    stays JVM-side."""
    nb, np_ = min(int(num_bits), 62), int(num_probes)
    if np_ <= 0:
        return "CAST(array() AS ARRAY<FLOAT>)"
    masks = [0]
    for bit in range(nb):
        if len(masks) >= np_:
            break
        masks.append(1 << bit)
    if len(masks) < np_:
        for i in range(nb):
            for j in range(i + 1, nb):
                if len(masks) >= np_:
                    break
                masks.append((1 << i) | (1 << j))
            if len(masks) >= np_:
                break
    b = f"CAST({bucket} AS BIGINT)"
    return "array(" + ", ".join(
        f"CAST(({b} ^ CAST({m} AS BIGINT)) AS FLOAT)" for m in masks
    ) + ")"
