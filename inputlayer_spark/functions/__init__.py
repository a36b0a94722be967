"""Builtin function registry: IQL builtin name → SQL renderer.

Mirrors the closed builtin set of the reference (`BuiltinFunc::parse`,
src/ast/mod.rs:199-267). Every entry takes its operands
as Spark SQL text and returns Spark SQL text; the compiler renders each
IQL `Call` term through this table into the one SQL string it parses
per expression. The LSH parameters (table, bits, probes) are the
exception: the compiler accepts only int literals there and passes them
as Python ints. There is deliberately no user UDF mechanism, same as
the reference; `lsh_bucket` / `lsh_multi_probe` run engine-owned
pandas kernels (functions.vector).
"""

from __future__ import annotations

from typing import Callable, Dict

from inputlayer_spark.functions import temporal, text, vector

__all__ = ["BUILTINS", "temporal", "text", "vector"]


def _substr(s: str, start: str, length: str) -> str:
    # IQL substr is 0-based (docs/spec); SQL substring is 1-based.
    return f"substring({s}, (CAST({start} AS INT) + 1), CAST({length} AS INT))"


BUILTINS: Dict[str, Callable[..., str]] = {
    # vector distance
    "euclidean": vector.euclidean,
    "cosine": vector.cosine,
    "dot": vector.dot,
    "manhattan": vector.manhattan,
    "hamming": vector.hamming,
    "euclidean_int8": vector.euclidean_int8,
    "cosine_int8": vector.cosine_int8,
    "dot_int8": vector.dot_int8,
    "manhattan_int8": vector.manhattan_int8,
    # vector algebra
    "normalize": vector.normalize,
    "vec_add": vector.vec_add,
    "vec_scale": vector.vec_scale,
    "vec_dim": vector.vec_dim,
    "vector_norm": vector.vector_norm,
    # quantization
    "quantize_linear": vector.quantize_linear,
    "quantize_symmetric": vector.quantize_symmetric,
    "dequantize": vector.dequantize,
    "dequantize_scaled": vector.dequantize_scaled,
    # LSH (table/bits/probe params arrive as plain ints from the compiler;
    # signatures mirror the reference codegen: lsh_bucket(v, table, bits),
    # lsh_probes(bucket, bits, probes), lsh_multi_probe(v, table, bits,
    # probes) — code_generator/mod.rs:2990-3099)
    "lsh_bucket": vector.lsh_bucket_sql,
    "lsh_multi_probe": vector.lsh_multi_probe_sql,
    "lsh_probes": vector.lsh_probes,
    # temporal
    "time_now": temporal.time_now,
    "time_diff": temporal.time_diff,
    "time_add": temporal.time_add,
    "time_sub": temporal.time_sub,
    "time_decay": temporal.time_decay,
    "time_decay_linear": temporal.time_decay_linear,
    "time_before": temporal.time_before,
    "time_after": temporal.time_after,
    "time_between": temporal.time_between,
    "within_last": temporal.within_last,
    "intervals_overlap": temporal.intervals_overlap,
    "interval_contains": temporal.interval_contains,
    "interval_duration": temporal.interval_duration,
    "point_in_interval": temporal.point_in_interval,
    # math
    "abs": lambda x: f"abs({x})",
    "abs_int64": lambda x: f"abs(CAST({x} AS BIGINT))",
    "abs_float64": lambda x: f"abs(CAST({x} AS DOUBLE))",
    "sqrt": lambda x: f"sqrt({x})",
    "pow": lambda x, y: f"pow({x}, {y})",
    "log": lambda x: f"log({x})",
    "exp": lambda x: f"exp({x})",
    "sin": lambda x: f"sin({x})",
    "cos": lambda x: f"cos({x})",
    "tan": lambda x: f"tan({x})",
    "floor": lambda x: f"CAST(floor({x}) AS BIGINT)",
    "ceil": lambda x: f"CAST(ceil({x}) AS BIGINT)",
    "sign": lambda x: f"signum(CAST({x} AS DOUBLE))",
    # conversion
    "to_float": lambda x: f"CAST({x} AS DOUBLE)",
    "to_int": lambda x: f"CAST({x} AS BIGINT)",
    # scalar min/max
    "min_val": lambda *xs: f"least({', '.join(xs)})",
    "max_val": lambda *xs: f"greatest({', '.join(xs)})",
    # string
    "len": lambda s: f"CAST(length({s}) AS BIGINT)",
    "upper": lambda s: f"upper({s})",
    "lower": lambda s: f"lower({s})",
    "trim": lambda s: f"trim({s})",
    "substr": _substr,
    "replace": lambda s, find, repl: f"replace({s}, {find}, {repl})",
    "concat": lambda *xs: f"concat({', '.join(xs)})",
}
