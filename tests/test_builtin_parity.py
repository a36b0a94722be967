"""Every IQL builtin, called through the engine over a fixed battery.

Each entry of `functions.BUILTINS` is called at least once below, over
operands chosen to hit the edges where two renderings of the same
builtin could disagree: nulls, NaN and ±infinity, zero vectors and
vectors of mismatched length, int8 vectors, int64 edge values,
negative timestamps, unicode strings, and scale operands named `X`,
`Y` and `Acc` (the names a SQL lambda body would use for its own
variables, matched case-insensitively). Literal operands go through
the same rendering as column operands.

The expected schemas and rows are literals, recorded from the
Column-expression implementation of the builtins; the SQL renderers must
reproduce them value for value and type for type. Many calls share one
query, so the whole battery is ten queries.
"""

from __future__ import annotations

import math
import re
import time

import pytest

from inputlayer_spark.functions import BUILTINS

VEC_PAIRS = (
    "+vp(1, [1.0, 2.0, 3.0], [4.0, -5.0, 6.0])\n"
    "+vp(2, [0.0, 0.0], [1.0, 1.0])\n"
    "+vp(3, [1.0, 2.0], [1.0, 2.0, 3.0])\n"
    "+vp(4, [1e400, 1.0], [1.0, 1.0])\n"
    "+vp(5, [0.0, 0.0, 0.0], [0.0, 0.0, 0.0])\n"
)

VEC_SCALES = (
    "+vq(1, [1.0, -2.0, 3.0], [4.0, 5.0, -6.0], 0.5, 2.0)\n"
    "+vq(2, [0.0, 0.0], [0.0, 0.0], 3.0, 0.0)\n"
    "+vq(3, [1.0, 2.0], [1.0, 2.0, 3.0], -1.0, 1.0)\n"
    "+vq(4, [1e400, 1.0], [-1e400, 2.0], 2.0, 2.0)\n"
    "+vq(5, [2.5, 2.5, 2.5], [1.0, 2.0, 3.0], 1.0, 0.5)\n"
    "+vq(6, [1.0, 2.0], [2.0, 1.0], null, null)\n"
)

TIMES = (
    "+tm(1, 1000, 5000, 2000, 6000, 1000)\n"
    "+tm(2, -86400000, -3600000, 0, 100, 3600000)\n"
    "+tm(3, 9223372036854775807, -9223372036854775808, 0, 1, 1)\n"
    "+tm(4, 5000, 1000, 5000, 5000, 0)\n"
    "+tm(5, 1700000000000, 1700000600000, 1699999000000, 1700001000000, -600000)\n"
    "+tm(6, -5000, -1000, -6000, -2000, -1)\n"
)

CASES = {
    "vector_pairs": VEC_PAIRS
    + "?vp(Id, A, B), E = euclidean(A, B), C = cosine(A, B), D = dot(A, B),"
    " M = manhattan(A, B), H = hamming(A, B), S = vec_add(A, B),"
    " L = cosine(A, [1.0, 0.0, 0.0]), I = dot(A, [1e400, 1.0, 0.0])",
    "vector_unary": VEC_SCALES
    + "?vq(Id, X, Y, Acc, Z), Q = quantize_symmetric(X), R = quantize_linear(Y),"
    " D = dequantize(Q), S = dequantize_scaled(Q, Acc), T = vec_scale(X, Acc),"
    " U = vec_scale(Y, Z), N = normalize(X), L = vec_dim(Y), W = vector_norm(Y),"
    " V = vec_scale(X, 2)",
    "vector_int8": VEC_SCALES
    + "?vq(Id, X, Y, Acc, Z), Q = quantize_symmetric(X), R = quantize_symmetric(Y),"
    " E = euclidean_int8(Q, R), C = cosine_int8(Q, R), D = dot_int8(Q, R),"
    " M = manhattan_int8(Q, R), P = quantize_linear(X), K = hamming(Q, R)",
    "lsh": (
        "+lk(1, [1.0, 2.0], 3)\n"
        "+lk(2, [-1.0, 0.5, 0.25], 0)\n"
        "+lk(3, [0.0, 0.0], 255)\n"
        "?lk(Id, V, K), B = lsh_bucket(V, 0, 8), C = lsh_bucket(V, 1, 4),"
        " M = lsh_multi_probe(V, 0, 8, 4), P = lsh_probes(K, 8, 4),"
        " P0 = lsh_probes(K, 4, 0), D = lsh_bucket(V), E = lsh_probes(K),"
        " F = lsh_multi_probe(V, 2, 6), G = lsh_bucket([1.0, 2.0], 0, 8)"
    ),
    "temporal_points": TIMES
    + "?tm(Id, T, U, S, E, D), A = time_diff(T, U), B = time_add(T, D),"
    " C = time_sub(T, D), X = time_decay(T, U, D), Y = time_decay_linear(T, U, D),"
    " F = time_before(T, U), G = time_after(T, U), H = time_between(T, S, E),"
    " I = within_last(T, U, D)",
    "temporal_intervals": TIMES
    + "?tm(Id, T, U, S, E, D), J = intervals_overlap(T, U, S, E),"
    " K = interval_contains(S, E, T, U), L = interval_duration(S, E),"
    " M = point_in_interval(T, S, E), N = time_add(T, 3600000),"
    " O = time_diff(T, -1), P = time_decay(T, 0, 1000),"
    " Q = time_decay_linear(-500, T, 10000)",
    "math_ints": (
        "+mi(1, 2, 2.5)\n"
        "+mi(2, -3, -0.5)\n"
        "+mi(3, 9223372036854775807, 1e400)\n"
        "+mi(4, -9223372036854775808, -1e400)\n"
        "+mi(5, 0, 0.0)\n"
        "+mi(6, null, null)\n"
        "?mi(Id, X, Y), A = abs(X), B = abs_int64(Y), C = abs_float64(X),"
        " F = floor(Y), G = ceil(Y), S = sign(Y), T = to_float(X), U = to_int(Y),"
        " P = pow(Y, 2), Q = min_val(X, Y), R = max_val(X, Y),"
        " V = max_val(X, 9000000000), W = to_int(X)"
    ),
    "math_floats": (
        "+mf(1, 2.25, 0.5)\n"
        "+mf(2, -1.0, 2.0)\n"
        "+mf(3, 0.0, -0.0)\n"
        "+mf(4, 1e400, 3.0)\n"
        "+mf(5, -1e400, 0.0)\n"
        "+mf(6, null, 1.0)\n"
        "?mf(Id, X, Y), N = X - X, A = sqrt(X), B = pow(X, Y), C = log(X),"
        " D = exp(Y), E = sin(Y), F = cos(Y), G = tan(Y), H = sqrt(N),"
        " I = floor(N), J = sign(N), K = abs(X), L = min_val(X, Y, 9000000000),"
        " M = max_val(N, Y), O = ceil(X), P = exp(1e400)"
    ),
    "strings": (
        "+st(1, \"  héllo wörld  \", 2)\n"
        "+st(2, \"日本語テキスト\", 0)\n"
        "+st(3, \"\", 5)\n"
        "+st(4, \"it's\", -1)\n"
        "+st(5, null, 1)\n"
        "?st(Id, S, K), A = len(S), B = upper(S), C = lower(S), D = trim(S),"
        " E = substr(S, K, 3), F = replace(S, \"l\", \"L\"), G = concat(S, \"'\", S),"
        " H = concat(\"x\", S), I = substr(S, 1, K), J = replace(S, \"ö\", \"o\")"
    ),
}

INF = float("inf")
NAN = float("nan")

EXPECTED = {
    'lsh': (
        [('Id', 'bigint'), ('V', 'array<float>'), ('K', 'bigint'), ('B', 'bigint'), ('C', 'bigint'), ('M', 'array<float>'), ('P', 'array<float>'), ('P0', 'array<float>'), ('D', 'bigint'), ('E', 'array<float>'), ('F', 'array<float>'), ('G', 'bigint')],
        [
            (1, [1.0, 2.0], 3, 200, 15, [200.0, 216.0, 136.0, 204.0], [3.0, 2.0, 1.0, 7.0], [], 21448, [3.0, 2.0, 1.0, 7.0, 11.0, 19.0, 35.0, 67.0], [29.0, 13.0, 21.0, 31.0, 61.0, 25.0, 28.0, 5.0], 200),
            (2, [-1.0, 0.5, 0.25], 0, 199, 11, [199.0, 195.0, 207.0, 198.0], [0.0, 1.0, 2.0, 4.0], [], 11463, [0.0, 1.0, 2.0, 4.0, 8.0, 16.0, 32.0, 64.0], [60.0, 28.0, 62.0, 52.0, 56.0, 61.0, 44.0, 30.0], 200),
            (3, [0.0, 0.0], 255, 0, 0, [0.0, 1.0, 2.0, 4.0], [255.0, 254.0, 253.0, 251.0], [], 0, [255.0, 254.0, 253.0, 251.0, 247.0, 239.0, 223.0, 191.0], [0.0, 1.0, 2.0, 4.0, 8.0, 16.0, 32.0, 3.0], 200),
        ],
    ),
    'math_floats': (
        [('Id', 'bigint'), ('X', 'double'), ('Y', 'double'), ('N', 'double'), ('A', 'double'), ('B', 'double'), ('C', 'double'), ('D', 'double'), ('E', 'double'), ('F', 'double'), ('G', 'double'), ('H', 'double'), ('I', 'bigint'), ('J', 'double'), ('K', 'double'), ('L', 'double'), ('M', 'double'), ('O', 'bigint'), ('P', 'double')],
        [
            (1, 2.25, 0.5, 0.0, 1.5, 1.5, 0.8109302162163288, 1.6487212707001282, 0.479425538604203, 0.8775825618903728, 0.5463024898437905, 0.0, 0, 0.0, 2.25, 0.5, 0.5, 3, INF),
            (2, -1.0, 2.0, 0.0, NAN, 1.0, None, 7.38905609893065, 0.9092974268256817, -0.4161468365471424, -2.185039863261519, 0.0, 0, 0.0, 1.0, -1.0, 2.0, -1, INF),
            (3, 0.0, 0.0, 0.0, 0.0, 1.0, None, 1.0, 0.0, 1.0, 0.0, 0.0, 0, 0.0, 0.0, 0.0, 0.0, 0, INF),
            (4, INF, 3.0, NAN, INF, INF, INF, 20.085536923187668, 0.1411200080598672, -0.9899924966004454, -0.1425465430742778, NAN, 0, NAN, INF, 3.0, NAN, 9223372036854775807, INF),
            (5, -INF, 0.0, NAN, NAN, 1.0, None, 1.0, 0.0, 1.0, 0.0, NAN, 0, NAN, INF, -INF, NAN, -9223372036854775808, INF),
            (6, None, 1.0, None, None, None, None, 2.7182818284590455, 0.8414709848078965, 0.5403023058681398, 1.5574077246549023, None, None, None, None, 1.0, 1.0, None, INF),
        ],
    ),
    'math_ints': (
        [('Id', 'bigint'), ('X', 'bigint'), ('Y', 'double'), ('A', 'bigint'), ('B', 'bigint'), ('C', 'double'), ('F', 'bigint'), ('G', 'bigint'), ('S', 'double'), ('T', 'double'), ('U', 'bigint'), ('P', 'double'), ('Q', 'double'), ('R', 'double'), ('V', 'bigint'), ('W', 'bigint')],
        [
            (1, 2, 2.5, 2, 2, 2.0, 2, 3, 1.0, 2.0, 2, 6.25, 2.0, 2.5, 9000000000, 2),
            (2, -3, -0.5, 3, 0, 3.0, -1, 0, -1.0, -3.0, 0, 0.25, -3.0, -0.5, 9000000000, -3),
            (3, 9223372036854775807, INF, 9223372036854775807, 9223372036854775807, 9.223372036854776e+18, 9223372036854775807, 9223372036854775807, 1.0, 9.223372036854776e+18, 9223372036854775807, INF, 9.223372036854776e+18, INF, 9223372036854775807, 9223372036854775807),
            (4, -9223372036854775808, -INF, -9223372036854775808, -9223372036854775808, 9.223372036854776e+18, -9223372036854775808, -9223372036854775808, -1.0, -9.223372036854776e+18, -9223372036854775808, INF, -INF, -9.223372036854776e+18, 9000000000, -9223372036854775808),
            (5, 0, 0.0, 0, 0, 0.0, 0, 0, 0.0, 0.0, 0, 0.0, 0.0, 0.0, 9000000000, 0),
            (6, None, None, None, None, None, None, None, None, None, None, None, None, None, 9000000000, None),
        ],
    ),
    'strings': (
        [('Id', 'bigint'), ('S', 'string'), ('K', 'bigint'), ('A', 'bigint'), ('B', 'string'), ('C', 'string'), ('D', 'string'), ('E', 'string'), ('F', 'string'), ('G', 'string'), ('H', 'string'), ('I', 'string'), ('J', 'string')],
        [
            (1, '  héllo wörld  ', 2, 15, '  HÉLLO WÖRLD  ', '  héllo wörld  ', 'héllo wörld', 'hél', '  héLLo wörLd  ', "  héllo wörld  '  héllo wörld  ", 'x  héllo wörld  ', ' h', '  héllo world  '),
            (2, '日本語テキスト', 0, 7, '日本語テキスト', '日本語テキスト', '日本語テキスト', '日本語', '日本語テキスト', "日本語テキスト'日本語テキスト", 'x日本語テキスト', '', '日本語テキスト'),
            (3, '', 5, 0, '', '', '', '', '', "'", 'x', '', ''),
            (4, "it's", -1, 4, "IT'S", "it's", "it's", "it'", "it's", "it's'it's", "xit's", '', "it's"),
            (5, None, 1, None, None, None, None, None, None, None, None, None, None),
        ],
    ),
    'temporal_intervals': (
        [('Id', 'bigint'), ('T', 'bigint'), ('U', 'bigint'), ('S', 'bigint'), ('E', 'bigint'), ('D', 'bigint'), ('J', 'boolean'), ('K', 'boolean'), ('L', 'bigint'), ('M', 'boolean'), ('N', 'bigint'), ('O', 'bigint'), ('P', 'double'), ('Q', 'double')],
        [
            (1, 1000, 5000, 2000, 6000, 1000, True, False, 4000, False, 3601000, 1001, 1.0, 0.85),
            (2, -86400000, -3600000, 0, 100, 3600000, False, False, 100, False, -82800000, -86399999, 0.0, 1.0),
            (3, 9223372036854775807, -9223372036854775808, 0, 1, 1, False, True, 1, False, -9223372036851175809, -9223372036854775808, 1.0, 1.0),
            (4, 5000, 1000, 5000, 5000, 0, False, True, 0, True, 3605000, 5001, 1.0, 0.44999999999999996),
            (5, 1700000000000, 1700000600000, 1699999000000, 1700001000000, -600000, True, True, 2000000, True, 1700003600000, 1700000000001, 1.0, 0.0),
            (6, -5000, -1000, -6000, -2000, -1, True, False, 4000, True, 3595000, -4999, 0.03125, 1.0),
        ],
    ),
    'temporal_points': (
        [('Id', 'bigint'), ('T', 'bigint'), ('U', 'bigint'), ('S', 'bigint'), ('E', 'bigint'), ('D', 'bigint'), ('A', 'bigint'), ('B', 'bigint'), ('C', 'bigint'), ('X', 'double'), ('Y', 'double'), ('F', 'boolean'), ('G', 'boolean'), ('H', 'boolean'), ('I', 'boolean')],
        [
            (1, 1000, 5000, 2000, 6000, 1000, -4000, 2000, 0, 0.0625, 0.0, True, False, False, False),
            (2, -86400000, -3600000, 0, 100, 3600000, -82800000, -82800000, -90000000, 1.1920928955078125e-07, 0.0, True, False, False, False),
            (3, 9223372036854775807, -9223372036854775808, 0, 1, 1, -1, -9223372036854775808, 9223372036854775806, 0.5, 0.0, False, True, False, True),
            (4, 5000, 1000, 5000, 5000, 0, 4000, 5000, 5000, 1.0, 1.0, False, True, True, False),
            (5, 1700000000000, 1700000600000, 1699999000000, 1700001000000, -600000, -600000, 1699999400000, 1700000600000, 0.0, 0.0, True, False, True, False),
            (6, -5000, -1000, -6000, -2000, -1, -4000, -5001, -4999, 0.0, 0.0, True, False, True, False),
        ],
    ),
    'vector_int8': (
        [('Id', 'bigint'), ('X', 'array<float>'), ('Y', 'array<float>'), ('Acc', 'double'), ('Z', 'double'), ('Q', 'array<tinyint>'), ('R', 'array<tinyint>'), ('E', 'double'), ('C', 'double'), ('D', 'double'), ('M', 'double'), ('P', 'array<tinyint>'), ('K', 'bigint')],
        [
            (1, [1.0, -2.0, 3.0], [4.0, 5.0, -6.0], 0.5, 2.0, [42, -85, 127], [85, 106, -127], 320.69611784366833, 1.7317491074688776, -21569.0, 488.0, [25, -128, 127], 3),
            (2, [0.0, 0.0], [0.0, 0.0], 3.0, 0.0, [0, 0], [0, 0], 0.0, 0.0, 0.0, 0.0, [0, 0], 0),
            (3, [1.0, 2.0], [1.0, 2.0, 3.0], -1.0, 1.0, [64, 127], [42, 85, 127], INF, INF, INF, INF, [-128, 127], None),
            (4, [INF, 1.0], [-INF, 2.0], 2.0, 2.0, [127, 0], [127, 0], 0.0, 0.0, 16129.0, 0.0, [127, -128], 0),
            (5, [2.5, 2.5, 2.5], [1.0, 2.0, 3.0], 1.0, 0.5, [127, 127, 127], [42, 85, 127], 94.81033698917012, 0.07470426319648882, 32258.0, 127.0, [0, 0, 0], 2),
            (6, [1.0, 2.0], [2.0, 1.0], None, None, [64, 127], [127, 64], 89.09545442950498, 0.19624227441285547, 16256.0, 126.0, [-128, 127], 2),
        ],
    ),
    'vector_pairs': (
        [('Id', 'bigint'), ('A', 'array<float>'), ('B', 'array<float>'), ('E', 'double'), ('C', 'double'), ('D', 'double'), ('M', 'double'), ('H', 'bigint'), ('S', 'array<double>'), ('L', 'double'), ('I', 'double')],
        [
            (1, [1.0, 2.0, 3.0], [4.0, -5.0, 6.0], 8.18535277187245, 0.6345130576760964, 12.0, 13.0, 3, [5.0, -3.0, 9.0], 0.7327387580875756, INF),
            (2, [0.0, 0.0], [1.0, 1.0], 1.4142135623730951, 0.0, 0.0, 2.0, 2, [1.0, 1.0], INF, INF),
            (3, [1.0, 2.0], [1.0, 2.0, 3.0], INF, INF, INF, INF, None, [2.0, 4.0, None], INF, INF),
            (4, [INF, 1.0], [1.0, 1.0], INF, 0.0, INF, INF, 1, [INF, 2.0], INF, INF),
            (5, [0.0, 0.0, 0.0], [0.0, 0.0, 0.0], 0.0, 0.0, 0.0, 0.0, 0, [0.0, 0.0, 0.0], 0.0, NAN),
        ],
    ),
    'vector_unary': (
        [('Id', 'bigint'), ('X', 'array<float>'), ('Y', 'array<float>'), ('Acc', 'double'), ('Z', 'double'), ('Q', 'array<tinyint>'), ('R', 'array<tinyint>'), ('D', 'array<double>'), ('S', 'array<double>'), ('T', 'array<double>'), ('U', 'array<double>'), ('N', 'array<double>'), ('L', 'bigint'), ('W', 'double'), ('V', 'array<double>')],
        [
            (1, [1.0, -2.0, 3.0], [4.0, 5.0, -6.0], 0.5, 2.0, [42, -85, 127], [104, 127, -128], [42.0, -85.0, 127.0], [21.0, -42.5, 63.5], [0.5, -1.0, 1.5], [8.0, 10.0, -12.0], [0.2672612419124244, -0.5345224838248488, 0.8017837257372732], 3, 8.774964387392123, [2.0, -4.0, 6.0]),
            (2, [0.0, 0.0], [0.0, 0.0], 3.0, 0.0, [0, 0], [0, 0], [0.0, 0.0], [0.0, 0.0], [0.0, 0.0], [0.0, 0.0], [0.0, 0.0], 2, 0.0, [0.0, 0.0]),
            (3, [1.0, 2.0], [1.0, 2.0, 3.0], -1.0, 1.0, [64, 127], [-128, -1, 127], [64.0, 127.0], [-64.0, -127.0], [-1.0, -2.0], [1.0, 2.0, 3.0], [0.4472135954999579, 0.8944271909999159], 3, 3.7416573867739413, [2.0, 4.0]),
            (4, [INF, 1.0], [-INF, 2.0], 2.0, 2.0, [127, 0], [127, 127], [127.0, 0.0], [254.0, 0.0], [INF, 2.0], [-INF, 4.0], [NAN, 0.0], 2, INF, [INF, 2.0]),
            (5, [2.5, 2.5, 2.5], [1.0, 2.0, 3.0], 1.0, 0.5, [127, 127, 127], [-128, -1, 127], [127.0, 127.0, 127.0], [127.0, 127.0, 127.0], [2.5, 2.5, 2.5], [0.5, 1.0, 1.5], [0.5773502691896257, 0.5773502691896257, 0.5773502691896257], 3, 3.7416573867739413, [5.0, 5.0, 5.0]),
            (6, [1.0, 2.0], [2.0, 1.0], None, None, [64, 127], [127, -128], [64.0, 127.0], [None, None], [None, None], [None, None], [0.4472135954999579, 0.8944271909999159], 2, 2.23606797749979, [2.0, 4.0]),
        ],
    ),
}


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b or math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-300)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return type(a) is type(b) and a == b


def _run(engine, program):
    df = engine.query(program)
    schema = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    return schema, sorted(tuple(r) for r in df.collect())


def test_battery_calls_every_builtin():
    called = set()
    for program in CASES.values():
        for name in BUILTINS:
            if re.search(rf"\b{name}\(", program):
                called.add(name)
    called.add("time_now")  # test_time_now below
    assert called == set(BUILTINS)


@pytest.mark.parametrize("name", sorted(CASES))
def test_builtin_parity(engine, name):
    schema, got = _run(engine, CASES[name])
    want_schema, want = EXPECTED[name]
    assert schema == want_schema
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert _same(list(g), list(w)), (g, w)


def test_time_now(engine):
    lo = int(time.time() * 1000)
    schema, got = _run(engine, "+one(1)\n?one(X), N = time_now(), D = time_diff(N, 0)")
    hi = int(time.time() * 1000)
    assert schema == [("X", "bigint"), ("N", "bigint"), ("D", "bigint")]
    ((x, n, d),) = got
    assert x == 1 and lo - 1000 <= n <= hi + 1000 and d == n
