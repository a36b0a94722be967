"""Temporal builtins as Spark SQL renderers over Unix-ms longs.

Parity targets: `/root/reference/src/temporal_ops.rs` (time_now :14,
time_diff :29, time_add :42, time_sub :55, time_decay :91,
time_decay_linear :122, time_before :139, time_after :145,
time_between :159, within_last :173, intervals_overlap :191,
interval_contains :204, interval_duration :217, point_in_interval :230).

Timestamps are i64 Unix milliseconds throughout, like the reference
(`Value::Timestamp`, src/value/mod.rs:222). `to_ms` converts Spark
timestamp columns into that domain. Like the vector builtins, each
function takes its operands as SQL text and returns SQL text.
"""

from __future__ import annotations

import time


def _l(x: str) -> str:
    return f"CAST({x} AS BIGINT)"


def to_ms(ts: str) -> str:
    """Spark timestamp → Unix ms long.

    `unix_micros` over a TIMESTAMP cast handles TIMESTAMP_NTZ too (the
    NTZ→LTZ cast is identity under the engine's UTC session timezone,
    matching DuckDB's epoch_ms on naive timestamps); Spark 4 forbids a
    direct NTZ→DOUBLE cast."""
    return _l(f"(unix_micros(CAST({ts} AS TIMESTAMP)) / 1000)")


def time_now() -> str:
    """Wall-clock now in ms, fixed when the query is compiled."""
    return f"{int(time.time() * 1000)}L"


def time_diff(t1: str, t2: str) -> str:
    return _l(f"({_l(t1)} - {_l(t2)})")


def time_add(ts: str, duration_ms: str) -> str:
    return _l(f"({_l(ts)} + {_l(duration_ms)})")


def time_sub(ts: str, duration_ms: str) -> str:
    return _l(f"({_l(ts)} - {_l(duration_ms)})")


def _decay(ts: str, now: str, span_ms: str, weight: str) -> str:
    """Shared guard of the decays: a non-positive span weighs 1.0 for
    ts ≥ now and 0.0 otherwise; a non-positive age weighs 1.0."""
    return (
        f"CASE WHEN ({_l(span_ms)} <= 0)"
        f" THEN CASE WHEN ({_l(ts)} >= {_l(now)}) THEN 1.0D ELSE 0.0D END"
        f" WHEN (({_l(now)} - {_l(ts)}) <= 0) THEN 1.0D ELSE {weight} END"
    )


def time_decay(ts: str, now: str, half_life_ms: str) -> str:
    """Exponential decay: 0.5 ** (age / half_life), clamped to 1.0 for the
    future, 0/1 for non-positive half-life (temporal_ops.rs:91)."""
    age = f"CAST(({_l(now)} - {_l(ts)}) AS DOUBLE)"
    weight = f"pow(0.5D, ({age} / CAST({half_life_ms} AS DOUBLE)))"
    return _decay(ts, now, half_life_ms, weight)


def time_decay_linear(ts: str, now: str, max_age_ms: str) -> str:
    """Linear decay to 0 at max_age (temporal_ops.rs:122)."""
    age = f"CAST(({_l(now)} - {_l(ts)}) AS DOUBLE)"
    frac = f"(1.0D - ({age} / CAST({max_age_ms} AS DOUBLE)))"
    return _decay(ts, now, max_age_ms, f"greatest(0.0D, {frac})")


def time_before(t1: str, t2: str) -> str:
    return f"({_l(t1)} < {_l(t2)})"


def time_after(t1: str, t2: str) -> str:
    return f"({_l(t1)} > {_l(t2)})"


def time_between(ts: str, start: str, end: str) -> str:
    return f"(({_l(ts)} >= {_l(start)}) AND ({_l(ts)} <= {_l(end)}))"


def within_last(ts: str, now: str, duration_ms: str) -> str:
    """ts within [now - duration, now] (temporal_ops.rs:173)."""
    age = f"({_l(now)} - {_l(ts)})"
    return f"(({age} >= 0) AND ({age} <= {_l(duration_ms)}))"


def intervals_overlap(s1: str, e1: str, s2: str, e2: str) -> str:
    return f"(({_l(s1)} <= {_l(e2)}) AND ({_l(s2)} <= {_l(e1)}))"


def interval_contains(s1: str, e1: str, s2: str, e2: str) -> str:
    """[s1,e1] fully contains [s2,e2] (temporal_ops.rs:204)."""
    return f"(({_l(s1)} <= {_l(s2)}) AND ({_l(e2)} <= {_l(e1)}))"


def interval_duration(start: str, end: str) -> str:
    return _l(f"({_l(end)} - {_l(start)})")


point_in_interval = time_between
