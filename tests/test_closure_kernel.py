"""The closure kernel (`recursion.adjacency_closure`) on both sides of the
leaf cap.

Every case runs three ways and must give the same rows as a pure-Python
oracle with Spark's key semantics (NaN equals NaN, a null key never
joins):

* `driver`: default caps, the closure comes back as a job-free leaf;
* `executors`: `session.LOCAL_LEAF_MAX_ROWS` forced down, so the driver
  run passes the cap and, with carried groups still open, the kernel
  reruns in one mapInArrow; a one-group seed (a bound read, a
  carried-less closure) is closed on the driver and pinned instead;
* `distributed`: `SPARK_GRAFT_LOCAL_FIXPOINT_MAX=0`, with the kernel
  poisoned, so the distributed doubling answers.
"""

import numpy as np
import pytest
from pyspark.sql import types as T

NAN = float("nan")

TC_RIGHT = """
+reach(X, Y) <- edge(X, Y)
+reach(X, Z) <- reach(X, Y), edge(Y, Z)
"""
TC_LEFT = """
+reach(X, Y) <- edge(X, Y)
+reach(X, Z) <- edge(X, Y), reach(Y, Z)
"""


class _Spy:
    """Counts DataFrame.mapInArrow calls and recursion._pin_count calls."""

    def __init__(self, spark, monkeypatch):
        from inputlayer_spark import recursion

        self.map_in_arrow = 0
        self.pin_count = 0
        cls = type(spark.range(1))
        real_map, real_pin = cls.mapInArrow, recursion._pin_count

        def map_in_arrow(df, *a, **k):
            self.map_in_arrow += 1
            return real_map(df, *a, **k)

        def pin_count(*a, **k):
            self.pin_count += 1
            return real_pin(*a, **k)

        monkeypatch.setattr(cls, "mapInArrow", map_in_arrow)
        monkeypatch.setattr(recursion, "_pin_count", pin_count)


def _norm(v):
    return "nan" if isinstance(v, float) and v != v else v


def _norm_rows(df):
    """Answer rows, NaN spelled "nan", sorted; a duplicate row stays."""
    return sorted((tuple(_norm(v) for v in r) for r in df.collect()), key=repr)


def _oracle(seeds, steps, updated):
    """X ∘ S* by naive iteration: a step (s, t) rewrites the `updated`
    positions of a state whose values there equal s; a null never joins."""
    seeds = {tuple(_norm(v) for v in r) for r in seeds}
    steps = [tuple(_norm(v) for v in r) for r in steps]
    k = len(updated)
    out, frontier = set(seeds), set(seeds)
    while frontier:
        new = set()
        for row in frontier:
            key = tuple(row[i] for i in updated)
            if None in key:
                continue
            for st in steps:
                if st[:k] == key:
                    nxt = list(row)
                    for pos, v in zip(updated, st[k:]):
                        nxt[pos] = v
                    new.add(tuple(nxt))
        frontier = new - out
        out |= frontier
    return out


def _frame(spark, rows, types):
    schema = T.StructType(
        [T.StructField(f"a{i}", t, True) for i, t in enumerate(types)]
    )
    return spark.createDataFrame(rows, schema)


def _run(spark, monkeypatch, mode, relations, program, reruns=1):
    """Evaluate `program` (ending in a query) over registered frames in
    one mode; returns the answer rows, normalized. `reruns` is the number
    of mapInArrow calls the executors mode must make."""
    from inputlayer_spark import recursion, session
    from inputlayer_spark.engine import IQLEngine

    with monkeypatch.context() as m:
        spy = _Spy(spark, m)
        if mode == "executors":
            m.setattr(session, "LOCAL_LEAF_MAX_ROWS", 2)
        elif mode == "distributed":
            m.setenv("SPARK_GRAFT_LOCAL_FIXPOINT_MAX", "0")

            def _bomb(*a, **k):
                raise AssertionError("closure kernel ran in distributed mode")

            m.setattr(recursion, "adjacency_closure", _bomb)
        eng = IQLEngine(spark)
        for name, (rows, types) in relations.items():
            eng.register(name, _frame(spark, rows, types))
        got = _norm_rows(eng.query(program))
    if mode == "driver":
        assert spy.map_in_arrow == 0
    elif mode == "executors":
        assert spy.map_in_arrow == reruns
    return got


def _check_all_modes(spark, monkeypatch, relations, program, want, reruns=1):
    for mode in ("driver", "executors", "distributed"):
        got = _run(spark, monkeypatch, mode, relations, program, reruns)
        assert got == sorted(want, key=repr), mode


def _random_dag(n=24, extra=30, seed=7):
    rng = np.random.default_rng(seed)
    edges = {(i, i + 1) for i in range(n - 1)}
    while len(edges) < n - 1 + extra:
        i, j = sorted(rng.integers(0, n, size=2).tolist())
        if i != j:
            edges.add((i, j))
    return sorted(edges)


LONG2 = [T.LongType(), T.LongType()]


@pytest.mark.parametrize("rules", [TC_RIGHT, TC_LEFT], ids=["right", "left"])
def test_full_closure_both_linearities(spark, monkeypatch, rules):
    edges = _random_dag()
    want = _oracle(edges, edges, [1])
    _check_all_modes(
        spark, monkeypatch, {"edge": (edges, LONG2)}, rules + "?reach(X, Y)", want
    )


def test_cyclic_graph(spark, monkeypatch):
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3), (5, 6)]
    want = _oracle(edges, edges, [1])
    assert (0, 0) in want and (3, 3) in want
    _check_all_modes(
        spark, monkeypatch, {"edge": (edges, LONG2)}, TC_RIGHT + "?reach(X, Y)", want
    )


def test_three_ary_state_with_a_carried_column(spark, monkeypatch):
    """`st(G, A, B)` walks a two-column state through `move` while the
    group G rides along: two groups start on the same state and a third
    on its own, so per-group dedup is visible."""
    init = [("g1", 0, 0), ("g2", 0, 0), ("g3", 1, 1), ("g1", 0, 0)]
    move = [(0, 0, 0, 1), (0, 1, 1, 1), (1, 1, 0, 0), (1, 1, 2, 2), (2, 2, 2, 3)]
    want = _oracle(init, move, [1, 2])
    _check_all_modes(
        spark,
        monkeypatch,
        {
            "init": (init, [T.StringType(), T.LongType(), T.LongType()]),
            "move": (move, [T.LongType()] * 4),
        },
        """
        +st(G, A, B) <- init(G, A, B)
        +st(G, C, D) <- st(G, A, B), move(A, B, C, D)
        ?st(G, A, B)
        """,
        want,
    )


def test_carried_less_unary_closure(spark, monkeypatch):
    """All seeds form one group, so past the cap the driver's finished
    closure is pinned and nothing reruns."""
    src = [(0,), (10,)]
    edges = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (3, 4)]
    want = _oracle(src, edges, [0])
    _check_all_modes(
        spark,
        monkeypatch,
        {"src": (src, [T.LongType()]), "edge": (edges, LONG2)},
        """
        +r(X) <- src(X)
        +r(Y) <- r(X), edge(X, Y)
        ?r(X)
        """,
        want,
        reruns=0,
    )


NAN_EDGES = [(1.0, NAN), (2.0, NAN), (1.0, 2.0), (NAN, 5.0), (None, 3.0), (3.0, None)]


def test_nan_and_null_keys(spark, monkeypatch):
    """NaN keys join and dedup like Spark's (NaN equals NaN); a null key
    is reached but never joins onward."""
    double2 = [T.DoubleType(), T.DoubleType()]
    want = _oracle(NAN_EDGES, NAN_EDGES, [1])
    assert ("nan", 5.0) in want and (None, None) in want
    _check_all_modes(
        spark, monkeypatch, {"edge": (NAN_EDGES, double2)}, TC_RIGHT + "?reach(X, Y)", want
    )


def test_driver_closure_dedups_nan_targets(spark, monkeypatch):
    """Two paths to a NaN target are one row, as Spark's distinct has it."""
    edges = [(1.0, NAN), (2.0, NAN), (1.0, 2.0)]
    got = _run(
        spark,
        monkeypatch,
        "driver",
        {"edge": (edges, [T.DoubleType(), T.DoubleType()])},
        TC_RIGHT + "?reach(X, Y)",
    )
    assert got == sorted({(1.0, "nan"), (2.0, "nan"), (1.0, 2.0)}, key=repr)


@pytest.mark.parametrize("bound", ["?reach(0, Y)", "?reach(X, 9)"])
def test_bound_read_above_the_cap(spark, monkeypatch, bound):
    """A bound read seeds one carried group (the bound node), so past
    the cap the driver's finished closure is pinned and nothing reruns."""
    edges = [(i, i + 1) for i in range(9)] + [(4, 0)]
    closure = _oracle(edges, edges, [1])
    if bound == "?reach(0, Y)":
        want = {r for r in closure if r[0] == 0}
    else:
        want = {r for r in closure if r[1] == 9}
    assert len(want) > 2
    _check_all_modes(
        spark, monkeypatch, {"edge": (edges, LONG2)}, TC_LEFT + bound, want, reruns=0
    )


def test_full_closure_within_the_cap_runs_no_pin(spark, monkeypatch):
    from inputlayer_spark.engine import IQLEngine

    spy = _Spy(spark, monkeypatch)
    eng = IQLEngine(spark)
    edges = _random_dag()
    eng.register("edge", _frame(spark, edges, LONG2))
    assert len(eng.query(TC_RIGHT + "?reach(X, Y)").collect()) == len(
        _oracle(edges, edges, [1])
    )
    assert spy.pin_count == 0
    assert spy.map_in_arrow == 0


def test_full_closure_over_the_cap_runs_one_mapinarrow_pin(spark, monkeypatch):
    from inputlayer_spark import session
    from inputlayer_spark.engine import IQLEngine

    monkeypatch.setattr(session, "LOCAL_LEAF_MAX_ROWS", 10)
    spy = _Spy(spark, monkeypatch)
    cls = type(spark.range(1))
    real_checkpoint = cls.localCheckpoint
    pins = []

    def local_checkpoint(df, *a, **k):
        pins.append(k.get("eager", a[0] if a else True))
        return real_checkpoint(df, *a, **k)

    monkeypatch.setattr(cls, "localCheckpoint", local_checkpoint)
    eng = IQLEngine(spark)
    edges = _random_dag()
    eng.register("edge", _frame(spark, edges, LONG2))
    got = _norm_rows(eng.query(TC_RIGHT + "?reach(X, Y)"))
    assert got == sorted(_oracle(edges, edges, [1]), key=repr)
    assert spy.map_in_arrow == 1
    # seed and step are marked for a lazy pin; the kernel's output is
    # the one eager pin
    assert pins == [False, False, True]
    assert spy.pin_count == 0
