"""Forced-distributed recursion (VERDICT r4 "What's wrong #3").

`SPARK_GRAFT_LOCAL_FIXPOINT_MAX=0` disables every driver-local fast path,
so these tests exercise the code that actually runs at 100 TB:

* the distributed path-doubling loop (recursion.py compose_r/compose_s:
  R ← R ∪ R∘S, S ← S ∪ S∘S as cluster joins),
* the distributed blocked-doubling seeded BFS for bound queries
  (magic_sets.seeded_tc_closure),
* the general semi-naive fixpoint (rules path doubling can't express).

Each test proves the local path is NOT taken by replacing the closure
kernel `adjacency_closure` with a bomb (resolved from module globals at
call time, so monkeypatching is effective; it is the one entry point of
both the driver and the mapInArrow branch, for full closures and bound
reads alike), and checks results against a pure-Python oracle computed
inside the test.
"""

import numpy as np
import pytest

from tests.conftest import rows


@pytest.fixture()
def dist_engine(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_FIXPOINT_MAX", "0")
    from inputlayer_spark import recursion
    from inputlayer_spark.engine import IQLEngine

    def _bomb(*a, **k):
        raise AssertionError(
            "closure kernel ran despite SPARK_GRAFT_LOCAL_FIXPOINT_MAX=0"
        )

    monkeypatch.setattr(recursion, "adjacency_closure", _bomb)
    return IQLEngine(spark)


def _random_dag(n=80, extra=160, seed=7):
    """Edges (i, j) with i < j: a chain for depth + random shortcuts."""
    rng = np.random.default_rng(seed)
    edges = {(i, i + 1) for i in range(n - 1)}
    while len(edges) < n - 1 + extra:
        i, j = sorted(rng.integers(0, n, size=2).tolist())
        if i != j:
            edges.add((i, j))
    return sorted(edges)


def _closure(edges, n):
    """Python TC oracle (reverse-topological bitsets — src < dst)."""
    succ = [0] * n
    for s, t in edges:
        succ[s] |= 1 << t
    reach = [0] * n
    for v in range(n - 1, -1, -1):
        acc, t = succ[v], succ[v]
        while t:
            low = (t & -t).bit_length() - 1
            acc |= reach[low]
            t &= t - 1
        reach[v] = acc
    return {
        (v, w)
        for v in range(n)
        for w in range(n)
        if reach[v] >> w & 1
    }


def test_distributed_path_doubling_matches_python_closure(dist_engine):
    """Full TC through compose_r/compose_s on an 80-node DAG with a
    79-deep chain: log-depth squaring must converge to the exact
    closure with zero driver-local work."""
    edges = _random_dag()
    facts = ", ".join(f"({s}, {t})" for s, t in edges)
    dist_engine.execute(f"+edge[{facts}]")
    df = dist_engine.query(
        """
        +reach(X, Y) <- edge(X, Y)
        +reach(X, Z) <- edge(X, Y), reach(Y, Z)
        ?reach(X, Y)
        """
    )
    got = set(rows(df))
    assert got == _closure(edges, 80)


def test_distributed_right_linear_variant(dist_engine):
    """The mirrored composition `p(X,Z) <- p(X,Y), e(Y,Z)` must take the
    same distributed doubling path and agree with the oracle."""
    edges = _random_dag(n=50, extra=80, seed=11)
    facts = ", ".join(f"({s}, {t})" for s, t in edges)
    dist_engine.execute(f"+edge[{facts}]")
    df = dist_engine.query(
        """
        +reach(X, Y) <- edge(X, Y)
        +reach(X, Z) <- reach(X, Y), edge(Y, Z)
        ?reach(X, Y)
        """
    )
    assert set(rows(df)) == _closure(edges, 50)


def test_distributed_seeded_bfs_bound_query(dist_engine):
    """Bound query ?reach(0, Y): with the local cap at 0, the magic-sets
    seeded closure must run its distributed blocked-doubling BFS and
    return exactly the Python-oracle reachable set."""
    edges = _random_dag(n=60, extra=60, seed=3)
    facts = ", ".join(f"({s}, {t})" for s, t in edges)
    dist_engine.execute(f"+edge[{facts}]")
    df = dist_engine.query(
        """
        +reach(X, Y) <- edge(X, Y)
        +reach(X, Z) <- edge(X, Y), reach(Y, Z)
        ?reach(0, Y)
        """
    )
    want = {t for s, t in _closure(edges, 60) if s == 0}
    # bound constants echo as leading columns (reference client output)
    assert {r[-1] for r in rows(df)} == want


def test_distributed_seminaive_shortest_path(dist_engine):
    """The compute-carrying recursion (D = D1 + D2) can't path-double —
    it must run the distributed semi-naive loop; min-aggregate over the
    fixpoint equals a Python Bellman-Ford oracle."""
    rng = np.random.default_rng(5)
    n = 30
    edges = []
    for i in range(n - 1):
        edges.append((i, i + 1, round(float(rng.uniform(1, 5)), 2)))
    for _ in range(25):
        i, j = sorted(rng.integers(0, n, size=2).tolist())
        if i != j:
            edges.append((i, j, round(float(rng.uniform(1, 9)), 2)))
    facts = ", ".join(f"({s}, {t}, {w})" for s, t, w in edges)
    dist_engine.execute(f"+e[{facts}]")
    df = dist_engine.query(
        """
        +dist(X, Y, D) <- e(X, Y, D)
        +dist(X, Z, D) <- dist(X, Y, D1), e(Y, Z, D2), D = D1 + D2
        +shortest(X, Y, min<D>) <- dist(X, Y, D)
        ?shortest(0, Y, D)
        """
    )
    # Bellman-Ford from node 0 (DAG: src < dst, so one forward pass works)
    best = {0: 0.0}
    for v in range(n):
        if v not in best:
            continue
        for s, t, w in edges:
            if s == v:
                cand = round(best[v] + w, 10)
                if t not in best or cand < best[t]:
                    best[t] = cand
    want = {(t, round(d, 6)) for t, d in best.items() if t != 0}
    # rows are (0, Y, D) — the bound constant echoes as column one
    got = {(r[1], round(r[2], 6)) for r in rows(df)}
    assert got == want


def test_distributed_cyclic_graph_terminates_exact(dist_engine):
    """Cycles: the delta sweep must stabilize (no infinite frontier) and
    return the exact closure — every node on a cycle reaches every
    other, including itself."""
    # two 3-cycles bridged by one edge + a dangling tail
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3), (5, 6)]
    facts = ", ".join(f"({s}, {t})" for s, t in edges)
    dist_engine.execute(f"+edge[{facts}]")
    df = dist_engine.query(
        """
        +reach(X, Y) <- edge(X, Y)
        +reach(X, Z) <- edge(X, Y), reach(Y, Z)
        ?reach(X, Y)
        """
    )
    # Python oracle via iterated adjacency
    adj = {}
    for s, t in edges:
        adj.setdefault(s, set()).add(t)
    want = set()
    for s in list(adj):
        frontier = set(adj[s])
        seen = set()
        while frontier:
            seen |= frontier
            frontier = {
                t for v in frontier for t in adj.get(v, ()) if t not in seen
            }
        want |= {(s, t) for t in seen}
    got = set(rows(df))
    assert got == want
    assert (0, 0) in got and (3, 3) in got  # self-reach on cycles


def test_distributed_mode_matches_local_mode(spark, monkeypatch):
    """Differential: the same program evaluated with the local fast path
    allowed vs forced-distributed yields the identical relation."""
    from inputlayer_spark.engine import IQLEngine

    edges = _random_dag(n=40, extra=50, seed=23)
    facts = ", ".join(f"({s}, {t})" for s, t in edges)
    prog = (
        f"+edge[{facts}]\n"
        "+reach(X, Y) <- edge(X, Y)\n"
        "+reach(X, Z) <- edge(X, Y), reach(Y, Z)\n"
        "?reach(X, Y)"
    )
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_FIXPOINT_MAX", "100000")
    local = set(rows(IQLEngine(spark).query(prog)))
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_FIXPOINT_MAX", "0")
    dist = set(rows(IQLEngine(spark).query(prog)))
    assert local == dist
