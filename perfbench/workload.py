"""Seeded inputs, op sequences and the Python oracle for the workloads.

Nothing here touches Spark: the engine only ever sees the IQL text and
parquet files built from these objects, and every answer it gives is
checked against the state kept here.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass, field

import numpy as np

SCAN = "?reach(X, Y)"
AGG = "?dept_stats(D, N, S)"
RULES = (
    "+reach(X, Y) <- edge(X, Y)\n"
    "+reach(X, Z) <- edge(X, Y), reach(Y, Z)\n"
    "+dept_stats(D, count<E>, sum<S>) <- emp(E, D, S)"
)
INDEX = "eidx"
READ_KINDS = ("bound", "scan", "agg", "filter", "cos", "knn")
STREAM_READ_KINDS = ("bound", "filter", "knn")
COS_THRESHOLD = 0.7  # cosine distance; keeps ~1/8 of random 16-d vectors
KNN_K = 10
TOL = 1e-5  # vector answers: ids this close to the cut-off may go either way
REL_TOL = 1e-9  # aggregate sums, compared as floats


@dataclass(frozen=True)
class Size:
    layers: int
    width: int
    emps: int
    depts: int
    vecs: int
    dim: int
    batch: int  # rows per emp write


FULL = Size(layers=20, width=100, emps=10_000, depts=100, vecs=2000, dim=16, batch=10)
TINY = Size(layers=5, width=8, emps=200, depts=10, vecs=100, dim=16, batch=10)
SIZES = {"full": FULL, "tiny": TINY}


@dataclass(frozen=True)
class Op:
    kind: str
    text: str  # IQL statement; for `stream` ops the read that follows the batch
    arg: tuple = ()  # rows a `stream` op lands
    expect: object = None  # the oracle's answer


@dataclass
class State:
    """The knowledge graph as the oracle tracks it."""

    size: Size
    edges: set
    emp: dict  # id -> (dept, salary)
    vecs: np.ndarray  # float32, shape (vecs, dim)
    next_emp: int = 0
    _reach: list = field(default=None, repr=False)

    # ------------------------------------------------------------ closure

    def reach_bits(self) -> list:
        """Per-node descendant bitsets, built in reverse topological
        order (layer by layer from the sink side)."""
        if self._reach is None:
            n = self.size.layers * self.size.width
            succ = [[] for _ in range(n)]
            for a, b in self.edges:
                succ[a].append(b)
            bits = [0] * n
            for node in range(n - 1, -1, -1):
                acc = 0
                for s in succ[node]:
                    acc |= (1 << s) | bits[s]
                bits[node] = acc
            self._reach = bits
        return self._reach

    def closure_size(self) -> int:
        return sum(b.bit_count() for b in self.reach_bits())

    def reach_of(self, node: int) -> set:
        bits, out, i = self.reach_bits()[node], set(), 0
        while bits:
            if bits & 1:
                out.add(i)
            bits >>= 1
            i += 1
        return out

    def set_edge(self, edge: tuple, present: bool) -> None:
        (self.edges.add if present else self.edges.discard)(edge)
        self._reach = None

    # ------------------------------------------------------------ emp

    def dept_stats(self) -> dict:
        out: dict = {}
        for dept, salary in self.emp.values():
            n, s = out.get(dept, (0, 0))
            out[dept] = (n + 1, s + salary)
        return out

    def emp_batch(self, rng: random.Random) -> list:
        rows = []
        for _ in range(self.size.batch):
            rows.append((self.next_emp, rng.randrange(self.size.depts), _salary(rng)))
            self.next_emp += 1
        return rows

    def add_emps(self, rows) -> None:
        for i, d, s in rows:
            self.emp[i] = (d, s)

    # ------------------------------------------------------------ vectors

    def cos_dist(self, q: tuple) -> np.ndarray:
        v = self.vecs.astype(np.float64)
        qv = np.asarray(q, dtype=np.float64)
        sim = (v @ qv) / (np.linalg.norm(v, axis=1) * np.linalg.norm(qv))
        return 1.0 - np.clip(sim, -1.0, 1.0)


def _salary(rng: random.Random) -> int:
    # whole numbers, as in the reference's sum-aggregate shape: the engine's
    # sum<> truncates float inputs row by row before adding them
    return rng.randrange(20_000, 200_000)


def _edges(rng: random.Random, size: Size) -> set:
    """Layered DAG, out-degree 2 with seeded random slots in the next
    layer (a repeated slot collapses, as `distinct` does in the anchor)."""
    w = size.width
    return {
        (layer * w + s, (layer + 1) * w + rng.randrange(w))
        for layer in range(size.layers - 1)
        for s in range(w)
        for _ in range(2)
    }


def make_state(seed: int, size: Size = FULL) -> State:
    rng = random.Random(seed)
    edges = _edges(rng, size)
    emp = {i: (rng.randrange(size.depts), _salary(rng)) for i in range(size.emps)}
    vecs = np.random.default_rng(seed).standard_normal((size.vecs, size.dim))
    return State(size, edges, emp, vecs.astype(np.float32), next_emp=size.emps)


def vec_lit(q) -> str:
    return "[" + ", ".join(repr(float(x)) for x in q) + "]"


class OpSource:
    """Draws read constants and write batches from one seeded stream.

    Each op kind cycles over a fixed schedule of strata (the source
    layer of a `bound` read or of a churned edge), so every run covers
    the same strata whatever the seed; the seed picks the node inside the
    stratum and every other constant."""

    def __init__(self, state: State, rng: random.Random):
        self.state = state
        self.rng = rng
        self.counts: dict = {}

    def _turn(self, kind: str) -> int:
        i = self.counts.get(kind, 0)
        self.counts[kind] = i + 1
        return i

    def _layer(self, kind: str) -> int:
        # stride 7 is coprime with the 19 source layers of the full graph
        span = self.state.size.layers - 1
        return (self._turn(kind) * 7) % span

    def _vector(self) -> tuple:
        return tuple(round(self.rng.gauss(0.0, 1.0), 6) for _ in range(self.state.size.dim))

    def read(self, kind: str) -> Op:
        st, rng = self.state, self.rng
        if kind == "bound":
            w = st.size.width
            node = self._layer(kind) * w + rng.randrange(w)
            return Op(kind, f"?reach({node}, Y)", expect=st.reach_of(node))
        if kind == "scan":
            return Op(kind, SCAN, expect=st.closure_size())
        if kind == "agg":
            return Op(kind, AGG, expect=st.dept_stats())
        if kind == "filter":
            d = rng.randrange(st.size.depts)
            x = rng.randrange(50_000, 150_000) + 0.5
            want = {i for i, (dd, s) in st.emp.items() if dd == d and s > x}
            return Op(kind, f"?emp(E, {d}, S), S > {x!r}", expect=want)
        q = self._vector()
        dist = st.cos_dist(q)
        if kind == "cos":
            must = set(np.nonzero(dist < COS_THRESHOLD - TOL)[0].tolist())
            allowed = set(np.nonzero(dist < COS_THRESHOLD + TOL)[0].tolist())
            text = f"?emb(Id, V), C = cosine(V, {vec_lit(q)}), C < {COS_THRESHOLD!r}"
            return Op(kind, text, expect=(must, allowed))
        if kind == "knn":
            kth = float(np.sort(dist)[KNN_K - 1])
            allowed = set(np.nonzero(dist <= kth + TOL)[0].tolist())
            text = f'?nn(Id, D), hnsw_nearest("{INDEX}", {vec_lit(q)}, {KNN_K}, Id, D)'
            return Op(kind, text, expect=allowed)
        raise ValueError(kind)

    def emp_write(self, kind: str) -> Op:
        """`stream`: a parquet file of new emp rows lands, then dept_stats
        is re-read; `emp`: the same rows as an IQL insert."""
        rows = self.state.emp_batch(self.rng)
        self.state.add_emps(rows)
        text = AGG if kind == "stream" else emp_insert_text(rows)
        return Op(kind, text, arg=tuple(rows), expect=self.state.dept_stats())

    def churn(self) -> list:
        """Delete a seeded existing edge whose source sits in the next
        stratum, then restore it; each is followed by a reach re-count."""
        w = self.state.size.width
        layer = self._layer("churn")
        cands = sorted(e for e in self.state.edges if layer * w <= e[0] < (layer + 1) * w)
        a, b = cands[self.rng.randrange(len(cands))]
        ops = []
        for kind, present in (("del", False), ("ins", True)):
            self.state.set_edge((a, b), present)
            text = f"{'-' if kind == 'del' else '+'}edge({a}, {b})"
            ops.append(Op(kind, text, expect=self.state.closure_size()))
        return ops


def emp_insert_text(rows) -> str:
    return "+emp[" + ", ".join(f"({i}, {d}, {s!r})" for i, d, s in rows) + "]"


# ---------------------------------------------------------------- plans

# Cycles (one round of the workload's op mix) per measured second on a
# 4-vCPU box once warm; a run's op count follows from --seconds alone, so
# both sides of a comparison do identical work. At --seconds 20 a read_mix
# run holds 15 rounds (90 reads) and a stream_mixed run 12 cycles (36 reads).
CYCLES_PER_S = {"read_mix": 0.71, "stream_mixed": 0.58, "write_churn": 1 / 20}
# Latency keeps falling for 100+ reads in a fresh JVM, and where it levels
# off differs between JVMs; warming longer widened the run-to-run spread
# instead of narrowing it, so the warm-up is short and the timed run long.
WARM_CYCLES = {"read_mix": 4, "stream_mixed": 3, "write_churn": 1}
WORKLOADS = ("read_mix", "stream_mixed", "write_churn")
# Set-up ends with the first read of every view the workload reads. The
# knn probe builds the LSH artifact, which materializes every derived view
# too, so the full closure is part of every workload's set-up.
SETUP_READS = {
    "read_mix": ("scan", "agg", "knn"),
    "stream_mixed": ("agg", "knn"),
    "write_churn": ("scan", "agg"),
}


@dataclass
class Plan:
    setup: list  # reads that finish set-up: first materialization of every view
    warm: list
    timed: list  # whole cycles of `cycle` ops each
    cycle: int


def plan(workload: str, seed: int, seconds: int, size: Size = FULL) -> Plan:
    """The full op sequence of one run with the oracle's answers, drawn
    from `seed`. Set-up and warm-up ops draw their constants from a stream
    of their own, apart from the timed ops'."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    state = make_state(seed, size)
    warm = OpSource(state, random.Random(f"warm-{seed}"))
    timed = OpSource(state, random.Random(f"timed-{seed}"))
    setup = [warm.read(k) for k in SETUP_READS[workload]]

    def cycle(src: OpSource) -> list:
        if workload == "read_mix":
            return [src.read(k) for k in READ_KINDS]
        if workload == "stream_mixed":
            return [src.emp_write("stream")] + [src.read(k) for k in STREAM_READ_KINDS]
        return [src.emp_write("emp")] + src.churn()

    warm_ops = [op for _ in range(WARM_CYCLES[workload]) for op in cycle(warm)]
    cycles = [cycle(timed) for _ in range(math.ceil(seconds * CYCLES_PER_S[workload]))]
    timed_ops = [op for ops in cycles for op in ops]
    return Plan(setup, warm_ops, timed_ops, len(cycles[0]))


# ---------------------------------------------------------------- oracle


def check(op: Op, result) -> bool:
    """`result` is what the engine returned: a row count for `scan`,
    `del` and `ins`, collected rows otherwise."""
    k = op.kind
    if k in ("scan", "del", "ins"):
        return result == op.expect
    if k in ("agg", "stream", "emp"):
        return check_stats(op.expect, result)
    # bound answers are (c, Y) rows; every other read leads with the id
    got = [r[1] if k == "bound" else r[0] for r in result]
    if len(got) != len(set(got)):
        return False
    if k in ("bound", "filter"):
        return set(got) == op.expect
    if k == "cos":
        must, allowed = op.expect
        return must <= set(got) <= allowed
    if k == "knn":
        return len(got) == KNN_K and set(got) <= op.expect
    raise ValueError(k)


def check_stats(want: dict, rows) -> bool:
    got = {r[0]: (r[1], r[2]) for r in rows}
    if len(got) != len(rows) or set(got) != set(want):
        return False
    return all(
        got[d][0] == n and math.isclose(got[d][1], s, rel_tol=REL_TOL)
        for d, (n, s) in want.items()
    )
