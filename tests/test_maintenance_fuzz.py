"""Incremental differential fuzzer for write maintenance.

Random `+`/`-` sequences run through `IQLEngine.execute`. After every
step each view must equal a from-scratch evaluation, and a spy on the
O(delta) paths checks which one ran: delta-merge and delta-retract for
aggregate views, semi-naive insert and DRed for recursive strata, over a
linear closure, a non-linear closure and two stacked recursive strata.
Every dirtied view that no path maintained must be re-evaluated on its
next read, and no maintained view may be.

The maintenance paths raise instead of falling back to a recompute, so
an error in one fails the step that hit it; a path that silently
returned nothing fails the path assertion.

From-scratch evaluation is a pure-Python model: the closures below for
the fixed shapes, and `tests/test_datalog_differential.py`'s naive
stratified oracle for its generated programs (that file checks the
oracle against fresh engines)."""

import random

import pytest

import inputlayer_spark.engine as engine_mod
from inputlayer_spark import recursion
from inputlayer_spark.engine import IQLEngine
from tests.test_datalog_differential import DOMAIN, _gen_program, _oracle, _to_iql


class _Spy:
    """Maintenance paths that returned a view, as (path, head) pairs, and
    heads fully re-evaluated, since the last `take()`."""

    def __init__(self, monkeypatch):
        self.paths = set()
        self.recomputed = set()

        def wrap(owner, name, label, heads):
            real = getattr(owner, name)

            def spy(*args, **kwargs):
                out = real(*args, **kwargs)
                if out is not None:
                    self.paths.update((label, h) for h in heads(args, out))
                return out

            monkeypatch.setattr(owner, name, spy)

        wrap(IQLEngine, "try_delta_merge", "delta-merge", lambda a, out: [a[1]])
        wrap(IQLEngine, "try_delta_retract", "delta-retract", lambda a, out: [a[1]])
        wrap(recursion, "seminaive_insert", "semi-naive", lambda a, out: out)
        wrap(recursion, "dred_retract", "dred", lambda a, out: out)
        real_eval = engine_mod.evaluate_scc

        def evaluate(scc, *args, **kwargs):
            self.recomputed.update(scc)
            return real_eval(scc, *args, **kwargs)

        monkeypatch.setattr(engine_mod, "evaluate_scc", evaluate)

    def take(self):
        out = self.paths, self.recomputed
        self.paths, self.recomputed = set(), set()
        return out


def _rows(eng, text):
    return {tuple(r) for r in eng.query(text).collect()}


def _facts(rel, pairs):
    return f"+{rel}[{', '.join(f'({a}, {b})' for a, b in sorted(pairs))}]"


# ------------------------------------------------------------ fixed shapes

LINEAR = "+path(X, Y) <- edge(X, Y)\n+path(X, Z) <- edge(X, Y), path(Y, Z)"
NONLINEAR = "+path(X, Y) <- edge(X, Y)\n+path(X, Z) <- path(X, Y), path(Y, Z)"
STACKED = LINEAR + "\n+far(X, Y) <- path(X, Y)\n+far(X, Z) <- far(X, Y), jump(Y, Z)"
AGGREGATES = "+deg(X, count<Y>, sum<Y>) <- edge(X, Y)\n+top(X, max<Y>) <- edge(X, Y)"
SHAPES = {"linear": LINEAR, "nonlinear": NONLINEAR, "stacked": STACKED}
READS = {
    "path": "?path(X, Y)",
    "deg": "?deg(X, N, S)",
    "top": "?top(X, M)",
    "far": "?far(X, Y)",
}
# base relation -> views it dirties, and the recursive head it feeds
DIRTIES = {"edge": {"deg", "top", "path", "far"}, "jump": {"far"}}
RECURSIVE_OVER = {"edge": "path", "jump": "far"}


def _compose(pairs, steps):
    """Pairs (x, z) with (x, y) in `pairs` and y reaching z over zero or
    more `steps` edges."""
    out = set(pairs)
    while True:
        new = {(x, z) for x, y in out for y2, z in steps if y == y2} - out
        if not new:
            return out
        out |= new


def _model(facts, shape):
    edge = facts["edge"]
    views = {
        "path": _compose(edge, edge),
        "deg": {
            (x, len(ys), sum(ys))
            for x in {a for a, _ in edge}
            for ys in [[b for a, b in edge if a == x]]
        },
        "top": {(x, max(b for a, b in edge if a == x)) for x in {a for a, _ in edge}},
    }
    if shape == "stacked":
        views["far"] = _compose(views["path"], facts["jump"])
    return views


def _dred_fits(facts, shape, rel, a, b):
    """Whether DRed's cone budget admits deleting (a, b) from `rel`: it
    overdeletes every view tuple with a derivation through the fact,
    |into(a)| x |{b} + out(b)| tuples here, and bails past half the
    cached view (recursion.dred_retract)."""
    views = _model(facts, shape)
    view = views[RECURSIVE_OVER[rel]]
    into = {x for x, y in view if y == a} | ({a} if rel == "edge" else set())
    out = {z for _, z in _compose({(b, b)}, facts[rel])}
    return len(into) * len(out) <= max(1, len(view) // 2)


def _expected_paths(facts, shape, op, rel, pairs, aggregates):
    """(path, head) pairs the write must take. Aggregates sit over
    `edge`; the recursive head over `rel` extends semi-naively on an
    insert and by DRed on a delete inside the cone budget."""
    paths = set()
    if rel == "edge" and aggregates:
        label = "delta-merge" if op == "+" else "delta-retract"
        paths |= {(label, "deg"), (label, "top")}
    head = RECURSIVE_OVER[rel]
    if op == "+":
        paths.add(("semi-naive", head))
    elif _dred_fits(facts, shape, rel, *pairs[0]):
        paths.add(("dred", head))
    return paths


def _run_shape(spark, monkeypatch, shape, facts, ops, aggregates=True):
    """Apply `ops` — (op, rel, pairs) — checking views and paths after
    each one."""
    facts = {rel: set(p) for rel, p in facts.items()}
    eng = IQLEngine(spark)
    eng.execute("\n".join(_facts(rel, p) for rel, p in facts.items()))
    eng.execute(SHAPES[shape] + ("\n" + AGGREGATES if aggregates else ""))
    views = set(_model(facts, shape)) - (set() if aggregates else {"deg", "top"})
    spy = _Spy(monkeypatch)
    for v in views:
        _rows(eng, READS[v])
    for step, (op, rel, pairs) in enumerate(ops):
        want_paths = _expected_paths(facts, shape, op, rel, pairs, aggregates)
        spy.take()
        if op == "+":
            eng.execute(_facts(rel, pairs))
            facts[rel] |= set(pairs)
        else:
            (a, b), = pairs
            eng.execute(f"-{rel}({a}, {b})")
            facts[rel].discard((a, b))
        want = {v: rows for v, rows in _model(facts, shape).items() if v in views}
        got = {v: _rows(eng, READS[v]) for v in views}
        paths, recomputed = spy.take()
        where = f"{shape} step {step}: {op}{rel}{pairs}"
        assert got == want, where
        assert paths == want_paths, where
        maintained = {h for _, h in paths}
        assert recomputed & views == (DIRTIES[rel] & views) - maintained, where
    monkeypatch.undo()


def _random_ops(rng, shape, facts, n_nodes, steps):
    """Random writes alternating insert and delete (the stacked shape
    writes `edge`, then `jump`). A delete picks a fact whose DRed cone
    fits the budget, so every delete exercises DRed."""
    facts = {rel: set(p) for rel, p in facts.items()}
    ops = []
    for step in range(steps):
        rel = sorted(facts)[step * len(facts) // steps]
        doomed = [
            p for p in sorted(facts[rel]) if _dred_fits(facts, shape, rel, *p)
        ]
        if doomed and step % 2:
            pair = rng.choice(doomed)
            ops.append(("-", rel, [pair]))
            facts[rel].discard(pair)
        else:
            pairs = [
                (rng.randrange(n_nodes), rng.randrange(n_nodes))
                for _ in range(rng.randrange(1, 3))
            ]
            ops.append(("+", rel, pairs))
            facts[rel] |= set(pairs)
    return ops


@pytest.mark.parametrize("shape", ["nonlinear", "stacked"])
def test_random_writes_take_the_fast_paths(spark, monkeypatch, shape):
    """The linear closure alone runs over the randomized graphs below;
    here it is the lower stratum of the stacked shape."""
    rng = random.Random(f"maintenance-{shape}")
    n = 5
    facts = {"edge": {(rng.randrange(n), rng.randrange(n)) for _ in range(6)}}
    if shape == "stacked":
        facts["jump"] = {(rng.randrange(n), rng.randrange(n)) for _ in range(3)}
    # two steps per base relation: the non-linear closure's writes cost
    # ~4 s each on 4 vCPUs
    ops = _random_ops(rng, shape, facts, n, steps=2 * len(facts))
    assert {(op, rel) for op, rel, _ in ops} == {
        (op, rel) for op in "+-" for rel in facts
    }
    _run_shape(spark, monkeypatch, shape, facts, ops)


# ------------------------------------------------ randomized closure graphs


def _retraction_cases():
    rng = random.Random(7)
    for _ in range(3):
        edges = sorted({(rng.randrange(12), rng.randrange(12)) for _ in range(22)})
        edges = [(a, b) for a, b in edges if a != b]
        doomed = rng.sample(edges, 3)
        yield edges, [("-", "edge", [p]) for p in doomed]


def _insertion_cases():
    rng = random.Random(11)
    for _ in range(3):
        edges = sorted({(rng.randrange(12), rng.randrange(12)) for _ in range(16)})
        edges = [(a, b) for a, b in edges if a != b]
        extra = [(rng.randrange(12), rng.randrange(12)) for _ in range(3)]
        extra = [(a, b) for a, b in extra if a != b]
        yield edges, [("+", "edge", extra)] if extra else []


def _mixed_cases():
    rng = random.Random(23)
    for _ in range(2):
        edges = sorted({(rng.randrange(10), rng.randrange(10)) for _ in range(14)})
        edges = [(a, b) for a, b in edges if a != b]
        live, ops = list(edges), []
        for step in range(4):
            if step % 2 == 0:
                new = [(rng.randrange(10), rng.randrange(10)) for _ in range(2)]
                new = [(a, b) for a, b in new if a != b]
                if not new:
                    continue
                ops.append(("+", "edge", new))
                live.extend(p for p in new if p not in live)
            else:
                if not live:
                    continue
                pair = live[rng.randrange(len(live))]
                ops.append(("-", "edge", [pair]))
                live = [p for p in live if p != pair]
        yield edges, ops


CLOSURE_CASES = {
    f"{name}-{i}": case
    for name, gen in (
        ("retraction", _retraction_cases),
        ("insertion", _insertion_cases),
        ("mixed", _mixed_cases),
    )
    for i, case in enumerate(gen())
}


@pytest.mark.parametrize("case", sorted(CLOSURE_CASES))
def test_randomized_closure_graphs(spark, monkeypatch, case):
    """Random graphs with cycles under the linear closure: a delete
    whose cone is past DRed's budget must bail to a recompute, one
    inside it must take DRed."""
    edges, ops = CLOSURE_CASES[case]
    _run_shape(spark, monkeypatch, "linear", {"edge": edges}, ops, aggregates=False)


# ---------------------------------------------------- generated programs


def _dependents(rules, rel):
    rev = {}
    for head, _, body in rules:
        for lit in body:
            if lit[0] == "atom":
                rev.setdefault(lit[1], set()).add(head)
    out, frontier = set(), [rel]
    while frontier:
        for head in rev.get(frontier.pop(), ()):
            if head not in out:
                out.add(head)
                frontier.append(head)
    return out


def test_generated_programs_stay_equal_to_the_oracle(spark, monkeypatch):
    """Stratified programs with negation and comparisons: whatever path
    each write takes, every head equals the naive oracle after it."""
    rng = random.Random(4242)
    heads = {"p0", "p1", "p2"}
    for trial in range(2):
        base, rules = _gen_program(rng)
        eng = IQLEngine(spark)
        eng.execute(_to_iql(base, rules))
        spy = _Spy(monkeypatch)
        for h in sorted(heads):
            _rows(eng, f"?{h}(A, B)")
        for step in range(2):
            rel = rng.choice(sorted(base))
            spy.take()
            if base[rel] and rng.random() < 0.5:
                a, b = rng.choice(base[rel])
                eng.execute(f"-{rel}({a}, {b})")
                base[rel] = [p for p in base[rel] if p != (a, b)]
            else:
                new = (rng.choice(DOMAIN), rng.choice(DOMAIN))
                eng.execute(f"+{rel}[({new[0]}, {new[1]})]")
                base[rel] = sorted(set(base[rel]) | {new})
            want = _oracle(base, rules)
            where = f"trial {trial} step {step}\n{_to_iql(base, rules)}"
            for h in sorted(heads):
                assert _rows(eng, f"?{h}(A, B)") == want[h], where
            paths, recomputed = spy.take()
            maintained = {h for _, h in paths}
            dirty = _dependents(rules, rel)
            assert recomputed & heads == dirty - maintained, where
        monkeypatch.undo()
